"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark AND its oracle_sql() on DuckDB
over the same parquet tables; compare row count + sorted-column value
multiset.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
import traceback
from pathlib import Path

# this checkout's package and registry, wherever it is run from
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def canon(rows, colnames):
    """Order-insensitive canonical form: sort columns by name, stringify
    values, sort rows. Floats use EXACT repr (round-5 fix: the old
    %.9g rounding let the way_area ulp divergence ship driver-red while
    this replica said ALL PASS — local green must predict driver
    green, so nothing is rounded here)."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def cell(v):
        if isinstance(v, bool):
            return str(v).lower()
        if isinstance(v, float):
            return repr(v)
        return str(v)

    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


# Spark simpleString dtype -> the DuckDB result type(s) that hash
# identically under any fetch path (fetchall / arrow / pandas). A
# DuckDB HUGEINT or DECIMAL column against a Spark long is the failure
# mode that sank cm_frequency in round 4: fetchall() gives int (local
# green) but typed fetches give float/Decimal (driver red) — so oracles
# must CAST every aggregate to a canonical type and this check enforces
# it mechanically.
TYPE_OK = {
    "bigint": {"BIGINT"},
    "int": {"INTEGER", "BIGINT"},
    "smallint": {"SMALLINT", "INTEGER", "BIGINT"},
    "double": {"DOUBLE"},
    "float": {"FLOAT"},
    "string": {"VARCHAR"},
    "boolean": {"BOOLEAN"},
    "date": {"DATE"},
    "timestamp": {"TIMESTAMP"},
    "binary": {"BLOB"},
}


def type_mismatches(sdtypes, duck_cols, duck_types):
    """(col, spark_type, duck_type) rows where the DuckDB result type
    can hash differently from the Spark type under a typed fetch.
    duck_cols/duck_types come from con.sql(q).columns/.types (the
    DB-API description only exposes generic 'NUMBER' typecodes)."""
    duck = dict(zip(duck_cols, [str(t) for t in duck_types]))
    bad = []
    for col, st in sdtypes:
        dt = duck.get(col)
        if dt is None:
            continue  # column-name check reports this separately
        ok = TYPE_OK.get(st)
        if ok is None:
            continue  # arrays/structs: value-hash check still applies
        if dt not in ok:
            bad.append((col, st, dt))
    return bad


def main() -> int:
    import duckdb

    import __spark_entry__ as entry
    from osmium_tool_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("check-oracle")
    print(f"duckdb={duckdb.__version__}  sf_dir={sf_dir}  float-canon=exact-repr")
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            failed.append(name)
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows={len(srows)}) [{time.time()-t0:.1f}s]")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            dtypes = list(rel.types)
            drows = rel.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc()
            failed.append(name)
            continue
        ok_cols = sorted(scols) == sorted(dcols)
        bad_types = type_mismatches(sdf.dtypes, dcols, dtypes)
        sc, dc = canon(srows, scols), canon(drows, dcols)
        ok = ok_cols and not bad_types and sc == dc
        msg = f"rows={len(srows)}/{len(drows)} cols={'ok' if ok_cols else f'{sorted(scols)} vs {sorted(dcols)}'}"
        if bad_types:
            msg += f" TYPE-MISMATCH={bad_types}"
        if ok:
            print(f"PASS {name}: {msg} [{time.time()-t0:.1f}s]")
        else:
            failed.append(name)
            print(f"FAIL {name}: {msg}")
            sonly = [r for r in sc if r not in set(map(tuple, dc))][:3]
            donly = [r for r in dc if r not in set(map(tuple, sc))][:3]
            print(f"  spark-only: {sonly}")
            print(f"  duck-only:  {donly}")
    print(f"\n{'ALL PASS' if not failed else 'FAILED: ' + ', '.join(failed)}")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())

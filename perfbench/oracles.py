"""Expected outputs, computed with DuckDB outside the timed region.

- Tiles: a DuckDB restatement of the `image_pipeline` registry oracle
  over the same generated parquet, folded to the fingerprint each tile op
  returns (rows, images, checksum).
- Graph: the registry's own `__spark_entry__.oracle_sql` for each query,
  in the order-insensitive canonical form `scripts/check_oracle.py` uses.
"""

from __future__ import annotations

import duckdb

# checksum over (extract_id, cell, n_images) rows; every term stays far
# below 2^63 for the table sizes used here. The Spark twin is
# workloads.tile_fingerprint.
CHECK_MOD = 999_983
CHECK_MIX = 7_919


def tiles_expected(table_path: str, extracts, predicates_sql: str, res: int, threads: int):
    import __spark_entry__ as entry

    lon = "phash % 3600000000 - 1800000000"
    lat = "(phash >> 16) % 1800000000 - 900000000"
    cell = entry._morton_sql(entry._ix_sql("lon", res), entry._iy_sql("lat", res), res)
    arms = []
    for e in extracts:
        if e.kind == "bbox":
            cond = f"lon BETWEEN {e.minx} AND {e.maxx} AND lat BETWEEN {e.miny} AND {e.maxy}"
        else:
            # each segment as a two-point ring: the pooled even-odd test
            # runs over exactly the index's segments
            segs = [[(int(x1), int(y1)), (int(x2), int(y2))] for x1, y1, x2, y2 in e.index.segs]
            cond = entry._pip_sql_rings(segs, "lon", "lat")
        arms.append(f"SELECT {e.extract_id} AS extract_id, cell FROM g WHERE {cond}")
    sql = f"""
WITH f AS (SELECT {lon} AS lon, {lat} AS lat FROM read_parquet('{table_path}/*.parquet')
           WHERE {predicates_sql}),
g AS (SELECT lon, lat, {cell} AS cell FROM f),
a AS ({' UNION ALL '.join(arms)}),
t AS (SELECT extract_id, cell, count(*) AS n_images FROM a GROUP BY extract_id, cell)
SELECT CAST(count(*) AS BIGINT), CAST(sum(n_images) AS BIGINT),
       CAST(sum(((cell % {CHECK_MOD}) + 1) * (n_images + extract_id * {CHECK_MIX})) AS BIGINT)
FROM t
"""
    con = duckdb.connect(config={"threads": threads})
    try:
        return tuple(int(v) for v in con.sql(sql).fetchone())
    finally:
        con.close()


def canon(rows, colnames) -> list[tuple]:
    """Order-insensitive canonical form: columns sorted by name, values
    stringified (floats by exact repr), rows sorted."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def cell(v):
        if isinstance(v, bool):
            return str(v).lower()
        if isinstance(v, float):
            return repr(v)
        return str(v)

    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def graph_expected(sf_dir: str, names: list[str], threads: int) -> dict[str, list[tuple]]:
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect(config={"threads": threads})
    try:
        for t in ("part", "customer", "orders", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name in names:
            rel = con.sql(oracles[name])
            out[name] = canon(rel.fetchall(), list(rel.columns))
        return out
    finally:
        con.close()

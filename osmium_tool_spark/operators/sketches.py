"""Mergeable sketches (HyperLogLog, fixed-level theta/KMV, count-min,
Bloom filter) as DataFrame plans.

At 10^12 rows `COUNT(DISTINCT x) GROUP BY cell` is the classic
scale-killer: the exact form shuffles every distinct (cell, x) pair.
A HyperLogLog register table caps the per-group state at m = 2^p
registers regardless of cardinality, aggregates with map-side partial
max (registers are max-mergeable), and — because the register table is
itself a DataFrame — doubles as a STANDING sketch: union two register
tables and re-max to merge corpora, no re-scan of either side
(Flajolet et al. 2007, "HyperLogLog: the analysis of a near-optimal
cardinality estimation algorithm").

Scale shape: input -> one projection (register index + rho, pure
Column math) -> hash-agg #1 keyed (group, j) with partial max (state
<= |groups| * m rows however big the input) -> hash-agg #2 keyed
(group). No window, no distinct, no join.

Two hash families:

- ``hash="xxhash64"`` (production default): JVM xxhash64 drives both
  the register index and the rho bits — full 64-bit quality, any
  column type. Not restateable in the DuckDB oracle (engine-specific
  hash), so gate queries don't use it.
- ``hash="portable"``: a 32-bit multiply-xorshift avalanche hash
  (two rounds of ``x = ((x >> 16) ^ x) * 0x45d9f3b mod 2^32`` — the
  classic public-domain integer finalizer; the multiplier is < 2^27
  so every product stays < 2^59, wrap-free in BOTH engines' signed
  64-bit) over a BIGINT key — every step is exact integer arithmetic
  Spark and DuckDB evaluate bit-identically, so the whole sketch
  (registers AND estimate) has an ANSI-SQL twin. Register index =
  low p bits, rho bits = the remaining 32-p (standard disjoint-bits
  HLL); tests pin the achieved error inside the 1.04/sqrt(m) band on
  adversarially structured inputs (arithmetic progressions, strided,
  shifted). Inputs are reduced mod 2^31-1 first, which folds values
  >= 2^31-1 (a ~2^-31 collision rate — noise next to the sketch's
  own error).

The estimate is emitted in EXACT integer components plus the raw
double estimate computed as ONE multiply + ONE divide over
exactly-representable operands, so even the double is bit-identical
across engines:

    T = V * 2^CAP + sum_present 2^(CAP - M_j)    (BIGINT; CAP = rho cap)
    est_raw = (alpha_m * m^2) * 2^CAP / T        (both factors exact)

alpha_m * m^2 is folded to a single double literal at plan-build time
(same literal embedded in the SQL twin); 2^CAP is a power of two
(exact in double); T < 2^53 for the portable family (CAP = 31,
p <= 21), so the cast is exact and the one division is correctly
rounded identically everywhere. The
small-range linear-counting correction needs ln() (libm-specific ulp),
so `corrected=True` is a Python-side convenience, never part of the
oracled surface.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

P31 = 2_147_483_647  # Mersenne prime 2^31 - 1 (input fold)
A_MIX = 0x45D9F3B  # multiply-xorshift round constant (< 2^27)
M32 = 0xFFFFFFFF


def _alpha(m: int) -> float:
    """Standard HLL bias constant (Flajolet 2007, fig. 3)."""
    if m <= 16:
        return 0.673
    if m <= 32:
        return 0.697
    if m <= 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _check_p(p: int) -> int:
    if not 4 <= p <= 21:
        raise ValueError(f"p must be in [4, 21] (T must fit 2^53), got {p}")
    return 1 << p


def _portable_h32(value: Column) -> Column:
    """32-bit avalanche hash of a BIGINT key, wrap-free exact integer
    math (products < 2^59): fold mod 2^31-1, then two multiply-xorshift
    rounds and a final fold."""
    x = ((value.cast("long") % P31) + P31) % P31
    x = F.shiftright(x, 16).bitwiseXOR(x) * A_MIX % (M32 + 1)
    x = F.shiftright(x, 16).bitwiseXOR(x) * A_MIX % (M32 + 1)
    return F.shiftright(x, 16).bitwiseXOR(x)


def _rho_of(w: Column, cap: int) -> Column:
    """1 + (trailing zeros of w), with rho(0) = cap. Exact integer bit
    math: lowest set bit = w & -w; tz = bit_count(lowbit - 1)."""
    lowbit = w.bitwiseAND(-w)
    return F.when(w == 0, F.lit(cap)).otherwise(
        F.bit_count(lowbit - F.lit(1)) + F.lit(1)
    ).cast("int")


# SQL twins (DuckDB) — keep in sync with the Column forms above. One
# round of the finalizer over a column named by `x`; staged through
# CTEs by hll_estimate_sql so no subexpression is evaluated twice.
def h32_round_sql(x: str) -> str:
    return f"(xor(({x}) >> 16, {x}) * {A_MIX}) % {M32 + 1}"


def h32_final_sql(x: str) -> str:
    return f"xor(({x}) >> 16, {x})"


def fold31_sql(value: str) -> str:
    # CAST first: an INTEGER input would overflow at `% P31 + P31`
    # (P31 = INT32 max) — DuckDB errors loudly, but the twin should
    # accept any integer width like the Spark side's .cast("long")
    return f"(((CAST({value} AS BIGINT)) % {P31}) + {P31}) % {P31}"


def rho_sql(w: str, cap: int) -> str:
    return (
        f"CASE WHEN ({w}) = 0 THEN {cap} "
        f"ELSE bit_count((({w}) & (0 - ({w}))) - 1) + 1 END"
    )


def rho_cap_portable(p: int) -> int:
    """Max rho for the portable family: 32-p rho bits -> cap 32-p+1."""
    return 32 - p + 1


def hll_registers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 12,
    hash: str = "xxhash64",
) -> DataFrame:
    """The mergeable sketch state: (group..., j, M) with one row per
    non-zero register — M = max over the group's values of rho(bits).
    Union register tables from different corpora / partitions / days and
    re-max per (group..., j) to combine; feed to `hll_estimate` to read."""
    m = _check_p(p)
    v = F.col(value_col)
    if hash == "portable":
        # disjoint bits of one mixed hash — standard HLL (the shared
        # subexpression is ~10 integer ops; codegen CSE handles it)
        x = _portable_h32(v)
        j = x.bitwiseAND(F.lit(m - 1)).cast("int")
        rho = _rho_of(F.shiftright(x, p), rho_cap_portable(p))
    elif hash == "xxhash64":
        h = F.xxhash64(v)
        j = (((h % m) + m) % m).cast("int")
        # rho over the remaining 64-p bits (logical shift keeps it sign-free)
        w = F.shiftrightunsigned(h, p)
        rho = _rho_of(w, 64 - p + 1)
    else:
        raise ValueError(f"hash must be 'portable' or 'xxhash64', got {hash!r}")
    return (
        df.filter(v.isNotNull())
        .select(*group_cols, j.alias("j"), rho.alias("rho"))
        .groupBy(*group_cols, "j")
        .agg(F.max("rho").alias("M"))
    )


def hll_estimate(
    registers: DataFrame,
    group_cols: list[str],
    p: int,
    rho_cap: int | None = None,
) -> DataFrame:
    """Read a register table: per group —

    - ``v_zero``   zero-valued registers (m - registers present)
    - ``k_max``    max register value K (reported stat, not used in math)
    - ``t_scaled`` T = V·2^CAP + Σ 2^(CAP-M_j)  (exact BIGINT)
    - ``est_raw``  alpha_m·m²·2^CAP / T          (bit-stable double for
                   the portable family; see module docstring)

    ``rho_cap`` is the fixed scale CAP — the max rho the hash family
    can emit (default: the portable family's 32-p+1, where every sum
    fits well under 2^53 so the double cast is exact). For the
    xxhash64 family rho can reach 65-p > 62-p, so CAP is clamped to
    62-p and deeper registers saturate at one unit (a < m·2^-CAP
    relative bias — far below the estimator's own error) to keep
    every sum in BIGINT.
    """
    m = _check_p(p)
    am2 = _alpha(m) * m * m  # single double literal, shared with the SQL twin
    cap = min(rho_cap_portable(p) if rho_cap is None else rho_cap, 62 - p)
    # shiftleft() wants a literal bit count; the data-dependent shift
    # goes through expr (still pure codegen arithmetic)
    term = F.expr(f"shiftleft(CAST(1 AS BIGINT), {cap} - least(M, {cap}))")
    # coalesce: a GLOBAL aggregate over an empty register table still
    # emits one row (count=0) — that's the empty sketch (v_zero = m,
    # est_raw = alpha*m, the raw formula's honest all-zero value)
    byg = registers.groupBy(*group_cols).agg(
        (F.lit(m) - F.count("*")).cast("long").alias("v_zero"),
        F.coalesce(F.max("M"), F.lit(0)).cast("int").alias("k_max"),
        F.coalesce(F.sum(term), F.lit(0)).cast("long").alias("s_cap"),
    )
    t = (F.shiftleft(F.col("v_zero"), cap) + F.col("s_cap")).cast("long")
    est_raw = F.lit(am2) * F.lit(float(1 << cap)) / t.cast("double")
    return byg.select(
        *group_cols,
        "v_zero",
        "k_max",
        t.alias("t_scaled"),
        est_raw.alias("est_raw"),
    )


def hll_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 12,
    hash: str = "xxhash64",
) -> DataFrame:
    """Fused add + estimate: approx distinct `value_col` per group."""
    regs = hll_registers(df, group_cols, value_col, p=p, hash=hash)
    cap = rho_cap_portable(p) if hash == "portable" else 64 - p + 1
    return hll_estimate(regs, group_cols, p=p, rho_cap=cap)


def _check_r(r: int) -> int:
    if not 1 <= r <= 24:
        raise ValueError(f"r must be in [1, 24], got {r}")
    return 1 << r


def theta_sample(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    r: int,
    hash: str = "xxhash64",
) -> DataFrame:
    """Fixed-level theta / KMV sketch state: the distinct hash values of
    `value_col` whose low ``r`` bits are zero — a coordinated 2^-r
    sample of the DISTINCT-value space (Cohen, "All-distances sketches";
    the theta-sketch family with theta fixed at plan time).

    Scale shape: one projection (hash + mask, pure Column math) -> a
    FILTER that keeps ~2^-r of the distinct values BEFORE any state
    accumulates -> one hash-agg for the distinct. At 10^12 rows the
    aggregate's state is D·2^-r, tunable to fit memory — the exact
    `COUNT(DISTINCT)` state D never materializes. Because the sample is
    a deterministic function of the value, sketches built over different
    corpora / partitions / days are COORDINATED: merge = union+distinct
    (`theta_merge`), and set operations (intersection, union, Jaccard)
    are estimated by intersecting the sampled sets (`theta_overlap`) —
    the decontamination / corpus-overlap tool at scales where the exact
    join is off the table.

    Hash families as in `hll_registers`: ``xxhash64`` (production, any
    type) or ``portable`` (exact-integer 32-bit avalanche with an
    ANSI-SQL twin, BIGINT inputs; distinct values collide at ~2^-31 —
    noise next to the sampling error). Output: (group..., h) distinct.
    """
    mask = _check_r(r) - 1
    v = F.col(value_col)
    if hash == "portable":
        h = _portable_h32(v)
    elif hash == "xxhash64":
        h = F.xxhash64(v)
    else:
        raise ValueError(f"hash must be 'portable' or 'xxhash64', got {hash!r}")
    return (
        df.filter(v.isNotNull())
        .select(*group_cols, h.alias("h"))
        .filter(F.col("h").bitwiseAND(mask) == 0)
        .distinct()
    )


def theta_merge(*sample_tables: DataFrame) -> DataFrame:
    """Merge coordinated sketches built at the SAME level r: union +
    distinct. Lossless: merge(sketch(A), sketch(B)) == sketch(A ∪ B)."""
    from functools import reduce

    if not sample_tables:
        raise ValueError("need at least one sample table")
    return reduce(DataFrame.unionByName, sample_tables).distinct()


def theta_estimate(samples: DataFrame, group_cols: list[str], r: int) -> DataFrame:
    """Read a sketch: per group, ``n_sampled`` (exact BIGINT) and
    ``est_distinct`` = n_sampled·2^r — an EXACT integer, no floating
    point anywhere (relative error ~ 1/sqrt(D·2^-r))."""
    _check_r(r)
    return samples.groupBy(*group_cols).agg(
        F.count("*").alias("n_sampled"),
        F.shiftleft(F.count("*"), r).alias("est_distinct"),
    )


def theta_overlap(a: DataFrame, b: DataFrame, r: int) -> DataFrame:
    """Set-operation estimates between two coordinated sketches at the
    same level r (global, one row): sampled sizes of A, B, A∩B, A∪B,
    their 2^r-scaled distinct estimates (exact BIGINTs), and the
    Jaccard estimate ``n_inter / n_union`` — one correctly-rounded
    division of two exact <2^32 integers, bit-stable across engines.

    Plan: tag + union + ONE hash-agg keyed by h (no join), then a
    global agg — both sides' sampled sets are tiny by construction.
    """
    _check_r(r)
    u = a.select("h", F.lit(1).alias("ia"), F.lit(0).alias("ib")).unionByName(
        b.select("h", F.lit(0).alias("ia"), F.lit(1).alias("ib"))
    )
    byh = u.groupBy("h").agg(
        F.max("ia").alias("ia"), F.max("ib").alias("ib")
    )
    n_a = F.sum("ia").cast("long")
    n_b = F.sum("ib").cast("long")
    n_i = F.sum(F.col("ia") * F.col("ib")).cast("long")
    return byh.agg(
        n_a.alias("n_a"),
        n_b.alias("n_b"),
        n_i.alias("n_inter"),
        F.count("*").cast("long").alias("n_union"),
        F.shiftleft(n_a, r).alias("est_a"),
        F.shiftleft(n_b, r).alias("est_b"),
        F.shiftleft(n_i, r).alias("est_inter"),
        F.shiftleft(F.count("*"), r).alias("est_union"),
        (
            n_i.cast("double") / F.count("*").cast("double")
        ).alias("jaccard"),
    )


def theta_sample_sql(source_sql: str, value_expr: str, r: int) -> str:
    """DuckDB twin of theta_sample(hash='portable') over `source_sql`
    (any relation; `value_expr` a BIGINT expression). Returns a CTE-less
    SELECT producing the distinct sampled column ``h``."""
    mask = _check_r(r) - 1
    return (
        f"SELECT DISTINCT h FROM (\n"
        f"  SELECT {h32_final_sql('x')} AS h FROM (\n"
        f"    SELECT {h32_round_sql('x')} AS x FROM (\n"
        f"      SELECT {h32_round_sql('x')} AS x FROM (\n"
        f"        SELECT {fold31_sql(value_expr)} AS x FROM ({source_sql})\n"
        f"        WHERE ({value_expr}) IS NOT NULL)))\n"
        f") WHERE (h & {mask}) = 0"
    )


CM_PHI = 0x9E3779B9  # golden-ratio constant for per-row count-min salts


def _cm_salt(j: int) -> int:
    """Deterministic per-row salt < 2^31 (XOR keeps the folded key in
    the wrap-free range of the avalanche rounds)."""
    return ((j + 1) * CM_PHI) % (1 << 31)


def _check_dw(d: int, w: int) -> None:
    if not 1 <= d <= 16:
        raise ValueError(f"d must be in [1, 16], got {d}")
    if not 2 <= w <= (1 << 24):
        raise ValueError(f"w must be in [2, 2^24], got {w}")


def _cm_bucket(v: Column, j: int, w: int, hash: str) -> Column:
    """Bucket index of value `v` under hash row `j`."""
    if hash == "portable":
        x = ((v.cast("long") % P31) + P31) % P31
        y = x.bitwiseXOR(F.lit(_cm_salt(j)))
        y = F.shiftright(y, 16).bitwiseXOR(y) * A_MIX % (M32 + 1)
        y = F.shiftright(y, 16).bitwiseXOR(y) * A_MIX % (M32 + 1)
        return (F.shiftright(y, 16).bitwiseXOR(y) % w).cast("int")
    if hash == "xxhash64":
        return (((F.xxhash64(v, F.lit(j)) % w) + w) % w).cast("int")
    raise ValueError(f"hash must be 'portable' or 'xxhash64', got {hash!r}")


def _cm_jb(v: Column, d: int, w: int, hash: str) -> Column:
    """Exploded array of (j, bucket) structs — one per hash row."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"), _cm_bucket(v, j, w, hash).alias("bucket")
                )
                for j in range(d)
            ]
        )
    )


def cm_build(
    df: DataFrame,
    value_col: str,
    d: int = 4,
    w: int = 1024,
    hash: str = "xxhash64",
    weight_col: str | None = None,
) -> DataFrame:
    """Count-min sketch state: (j, bucket, cnt) — d hash rows of w
    counters each (Cormode & Muthukrishnan 2005, "An improved data
    stream summary: the count-min sketch and its applications").

    Scale shape: one projection fans each row out to its d (j, bucket)
    cells (d is 3-5, a constant) -> ONE hash-agg whose state is AT MOST
    d·w rows per partition regardless of input size or distinct count —
    map-side partial sums do the heavy lifting, the shuffle moves at
    most d·w rows per partition. Contrast `GROUP BY value`: state = D
    (the distinct count), which at 10^12 rows is the thing that doesn't
    fit. The sketch answers point-frequency queries (`cm_lookup`) with
    one-sided error: est >= true always, est <= true + 2N/w with
    probability 1 - 2^-d per query.

    The state is a DataFrame, so it is a STANDING sketch: union tables
    built over different corpora / days and re-sum per (j, bucket) —
    counts are additive, the merge is lossless. `weight_col` (BIGINT)
    counts each row with a weight (e.g. token counts) instead of 1.

    Hash families as in `hll_registers`: ``xxhash64`` rows are
    xxhash64(value, j); ``portable`` rows are the 32-bit avalanche over
    the folded BIGINT key XOR a fixed per-row salt — exact integer math
    with an ANSI-SQL twin (`cm_lookup_sql`).
    """
    _check_dw(d, w)
    v = F.col(value_col)
    wt = (
        F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    )
    rows = df.filter(v.isNotNull()).select(
        _cm_jb(v, d, w, hash).alias("jb"), wt.alias("wt")
    )
    return (
        rows.select(F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket"), "wt")
        .groupBy("j", "bucket")
        .agg(F.sum("wt").alias("cnt"))
    )


def cm_lookup(
    counts: DataFrame,
    queries: DataFrame,
    value_col: str,
    d: int,
    w: int,
    hash: str = "xxhash64",
) -> DataFrame:
    """Point-frequency estimates for a query set: (value, est) with
    est = min over the d rows of the value's counter (0 when a cell was
    never touched — the true count is then provably 0).

    Plan: the query set explodes to d rows each and LEFT-joins the
    counts table — which has at most d·w rows, so it is broadcast; no
    shuffle touches the corpus at query time at all. The corpus was
    read ONCE at build time; any number of lookups reuse the state.
    """
    _check_dw(d, w)
    v = F.col(value_col)
    q = queries.filter(v.isNotNull()).select(v.alias("value")).distinct()
    qjb = q.select("value", _cm_jb(F.col("value"), d, w, hash).alias("jb")).select(
        "value", F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket")
    )
    joined = qjb.join(F.broadcast(counts), ["j", "bucket"], "left")
    return joined.groupBy("value").agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias("est")
    )


def _cm_bucket_sql(x: str, j: int, w: int) -> str:
    """Bucket of an already-folded column `x` under row j (portable)."""
    y = f"xor({x}, {_cm_salt(j)})"
    y = h32_round_sql(y)
    y = h32_round_sql(y)
    return f"({h32_final_sql(y)}) % {w}"


def cm_lookup_sql(
    source_sql: str,
    value_expr: str,
    queries_sql: str,
    query_expr: str,
    d: int,
    w: int,
    ctes_only: bool = False,
) -> str:
    """DuckDB twin of cm_build(hash='portable') + cm_lookup: builds the
    (j, bucket, cnt) state over `source_sql` and reads the query set's
    estimates. With ``ctes_only`` return just the CTE chain ending at
    ``cml`` (columns: value, est) for further composition."""
    _check_dw(d, w)
    rows = "\n  UNION ALL ".join(
        f"SELECT {j} AS j, {_cm_bucket_sql('x', j, w)} AS bucket, wt FROM cmsrc"
        for j in range(d)
    )
    qrows = "\n  UNION ALL ".join(
        f"SELECT value, {j} AS j, {_cm_bucket_sql('x', j, w)} AS bucket FROM cmq"
        for j in range(d)
    )
    body = f"""\
cmsrc AS (SELECT {fold31_sql(value_expr)} AS x, CAST(1 AS BIGINT) AS wt
          FROM ({source_sql}) WHERE ({value_expr}) IS NOT NULL),
cmrows AS ({rows}),
cmcounts AS (SELECT j, bucket, SUM(wt) AS cnt FROM cmrows GROUP BY 1, 2),
cmq AS (SELECT value, {fold31_sql('value')} AS x FROM
        (SELECT DISTINCT {query_expr} AS value FROM ({queries_sql})
         WHERE ({query_expr}) IS NOT NULL)),
cmqrows AS ({qrows}),
cml AS (SELECT value, CAST(MIN(COALESCE(cnt, 0)) AS BIGINT) AS est
        FROM cmqrows LEFT JOIN cmcounts USING (j, bucket) GROUP BY value)"""
    if ctes_only:
        return body
    return "WITH " + body + "\nSELECT value, est FROM cml\n"


def _check_bins(lo: float, hi: float, bins: int) -> float:
    if not hi > lo:
        raise ValueError(f"hi must exceed lo, got [{lo}, {hi}]")
    if not 2 <= bins <= (1 << 20):
        raise ValueError(f"bins must be in [2, 2^20], got {bins}")
    return (hi - lo) / bins


def hist_bins(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo: float,
    hi: float,
    bins: int,
) -> DataFrame:
    """Fixed-grid histogram sketch state: (group..., bin, cnt) with
    bin = clamp(floor((x-lo)·bins/(hi-lo)), 0, bins-1). Out-of-range
    values clamp into the edge bins (every non-null row is counted, so
    rank targets stay exact); NULLs are dropped.

    Scale shape: one projection -> ONE hash-agg whose state is at most
    `bins` rows per group however large the input — the 10^12-row
    percentile answer without a global sort. Both the bin math (two
    correctly-rounded double ops) and everything downstream are
    bit-identical between Spark and the SQL twin. The state is additive:
    union standing histograms and re-sum per bin to merge them losslessly.
    """
    _check_bins(lo, hi, bins)
    x = F.col(value_col).cast("double")
    raw = F.floor((x - F.lit(float(lo))) * F.lit(float(bins)) / F.lit(float(hi - lo)))
    b = F.greatest(F.lit(0).cast("long"), F.least(F.lit(bins - 1).cast("long"), raw))
    return (
        df.filter(x.isNotNull())
        .select(*group_cols, b.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count("*").alias("cnt"))
    )


def hist_quantiles(
    binned: DataFrame,
    group_cols: list[str],
    lo: float,
    hi: float,
    bins: int,
    qs: list[float],
) -> DataFrame:
    """Read quantiles from a histogram sketch: per (group, q) —

    - ``n``    total count (exact BIGINT)
    - ``bin``  the bin holding rank target = max(1, ceil(q·n))
    - ``cum``  cumulative count through that bin (exact BIGINT)
    - ``est``  lo + (bin + (target-cum_prev)/cnt_bin)·width — linear
               interpolation inside the bin; max error = one bin width.

    Plan: two windows over the BIN table (≤ bins rows per group — the
    corpus never re-enters), explode the q list, keep the first bin
    whose cumulative count reaches the target. Every arithmetic step is
    ordered identically in the SQL twin, so `est` is bit-stable.
    """
    width = _check_bins(lo, hi, bins)
    from pyspark.sql import Window

    wcum = Window.partitionBy(*group_cols).orderBy("bin")
    wall = Window.partitionBy(*group_cols)
    staged = (
        binned.withColumn("cum", F.sum("cnt").over(wcum))
        .withColumn("n", F.sum("cnt").over(wall))
        .withColumn("q", F.explode(F.array(*[F.lit(float(q)) for q in qs])))
        .withColumn(
            "target",
            F.greatest(F.lit(1).cast("long"), F.ceil(F.col("q") * F.col("n"))),
        )
        .filter(
            (F.col("cum") >= F.col("target"))
            & (F.col("cum") - F.col("cnt") < F.col("target"))
        )
    )
    frac = (F.col("target") - (F.col("cum") - F.col("cnt"))).cast("double") / F.col(
        "cnt"
    ).cast("double")
    est = F.lit(float(lo)) + (F.col("bin").cast("double") + frac) * F.lit(float(width))
    return staged.select(
        *group_cols, "q", "n", "bin", "cum", est.alias("est")
    )


def hist_quantiles_sql(
    source_sql: str,
    group_cols: list[str],
    value_expr: str,
    lo: float,
    hi: float,
    bins: int,
    qs: list[float],
) -> str:
    """DuckDB twin of hist_bins + hist_quantiles over `source_sql`."""
    width = _check_bins(lo, hi, bins)
    g = ", ".join(group_cols)
    gp = f"PARTITION BY {g}" if group_cols else ""
    gsel = f"{g}, " if group_cols else ""
    # explicit cast: DuckDB infers DECIMAL for bare numeric VALUES
    qvals = ", ".join(f"(CAST({float(q)!r} AS DOUBLE))" for q in qs)
    return f"""\
WITH hb0 AS (SELECT {gsel}GREATEST(0, LEAST({bins - 1},
            CAST(floor((CAST({value_expr} AS DOUBLE) - {float(lo)!r})
                       * {float(bins)!r} / {float(hi - lo)!r}) AS BIGINT)))
            AS bin
        FROM ({source_sql}) WHERE ({value_expr}) IS NOT NULL),
hb AS (SELECT {gsel}bin, COUNT(*) AS cnt FROM hb0 GROUP BY {gsel}bin),
hc AS (SELECT {gsel}bin, cnt,
              SUM(cnt) OVER ({gp} ORDER BY bin
                             ROWS UNBOUNDED PRECEDING) AS cum,
              SUM(cnt) OVER ({gp}) AS n
       FROM hb),
hqx AS (SELECT hc.*, qq.q,
               GREATEST(1, CAST(ceil(qq.q * hc.n) AS BIGINT)) AS target
        FROM hc CROSS JOIN (SELECT * FROM (VALUES {qvals}) v(q)) qq),
hq AS (SELECT {gsel}q, CAST(n AS BIGINT) AS n, bin, CAST(cum AS BIGINT) AS cum,
              {float(lo)!r} + (CAST(bin AS DOUBLE)
                  + CAST(target - (cum - cnt) AS DOUBLE)
                    / CAST(cnt AS DOUBLE)) * {float(width)!r} AS est
       FROM hqx WHERE cum >= target AND cum - cnt < target)
SELECT {gsel}q, n, bin, cum, est FROM hq
"""


def hll_estimate_sql(
    source_sql: str,
    group_cols: list[str],
    value_expr: str,
    p: int,
    ctes_only: bool = False,
) -> str:
    """DuckDB twin of hll_distinct(hash='portable') over `source_sql`
    (a relation with the group columns and the BIGINT value expr).
    With ``ctes_only`` return just the CTE chain ending at ``byg``
    (columns: group..., v_zero, k_max, t_scaled, est_raw) so callers
    can compose further."""
    m = _check_p(p)
    am2 = repr(_alpha(m) * m * m)
    rho = rho_sql("w", rho_cap_portable(p))
    cap = rho_cap_portable(p)
    g = ", ".join(group_cols)
    body = f"""\
h0 AS (SELECT {g}, {fold31_sql(value_expr)} AS x
       FROM ({source_sql}) WHERE ({value_expr}) IS NOT NULL),
h1 AS (SELECT {g}, {h32_round_sql('x')} AS x FROM h0),
h2 AS (SELECT {g}, {h32_round_sql('x')} AS x FROM h1),
mixed AS (SELECT {g}, {h32_final_sql('x')} & {m - 1} AS j,
                 {h32_final_sql('x')} >> {p} AS w
          FROM h2),
regs AS (SELECT {g}, j, MAX({rho}) AS M FROM mixed GROUP BY {g}, j),
byg0 AS (SELECT {g},
                CAST({m} - COUNT(*) AS BIGINT) AS v_zero,
                CAST(COALESCE(MAX(M), 0) AS INTEGER) AS k_max,
                CAST(COALESCE(SUM(CAST(1 AS BIGINT)
                                  << ({cap} - least(M, {cap}))), 0)
                     AS BIGINT) AS s_cap
         FROM regs GROUP BY {g}),
byg AS (SELECT {g}, v_zero, k_max,
               CAST((v_zero << {cap}) + s_cap AS BIGINT) AS t_scaled,
               CAST({am2} AS DOUBLE) * CAST({float(1 << cap)!r} AS DOUBLE)
                     / CAST((v_zero << {cap}) + s_cap AS DOUBLE) AS est_raw
        FROM byg0)"""
    if ctes_only:
        return body
    return body + f"\nSELECT {g}, v_zero, k_max, t_scaled, est_raw FROM byg\n"


# ---------------------------------------------------------------------------
# Bloom filter — mergeable membership sketch
# ---------------------------------------------------------------------------

BF_PHI = 0x61C88647  # golden-ratio constant (< 2^31) for per-hash-row salts


def _bf_salt(j: int) -> int:
    """Deterministic per-hash-row salt < 2^31 (XOR with the folded key
    stays < 2^31, wrap-free through the avalanche rounds). A different
    constant from CM_PHI so a corpus sketched by BOTH count-min and
    Bloom doesn't share hash rows."""
    return ((j + 1) * BF_PHI) % (1 << 31)


def _check_km(k: int, m_bits: int) -> None:
    if not 1 <= k <= 16:
        raise ValueError(f"k must be in [1, 16], got {k}")
    if not 64 <= m_bits <= (1 << 30):
        raise ValueError(f"m_bits must be in [64, 2^30], got {m_bits}")


def _bf_pos(v: Column, j: int, m_bits: int, hash: str) -> Column:
    """Bit position of value `v` under hash row `j`."""
    if hash == "portable":
        x = ((v.cast("long") % P31) + P31) % P31
        y = x.bitwiseXOR(F.lit(_bf_salt(j)))
        y = F.shiftright(y, 16).bitwiseXOR(y) * A_MIX % (M32 + 1)
        y = F.shiftright(y, 16).bitwiseXOR(y) * A_MIX % (M32 + 1)
        return (F.shiftright(y, 16).bitwiseXOR(y) % m_bits).cast("long")
    if hash == "xxhash64":
        h = F.xxhash64(F.lit("bloom"), v, F.lit(j))
        return (((h % m_bits) + m_bits) % m_bits).cast("long")
    raise ValueError(f"hash must be 'portable' or 'xxhash64', got {hash!r}")


# 32-bit word packing: word = pos >> 5, in-word bit = pos % 32. Every
# mask is < 2^32, positive in signed 64-bit in BOTH engines — no
# sign-bit hazard (a 64-bit word's bit 63 would be the BIGINT sign).
# Variable-distance shifts go through F.expr over a column literally
# named `pos`/`bits` (the Python shiftleft/shiftright helpers only take
# a literal distance).
_BF_MASK = "shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))"
_BF_HIT = (
    "CAST(shiftright(COALESCE(bits, CAST(0 AS BIGINT)),"
    " CAST(pos % 32 AS INT)) % 2 AS INT)"
)


def bloom_build(
    df: DataFrame,
    value_col: str,
    k: int = 4,
    m_bits: int = 1 << 15,
    hash: str = "xxhash64",
) -> DataFrame:
    """Bloom filter state: (word:int, bits:long) — an m_bits-bit array
    packed 32 bits per word (Bloom 1970, "Space/time trade-offs in hash
    coding with allowable errors").

    Scale shape: one projection fans each row out to its k bit
    positions (k is 3-7, a constant) -> ONE hash-agg whose state is AT
    MOST m_bits/32 rows per partition regardless of input size —
    map-side partial BIT_ORs absorb the volume, the shuffle moves at
    most m_bits/32 rows per partition. `bloom_probe` answers membership
    for a query set by a broadcast join against the <= m_bits/32-row
    state, so the corpus never re-enters at probe time. One-sided error:
    a present value always probes 1 (no false negatives); an absent
    value probes 1 with probability ~(1 - e^(-k*n/m))^k (`bloom_fpr`).

    The state is a DataFrame -> a STANDING sketch: a per-word BIT_OR of
    tables built over different corpora / days is lossless (the merged
    array equals the array built over the union). Hash families as in
    `cm_build`: ``xxhash64`` rows are xxhash64("bloom", value, j);
    ``portable`` is the 32-bit avalanche over the folded BIGINT key XOR
    a per-row salt — exact integer math with an ANSI-SQL twin
    (`bloom_probe_sql`), bit-identical in Spark and DuckDB down to each
    false positive.
    """
    _check_km(k, m_bits)
    v = F.col(value_col)
    pos = F.explode(
        F.array(*[_bf_pos(v, j, m_bits, hash) for j in range(k)])
    ).alias("pos")
    rows = df.filter(v.isNotNull()).select(pos)
    return (
        rows.select(
            F.shiftright(F.col("pos"), 5).cast("int").alias("word"),
            F.expr(_BF_MASK).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_probe(
    state: DataFrame,
    queries: DataFrame,
    value_col: str,
    k: int,
    m_bits: int,
    hash: str = "xxhash64",
) -> DataFrame:
    """Membership probes for a query set: (value, maybe_present) with
    maybe_present = 1 iff ALL k bits are set (0 => provably absent).

    Plan: the query set explodes to k rows each and LEFT-joins the
    state — at most m_bits/32 rows, so it is broadcast; no shuffle
    touches the corpus at probe time. A missing word row means those 32
    bits are all zero (coalesce 0). The corpus was read ONCE at build
    time; any number of probes reuse the standing state."""
    _check_km(k, m_bits)
    v = F.col(value_col)
    q = queries.filter(v.isNotNull()).select(v.alias("value")).distinct()
    pos = F.explode(
        F.array(*[_bf_pos(F.col("value"), j, m_bits, hash) for j in range(k)])
    ).alias("pos")
    qpos = q.select("value", pos)
    qw = qpos.select(
        "value", "pos", F.shiftright(F.col("pos"), 5).cast("int").alias("word")
    )
    joined = qw.join(F.broadcast(state), "word", "left")
    return joined.groupBy("value").agg(
        F.min(F.expr(_BF_HIT)).alias("maybe_present")
    )


def bloom_fpr(k: int, m_bits: int, n: int) -> float:
    """Expected false-positive rate after n distinct insertions."""
    _check_km(k, m_bits)
    return (1.0 - math.exp(-k * n / m_bits)) ** k


def _bf_pos_sql(x: str, j: int, m_bits: int) -> str:
    """Bit position of an already-folded column `x` under row j
    (portable family)."""
    y = f"xor({x}, {_bf_salt(j)})"
    y = h32_round_sql(y)
    y = h32_round_sql(y)
    return f"({h32_final_sql(y)}) % {m_bits}"


def bloom_probe_sql(
    source_sql: str,
    value_expr: str,
    queries_sql: str,
    query_expr: str,
    k: int,
    m_bits: int,
    ctes_only: bool = False,
) -> str:
    """DuckDB twin of bloom_build(hash='portable') + bloom_probe: builds
    the (word, bits) state over `source_sql` and probes the query set.
    With ``ctes_only`` return just the CTE chain ending at ``bfprobe``
    (columns: value, maybe_present) for further composition. Every step
    — the salted avalanche, the 32-bit word packing, the BIT_OR fold,
    the per-bit probe — is exact integer arithmetic both engines
    evaluate identically, so even each false positive matches."""
    _check_km(k, m_bits)
    rows = "\n  UNION ALL ".join(
        f"SELECT {_bf_pos_sql('x', j, m_bits)} AS pos FROM bfsrc"
        for j in range(k)
    )
    qrows = "\n  UNION ALL ".join(
        f"SELECT value, {_bf_pos_sql('x', j, m_bits)} AS pos FROM bfq"
        for j in range(k)
    )
    body = f"""\
bfsrc AS (SELECT {fold31_sql(value_expr)} AS x
          FROM ({source_sql}) WHERE ({value_expr}) IS NOT NULL),
bfpos AS ({rows}),
bfstate AS (SELECT CAST(pos // 32 AS INTEGER) AS word,
                   bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS bits
            FROM bfpos GROUP BY 1),
bfq AS (SELECT value, {fold31_sql('value')} AS x FROM
        (SELECT DISTINCT {query_expr} AS value FROM ({queries_sql})
         WHERE ({query_expr}) IS NOT NULL)),
bfqpos AS ({qrows}),
bfprobe AS (SELECT value,
                   CAST(MIN((COALESCE(bits, 0) >> CAST(pos % 32 AS INTEGER)) % 2)
                        AS INTEGER) AS maybe_present
            FROM bfqpos LEFT JOIN bfstate
              ON CAST(pos // 32 AS INTEGER) = word
            GROUP BY value)"""
    if ctes_only:
        return body
    return "WITH " + body + "\nSELECT value, maybe_present FROM bfprobe\n"

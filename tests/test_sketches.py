"""Cardinality sketches (operators/sketches.py): python-replica parity,
accuracy band on adversarial inputs, merge losslessness, validation —
HyperLogLog, the fixed-level theta/KMV coordinated sample, and
the count-min frequency sketch."""

import pytest

from pyspark.sql import functions as F

from osmium_tool_spark.operators.sketches import (
    A_MIX,
    P31,
    _alpha,
    cm_build,
    cm_lookup,
    hist_bins,
    hist_quantiles,
    hll_distinct,
    hll_registers,
    rho_cap_portable,
    theta_estimate,
    theta_merge,
    theta_overlap,
    theta_sample,
)

M32 = 0xFFFFFFFF


def py_h32(v: int) -> int:
    x = ((v % P31) + P31) % P31
    x = (((x >> 16) ^ x) * A_MIX) & M32
    x = (((x >> 16) ^ x) * A_MIX) & M32
    return (x >> 16) ^ x


def py_hll(values, p):
    """Pure-python replica of registers + estimate components."""
    m = 1 << p
    cap = rho_cap_portable(p)
    regs = {}
    for v in values:
        x = py_h32(v)
        j = x & (m - 1)
        w = x >> p
        if w == 0:
            rho = cap
        else:
            rho = ((w & -w).bit_length() - 1) + 1
        regs[j] = max(regs.get(j, 0), rho)
    v_zero = m - len(regs)
    t = (v_zero << cap) + sum(1 << (cap - min(mm, cap)) for mm in regs.values())
    est = _alpha(m) * m * m * float(1 << cap) / float(t)
    return v_zero, max(regs.values(), default=0), t, est


def test_matches_python_replica(spark):
    vals = [i * 37 % 12347 for i in range(30_000)] + [i * 1_000_003 for i in range(500)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = hll_distinct(df, [], "v", p=8, hash="portable").collect()
    # groupBy() with no keys -> one global row
    assert len(got) == 1
    r = got[0]
    v_zero, k_max, t, est = py_hll(vals, p=8)
    assert (r.v_zero, r.k_max, r.t_scaled) == (v_zero, k_max, t)
    assert r.est_raw == pytest.approx(est, rel=0, abs=0)  # bit-identical


@pytest.mark.parametrize(
    "shape, vals",
    [
        ("prog37", [(i * 37) % 12347 for i in range(60_000)]),
        ("seq", list(range(50_000))),
        ("strided", [i * 1_000_003 for i in range(40_000)]),
        ("shifted", [i << 16 for i in range(30_000)]),
    ],
)
def test_accuracy_band_structured_inputs(shape, vals):
    """Raw-regime error stays within 3 sigma of 1.04/sqrt(m) on
    adversarially structured (non-random) key sets — the multiplicative
    avalanche hash does not fall apart the way a bare LCG mix does."""
    p = 10
    n = len(set(vals))
    _, _, _, est = py_hll(vals, p)
    sigma = 1.04 / (1 << p) ** 0.5
    assert abs(est / n - 1) < 3 * sigma, f"{shape}: {est}/{n}"


def test_grouped_and_null_filtering(spark):
    df = spark.createDataFrame(
        [(i % 3, i % 1000 if i % 11 else None) for i in range(20_000)],
        "g long, v long",
    )
    out = {r.g: r for r in hll_distinct(df, ["g"], "v", p=8, hash="portable").collect()}
    assert set(out) == {0, 1, 2}
    for g in out:
        vals = [i % 1000 for i in range(20_000) if i % 3 == g and i % 11]
        assert (out[g].v_zero, out[g].k_max, out[g].t_scaled) == py_hll(vals, 8)[:3]


def test_xxhash64_family(spark):
    """Production hash family: estimate lands in the error band and the
    distinct shape matches; works on strings too."""
    n = 25_000
    df = spark.range(n * 4).select(
        F.concat(F.lit("img-"), (F.col("id") % n).cast("string")).alias("v")
    )
    r = hll_distinct(df, [], "v", p=10, hash="xxhash64").collect()[0]
    assert abs(r.est_raw / n - 1) < 3 * 1.04 / 32


def test_empty_input_global_sketch(spark):
    """A global aggregate over an empty input is the empty sketch:
    v_zero = m."""
    df = spark.range(0).select(F.col("id").alias("v"))
    r = hll_distinct(df, [], "v", p=8, hash="portable").collect()[0]
    assert r.v_zero == 256 and r.k_max == 0
    assert r.t_scaled == 256 << rho_cap_portable(8)


def test_validation():
    from osmium_tool_spark.operators.sketches import _check_p

    with pytest.raises(ValueError, match="p must be"):
        _check_p(3)
    with pytest.raises(ValueError, match="p must be"):
        _check_p(22)


def test_bad_hash_family(spark):
    df = spark.range(10).select(F.col("id").alias("v"))
    with pytest.raises(ValueError, match="hash must be"):
        hll_registers(df, [], "v", p=8, hash="md5")


# ---------------------------------------------------------------------------
# theta / KMV fixed-level coordinated sample
# ---------------------------------------------------------------------------


def py_theta(values, r):
    """Pure-python replica of the portable-family sampled hash set."""
    mask = (1 << r) - 1
    return {h for h in (py_h32(v) for v in set(values)) if h & mask == 0}


def test_theta_matches_python_replica(spark):
    vals = [(i * 37) % 12347 for i in range(30_000)] + [i * 1_000_003 for i in range(500)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {r.h for r in theta_sample(df, [], "v", r=3, hash="portable").collect()}
    assert got == py_theta(vals, 3)


def test_theta_estimate_exact_integers(spark):
    n = 40_000
    df = spark.range(n).select((F.col("id") * 7919).alias("v"))
    r = 4
    est = theta_estimate(theta_sample(df, [], "v", r=r, hash="portable"), [], r).collect()[0]
    assert est.est_distinct == est.n_sampled << r
    # binomial band: sd = sqrt(D * p * (1-p)), est error ~ 3 sd / p / D
    p = 2**-r
    assert abs(est.est_distinct - n) < 3 * (n * p) ** 0.5 / p


def test_theta_merge_lossless(spark):
    df = spark.createDataFrame([((i * 13) % 9000,) for i in range(25_000)], "v long")
    whole = theta_sample(df, [], "v", r=3, hash="portable")
    sa = theta_sample(df.filter("v % 2 = 0"), [], "v", r=3, hash="portable")
    sb = theta_sample(df.filter("v % 2 = 1"), [], "v", r=3, hash="portable")
    merged = theta_merge(sa, sb)
    assert sorted(r.h for r in merged.collect()) == sorted(r.h for r in whole.collect())


def test_theta_overlap_estimates(spark):
    """Coordinated sketches estimate |A∩B| / Jaccard: A = 0..30k,
    B = 15k..45k (true J = 1/3), r small enough to keep the band tight."""
    a = spark.range(0, 30_000).select(F.col("id").alias("v"))
    b = spark.range(15_000, 45_000).select(F.col("id").alias("v"))
    r = 3
    row = theta_overlap(
        theta_sample(a, [], "v", r=r, hash="portable"),
        theta_sample(b, [], "v", r=r, hash="portable"),
        r,
    ).collect()[0]
    assert row.n_union == row.n_a + row.n_b - row.n_inter
    assert row.est_inter == row.n_inter << r
    assert abs(row.est_inter - 15_000) < 3 * (15_000 * 2**-r) ** 0.5 * 2**r
    assert abs(row.jaccard - 1 / 3) < 0.05
    assert row.jaccard == row.n_inter / row.n_union  # bit-exact division


def test_theta_grouped_and_sql_twin(spark):
    """Grouped sampling matches the replica per group AND the DuckDB
    twin emits the identical sampled set."""
    import duckdb

    from osmium_tool_spark.operators.sketches import theta_sample_sql

    rows = [(i % 3, (i * 131) % 5000) for i in range(20_000)]
    df = spark.createDataFrame(rows, "g long, v long")
    got = {}
    for rr in theta_sample(df, ["g"], "v", r=2, hash="portable").collect():
        got.setdefault(rr.g, set()).add(rr.h)
    for g in (0, 1, 2):
        assert got.get(g, set()) == py_theta([v for gg, v in rows if gg == g], 2)

    con = duckdb.connect()
    con.execute("CREATE TABLE t (g BIGINT, v BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sql = theta_sample_sql("SELECT v FROM t WHERE g = 1", "v", r=2)
    duck = {r[0] for r in con.execute(sql).fetchall()}
    assert duck == got[1]


def test_theta_xxhash64_family(spark):
    """Production family: works on strings, estimate lands in band."""
    n = 30_000
    df = spark.range(n * 3).select(
        F.concat(F.lit("cap-"), (F.col("id") % n).cast("string")).alias("v")
    )
    r = 4
    est = theta_estimate(theta_sample(df, [], "v", r=r), [], r).collect()[0]
    assert abs(est.est_distinct - n) < 4 * (n * 2**-r) ** 0.5 * 2**r


def test_theta_validation(spark):
    df = spark.range(10).select(F.col("id").alias("v"))
    with pytest.raises(ValueError, match="r must be"):
        theta_sample(df, [], "v", r=0)
    with pytest.raises(ValueError, match="hash must be"):
        theta_sample(df, [], "v", r=3, hash="md5")
    with pytest.raises(ValueError, match="at least one"):
        theta_merge()


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------


def py_cm(values, d, w, weights=None):
    """Pure-python replica of the portable-family count table."""
    from osmium_tool_spark.operators.sketches import _cm_salt

    counts = {}
    for i, v in enumerate(values):
        wt = 1 if weights is None else weights[i]
        x = ((v % P31) + P31) % P31
        for j in range(d):
            y = x ^ _cm_salt(j)
            y = (((y >> 16) ^ y) * A_MIX) & M32
            y = (((y >> 16) ^ y) * A_MIX) & M32
            b = ((y >> 16) ^ y) % w
            counts[(j, b)] = counts.get((j, b), 0) + wt
    return counts


def _zipfish(n):
    """Deterministic skewed multiset: value v appears ~n/(v+1) times."""
    out = []
    v = 0
    while len(out) < n:
        out.extend([v] * max(n // (v + 1) // 10, 1))
        v += 1
    return out[:n]


def test_cm_matches_python_replica(spark):
    vals = _zipfish(20_000)
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {
        (r.j, r.bucket): r.cnt
        for r in cm_build(df, "v", d=3, w=64, hash="portable").collect()
    }
    assert got == py_cm(vals, 3, 64)


def test_cm_never_underestimates(spark):
    vals = _zipfish(30_000)
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    d, w = 4, 512
    counts = cm_build(df, "v", d=d, w=w, hash="portable")
    queries = spark.createDataFrame([(v,) for v in set(vals)], "v long")
    est = {r.value: r.est for r in cm_lookup(counts, queries, "v", d, w, "portable").collect()}
    exact = {}
    for v in vals:
        exact[v] = exact.get(v, 0) + 1
    n = len(vals)
    for v, e in exact.items():
        assert est[v] >= e, f"underestimate at {v}"
        assert est[v] <= e + 4 * n / w  # well inside the eps*N envelope


def test_cm_unseen_value_zero(spark):
    df = spark.createDataFrame([(v,) for v in range(50)], "v long")
    d, w = 3, 4096
    counts = cm_build(df, "v", d=d, w=w, hash="portable")
    q = spark.createDataFrame([(999_999_937,)], "v long")
    [(_, e)] = cm_lookup(counts, q, "v", d, w, "portable").collect()
    assert e == 0  # deterministic: no row collides in all 3 hash rows


def test_cm_weighted(spark):
    rows = [(v, v + 1) for v in range(200)]
    df = spark.createDataFrame(rows, "v long, wt long")
    got = {
        (r.j, r.bucket): r.cnt
        for r in cm_build(df, "v", d=2, w=32, hash="portable", weight_col="wt").collect()
    }
    assert got == py_cm([v for v, _ in rows], 2, 32, weights=[w for _, w in rows])


def test_cm_sql_twin(spark):
    import duckdb

    from osmium_tool_spark.operators.sketches import cm_lookup_sql

    vals = _zipfish(15_000)
    d, w = 3, 64
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    counts = cm_build(df, "v", d=d, w=w, hash="portable")
    queries = spark.createDataFrame([(v,) for v in range(0, 200, 7)], "v long")
    got = {
        r.value: r.est for r in cm_lookup(counts, queries, "v", d, w, "portable").collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE t (v BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    con.execute("CREATE TABLE q (v BIGINT)")
    con.executemany("INSERT INTO q VALUES (?)", [(v,) for v in range(0, 200, 7)])
    sql = cm_lookup_sql("SELECT v FROM t", "v", "SELECT v FROM q", "v", d, w)
    duck = {r[0]: r[1] for r in con.execute(sql).fetchall()}
    assert duck == got


def test_cm_xxhash64_family(spark):
    n = 5_000
    df = spark.range(n).select(
        F.concat(F.lit("tag-"), (F.col("id") % 40).cast("string")).alias("v")
    )
    d, w = 4, 256
    counts = cm_build(df, "v", d=d, w=w)
    queries = df.select("v").distinct()
    est = {r.value: r.est for r in cm_lookup(counts, queries, "v", d, w).collect()}
    for k, e in est.items():
        exact = n // 40 + (1 if int(k.split("-")[1]) < n % 40 else 0)
        assert e >= exact
        assert e <= exact + 4 * n / w


def test_cm_validation(spark):
    df = spark.range(10).select(F.col("id").alias("v"))
    with pytest.raises(ValueError, match="d must be"):
        cm_build(df, "v", d=0, w=64)
    with pytest.raises(ValueError, match="w must be"):
        cm_build(df, "v", d=3, w=1)
    with pytest.raises(ValueError, match="hash must be"):
        cm_build(df, "v", d=3, w=64, hash="crc")


# ---------------------------------------------------------------------------
# fixed-grid histogram quantile sketch
# ---------------------------------------------------------------------------


def py_hist_quantiles(values, lo, hi, bins, qs):
    """Pure-python replica: bin counts -> cum -> target -> interpolated est."""
    import math

    width = (hi - lo) / bins
    counts = {}
    for x in values:
        b = max(0, min(bins - 1, math.floor((x - lo) * float(bins) / (hi - lo))))
        counts[b] = counts.get(b, 0) + 1
    n = sum(counts.values())
    out = {}
    for q in qs:
        target = max(1, math.ceil(q * n))
        cum = 0
        for b in sorted(counts):
            prev = cum
            cum += counts[b]
            if cum >= target:
                frac = (target - prev) / counts[b]
                out[q] = (n, b, cum, lo + (b + frac) * width)
                break
    return out


def test_hist_matches_python_replica(spark):
    vals = [((i * 7919) % 10_000) / 10.0 for i in range(50_000)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    lo, hi, bins, qs = 0.0, 1000.0, 256, [0.1, 0.5, 0.9, 0.99]
    binned = hist_bins(df, [], "x", lo, hi, bins)
    got = {
        r.q: (r.n, r.bin, r.cum, r.est)
        for r in hist_quantiles(binned, [], lo, hi, bins, qs).collect()
    }
    assert got == py_hist_quantiles(vals, lo, hi, bins, qs)


def test_hist_clamps_out_of_range(spark):
    df = spark.createDataFrame([(-50.0,), (0.0,), (99.0,), (1e9,)], "x double")
    binned = hist_bins(df, [], "x", 0.0, 100.0, 10)
    got = {r.bin: r.cnt for r in binned.collect()}
    assert got == {0: 2, 9: 2}  # -50 clamps to bin 0, 1e9 to bin 9


def test_hist_grouped_and_sql_twin(spark):
    import duckdb

    from osmium_tool_spark.operators.sketches import hist_quantiles_sql

    rows = [(i % 3, ((i * 131) % 4000) / 4.0) for i in range(30_000)]
    df = spark.createDataFrame(rows, "g long, x double")
    lo, hi, bins, qs = 0.0, 1000.0, 200, [0.25, 0.5, 0.75]
    binned = hist_bins(df, ["g"], "x", lo, hi, bins)
    got = sorted(
        (r.g, r.q, r.n, r.bin, r.cum, r.est)
        for r in hist_quantiles(binned, ["g"], lo, hi, bins, qs).collect()
    )
    for g in (0, 1, 2):
        rep = py_hist_quantiles([x for gg, x in rows if gg == g], lo, hi, bins, qs)
        for q in qs:
            n, b, cum, est = rep[q]
            assert (g, q, n, b, cum, est) in got

    con = duckdb.connect()
    con.execute("CREATE TABLE t (g BIGINT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sql = hist_quantiles_sql("SELECT g, x FROM t", ["g"], "x", lo, hi, bins, qs)
    duck = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert duck == got  # exact, including the est double bits


def test_hist_validation(spark):
    df = spark.range(10).select(F.col("id").cast("double").alias("x"))
    with pytest.raises(ValueError, match="hi must exceed"):
        hist_bins(df, [], "x", 5.0, 5.0, 10)
    with pytest.raises(ValueError, match="bins must be"):
        hist_bins(df, [], "x", 0.0, 1.0, 1)


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------

from osmium_tool_spark.operators.sketches import (  # noqa: E402
    _bf_salt,
    bloom_build,
    bloom_fpr,
    bloom_probe,
    bloom_probe_sql,
)


def py_bf_pos(v: int, j: int, m_bits: int) -> int:
    x = ((v % P31) + P31) % P31
    y = x ^ _bf_salt(j)
    y = (((y >> 16) ^ y) * A_MIX) & M32
    y = (((y >> 16) ^ y) * A_MIX) & M32
    return ((y >> 16) ^ y) % m_bits


def py_bloom(values, k, m_bits):
    """Pure-python replica of the packed (word -> bits) state."""
    words = {}
    for v in values:
        for j in range(k):
            pos = py_bf_pos(v, j, m_bits)
            words[pos >> 5] = words.get(pos >> 5, 0) | (1 << (pos % 32))
    return words


def test_bloom_matches_python_replica(spark):
    vals = [i * 37 + 11 for i in range(500)]
    k, m = 4, 4096
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    state = {
        r.word: r.bits for r in bloom_build(df, "v", k, m, "portable").collect()
    }
    assert state == py_bloom(vals, k, m)


def test_bloom_no_false_negatives_both_families(spark):
    vals = list(range(0, 3000, 3))
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    for fam in ("portable", "xxhash64"):
        k, m = 5, 1 << 15
        state = bloom_build(df, "v", k, m, fam)
        probed = bloom_probe(state, df, "v", k, m, fam).collect()
        assert len(probed) == len(vals)
        assert all(r.maybe_present == 1 for r in probed)


def test_bloom_absent_values_and_fpr_band(spark):
    n, k, m = 2000, 4, 1 << 14
    present = [i * 2 for i in range(n)]
    absent = [i * 2 + 1 for i in range(n)]
    df = spark.createDataFrame([(v,) for v in present], "v long")
    qf = spark.createDataFrame([(v,) for v in absent], "v long")
    state = bloom_build(df, "v", k, m, "portable")
    probed = bloom_probe(state, qf, "v", k, m, "portable").collect()
    fp = sum(r.maybe_present for r in probed)
    expected = bloom_fpr(k, m, n)
    # one-sided error only; observed FPR within a generous band of theory
    assert fp / n <= max(5 * expected, 0.02)


def test_bloom_sql_twin_bit_identical(spark):
    import duckdb

    k, m = 3, 512  # small m so false positives actually occur
    present = [i * 7 for i in range(300)]
    queries = list(range(0, 900, 4))
    df = spark.createDataFrame([(v,) for v in present], "v long")
    qf = spark.createDataFrame([(v,) for v in queries], "v long")
    state = bloom_build(df, "v", k, m, "portable")
    got = {
        r.value: r.maybe_present
        for r in bloom_probe(state, qf, "v", k, m, "portable").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (v BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in present])
    con.execute("CREATE TABLE q (v BIGINT)")
    con.executemany("INSERT INTO q VALUES (?)", [(v,) for v in queries])
    sql = bloom_probe_sql("SELECT v FROM t", "v", "SELECT v FROM q", "v", k, m)
    duck = {r[0]: r[1] for r in con.execute(sql).fetchall()}
    assert duck == got
    # the tiny filter must actually produce false positives for this
    # test to pin anything; present values must all probe 1
    absent = set(queries) - set(present)
    assert all(got[v] == 1 for v in set(queries) & set(present))
    assert any(got[v] == 1 for v in absent)
    assert any(got[v] == 0 for v in absent)


def test_bloom_probe_is_broadcast(spark):
    k, m = 4, 4096
    df = spark.createDataFrame([(v,) for v in range(100)], "v long")
    state = bloom_build(df, "v", k, m, "portable")
    plan = bloom_probe(state, df, "v", k, m, "portable")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_bloom_validation(spark):
    df = None
    with pytest.raises(ValueError):
        bloom_build(df, "v", k=0)
    with pytest.raises(ValueError):
        bloom_build(df, "v", k=17)
    with pytest.raises(ValueError):
        bloom_build(df, "v", k=4, m_bits=32)
    with pytest.raises(ValueError):
        bloom_fpr(4, 1 << 40, 10)

"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's operator set (osmium `merge` dedups exact
(type,id,version) duplicates — /root/reference/src/command_merge.cpp:260-262),
a 10^12-row image+caption table needs *near*-duplicate detection. All hot
paths are built-in Column expressions (whole-stage codegen); pair generation
never cross-joins — candidates come from inverted-index / LSH-band equi-joins
so the shuffle is keyed and AQE-skew-splittable.

Portability note: hashes are Knuth-multiplicative / polynomial-31 mod
1e9+7 — deterministic integer arithmetic reproducible in ANSI SQL (the
driver's DuckDB oracle), unlike engine-specific xxhash64/murmur.

Scale design:
  - exact_dedup: one hash-agg shuffle on the key; map-side partial agg.
  - ngram/minhash/simhash: explode(shingles) -> equi-join on shingle/band
    keys. Frequent-shingle skew is bounded with a document-frequency
    cap (`MAX_DF`): a stopword shingle would otherwise fan out
    quadratically.
  - verification joins (exact Jaccard / hamming) only run on candidate
    pairs, which are a vanishing fraction of n^2.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

HASH_MOD = 1_000_000_007
MIX = 2654435761  # Knuth multiplicative constant


def word_tokens(text: Column) -> Column:
    """Whitespace tokens (single-space split, empties dropped)."""
    return F.filter(F.split(text, " "), lambda t: t != "")


def word_shingles(text: Column, n: int) -> Column:
    """Distinct word n-gram shingle strings of a text column.

    The token array is bound ONCE as a lambda variable (single-element
    array + transform): referencing the raw split() expression from every
    element_at would re-evaluate the tokenization per shingle index —
    O(n_tokens^2) string churn per row (measured 20x slowdown)."""
    toks_once = F.array(word_tokens(text))

    def build(toks: Column) -> Column:
        if n == 1:
            return F.array_distinct(toks)
        idx = F.sequence(F.lit(0), F.size(toks) - n)
        gram = F.transform(
            idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)])
        )
        # guard: sequence(0, negative) would count DOWN in Spark
        return F.when(F.size(toks) >= n, F.array_distinct(gram)).otherwise(
            F.array().cast("array<string>")
        )

    return F.get(F.transform(toks_once, build), 0)


def word_grams(text: Column, n: int) -> Column:
    """Word n-gram strings WITH multiplicity (no array_distinct) — the
    repetition-analysis sibling of `word_shingles` (same once-bound token
    array to avoid per-index re-tokenization)."""
    toks_once = F.array(word_tokens(text))

    def build(toks: Column) -> Column:
        if n == 1:
            return toks
        idx = F.sequence(F.lit(0), F.size(toks) - n)
        gram = F.transform(
            idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)])
        )
        # guard: sequence(0, negative) would count DOWN in Spark
        return F.when(F.size(toks) >= n, gram).otherwise(
            F.array().cast("array<string>")
        )

    return F.get(F.transform(toks_once, build), 0)


def poly_hash(s: Column) -> Column:
    """Portable polynomial string hash: fold(h*31 + codepoint) % (1e9+7)."""
    return F.aggregate(
        F.split(s, ""), F.lit(0).cast("long"), lambda h, c: (h * 31 + F.ascii(c)) % HASH_MOD
    )


def exact_dedup(df: DataFrame, key: Column, id_col: Column) -> DataFrame:
    """Exact duplicate groups: (keeper_id = min id, n_copies) per key value.

    The merge-dedup analog (command_merge.cpp:260-262) generalized to any
    content key; one groupBy shuffle, partial-agg on the map side.
    """
    return (
        df.groupBy(key.alias("key"))
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies"))
        .select("keeper_id", "n_copies")
    )


def _pair_candidates(exploded: DataFrame, id_col: str, token_col: str) -> DataFrame:
    """(a, b) candidate pairs sharing >=1 token, with common-token counts.

    `exploded` has one row per (id, token). The join is an equi-join on the
    token — no cross product; tokens whose document frequency exceeds
    `MAX_DF` are dropped (frequent-shingle skew guard)."""
    keep = (
        exploded.groupBy(token_col)
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") <= MAX_DF)
        .select(token_col)
    )
    exploded = exploded.join(keep, on=token_col, how="left_semi")
    l = exploded.select(F.col(id_col).alias("a"), F.col(token_col).alias("t"))
    r = exploded.select(F.col(id_col).alias("b"), F.col(token_col).alias("t"))
    return (
        l.join(r, on="t")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("common"))
    )


MAX_DF = 1000


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.1,
) -> DataFrame:
    """Near-duplicate pairs by exact word-n-gram Jaccard >= threshold.

    Inverted-index pattern: explode distinct shingles, equi-join on the
    shingle, count common per pair, then jaccard = common/(|A|+|B|-common).
    Pairs sharing no shingle have jaccard 0 and are (correctly) never
    generated. Returns (a, b, jaccard).

    `MAX_DF` caps shingle document frequency at 1000: one stopword
    shingle shared by m docs fans out m^2/2 candidate pairs, so an
    uncapped join is quadratic at corpus scale. Docs sharing ONLY capped
    shingles lose their pair — both docs had every common shingle in
    >1000 others, i.e. boilerplate."""
    sh = df.select(
        F.col(id_col).alias("id"), word_shingles(F.col(text_col), n).alias("sh")
    ).persist()
    sizes = sh.select("id", F.size("sh").alias("sz"))
    exploded = sh.select("id", F.explode("sh").alias("t"))
    pairs = _pair_candidates(exploded, "id", "t")
    out = (
        pairs.join(sizes.withColumnRenamed("id", "a").withColumnRenamed("sz", "sza"), on="a")
        .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("sz", "szb"), on="b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("sza") + F.col("szb") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return out


def minhash_perms(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) coefficients for h_i(x) = (a_i*x+b_i) % P."""
    return [
        ((i * 2 + 1) * MIX % HASH_MOD, (i * MIX + 12345) % HASH_MOD)
        for i in range(num_perm)
    ]


def minhash_signature(shingle_hashes: Column, num_perm: int) -> Column:
    """Array of num_perm min-hash values over a shingle-hash array column."""
    def perm_fn(a: int, b: int):
        # closure (not defaulted lambda args — PySpark would read a 2nd/3rd
        # lambda parameter as the HOF index argument)
        return lambda h: (h * a + b) % HASH_MOD

    sig = [
        F.array_min(F.transform(shingle_hashes, perm_fn(a, b)))
        for a, b in minhash_perms(num_perm)
    ]
    return F.array(*sig)


def _sig_bands(hashed: DataFrame, num_perm: int, band_size: int) -> DataFrame:
    """(id, band_idx, band) rows of a signature table — the LSH keys
    the pair join matches on."""
    nbands = num_perm // band_size
    return hashed.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.slice("sig", i * band_size + 1, band_size).alias("band"),
                    )
                    for i in range(nbands)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.band_idx", "bk.band")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 16,
    band_size: int = 4,
    threshold: float = 0.1,
) -> DataFrame:
    """MinHash + LSH near-dup pairs, verified by exact Jaccard.

    shingle -> poly-hash -> num_perm permutation mins -> bands of band_size
    -> candidate pairs share >=1 full band (equi-join on (band_idx, band
    values)) -> exact-Jaccard verification on candidates only.
    Returns (a, b, jaccard). At scale the band join is the only wide op and
    its key space is huge (band values), so skew is negligible by design."""
    assert num_perm % band_size == 0
    sh = df.select(
        F.col(id_col).alias("id"), word_shingles(F.col(text_col), n).alias("sh")
    ).filter(F.size("sh") > 0)
    hashed = sh.select(
        "id", "sh", F.transform("sh", poly_hash).alias("hs")
    ).withColumn("sig", minhash_signature(F.col("hs"), num_perm)).persist()

    bands = _sig_bands(hashed, num_perm, band_size)
    l = bands.select(F.col("id").alias("a"), "band_idx", "band")
    r = bands.select(F.col("id").alias("b"), "band_idx", "band")
    cand = (
        l.join(r, on=["band_idx", "band"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    sets = hashed.select("id", "sh")
    verified = (
        cand.join(sets.withColumnRenamed("id", "a").withColumnRenamed("sh", "sha"), on="a")
        .join(sets.withColumnRenamed("id", "b").withColumnRenamed("sh", "shb"), on="b")
        .withColumn("common", F.size(F.array_intersect("sha", "shb")))
        .withColumn(
            "jaccard",
            F.col("common") / (F.size("sha") + F.size("shb") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return verified


SIMHASH_BITS = 32


def simhash(tokens: Column) -> Column:
    """32-bit SimHash over a distinct-token array column.

    Token hash = poly_hash mixed by MIX mod 2^32; bit b of the signature is
    1 iff more token hashes have bit b set than not (strict majority)."""
    from ..functions.exprs import bind

    hs_expr = F.transform(
        F.array_distinct(tokens), lambda t: (poly_hash(t) * MIX) % F.lit(4294967296)
    )

    def bit_pred(b: int):
        # NOTE: a defaulted second lambda arg would be mistaken for the HOF
        # index parameter by PySpark — close over b instead
        return lambda h: F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1

    def build(hs: Column) -> Column:
        # hs is bound once — 32 filter passes over it read a lambda var,
        # not 32 re-hashes of every token
        n = F.size(hs)
        sig = F.lit(0).cast("long")
        for b in range(SIMHASH_BITS):
            ones = F.size(F.filter(hs, bit_pred(b)))
            sig = sig + F.when(ones * 2 > n, F.lit(1 << b).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        return sig

    return bind(hs_expr, build)


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 6,
    block_col: str | None = None,
) -> DataFrame:
    """Pairs with SimHash hamming distance <= max_hamming.

    Candidates are blocked (equi-join) on `block_col` if given, else on the
    signature's top byte (a 1-band LSH on the simhash itself) — never a full
    cross join. Returns (a, b, hamming)."""
    sigs = df.select(
        F.col(id_col).alias("id"),
        simhash(word_tokens(F.col(text_col))).alias("sig"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
    )
    if not block_col:
        sigs = sigs.withColumn("blk", F.shiftright("sig", SIMHASH_BITS - 8))
    l = sigs.select(F.col("id").alias("a"), F.col("sig").alias("siga"), "blk")
    r = sigs.select(F.col("id").alias("b"), F.col("sig").alias("sigb"), "blk")
    return (
        l.join(r, on="blk")
        .filter(F.col("a") < F.col("b"))
        .withColumn("hamming", F.bit_count(F.col("siga").bitwiseXOR(F.col("sigb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def phash_near_dup_pairs(
    images: DataFrame,
    max_hamming: int,
    prefix_bits: int = 8,
    id_col: str = "image_id",
    block_col: str | None = "fmt",
) -> DataFrame:
    """Image near-dup pairs by perceptual-hash hamming distance.

    LSH banding on the phash's top `prefix_bits` bits (+ optional block
    column) generates candidates with an equi-join; the hamming filter runs
    only on those. This is the image-payload analog of minhash dedup; at
    10^12 rows the prefix join keys ~2^prefix_bits × blocks buckets, so
    bucket sizes stay bounded and AQE handles stragglers."""
    cols = [F.col(id_col).alias("id"), F.col("phash")]
    if block_col:
        cols.append(F.col(block_col).alias("blk"))
    p = images.select(*cols).withColumn(
        "bucket", F.shiftright(F.col("phash"), 48 - prefix_bits)
    )
    on = ["bucket"] + (["blk"] if block_col else [])
    l = p.select(F.col("id").alias("a"), F.col("phash").alias("pa"), *on)
    r = p.select(F.col("id").alias("b"), F.col("phash").alias("pb"), *on)
    return (
        l.join(r, on=on)
        .filter(F.col("a") < F.col("b"))
        .withColumn("hamming", F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def _canon_edges(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """Edge set canonicalized to (hi, lo) with hi > lo, distinct."""
    return (
        pairs.select(
            F.greatest(F.col(a), F.col(b)).alias("hi"),
            F.least(F.col(a), F.col(b)).alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For every node u: connect each strictly-larger neighbor to
    min(neighborhood(u) + {u}). Edges stay canonical (hi > lo)."""
    sym = edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionByName(
        edges.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    )
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least(F.col("u"), F.col("mv")).alias("m"))
    )
    return (
        sym.filter(F.col("v") > F.col("u"))
        .join(mins, on="u")
        .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For every node u (over smaller-neighbor edges): connect u and all
    its smaller neighbors to the minimum of them. Canonical in, canonical
    out (every emitted (x, m) has x >= m; x == m self-loops dropped)."""
    mins = edges.groupBy("hi").agg(F.min("lo").alias("m"))
    with_m = edges.join(mins, on="hi")
    out = with_m.select(F.col("lo").alias("x"), F.col("m")).unionByName(
        mins.select(F.col("hi").alias("x"), F.col("m"))
    )
    return (
        out.filter(F.col("x") != F.col("m"))
        .select(F.col("x").alias("hi"), F.col("m").alias("lo"))
        .distinct()
    )


CC_ROUNDS = 30  # dup_clusters' round cap; ~20 rounds close a 10^6-long chain


def _checkpoint_fingerprint(edges: DataFrame) -> tuple[DataFrame, tuple]:
    """Checkpoint `edges` eagerly and fingerprint it in the same job.

    The per-edge terms are BOUNDED (< 2^31), so the sums cannot hit ANSI
    long overflow however large the node ids are; two independent hash
    sums keep the false-equality odds at ~2^-62 per round."""
    seen = Observation()
    edges = edges.observe(
        seen,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.pmod(F.xxhash64("hi", "lo"), F.lit(1 << 31))), F.lit(0)).alias("s1"),
        F.coalesce(F.sum(F.pmod(F.xxhash64("lo", "hi"), F.lit(1 << 31))), F.lit(0)).alias("s2"),
    ).localCheckpoint(eager=True)
    sig = seen.get
    return edges, (sig["n"], sig["s1"], sig["s2"])


def dup_clusters(
    pairs: DataFrame,
    a: str = "a",
    b: str = "b",
    ids: DataFrame | None = None,
) -> DataFrame:
    """Connected components over near-duplicate pairs -> (id, cluster_id).

    The step AFTER pair generation in a production dedup pipeline: near-dup
    relations are not transitive, so keeping "one of each pair" both
    over-deletes and under-deletes; the correct unit is the connected
    component (cluster), with one representative kept per cluster
    (`cluster_id` = the minimum id in the component, the conventional
    representative choice).

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014), the
    standard O(log^2 n)-round distributed CC — NOT driver-side union-find
    (which would collect every edge) and NOT naive label propagation
    (O(diameter) rounds; a 10^6-long near-dup chain would need 10^6
    shuffles, large/small-star needs ~20). Each round is two groupBy/join
    stages on the edge set, which SHRINKS monotonically toward one star
    per component; `localCheckpoint` truncates lineage per round and
    fingerprints the edge set in the same job. The loop ends at the first
    round that leaves the fingerprint unchanged, counting from the input's
    own, so an input that is already a set of min-rooted stars costs one
    round.

    `ids` (optional, one column matching `a`'s type): the full id universe;
    ids in no pair become singleton clusters (cluster_id = id). Returns
    (id, cluster_id); ids never appear twice. Raises ValueError when the
    edge set has not converged after `CC_ROUNDS` rounds.
    """
    edges, prev_sig = _checkpoint_fingerprint(_canon_edges(pairs, a, b))
    for _ in range(CC_ROUNDS):
        edges, sig = _checkpoint_fingerprint(_small_star(_large_star(edges)))
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise ValueError(f"dup_clusters: edges not converged after {CC_ROUNDS} rounds")
    # converged: every component is a star (child -> min-id root)
    labels = edges.select(F.col("hi").alias("id"), F.col("lo").alias("cluster_id"))
    roots = edges.select(F.col("lo").alias("id")).distinct().withColumn(
        "cluster_id", F.col("id")
    )
    labels = labels.unionByName(roots)
    if ids is not None:
        id_name = ids.columns[0]
        singles = (
            ids.select(F.col(id_name).alias("id"))
            .distinct()
            .join(labels.select("id"), on="id", how="left_anti")
            .withColumn("cluster_id", F.col("id"))
        )
        labels = labels.unionByName(singles)
    return labels


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_chars: int = 5,
    out_col: str = "text_clean",
) -> DataFrame:
    """Corpus-level line deduplication (the C4 boilerplate rule, Raffel et
    al. 2020 §2.2): drop every line whose normalized form (lower+trim)
    occurs in two or more DISTINCT documents, then reassemble each
    document from its surviving lines in original order. Lines shorter
    than ``min_line_chars`` after normalization (headings, blanks,
    separators) are exempt — never counted, never removed.

    Distributed shape: posexplode lines -> one hash aggregate building the
    banned-line set (only lines that clear both thresholds survive the
    HAVING, so the join side is boilerplate-sized, not corpus-sized) ->
    equi-join lines against it (AQE broadcasts when small) -> per-document
    reassembly via sort_array(collect_list(struct(pos, line))). The only
    per-document state is that document's own line list — no window over
    the corpus, no driver collection.

    Returns (id, <out_col>, n_kept, n_removed).
    """
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    lines = base.select(
        "id", F.posexplode(F.split(F.col("t"), "\n")).alias("pos", "line")
    ).withColumn("norm", F.lower(F.trim(F.col("line"))))
    eligible = F.length("norm") >= min_line_chars
    banned = (
        lines.filter(eligible)
        .groupBy("norm")
        .agg(F.count_distinct("id").alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("norm")
        .withColumn("__banned", F.lit(True))
    )
    marked = lines.join(banned, "norm", "left")
    removed = eligible & F.col("__banned").isNotNull()
    return (
        marked.groupBy("id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(~removed, F.struct(F.col("pos"), F.col("line")))
                        )
                    ),
                    lambda x: x["line"],
                ),
            ).alias(out_col),
            F.sum(F.when(removed, 0).otherwise(1)).cast("long").alias("n_kept"),
            F.sum(F.when(removed, 1).otherwise(0)).cast("long").alias("n_removed"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicate token SPANS: every ``width``-token window
    whose exact content recurs in >= ``min_docs`` distinct documents,
    reported per occurrence (token-granular substring dedup in the spirit
    of Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better" — the window-hash approximation of their suffix-array
    ExactSubstr, which has no distributed-SQL shape).

    Document-level dedup misses the common web-corpus failure mode where
    distinct pages share boilerplate paragraphs; the output here is the
    span-removal worklist: (id, pos, span_hash, n_docs) with ``pos`` the
    0-based token offset of each duplicated window.

    Scale shape: explode is O(tokens) rows per doc (stride 1); the
    count-distinct groupBy shuffles (span_hash, id) pairs with map-side
    partial agg; the HAVING >= min_docs filter shrinks the hash side to
    boilerplate-sized before the back-join on span_hash (AQE broadcasts it
    when small). No cross join anywhere. Hash collisions (poly-31 mod 1e9+7)
    merge unrelated spans at ~n^2/2e9 probability — at dedup scale that is
    a deliberate recall>precision trade, same as the reference CRC checks.
    """
    if width < 1:
        raise ValueError(f"width must be >= 1, got {width}")
    toks_once = F.array(word_tokens(F.col(text_col)))

    def build(toks: Column) -> Column:
        idx = F.sequence(F.lit(0), F.size(toks) - width)
        spans = F.transform(
            idx,
            lambda i: F.struct(
                i.cast("long").alias("pos"),
                poly_hash(
                    F.concat_ws(
                        " ", *[F.element_at(toks, i + j + 1) for j in range(width)]
                    )
                ).alias("span_hash"),
            ),
        )
        # sequence(0, negative) counts DOWN — guard short docs to empty
        return F.when(F.size(toks) >= width, spans).otherwise(
            F.array().cast("array<struct<pos:bigint,span_hash:bigint>>")
        )

    exploded = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.get(F.transform(toks_once, build), 0)).alias("sp"),
    ).select("id", F.col("sp.pos").alias("pos"), F.col("sp.span_hash").alias("span_hash"))
    hot = (
        exploded.groupBy("span_hash")
        .agg(F.count_distinct("id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    return exploded.join(hot, "span_hash").select("id", "pos", "span_hash", "n_docs")


def dhash_near_dup_pairs(
    images: DataFrame,
    max_hamming: int,
    bands: int = 4,
    id_col: str = "image_id",
) -> DataFrame:
    """Image near-dup pairs by dHash Hamming distance over REAL decoded
    pixels — the guaranteed-recall upgrade of `phash_near_dup_pairs`
    (whose single prefix band is a heuristic): the 64 dHash bits split
    into ``bands`` equal bands, candidates are pairs sharing ANY band
    exactly (posexplode -> equi-join on (band index, band value)), and
    the exact Hamming filter verifies. By pigeonhole, a pair within
    ``max_hamming < bands`` flipped bits leaves at least one band
    untouched — recall is 100%, not probabilistic (the property the
    DuckDB brute-force oracle checks pair for pair).

    Scale shape: |bands| rows per image into a bucketed equi-join —
    bucket cardinality is 2^(64/bands) × bands, so buckets stay small
    and AQE absorbs hot ones (constant-content corpora collapse to few
    buckets; the a<b filter and distinct run AFTER the bucket join on
    candidate volume, never on the corpus square).

    Input: payload table with PNG `bytes`; the hash comes from
    `multimodal.image_dhash` (from-spec codec, exact block sums).
    Returns (a, b, hamming).
    """
    if bands not in (2, 4, 8):
        raise ValueError(f"bands must be 2, 4 or 8 (aligned to the hi/lo halves), got {bands}")
    if not 0 <= max_hamming < bands:
        raise ValueError(
            f"need 0 <= max_hamming < bands for guaranteed recall, got "
            f"{max_hamming} vs {bands} bands"
        )
    from .multimodal import image_dhash

    width = 64 // bands
    per_half = bands // 2
    mask = (1 << width) - 1

    h = image_dhash(images.withColumnRenamed(id_col, "image_id"))
    band_vals = []
    for k in range(bands):
        src = F.col("dhash_hi") if k < per_half else F.col("dhash_lo")
        shift = width * (per_half - 1 - (k % per_half))
        band_vals.append(F.shiftright(src, shift).bitwiseAND(F.lit(mask)))
    b = h.select(
        F.col("image_id").alias("id"),
        "dhash_hi",
        "dhash_lo",
        F.posexplode(F.array(*band_vals)).alias("band_ix", "band_val"),
    )
    l = b.select(
        F.col("id").alias("a"),
        F.col("dhash_hi").alias("ha"),
        F.col("dhash_lo").alias("la"),
        "band_ix",
        "band_val",
    )
    r = b.select(
        F.col("id").alias("b"),
        F.col("dhash_hi").alias("hb"),
        F.col("dhash_lo").alias("lb"),
        "band_ix",
        "band_val",
    )
    return (
        l.join(r, on=["band_ix", "band_val"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "ha", "la", "hb", "lb")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
            + F.bit_count(F.col("la").bitwiseXOR(F.col("lb"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def pair_metrics(pred: DataFrame, truth: DataFrame) -> DataFrame:
    """Precision / recall / F1 of a predicted near-dup PAIR set against
    a ground-truth pair set — the tuning gauge for every approximate
    dedup family (MinHash bands, SimHash radius, dHash bands) against
    the exact criterion it approximates (e.g. exact n-gram Jaccard at
    the target threshold on a labeled sample).

    Pairs are canonicalized to (least, greatest) before comparison, so
    orientation never miscounts. ONE row out:
    (n_pred, n_truth, n_hit, precision, recall, f1) — each ratio is a
    single division of exact BIGINTs (bit-stable); empty sides yield
    0.0 rather than NULL/NaN so downstream thresholds stay total.

    Scale shape: pair tables are output-scale, not corpus-scale; one
    equi-join on the canonical pair + three count-aggs."""

    def canon(df: DataFrame) -> DataFrame:
        return df.select(
            F.least(F.col("a"), F.col("b")).alias("pa"),
            F.greatest(F.col("a"), F.col("b")).alias("pb"),
        ).distinct()

    p = canon(pred)
    t = canon(truth)
    hit = p.join(t, ["pa", "pb"])
    counts = (
        p.agg(F.count("*").alias("n_pred"))
        .crossJoin(t.agg(F.count("*").alias("n_truth")))
        .crossJoin(hit.agg(F.count("*").alias("n_hit")))
    )
    prec = F.when(
        F.col("n_pred") > 0, F.col("n_hit").cast("double") / F.col("n_pred").cast("double")
    ).otherwise(F.lit(0.0))
    rec = F.when(
        F.col("n_truth") > 0, F.col("n_hit").cast("double") / F.col("n_truth").cast("double")
    ).otherwise(F.lit(0.0))
    return counts.select(
        "n_pred",
        "n_truth",
        "n_hit",
        prec.alias("precision"),
        rec.alias("recall"),
        F.when(
            (F.col("n_pred") > 0) & (F.col("n_truth") > 0) & (F.col("n_hit") > 0),
            2.0
            * F.col("n_hit").cast("double")
            / (F.col("n_pred") + F.col("n_truth")).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("f1"),
    )

"""End-to-end training-data curation: the composition the dedup/text
operators exist for.

    raw docs -> exact dedup -> MinHash near-dup removal -> quality gate
             -> language gate -> curated set + token budget

Dedup keep-rule: within an exact-duplicate group the smallest doc_id
survives; for near-dup pairs the default is greedy (drop the larger id of
each pair — deterministic, join-only, fine when transitive chains are
rare after exact dedup). `cluster_dedup=True` switches to connected-
component semantics (dedup.dup_clusters): one representative per near-dup
CLUSTER, the policy to use when chains matter. The two differ on "hub"
graphs — pairs {(1,3),(2,3)}: greedy keeps 1 AND 2 (they are not near-dups
of each other), cluster keeps only 1 (all three share a component).

Scale shape: every stage is a Column filter or an (already skew-guarded)
pair join from operators/dedup.py; the final anti-join keys on doc id.
Run it inside plans.CheckpointedPipeline for resumability + lineage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import dup_clusters, exact_dedup, minhash_lsh_pairs
from .text import quality_score


def curate_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    min_tokens: int = 10,
    max_stopword_ratio: float = 0.5,
) -> DataFrame:
    """Returns (doc_id, n_tokens) for the curated (kept) documents."""
    # 1. exact dedup: keep the group keeper only
    keepers = exact_dedup(docs, F.col(text_col), F.col(id_col)).select(
        F.col("keeper_id").alias(id_col)
    )
    uniq = docs.join(keepers, on=id_col, how="left_semi")

    # 2. near-dup removal, greedy pair policy: drop the larger id of each
    # qualifying pair
    pairs = minhash_lsh_pairs(uniq, id_col, text_col, threshold=jaccard_threshold)
    drop = pairs.select(F.col("b").alias(id_col)).distinct()
    deduped = uniq.join(drop, on=id_col, how="left_anti")

    # 3. quality gate
    q = quality_score(deduped, text_col=text_col, id_col=id_col)
    good_q = q.filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("stopword_ratio") <= max_stopword_ratio)
    ).select(F.col("id").alias(id_col), "n_tokens")
    return deduped.join(good_q, on=id_col).select(F.col(id_col), F.col("n_tokens"))


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[int, int, int] = (80, 10, 10),
    seed: int = 0,
) -> DataFrame:
    """Train/val/test assignment that never splits a near-duplicate
    cluster across partitions of the data — the eval-integrity guard:
    a val/test document with a near-duplicate in train is leaked, and
    per-DOCUMENT random splits leak every duplicated document.

    ``pairs`` is any near-dup edge set (a, b) — ngram_jaccard_pairs,
    minhash_lsh_pairs, simhash... The unit of assignment is the connected
    component (dedup.dup_clusters): the whole cluster lands in ONE split,
    chosen by the portable hash of its cluster id against integer
    percentage ``weights`` (train, val, test; must sum to 100).

    Returns (id_col, cluster_id, split). Scale shape: the CC rounds are
    the dup_clusters large/small-star joins; the assignment itself is a
    pure Column on the label frame — no extra shuffle.
    """
    from .sample import sample_hash

    if len(weights) != 3 or any(w < 0 for w in weights) or sum(weights) != 100:
        raise ValueError(f"weights must be 3 non-negative ints summing to 100: {weights}")
    labels = dup_clusters(pairs, ids=docs.select(id_col))
    bucket = sample_hash(F.col("cluster_id"), seed) % 100
    split = (
        F.when(bucket < weights[0], F.lit("train"))
        .when(bucket < weights[0] + weights[1], F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return labels.select(
        F.col("id").alias(id_col), F.col("cluster_id"), split.alias("split")
    )


def pack_sequences(
    df: DataFrame,
    capacity: int,
    id_col: str = "doc_id",
    tokens_col: str | None = None,
    text_col: str = "text",
    n_packers: int = 64,
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents -> fixed-capacity
    training sequences.

    The GPT-style pretraining layout: documents are concatenated in a
    deterministic pseudo-random order and the token stream is cut every
    ``capacity`` tokens; a document may straddle a cut (its tail fills
    one sequence, its head starts the next) so no capacity is wasted —
    the no-split greedy variant is inherently sequential and is NOT what
    large pretraining runs use.

    Distribution: a single global concatenation order would need one
    unpartitioned running-sum window (every row through one task — the
    classic scale-killer). Instead docs hash-route to ``n_packers``
    independent packing streams (standard practice: each worker packs
    its own shard); the running sum windows over packer-sized partitions.
    Sequence ids are (packer, seq) pairs — globally unique, stable
    across reruns, independent of partitioning.

    Returns one row per (document, sequence) FRAGMENT:
      (doc_id, packer, seq, doc_begin, n_tok) — the fragment covers doc
    tokens [doc_begin, doc_begin + n_tok); a doc shorter than capacity
    and not straddling a cut yields exactly one fragment. Zero-token
    docs are dropped (nothing to pack). All math is exact integers —
    the DuckDB oracle restates it verbatim.
    """
    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    if n_packers <= 0:
        raise ValueError(f"n_packers must be positive, got {n_packers}")
    from .sample import sample_hash

    tok = (
        F.col(tokens_col)
        if tokens_col
        else F.size(F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != ""))
    )
    h = sample_hash(F.col(id_col))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        tok.cast("long").alias("n_tokens"),
        (h % n_packers).alias("packer"),
        h.alias("__h"),
    ).filter(F.col("n_tokens") > 0)

    w = Window.partitionBy("packer").orderBy(F.col("__h").asc(), F.col("doc_id").asc())
    laid = base.select(
        "doc_id",
        "packer",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start"),
    )
    # integer DIV, not float '/': token offsets are exact longs end to end
    first_seq = F.expr(f"start DIV {capacity}")
    last_seq = F.expr(f"(start + n_tokens - 1) DIV {capacity}")
    frags = laid.select(
        "doc_id",
        "packer",
        "n_tokens",
        "start",
        F.explode(F.sequence(first_seq, last_seq)).alias("seq"),
    )
    frag_begin = F.greatest(F.lit(0), F.col("seq") * capacity - F.col("start"))
    frag_end = F.least(
        F.col("n_tokens"), (F.col("seq") + 1) * capacity - F.col("start")
    )
    return frags.select(
        "doc_id",
        "packer",
        "seq",
        frag_begin.cast("long").alias("doc_begin"),
        (frag_end - frag_begin).cast("long").alias("n_tok"),
    )


def shard_manifest(
    images: DataFrame,
    target_bytes: int,
    res: int = 12,
    prefix_res: int = 4,
    id_col: str = "image_id",
    bytes_col: str = "n_bytes",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Pack geo-referenced images into fixed-size training shards along
    the Z-order curve — the webdataset/tar-shard layout with SPATIAL
    LOCALITY: consecutive images in a shard are spatial neighbors, so a
    training job streaming one shard reads one region (and a regional
    extract touches few shards).

    Shard cuts are OFFSET-BASED next-fit: images are laid out in
    (zcell, id) order and a new shard starts at every ``target_bytes``
    boundary of the running byte offset; every image stays whole (the
    image straddling a boundary belongs to the shard its START offset
    falls in), so shards may overrun by at most one image — the
    standard manifest rule, exact in integer math, no bin-packing
    recursion.

    Distribution: one global layout order would need a single
    unpartitioned running-sum window. Instead the Z-curve is split at
    quadtree PREFIX granularity (``prefix_res``): each of the
    4^prefix_res prefixes lays out independently (shards never cross a
    prefix — a prefix IS a contiguous Z-range), so the running sum
    windows over prefix-sized partitions. Same shape as
    pack_sequences' hash-routed packer streams, but the router is the
    space-filling curve, preserving locality instead of destroying it.
    Pick prefix_res so a prefix's bytes fit one task (planet-scale:
    prefix_res 6-8 -> 4k-65k streams). Skew note: a hot prefix (one
    dense metro) bounds the window partition; raising prefix_res
    splits it 4x per step.

    Shard ids are (prefix << 32) | ordinal — stable across reruns and
    partitionings; <2^32 shards per prefix (a prefix would need
    4 exabytes at 1 GiB shards to overflow).

    Returns (image_id, zcell, prefix, shard_id, offset_bytes, n_bytes):
    offset_bytes is the image's start offset within the shard's nominal
    byte window (shard k covers [k*target_bytes, (k+1)*target_bytes) of
    its prefix stream; a straddler's payload overruns the window end).
    """
    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be positive, got {target_bytes}")
    if not 0 <= prefix_res <= res:
        raise ValueError(f"need 0 <= prefix_res <= res, got {prefix_res}..{res}")
    from ..functions.cells import _interleave, _ix, _iy

    z = _interleave(_ix(F.col(lon_col), res), _iy(F.col(lat_col), res), res)
    base = images.select(
        F.col(id_col).alias("image_id"),
        z.alias("zcell"),
        F.col(bytes_col).cast("long").alias("n_bytes"),
    ).filter(F.col("n_bytes") > 0)
    base = base.withColumn(
        "prefix", F.shiftright("zcell", 2 * (res - prefix_res))
    )

    w = Window.partitionBy("prefix").orderBy(
        F.col("zcell").asc(), F.col("image_id").asc()
    )
    laid = base.select(
        "image_id",
        "zcell",
        "prefix",
        "n_bytes",
        (F.sum("n_bytes").over(w) - F.col("n_bytes")).alias("cum_before"),
    )
    local = F.expr(f"cum_before DIV {target_bytes}")
    return laid.select(
        "image_id",
        "zcell",
        "prefix",
        (F.shiftleft(F.col("prefix"), 32) + local).alias("shard_id"),
        (F.col("cum_before") - local * target_bytes).cast("long").alias("offset_bytes"),
        "n_bytes",
    )


def geo_buffered_split(
    points: DataFrame,
    res: int,
    weights: tuple[int, int, int] = (80, 10, 10),
    buffer_ring: int = 1,
    id_col: str = "image_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Train/val/test assignment with a SPATIAL leakage buffer — the
    geographic complement of `leakage_safe_split` (which guards against
    near-duplicate leakage): for geo-referenced training data, a val
    point next door to a train point leaks through spatial
    autocorrelation, so the split unit must be a REGION and regions of
    different splits must not touch.

    Assignment: the unit is the res-level grid cell; a portable hash of
    the packed cell id (the sample_hash mix — identical in the SQL
    oracle) buckets each cell into train/val/test by integer percentage
    ``weights``. Every point whose cell has ANY neighbor within
    Chebyshev distance ``buffer_ring`` (longitude wraps, latitude
    clamps) hashed to a DIFFERENT split is reassigned to 'buffer' —
    dropped from all splits, so no train cell ever borders a val/test
    cell.

    Pure Column math end to end: cell encode, the (2r+1)^2-1 neighbor
    ids (functions/cells.cell_from_xy over the ring offsets), and the
    any-differs test (F.exists over the array) all ride whole-stage
    codegen — ZERO shuffle, one projection over the corpus.

    Returns (id_col, cell, split) with split in
    {'train','val','test','buffer'}.
    """
    if len(weights) != 3 or any(w < 0 for w in weights) or sum(weights) != 100:
        raise ValueError(f"weights must be 3 non-negative ints summing to 100: {weights}")
    if buffer_ring < 1:
        raise ValueError(f"buffer_ring must be >= 1, got {buffer_ring}")
    from ..functions.cells import _ix, _iy, cell_from_xy

    P = 1_000_000_007
    MIX = 2654435761
    n = 1 << res

    # the split hash keys on the LINEAR cell index x*n + y (injective on
    # the grid) rather than the packed Morton id: hashing is
    # order-insensitive, and skipping the per-neighbor bit interleave
    # keeps the expression tree ~5x smaller (pure planning cost — the
    # runtime is one projection either way)
    def split_of(x: Column, y: Column) -> Column:
        lin = x * n + y
        h = (((lin % P + P) % P) * MIX) % P
        t_train = weights[0] * P
        t_val = (weights[0] + weights[1]) * P
        return (
            F.when(h * 100 < t_train, F.lit("train"))
            .when(h * 100 < t_val, F.lit("val"))
            .otherwise(F.lit("test"))
        )

    # stage x/y as named columns so downstream expressions reference
    # them instead of duplicating the bin math per neighbor
    staged = points.select(
        F.col(id_col),
        _ix(F.col(lon_col), res).alias("_gx"),
        _iy(F.col(lat_col), res).alias("_gy"),
    )
    gx, gy = F.col("_gx"), F.col("_gy")
    own = split_of(gx, gy)
    diffs = []
    for dx in range(-buffer_ring, buffer_ring + 1):
        for dy in range(-buffer_ring, buffer_ring + 1):
            if dx == dy == 0:
                continue
            nx = gx + dx
            nx = F.when(nx < 0, nx + n).when(nx >= n, nx - n).otherwise(nx)
            ny = F.greatest(
                F.lit(0).cast("long"), F.least(gy + dy, F.lit(n - 1).cast("long"))
            )
            diffs.append(
                ((nx != gx) | (ny != gy)) & (split_of(nx, ny) != own)
            )
    touches_other = diffs[0]
    for d in diffs[1:]:
        touches_other = touches_other | d
    return staged.select(
        id_col,
        cell_from_xy(gx, gy, res).alias("cell"),
        F.when(touches_other, F.lit("buffer")).otherwise(own).alias("split"),
    )


EPOCH_PHI = 0x2545F491  # per-epoch salt constant (< 2^31, odd)


def _epoch_salt(epoch: int) -> int:
    """Deterministic per-epoch salt < 2^31."""
    return ((epoch + 1) * EPOCH_PHI) % (1 << 31)


def epoch_shuffle(
    df: DataFrame,
    id_col: str,
    epoch: int,
    num_shards: int,
) -> DataFrame:
    """Deterministic per-epoch global shuffle + shard assignment — the
    training-order op: every epoch the corpus is re-permuted into
    `num_shards` shards, each internally re-ordered, with NO RNG state
    anywhere. The permutation is a pure function of (id, epoch), so a
    resumed / re-run job (plans.CheckpointedPipeline) reproduces the
    identical order, and two epochs are decorrelated by the per-epoch
    salt. The mirror image of `shard_manifest`: that op PRESERVES
    spatial locality for regional reads; this one deliberately DESTROYS
    locality so each training shard is an unbiased corpus sample.

    Shape: shard = h % num_shards (hash-uniform -> multinomial shard
    sizes, no planning pass), pos = dense order within the shard. The
    one window partitions BY SHARD — num_shards independent sorts of
    ~n/num_shards rows each, never a global sort. At 10^12 rows pick
    num_shards so a shard fits one task's sort buffer (e.g. 100k shards
    -> 10^7 rows each); skew is hash-bounded (no hot keys by
    construction).

    The hash is the portable 32-bit avalanche of operators/sketches.py
    over the folded id XOR the epoch salt — exact integer math, ANSI-SQL
    twin (`epoch_shuffle_sql`), bit-identical order in both engines.
    Ties (hash collisions) break on id: the order is total and
    deterministic.

    Returns the input columns + (shard:int, pos:long).
    """
    if num_shards < 1:
        raise ValueError(f"num_shards must be >= 1, got {num_shards}")
    if epoch < 0:
        raise ValueError(f"epoch must be >= 0, got {epoch}")
    from .sketches import A_MIX, M32, P31

    v = F.col(id_col)
    x = ((v.cast("long") % P31) + P31) % P31
    y = x.bitwiseXOR(F.lit(_epoch_salt(epoch)))
    y = F.shiftright(y, 16).bitwiseXOR(y) * A_MIX % (M32 + 1)
    y = F.shiftright(y, 16).bitwiseXOR(y) * A_MIX % (M32 + 1)
    h = F.shiftright(y, 16).bitwiseXOR(y)

    staged = df.filter(v.isNotNull()).withColumn("_h", h)
    shard = (F.col("_h") % num_shards).cast("int")
    w = Window.partitionBy("shard").orderBy(F.col("_h").asc(), v.asc())
    return (
        staged.withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("long") - 1)
        .drop("_h")
    )


def epoch_shuffle_sql(
    source_sql: str,
    id_expr: str,
    epoch: int,
    num_shards: int,
    cols: list[str],
) -> str:
    """DuckDB twin of epoch_shuffle: same salt, same
    avalanche, same (h, id) total order — the emitted (shard, pos) are
    bit-identical to the Spark plan's."""
    from .sketches import fold31_sql, h32_final_sql, h32_round_sql

    y = f"xor(x, {_epoch_salt(epoch)})"
    y = h32_round_sql(y)
    y = h32_round_sql(y)
    collist = ", ".join(cols)
    return f"""\
WITH es0 AS (SELECT {collist}, {fold31_sql(id_expr)} AS x
             FROM ({source_sql}) WHERE ({id_expr}) IS NOT NULL),
es1 AS (SELECT {collist}, {h32_final_sql(y)} AS h FROM es0),
es2 AS (SELECT {collist},
               CAST(h % {num_shards} AS INTEGER) AS shard,
               CAST(ROW_NUMBER() OVER (
                    PARTITION BY h % {num_shards}
                    ORDER BY h ASC, {id_expr} ASC) AS BIGINT) - 1 AS pos
        FROM es1)
SELECT {collist}, shard, pos FROM es2
"""


def training_batches(
    df: DataFrame,
    id_col: str,
    epoch: int,
    num_shards: int,
    batch_size: int,
) -> DataFrame:
    """The last mile of `epoch_shuffle`: cut each shard's permuted
    order into fixed-size training batches. batch = pos DIV batch_size
    (pure Column math over the shuffle output — no extra shuffle or
    window beyond epoch_shuffle's own), pos_in_batch = pos MOD
    batch_size. Each shard's trailing partial batch is dropped, so
    every emitted batch
    has exactly `batch_size` rows — the fixed-shape contract
    collective-communication training steps need. Batch ids are
    (shard, batch) pairs — globally unique and stable across reruns,
    like everything downstream of the deterministic shuffle.
    """
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    out = epoch_shuffle(df, id_col, epoch, num_shards)
    out = out.withColumn(
        "batch", F.expr(f"pos DIV {batch_size}").cast("long")
    ).withColumn("pos_in_batch", (F.col("pos") % batch_size).cast("long"))
    counts = out.groupBy("shard", "batch").agg(F.count("*").alias("_n"))
    return out.join(
        F.broadcast(counts.filter(F.col("_n") == batch_size)), ["shard", "batch"]
    ).drop("_n")


def training_batches_sql(
    source_sql: str,
    id_expr: str,
    epoch: int,
    num_shards: int,
    batch_size: int,
    cols: list[str],
) -> str:
    """DuckDB twin of training_batches."""
    inner = epoch_shuffle_sql(source_sql, id_expr, epoch, num_shards, cols)
    collist = ", ".join(cols)
    return f"""\
WITH tb0 AS ({inner}),
tb1 AS (SELECT {collist}, shard, pos,
               CAST(pos // {batch_size} AS BIGINT) AS batch,
               CAST(pos % {batch_size} AS BIGINT) AS pos_in_batch
        FROM tb0),
tbn AS (SELECT shard, batch FROM tb1 GROUP BY 1, 2
        HAVING COUNT(*) = {batch_size})
SELECT {collist}, t.shard, t.pos, t.batch, t.pos_in_batch
FROM tb1 t JOIN tbn USING (shard, batch)
"""


# Common multi-part public suffixes for the registrable-domain
# heuristic. NOT the full Public Suffix List (that is a data file a
# production deploy ships and broadcasts); the heuristic covers the
# high-traffic two-label suffixes and falls back to last-two-labels.
MULTI_SUFFIXES = (
    "co.uk", "ac.uk", "gov.uk", "org.uk", "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp", "com.br", "com.cn", "com.mx", "co.in",
    "co.kr", "com.tr", "com.ar", "co.za",
)


def url_host(url: Column) -> Column:
    """Lowercased host of an http(s)/ftp URL — scheme, userinfo, port,
    path, query and fragment stripped. Pure codegen regex + string ops
    (the same RE works in the DuckDB twin): one extraction, no UDF."""
    host = F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)
    host = F.regexp_extract(host, r"(?:[^@]*@)?([^:]+)", 1)  # userinfo, port
    return F.lower(host)


def registrable_domain(host: Column) -> Column:
    """The registrable (pay-level) domain of a host: last two labels,
    or last three when the trailing two are a known multi-part public
    suffix (MULTI_SUFFIXES). The per-domain unit for crawl caps and
    source mixing. Pure Column math over split()."""
    parts = F.split(host, r"\.")
    n = F.size(parts)
    last2 = F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1))
    last3 = F.concat_ws(
        ".", F.element_at(parts, -3), F.element_at(parts, -2), F.element_at(parts, -1)
    )
    is_multi = last2.isin(*MULTI_SUFFIXES)
    return (
        F.when(n <= 2, host)
        .when(is_multi & (n >= 3), last3)
        .otherwise(last2)
    )


def domain_cap(
    df: DataFrame,
    url_col: str,
    cap: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-domain document cap — the anti-SEO-spam / source-balance
    gate every crawl corpus passes through: at most `cap` documents
    survive per registrable domain, chosen by the deterministic
    sample-hash order (operators/sample.py balanced_sample), so a hot
    domain with 10^9 pages contributes exactly `cap` and reruns pick
    the identical set. Adds (host, domain, sample_rank).

    Scale shape: two codegen projections + balanced_sample's one
    window partitioned BY DOMAIN with a map-side WindowGroupLimit —
    the per-partition pre-trim caps every task's output at `cap` rows
    per domain, so the hot-domain skew is bounded before the
    exchange."""
    from .sample import balanced_sample

    staged = df.withColumn("host", url_host(F.col(url_col))).withColumn(
        "domain", registrable_domain(F.col("host"))
    )
    return balanced_sample(staged, ["domain"], cap, id_col=id_col)


def mixup_pairs(
    df: DataFrame,
    id_col: str,
    epoch: int,
    num_shards: int,
) -> DataFrame:
    """Deterministic per-epoch mixup partner assignment: every example
    gets a partner and an integer mixing weight —
    (id, partner_id, epoch, shard, lam_permille). The pairing stage of
    mixup-style augmentation (Zhang et al. 2018, "mixup: Beyond
    Empirical Risk Minimization"): inputs blend as
    lam*x_i + (1-lam)*x_j, and at corpus scale the PAIRING must be a
    pure function of (id, epoch) — no RNG state, no global shuffle of
    payloads — so a resumed epoch regenerates identical pairs.

    Built ON epoch_shuffle's permutation: partner = the NEXT example
    in this epoch's shard order, wrapping the last back to the shard's
    first (a shard-local cyclic derangement — no fixed points except
    the degenerate 1-example shard, which self-pairs; at training
    scale shards hold ~1e6+ examples and the epoch salt re-deals
    membership every epoch). lam_permille draws from an independent
    portable-hash stream in [0, 1000].

    Scale shape: epoch_shuffle's one exchange + per-shard window, plus
    a lead()/first_value() on the SAME window — Spark computes both in
    the single per-shard sort, no extra exchange, no join; payloads
    are fetched by the training reader via the (id, partner_id) pairs,
    never moved here.
    """
    from .sketches import A_MIX, M32, P31

    staged = epoch_shuffle(df, id_col, epoch, num_shards)
    v = F.col(id_col)
    # independent lam stream: re-salt with a distinct stream constant
    salt = ((epoch + 1) * 0x9E3779B1 + 7 * 0x85EBCA6B) % P31
    x = ((v.cast("long") % P31) + P31) % P31
    y = x.bitwiseXOR(F.lit(salt))
    y = F.shiftright(y, 16).bitwiseXOR(y) * A_MIX % (M32 + 1)
    y = F.shiftright(y, 16).bitwiseXOR(y) * A_MIX % (M32 + 1)
    lam = F.shiftright(y, 16).bitwiseXOR(y) % 1001

    w = Window.partitionBy("shard").orderBy(F.col("pos").asc())
    partner = F.coalesce(
        F.lead(id_col).over(w),
        F.first(id_col).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ),
    )
    return staged.select(
        v.alias("id"),
        partner.alias("partner_id"),
        F.lit(epoch).cast("int").alias("epoch"),
        F.col("shard"),
        lam.cast("long").alias("lam_permille"),
    )

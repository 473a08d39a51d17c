"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

These are the caption-column analogs of osmium's tag machinery (the
reference's only "text" surface is tag matching, /root/reference/src/
util.cpp:142-200); a web-scale image+caption table needs real text ops.
Everything is built-in Column math (split/filter/aggregate higher-order
functions) — JVM codegen, zero Python — and uses only portable arithmetic
so the DuckDB oracle can restate each op exactly.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve in module globals

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import poly_hash, word_tokens

# marker vocabularies for the n-gram-free language-ID heuristic: score each
# language by occurrences of its marker tokens, predict the argmax
# (ties -> lexicographically first language code)
DEFAULT_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "value", "table", "row"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "wert"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr": ("le", "la", "les", "de", "et", "un", "une", "est", "pour", "dans"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2", "you3", "wo3", "ta1", "zhe4", "bu4"),
}

DEFAULT_STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "on", "for", "with",
)


def marker_score(tokens: Column, markers: tuple[str, ...]) -> Column:
    """Occurrence count (not distinct) of marker tokens."""
    mset = list(markers)
    return F.size(F.filter(tokens, lambda t: t.isin(mset)))


def quality_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document quality features: token count, mean token length,
    stopword ratio, and a composite keep-score.

    Returns (id, n_tokens, mean_token_len, stopword_ratio)."""
    from ..functions.exprs import bind

    def feats(toks):
        n = F.size(toks)
        total_len = F.aggregate(
            F.transform(toks, F.length), F.lit(0).cast("long"), lambda a, x: a + x
        )
        stop_n = F.size(F.filter(toks, lambda t: t.isin(list(DEFAULT_STOPWORDS))))
        return F.struct(
            n.cast("long").alias("n_tokens"),
            F.round(total_len / n, 6).alias("mean_token_len"),
            F.round(stop_n / n, 6).alias("stopword_ratio"),
        )

    return df.select(
        F.col(id_col).alias("id"), bind(word_tokens(F.col(text_col)), feats).alias("q")
    ).select("id", "q.n_tokens", "q.mean_token_len", "q.stopword_ratio")


def token_counts(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """Corpus token histogram (the tags-count analog over text): explode
    tokens, one hash-agg shuffle with map-side combine. Returns
    (token, cnt)."""
    return (
        df.select(F.explode(word_tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )


# BPE-ish pre-tokenization: letter runs, digit runs, single punctuation
# marks (the GPT-style pre-tokenizer shape restricted to a portable
# character-class regex — identical semantics in Java regex and RE2, so the
# DuckDB oracle can restate it)
BPE_ISH_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def bpe_ish_tokens(text: Column) -> Column:
    return F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)


def token_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document token counts under both tokenizers: whitespace words
    and the BPE-ish regex (training-data budgeting signal). Returns
    (id, n_words, n_bpe_tokens)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.size(word_tokens(F.col(text_col))).cast("long").alias("n_words"),
        F.size(bpe_ish_tokens(F.col(text_col))).cast("long").alias("n_bpe_tokens"),
    )


def fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Whole-document polynomial rolling hash (mod 1e9+7) — the content-CRC
    analog of osmium fileinfo/diff (command_diff.cpp:278-291), portable to
    the SQL oracle. Returns (id, fp)."""
    return df.select(
        F.col(id_col).alias("id"), poly_hash(F.col(text_col)).alias("fp")
    )


def text_metrics(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All per-document text signals in ONE projection over ONE scan:
    language id (marker votes), quality features, both token counts,
    and the content fingerprint. No joins, no extra shuffles — each
    signal is Column math sharing a single tokenization, so the plan
    is scan -> project (whole-stage codegen) at any scale.

    Returns (id, pred_lang, score, n_tokens, mean_token_len,
    stopword_ratio, n_bpe_tokens, fp)."""
    from ..functions.exprs import bind

    codes = sorted(DEFAULT_MARKERS)  # lexicographic order = tie-break order

    def feats(toks):
        n = F.size(toks)
        total_len = F.aggregate(
            F.transform(toks, F.length), F.lit(0).cast("long"), lambda a, x: a + x
        )
        stop_n = F.size(F.filter(toks, lambda t: t.isin(list(DEFAULT_STOPWORDS))))
        scores = {code: marker_score(toks, DEFAULT_MARKERS[code]) for code in codes}
        best = scores[codes[0]]
        pred = F.lit(codes[0])
        for code in codes[1:]:
            s = scores[code]
            pred = F.when(s > best, F.lit(code)).otherwise(pred)
            best = F.when(s > best, s).otherwise(best)
        return F.struct(
            pred.alias("pred_lang"),
            best.cast("long").alias("score"),
            n.cast("long").alias("n_tokens"),
            F.round(total_len / n, 6).alias("mean_token_len"),
            F.round(stop_n / n, 6).alias("stopword_ratio"),
        )

    m = bind(word_tokens(F.col(text_col)), feats)
    return df.select(
        F.col(id_col).alias("id"),
        m.alias("m"),
        F.size(bpe_ish_tokens(F.col(text_col))).cast("long").alias("n_bpe_tokens"),
        poly_hash(F.col(text_col)).alias("fp"),
    ).select("id", "m.*", "n_bpe_tokens", "fp")


# regexes kept Spark/DuckDB-portable (RE2-ish: no lookbehind/backrefs)
PII_PATTERNS: dict[str, tuple[str, str]] = {
    # local@domain.tld — conservative: requires a dot in the domain
    "email": (r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # dotted-quad IPv4
    "ipv4": (r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    # international-ish phone numbers: optional +CC, separators, >=9 digits
    "phone": (r"\+?[0-9][0-9()\-. ]{7,}[0-9]", "<PHONE>"),
}


def scrub_pii(
    df: DataFrame,
    text_col: str = "body",
    out_col: str | None = None,
) -> DataFrame:
    """Mask PII spans (emails / IPv4 / phone-like digit runs) with typed
    placeholder tokens, and count the replacements per kind — the standard
    scrub stage of a training-data curation pipeline.

    Pure JVM Column work: `regexp_replace` for the masking and
    `regexp_count` for the per-kind counts, all inside whole-stage codegen
    — no Python on the hot path, no shuffle at all (a projection). Kinds
    apply in PII_PATTERNS order: emails are masked before the phone rule
    can eat their digit runs.

    Output: input columns + `<out_col>` (scrubbed text, default
    `<text_col>_clean`) + `n_<kind>` counts + `pii_total`.
    """
    out_col = out_col or f"{text_col}_clean"
    cleaned = F.col(text_col)
    counts = []
    for k, (pat, repl) in PII_PATTERNS.items():
        counts.append(F.regexp_count(cleaned, F.lit(pat)).cast("long").alias(f"n_{k}"))
        cleaned = F.regexp_replace(cleaned, pat, repl)
    out = df.select("*", cleaned.alias(out_col), *counts)
    total = sum(F.col(f"n_{k}") for k in PII_PATTERNS)
    return out.withColumn("pii_total", total.cast("long"))


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-line
    fraction, duplicate-line character fraction, and the character
    fraction covered by the most frequent word bigram (Rae et al. 2021,
    "Scaling Language Models", table A1 — the repetition filters).

    Distributed shape (NOT per-row O(L^2) higher-order-function loops):
    explode lines / n-grams, two hash aggregates with map-side combine
    each, then an aggregate-sized join of the two signal frames. Every
    stage is input-partitioned — no window over the whole corpus, no
    driver state — so the plan survives documents with millions of lines
    and a corpus of billions of rows.

    Top-gram tie-break is deterministic and oracle-portable: the winner is
    max(zero-padded count || TAB || gram), i.e. highest count, then
    lexicographically largest gram — a plain MAX aggregate instead of a
    per-doc window sort.

    Returns (id, n_lines, dup_line_frac, dup_line_char_frac, top_gram,
    top_gram_count, top_gram_char_frac).
    """
    from .dedup import word_grams

    base = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("t"),
        F.length(text_col).cast("long").alias("n_chars"),
    )
    lines = base.select("id", F.explode(F.split(F.col("t"), "\n")).alias("line"))
    per_line = lines.groupBy("id", "line").agg(F.count("*").alias("cnt"))
    line_chars = F.sum(F.col("cnt") * F.length("line"))
    dup_chars = F.sum(
        F.when(F.col("cnt") > 1, F.col("cnt") * F.length("line")).otherwise(F.lit(0))
    )
    line_stats = per_line.groupBy("id").agg(
        F.sum("cnt").cast("long").alias("n_lines"),
        F.count("*").alias("n_distinct"),
        dup_chars.alias("dup_chars"),
        line_chars.alias("line_chars"),
    )

    grams = base.select(
        "id", "n_chars", F.explode(word_grams(F.col("t"), 2)).alias("gram")
    )
    per_gram = grams.groupBy("id", "n_chars", "gram").agg(F.count("*").alias("cnt"))
    key = F.concat(F.lpad(F.col("cnt").cast("string"), 10, "0"), F.lit("\t"), F.col("gram"))
    top = per_gram.groupBy("id", "n_chars").agg(F.max(key).alias("k")).select(
        "id",
        F.substring("k", 12, 2_000_000).alias("top_gram"),
        F.substring("k", 1, 10).cast("long").alias("top_gram_count"),
        F.round(
            F.substring("k", 1, 10).cast("long")
            * F.length(F.substring("k", 12, 2_000_000))
            / F.greatest(F.col("n_chars"), F.lit(1)),
            6,
        ).alias("top_gram_char_frac"),
    )

    out = line_stats.join(top, "id", "left")
    return out.select(
        "id",
        "n_lines",
        F.round((F.col("n_lines") - F.col("n_distinct")) / F.col("n_lines"), 6).alias(
            "dup_line_frac"
        ),
        F.when(F.col("line_chars") > 0, F.round(F.col("dup_chars") / F.col("line_chars"), 6))
        .otherwise(F.lit(0.0))
        .alias("dup_line_char_frac"),
        F.coalesce(F.col("top_gram"), F.lit("")).alias("top_gram"),
        F.coalesce(F.col("top_gram_count"), F.lit(0)).cast("long").alias("top_gram_count"),
        F.coalesce(F.col("top_gram_char_frac"), F.lit(0.0)).alias("top_gram_char_frac"),
    )


def contamination_flags(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    word n-gram with a held-out evaluation set (the GPT-3 / C4 hygiene
    pass — 13-grams by default; Brown 2020 appendix C, Raffel 2020 §2.2
    — public papers).

    Scale shape: the benchmark side reduces to its DISTINCT n-gram set
    (eval suites are tiny next to the corpus, so it broadcasts); the
    corpus side explodes to
    (doc, gram) pairs and semi-aggregates AFTER the join, so the only
    wide ops are one keyed join and one hash-agg on the doc id. No
    cross join, no driver-side set.

    Returns every input doc id with `n_hits` (distinct overlapping
    grams) and a `contaminated` flag.
    """
    from .dedup import word_shingles

    bgrams = F.broadcast(
        bench.select(F.explode(word_shingles(F.col(bench_text_col), n)).alias("gram"))
        .distinct()
    )
    dgrams = docs.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), n)).alias("gram")
    )
    hits = (
        dgrams.join(bgrams, "gram")
        .groupBy(id_col)
        .agg(F.count_distinct("gram").alias("n_hits"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.col("n_hits").isNotNull().alias("contaminated"),
        )
    )


def bigram_corpus_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-statistics features per document — the distributed two-pass
    shape of n-gram LM quality scoring (train counts on the corpus, score
    each document against them) with integer-only outputs:

      n_bigrams  — word-bigram occurrences in the document
      sum_count  — sum over its bigrams of the CORPUS-wide count of that
                   bigram (a high sum_count/n_bigrams ratio => the document is made of
                   corpus-common phrasing, i.e. boilerplate-like)
      n_unique   — its bigrams that occur exactly once in the whole corpus
                   (novel-content signal; scrambled/garbage text scores
                   high here AND low on sum_count)

    Pass 1 aggregates bigram counts (hash-agg, map-side combine; the count
    table is vocab-sized, not corpus-sized — at 100 TB you min-count-prune
    it before the join). Pass 2 re-joins the exploded bigrams to the counts
    ON THE 64-bit HASH of the bigram (poly-31) so the shuffle carries longs,
    not strings, then re-aggregates by document. Documents with < 2 tokens
    surface with all-zero features via the final left join.
    """
    from .dedup import word_grams

    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_grams(F.col(text_col), 2)).alias("gram"),
    ).select("id", poly_hash(F.col("gram")).alias("gh"))
    counts = grams.groupBy("gh").agg(F.count("*").alias("gcount"))
    feats = (
        grams.join(counts, "gh")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("gcount").alias("sum_count"),
            F.sum(F.when(F.col("gcount") == 1, 1).otherwise(0)).alias("n_unique"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(feats, "id", "left")
        .select(
            "id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("sum_count", F.lit(0)).cast("long").alias("sum_count"),
            F.coalesce("n_unique", F.lit(0)).cast("long").alias("n_unique"),
        )
    )


def char_bigrams(text: Column) -> Column:
    """All character bigrams of ``text`` in document order (empty for
    length < 2). Character-indexed (not byte-indexed) in both Spark and
    DuckDB, so the oracle restates it exactly."""
    return F.when(
        F.length(text) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length(text) - 1),
            lambda i: text.substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def lm_quality_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Character-bigram language-model quality score (perplexity proxy).

    The CCNet recipe (Wenzek 2020, "CCNet: Extracting High Quality
    Monolingual Datasets from Web Crawl Data") scores web documents by
    perplexity under a LM trained on a clean reference corpus and keeps
    the low-perplexity band. This is the distributed two-pass shape with
    the smallest real LM: an add-one-smoothed character-bigram model —
      p(c2|c1) = (count(c1c2) + 1) / (count(c1·) + V),  V = |charset|
    trained on ``df`` itself — self-scoring flags out-of-distribution
    documents: mojibake, scrambles, wrong-language.

    Scale shape: pass 1 is ONE explode + hash aggregate over the corpus
    producing a charset²-bounded count table (KBs even at 100 TB —
    broadcast). Pass 2 explodes the scored corpus once, broadcast-joins
    the tiny model, and re-aggregates per document with map-side combine.
    No corpus-sized shuffle except the per-doc aggregate; zero Python.

    Returns (doc_id, n_bigrams, lm_logp) where lm_logp is the mean
    ln-probability per bigram (higher = more in-distribution), rounded to
    6 places. Documents with < 2 characters have no bigrams and are
    absent from the result (score undefined), in both engines.
    """
    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(char_bigrams(F.col(text_col))).alias("bg"),
    )
    cnt = grams.groupBy("bg").agg(F.count("*").alias("c"))
    ctx = cnt.groupBy(F.substring("bg", 1, 1).alias("ch")).agg(
        F.sum("c").alias("cc")
    )
    voc = cnt.agg(F.countDistinct(F.substring("bg", 2, 1)).alias("v"))

    # the model is trained on the scored corpus, so every scored bigram
    # and context character has a count
    return (
        grams.join(F.broadcast(cnt), "bg")
        .withColumn("ch", F.substring("bg", 1, 1))
        .join(F.broadcast(ctx), "ch")
        .crossJoin(F.broadcast(voc))
        .groupBy("id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(F.log((F.col("c") + 1) / (F.col("cc") + F.col("v")))), 6).alias("lm_logp"),
        )
        .select(F.col("id").alias(id_col), "n_bigrams", "lm_logp")
    )


# control characters (C0 minus \t\n\r, plus DEL) — portable to RE2/DuckDB
CONTROL_CHARS = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
) -> DataFrame:
    """Unicode text normalization — the first stage of every training-data
    text pipeline (C4/Gopher both NFC-normalize before filtering so that
    composed and decomposed forms of the same character dedup together).

    Steps, in order: strip control characters (C0 minus tab/newline/CR,
    plus DEL), Unicode-normalize to NFC, collapse whitespace runs to one
    space and trim.

    Scale shape: a pure projection — zero shuffle. Control-strip and
    whitespace-collapse run as JVM `regexp_replace` in whole-stage
    codegen; the Unicode normalization itself has no Spark built-in, so
    it runs as ONE Arrow-batched pandas UDF using pandas'
    `Series.str.normalize` (vectorized over the batch, no per-row Py4J).
    ASCII-only batches short-circuit: the UDF returns the input Series
    unchanged when no value needs normalization.

    Output: input columns + `<out_col>` (default `<text_col>_norm`) +
    `n_ctrl` (control chars removed) + `changed` (normalized != input).
    """
    from pyspark.sql.functions import pandas_udf

    out_col = out_col or f"{text_col}_norm"

    @pandas_udf("string")
    def unicode_norm(s: pd.Series) -> pd.Series:
        # fast path: pure-ASCII batches are already in every normal form
        if s.dropna().map(lambda v: v.isascii()).all():
            return s
        return s.str.normalize("NFC")

    src = F.col(text_col)
    stripped = F.regexp_replace(src, CONTROL_CHARS, "")
    n_ctrl = (F.length(src) - F.length(stripped)).cast("long")
    normalized = unicode_norm(stripped)
    collapsed = F.trim(F.regexp_replace(normalized, r"\s+", " "))
    return df.select(
        "*",
        collapsed.alias(out_col),
        n_ctrl.alias("n_ctrl"),
        (collapsed != src).alias("changed"),
    )

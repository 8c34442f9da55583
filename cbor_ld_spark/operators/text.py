"""Text-analysis operators over the ``documents`` table.

Large-scale training-data pipeline primitives: token counting, quality
scoring, language-ID heuristic, document fingerprinting.  All pure
Column expressions (JVM-side, WholeStageCodegen, no Python) — at 100 TB
these are scan-bound map stages with zero shuffle; aggregates get
automatic partial (map-side) aggregation.

Each operator is written so an equivalent ANSI-SQL form produces
bit-identical results in DuckDB (the driver's correctness oracle):
integer arithmetic and string ops only, float ratios rounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.udfs import map_rows

# Tiny English stopword list for the language-ID heuristic / quality score.
STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for")

# Per-language function-word lists for multi-language ID (order is the
# deterministic tie-break order — first max wins, mirrored in the oracle)
LANG_STOPWORDS = (
    ("en", ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for")),
    ("es", ("el", "la", "de", "que", "y", "en", "los", "del", "se", "las")),
    ("fr", ("le", "la", "de", "et", "les", "des", "un", "une", "du", "est")),
    ("de", ("der", "die", "und", "den", "von", "das", "mit", "sich", "des",
            "auf")),
)


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cbor_ld_spark.plans.partitioning import spread_input

    # single-file scan = one input partition: spread so the regex/
    # explode map stages downstream run at machine width (guide §2.5)
    return spread_input(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _norm(col):
    """Whitespace-normalized lowercase text."""
    return F.lower(F.regexp_replace(F.trim(col), r"\s+", " "))


def _gap_padded(norm):
    """Pad + double inter-token spaces so every token owns both its
    separators: split-counting ``' w '`` on the single-spaced form
    undercounts adjacent repeats (``' el el '`` counts 1, not 2 — the
    shared space is consumed by the first match).  Stays pure Column
    (codegen'd ``replace``), and DuckDB mirrors it verbatim."""
    return F.concat(F.lit(" "), F.replace(norm, F.lit(" "), F.lit("  ")),
                    F.lit(" "))


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-document token counts + corpus aggregate stats."""
    toks = F.size(F.split(_norm(F.col("text")), " "))
    per_doc = docs.select("doc_id", toks.alias("n_tokens"),
                          F.length("text").alias("n_chars_actual"))
    return (
        per_doc
        .agg(
            F.count("doc_id").alias("docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.round(F.avg("n_tokens"), 3).alias("avg_tokens"),
        )
    )


# BPE-ish pre-tokenizer classes: letter runs, digit runs, single
# non-alnum marks — the standard byte-pair pre-split shape.  Class-based
# pattern only, so Java regex (Spark) and RE2 (DuckDB) agree exactly.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_stats_bpe(docs: DataFrame) -> DataFrame:
    """Subword-style token counts: BPE-ish regex pre-tokenization.

    ``regexp_extract_all`` runs JVM-side; the per-doc token count plus
    corpus aggregates mirror :func:`token_stats` for the whitespace
    tokenizer.  At 100 TB this is a scan-bound map stage.
    """
    toks = F.size(F.regexp_extract_all(F.col("text"),
                                       F.lit(BPE_TOKEN_PATTERN), F.lit(0)))
    per_doc = docs.select("doc_id", toks.alias("n_bpe_tokens"))
    return per_doc.agg(
        F.count("doc_id").alias("docs"),
        F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
        F.min("n_bpe_tokens").alias("min_bpe_tokens"),
        F.max("n_bpe_tokens").alias("max_bpe_tokens"),
        F.round(F.avg("n_bpe_tokens"), 3).alias("avg_bpe_tokens"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Per-document quality features (length, punctuation, stopword hits)."""
    text = F.col("text")
    norm = _norm(text)
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[.!?,;:]", ""))
    n_tokens = F.size(F.split(norm, " "))
    padded = _gap_padded(norm)
    stop_hits = sum(
        (F.size(F.split(padded, f" {w} ", -1)) - F.lit(1))
        for w in STOPWORDS
    )
    return docs.select(
        "doc_id",
        "lang",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"),
        stop_hits.alias("stopword_hits"),
        F.round(n_punct.cast("double") / n_chars, 6).alias("punct_ratio"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: English stopword density over tokens."""
    q = quality_scores(docs)
    score = F.col("stopword_hits").cast("double") / F.col("n_tokens")
    return q.select(
        "doc_id",
        F.round(score, 6).alias("en_score"),
        F.when(score >= 0.05, F.lit("en")).otherwise(F.lit("unknown"))
        .alias("lang_pred"),
    )


def lang_id_multi(docs: DataFrame, threshold: float = 0.05) -> DataFrame:
    """Multi-language ID: function-word density per language, argmax.

    Pure Column algebra: one normalized-text pass, 10 split-counts per
    language, scores as an array + ``array_position(array_max)`` (a
    when-chain argmax would duplicate subtrees exponentially).  Ties go
    to the first language in LANG_STOPWORDS order — the DuckDB oracle
    mirrors that with an ordered >= CASE chain.
    """
    norm = _norm(F.col("text"))
    padded = _gap_padded(norm)
    n_tokens = F.size(F.split(norm, " "))

    def hits(words):
        return sum((F.size(F.split(padded, f" {w} ", -1)) - F.lit(1))
                   for w in words)

    scores = F.array(*[
        F.round(hits(words).cast("double") / n_tokens, 6)
        for _lang, words in LANG_STOPWORDS
    ])
    langs = F.array(*[F.lit(lang) for lang, _w in LANG_STOPWORDS])
    best = F.array_max(scores)
    pred = F.when(best >= threshold,
                  F.element_at(langs, F.array_position(scores, best)
                               .cast("int"))).otherwise(F.lit("unknown"))
    return docs.select(
        "doc_id",
        F.round(best, 6).alias("best_score"),
        pred.alias("lang_pred"),
    )


def term_dictionary(docs: DataFrame, min_count: int = 2) -> DataFrame:
    """Corpus-global term dictionary: deterministic dense ids per token.

    The corpus-scale analog of the reference's per-document id allocator
    (SURVEY D7): distinct tokens above ``min_count`` get even ids from
    100 in sorted term order — the same even-id convention the CBOR-LD
    allocator uses (reference: src/id/alloc.rs:30-40), minted once for
    the whole corpus.

    Scale shape: a global ``row_number`` window would move *all* terms
    to one partition (Spark warns 'No Partition Defined for Window').
    Instead: range-partition by term (global order across partitions),
    rank locally per partition, then add the per-partition cumulative
    offsets (a tiny driver-side list) — the classic zipWithIndex shape,
    fully parallel.
    """
    from pyspark.sql import Window

    toks = (
        docs.select(F.explode(F.split(_norm(F.col("text")), " "))
                    .alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("occurrences"))
        .filter(F.col("occurrences") >= min_count)
        .repartitionByRange("term")
        .withColumn("_pid", F.spark_partition_id())
    )
    w = Window.partitionBy("_pid").orderBy("term")
    ranked = toks.withColumn("_local_rank", F.row_number().over(w))
    counts = {r["_pid"]: r["n"] for r in
              ranked.groupBy("_pid").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    # Broadcast-join the tiny (pid, offset) map rather than a
    # coalesce(when(...)) chain: the chain is O(n_partitions) expression
    # nodes and stops codegen-ing at the 10^4-10^5 partitions a 100 TB
    # range-partition implies; a BroadcastHashJoin is O(1) plan size.
    off_df = docs.sparkSession.createDataFrame(
        [(pid, off) for pid, off in sorted(offsets.items())],
        "_off_pid int, _offset bigint")
    return (
        ranked
        .join(F.broadcast(off_df), ranked["_pid"] == off_df["_off_pid"])
        .select("term", "occurrences",
                ((F.col("_local_rank") + F.col("_offset")) * 2 + 98)
                .alias("term_id"))
        .orderBy("term")
    )


_WS_BYTES = None  # compiled lazily (re import kept out of module import)


def _winnow_norm(text: str, max_chars: int) -> bytes:
    """Winnowing normalization: Unicode lowercase (matching the Spark
    ``lower`` the sibling operators use via ``_norm``), THEN UTF-8
    encode + byte-level whitespace collapse.  Shared verbatim by the
    operator and the DuckDB oracle generator so they can never drift.
    """
    global _WS_BYTES
    if _WS_BYTES is None:
        import re
        _WS_BYTES = re.compile(rb"\s+")
    raw = text[:max_chars].lower().encode("utf-8")
    return _WS_BYTES.sub(b" ", raw.strip(b" "))


def _winnow_gram_hashes(norm: bytes, k: int):
    """Signed-int64 XXH64(seed 42) of every k-byte gram, vectorized.

    Bit-exact replica of Spark's ``xxhash64`` over the gram bytes
    (validated against ``functions/xxh64.py`` / ``F.xxhash64`` in
    ``tests/test_xxh64.py``) for ANY k >= 1: grams shorter than 32
    bytes take XXH64's small-input path, longer ones run the 4-lane
    32-byte stripe loop — all as uint64 numpy lane arithmetic over the
    sliding-window gram matrix, no per-gram Python.
    """
    import numpy as np

    from cbor_ld_spark.functions.xxh64 import (
        PRIME_1 as P1,
        PRIME_2 as P2,
        PRIME_3 as P3,
        PRIME_4 as P4,
        PRIME_5 as P5,
        SPARK_SEED,
    )

    def u(x):
        return np.uint64(x & ((1 << 64) - 1))

    def rotl(x, r):
        return (x << np.uint64(r)) | (x >> np.uint64(64 - r))

    arr = np.frombuffer(norm, dtype=np.uint8)
    g64 = np.lib.stride_tricks.sliding_window_view(arr, k).astype(np.uint64)
    n = g64.shape[0]

    def word(off, nbytes):
        w = g64[:, off].copy()
        for j in range(1, nbytes):
            w |= g64[:, off + j] << np.uint64(8 * j)
        return w

    i = 0
    if k >= 32:
        v = [np.full(n, u(SPARK_SEED + P1 + P2), dtype=np.uint64),
             np.full(n, u(SPARK_SEED + P2), dtype=np.uint64),
             np.full(n, u(SPARK_SEED), dtype=np.uint64),
             np.full(n, u(SPARK_SEED - P1), dtype=np.uint64)]
        while i + 32 <= k:
            for lane in range(4):
                v[lane] = rotl(v[lane] + word(i + 8 * lane, 8) * u(P2),
                               31) * u(P1)
            i += 32
        h = rotl(v[0], 1) + rotl(v[1], 7) + rotl(v[2], 12) + rotl(v[3], 18)
        for lane in range(4):
            h ^= rotl(v[lane] * u(P2), 31) * u(P1)
            h = h * u(P1) + u(P4)
        h += u(k)
    else:
        h = np.full(n, u(SPARK_SEED + P5 + k), dtype=np.uint64)
    while i + 8 <= k:
        h ^= rotl(word(i, 8) * u(P2), 31) * u(P1)
        h = rotl(h, 27) * u(P1) + u(P4)
        i += 8
    if i + 4 <= k:
        h ^= word(i, 4) * u(P1)
        h = rotl(h, 23) * u(P2) + u(P3)
        i += 4
    while i < k:
        h ^= g64[:, i] * u(P5)
        h = rotl(h, 11) * u(P1)
        i += 1
    h ^= h >> np.uint64(33)
    h *= u(P2)
    h ^= h >> np.uint64(29)
    h *= u(P3)
    h ^= h >> np.uint64(32)
    return h.view(np.int64)  # Spark longs order signed


def _winnow_doc_summary(text: str, k: int, window: int, max_chars: int):
    """(n_fingerprints, xor_checksum) for one document, or None.

    Pure function of the text — the oracle generator replays this
    driver-side, so it IS the semantics.
    """
    import numpy as np

    from cbor_ld_spark.functions.xxh64 import (
        SPARK_SEED,
        _signed,
        xxh64_bytes,
    )

    norm = _winnow_norm(text, max_chars)
    if len(norm) < k:
        # one short gram = the whole text (matching the previous
        # truncated-gram semantics); only window=1 can surface it
        if 1 < window or len(norm) == 0:
            return None
        return 1, _signed(xxh64_bytes(norm, SPARK_SEED))
    signed = _winnow_gram_hashes(norm, k)
    if len(signed) < window:
        return None
    mins = np.unique(
        np.lib.stride_tricks.sliding_window_view(signed, window)
        .min(axis=1))
    return len(mins), int(np.bitwise_xor.reduce(mins))


def winnowing_fingerprints(docs: DataFrame, k: int = 5,
                           window: int = 4,
                           max_chars: int = 65536) -> DataFrame:
    """MOSS-style winnowing fingerprints (the rolling-hash tier).

    Byte k-gram hashes over the normalized UTF-8 text, then the minimum
    hash of every fully-contained window of ``window`` consecutive
    grams; the distinct window minima are the document's fingerprint
    set.  Guarantee: two documents sharing any substring of length >=
    window + k - 1 bytes share at least one fingerprint
    (Schleimer/Wilkerson/Aiken, SIGMOD'03).  Hash values equal Spark's
    ``xxhash64`` of the gram (bit-validated numpy replica, any k), so
    the data-trained oracle replays them exactly.

    Output is the per-doc summary (count + XOR checksum of the set) —
    one row per document.  Scale shape: winnowing is a pure per-document
    map, so the whole operator is ONE ``map_rows`` stage over the
    non-null texts (zero shuffles before the presentation sort) with the
    k-gram hashing vectorized in numpy — the previous Column formulation
    spent ~80% of its wall in interpreted ``zip_with`` folds building
    gram strings.
    ``max_chars`` caps per-document work so one pathological 100 MB row
    cannot dominate a task.
    """
    if k < 1 or window < 1:
        raise ValueError("winnowing needs k >= 1 and window >= 1")

    def summary(doc_id, text):
        out = _winnow_doc_summary(text, k, window, max_chars)
        if out is not None:
            yield doc_id, out[0], int(out[1])

    return map_rows(docs.filter(F.col("text").isNotNull())
                    .select("doc_id", "text"), summary,
                    "doc_id long, n_fingerprints long, fp_checksum long") \
        .orderBy("doc_id")


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-``k`` terms per document by tf-idf.

    tf = per-(doc, term) count; df = docs containing the term;
    idf = ln((n_docs + 1) / (df + 1)); ties break on term asc so the
    result is fully deterministic (and DuckDB-oracle-able: identical
    integer counts, libm ln, round-6 score).

    Scale shape: explode -> two hash aggregations (both with map-side
    partial agg on uniform keys) -> broadcast of the tiny (term, df)
    side is NOT possible at 100 TB vocab, so the df join shuffles on
    term (uniform); the per-doc ranking window partitions by doc_id
    (bounded groups).  n_docs rides along as a broadcast 1-row agg,
    never a driver action.
    """
    from pyspark.sql import Window

    terms = docs.select(
        "doc_id", F.explode(F.split(_norm(F.col("text")), " ")).alias("term"))
    # tf feeds both the df aggregation and the score join; without the
    # checkpoint the explode+agg lineage runs twice (exchange reuse does
    # not fire across the self-reference — measured, round-1 pitfall)
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")).localCheckpoint()
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "term", "tf",
            F.round(F.col("tf") * F.log((F.col("n_docs") + 1)
                                        / (F.col("df") + 1)), 6)
            .alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tf", "score")
        .orderBy("doc_id", "rank")
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Deterministic document fingerprint (normalized-content hash)."""
    return docs.select(
        "doc_id",
        F.md5(_norm(F.col("text"))).alias("fingerprint"),
    )


def repetition_signals(docs: DataFrame,
                       top_frac_threshold: float = 0.20,
                       dup_frac_threshold: float = 0.15) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1).

    Per document: the fraction of word-bigram occurrences taken by the
    single most frequent bigram (``top_bigram_frac``; boilerplate /
    template spam pushes this up) and the fraction of word-5-gram
    occurrences that are repeats of an earlier 5-gram
    (``dup_5gram_frac``; looping generation artifacts).  ``repetitive``
    applies the standard threshold OR.

    Scale shape: two explode -> hash-aggregate pipelines keyed on
    (doc_id[, gram]) — uniform keys, map-side partial aggregation, one
    doc_id-keyed join to combine; no windows, no Python.  Fractions
    round to 6 so the DuckDB oracle hash-matches.
    """
    from .dedup import _shingles_of_tokens

    toks = F.split(_norm(F.col("text")), " ")
    base = docs.select("doc_id", toks.alias("toks")).filter(
        F.size("toks") >= 2)

    bi = (base.select("doc_id",
                      F.explode(_shingles_of_tokens(F.col("toks"), 2))
                      .alias("gram"))
          .groupBy("doc_id", "gram")
          .agg(F.count(F.lit(1)).alias("n"))
          .groupBy("doc_id")
          .agg(F.max("n").alias("top_bigram_count"),
               F.sum("n").alias("n_bigrams")))
    five = (base.filter(F.size("toks") >= 5)
            .select("doc_id",
                    F.explode(_shingles_of_tokens(F.col("toks"), 5))
                    .alias("gram"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_5grams"),
                 F.countDistinct("gram").alias("distinct_5grams")))

    top_frac = F.round(F.col("top_bigram_count") / F.col("n_bigrams"), 6)
    dup_frac = F.coalesce(
        F.round((F.col("n_5grams") - F.col("distinct_5grams"))
                / F.col("n_5grams"), 6), F.lit(0.0))
    return (bi.join(five, "doc_id", "left")
            .select(
                "doc_id", "n_bigrams", "top_bigram_count",
                top_frac.alias("top_bigram_frac"),
                F.coalesce("n_5grams", F.lit(0)).alias("n_5grams"),
                dup_frac.alias("dup_5gram_frac"),
                ((top_frac > top_frac_threshold)
                 | (dup_frac > dup_frac_threshold)).alias("repetitive"))
            .orderBy("doc_id"))


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  n: int = 8) -> DataFrame:
    """Benchmark decontamination: flag docs sharing any word ``n``-gram
    with a held-out benchmark/test set (the standard train-set hygiene
    pass before pretraining).

    ``benchmark`` carries a ``text`` column; its distinct n-grams form
    the contamination set.  Output: one row per input doc with the
    number of distinct benchmark n-grams it contains and the
    ``contaminated`` flag.

    Scale shape: the benchmark side is distinct-reduced and BROADCAST
    (test sets are tiny next to a 100 TB corpus); the docs side
    explodes its n-grams and probes the broadcast hash map — zero
    shuffle until the per-doc count aggregation, which keys on the
    uniform doc_id.  No n-gram of the corpus ever shuffles.
    """
    from .dedup import _shingles_of_tokens

    toks = F.split(_norm(F.col("text")), " ")
    bench_grams = (
        benchmark.select(
            F.explode(_shingles_of_tokens(toks, n)).alias("gram"))
        .filter(F.size(F.split(F.col("gram"), " ")) == n)  # full grams only
        .distinct())
    doc_grams = (
        docs.select("doc_id",
                    F.explode(_shingles_of_tokens(toks, n)).alias("gram"))
        .filter(F.size(F.split(F.col("gram"), " ")) == n))
    hits = (doc_grams
            .join(F.broadcast(bench_grams), "gram")
            .groupBy("doc_id")
            .agg(F.countDistinct("gram").alias("benchmark_ngrams")))
    return (docs.select("doc_id")
            .join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("benchmark_ngrams", F.lit(0))
                    .alias("benchmark_ngrams"),
                    (F.coalesce("benchmark_ngrams", F.lit(0)) > 0)
                    .alias("contaminated"))
            .orderBy("doc_id"))


def _compression_row(text: str, level: int, max_chars: int):
    """(utf8_len, deflate_len, ratio) for one doc — pure function shared
    by the Spark stage and the oracle generator (same zlib build in
    this deployment; on heterogeneous clusters pin the Python env, as
    for any UDF)."""
    import zlib

    raw = text[:max_chars].encode("utf-8")
    if not raw:
        return 0, 0, 1.0
    comp = len(zlib.compress(raw, level))
    return len(raw), comp, round(comp / len(raw), 6)


def compression_ratio_signal(docs: DataFrame, level: int = 6,
                             max_chars: int = 65536,
                             threshold: float = 0.35) -> DataFrame:
    """Deflate-compressibility quality signal (the CCNet/RedPajama-style
    entropy proxy): templated or looping text compresses far below
    natural prose, so ``ratio = deflate_len / utf8_len`` separates
    boilerplate from content cheaply — no model, no tokenizer.

    Scale shape: a pure per-document map — ONE ``map_rows`` stage over
    the non-null texts, zero shuffles before the presentation sort;
    ``max_chars`` bounds per-row work like winnowing's cap.
    """
    out = map_rows(docs.filter(F.col("text").isNotNull())
                   .select("doc_id", "text"),
                   lambda doc_id, text: [
                       (doc_id, *_compression_row(text, level, max_chars))],
                   "doc_id long, utf8_len long, deflate_len long, "
                   "ratio double")
    return (out.select("doc_id", "utf8_len", "deflate_len", "ratio",
                       (F.col("ratio") < threshold).alias("low_entropy"))
            .orderBy("doc_id"))

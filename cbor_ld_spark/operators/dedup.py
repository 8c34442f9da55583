"""Deduplication operators over the ``documents`` and ``embeddings``
tables.

Training-data-pipeline dedup at corpus scale, four tiers:

* exact          — hash-groupBy on the normalized content hash; one
                   shuffle on a uniform key (the hash), inherently
                   skew-free.  SQL-oracle-able.
* minhash + LSH  — shingle -> 64-bit hash -> k minima -> band buckets ->
                   bucket join.  The only shuffle is on (band, bucket_sig)
                   whose cardinality ~ corpus size / avg cluster, so the
                   candidate join never goes quadratic.  Hashes are
                   xxhash64 (JVM, whole-stage codegen) — no Python.
* simhash        — 32-bit sign-aggregated token hashes; near-dup =
                   identical simhash (0-distance buckets at scale;
                   banded hamming for distance>0).
* embedding      — cosine near-dup, three ways: exact ordered folds
                   (the oracle formulation), an exact block-pair BLAS
                   matmul (``applyInArrow``) and hyperplane LSH with an
                   Arrow rerank, which bounds candidates at 10^12 scale.

One MinHash (``minhash``, also operators.graph's), one bucket self-join
(``_bucket_pairs``) and one duplicate-group aggregate (``_groups``)
serve every tier.  Only the embedding tiers run Python (Arrow bodies).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.udfs import python_task
from .text import _norm, load_documents  # noqa: F401

NUM_HASHES = 16  # MinHash signature length
BANDS = 4  # MinHash LSH bands of NUM_HASHES / BANDS rows
SHINGLE_N = 3  # word n-gram shingles
SIMHASH_BITS = 32
EMB_LSH_PLANES, EMB_LSH_TABLES = 6, 8  # embedding_near_duplicates_lsh


def _groups(keyed: DataFrame, key: str) -> DataFrame:
    """Groups of more than one doc sharing ``key``: size and lowest
    doc_id."""
    return (
        keyed.groupBy(key)
        .agg(F.count("doc_id").alias("group_size"),
             F.min("doc_id").alias("canonical_doc_id"))
        .filter(F.col("group_size") > 1)
        .orderBy("canonical_doc_id")
    )


def _content_hashes(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id",
                       F.md5(_norm(F.col("text"))).alias("content_hash"))


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Duplicate groups by normalized-content hash (size > 1)."""
    return _groups(_content_hashes(docs), "content_hash")


def dedup_keep_first(docs: DataFrame) -> DataFrame:
    """Corpus after exact dedup: keep the lowest doc_id per content hash."""
    keep = _content_hashes(docs).groupBy("content_hash") \
        .agg(F.min("doc_id").alias("doc_id"))
    return keep.select("doc_id", "content_hash")


def _shingles_of_tokens(toks_col, n: int = 3):
    """Word n-gram shingles via shifted-slice zips.

    An element_at-per-position formulation re-evaluates the token
    expression once per lookup (Catalyst's CollapseProject re-inlines it
    through projections — a cache column does not help), i.e. 3n regex
    splits per shingle.  ``slice`` + ``zip_with`` evaluates the source
    array exactly ``n`` times per row and zips element-wise: measured
    25x faster on sf0.1.
    """
    k = F.greatest(F.size(toks_col) - (n - 1), F.lit(1))
    out = F.slice(toks_col, 1, k)
    for j in range(1, n):
        out = F.zip_with(out, F.slice(toks_col, 1 + j, k),
                         lambda a, b: F.concat_ws(" ", a, b))
    return out


def _with_shingles(docs: DataFrame) -> DataFrame:
    """docs -> (doc_id, shingles)."""
    toks = F.split(_norm(F.col("text")), " ")
    return docs.select("doc_id",
                       _shingles_of_tokens(toks, SHINGLE_N).alias("shingles"))


def minhash(rows: DataFrame, key, elem: str, num_hashes: int) -> DataFrame:
    """(key, signature) per ``key`` of ``(key, elem)`` rows: the
    ``num_hashes`` seeded min-of-xxhash64 over its elements, as an
    array<long>.  ``key`` is a column name or an aliased Column.

    One groupBy with k ``min`` aggregates: everything stays in
    whole-stage codegen (higher-order array folds would be interpreted
    row-at-a-time, ~5x slower); the shuffle key is the id (uniform) and
    partial min aggregation collapses each id's elements map-side.  The
    neighbour-overlap oracle replays these hashes bit for bit.
    """
    aggs = [F.min(F.xxhash64(elem, F.lit(i))).alias(f"mh_{i}")
            for i in range(num_hashes)]
    per = rows.groupBy(key).agg(*aggs)
    return per.select(
        per.columns[0],
        F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)])
        .alias("signature"))


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, signature): MinHash over each document's shingles."""
    exploded = _with_shingles(docs).select(
        "doc_id", F.explode("shingles").alias("shingle"))
    return minhash(exploded, "doc_id", "shingle", NUM_HASHES)


def _bucket_pairs(rows: DataFrame, keys: list[str],
                  id_col: str) -> DataFrame:
    """``rows`` self-joined on the bucket ``keys`` as ``l`` and ``r``
    with ``l.id < r.id``: one row per pair per shared bucket.  The
    bucket table is localCheckpointed eagerly: it feeds both sides
    (alias plans defeat exchange reuse) and the ContextCleaner releases
    it, unlike a leaked persist.  Bucket keys are uniform by
    construction, so no salting is needed even on skewed inputs."""
    rows = rows.localCheckpoint()
    return (rows.alias("l").join(rows.alias("r"), on=keys)
            .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))


def minhash_lsh_pairs(docs: DataFrame,
                      signatures: DataFrame | None = None) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    rows_per_band = NUM_HASHES / BANDS; docs sharing any band bucket are
    candidates.  Shuffle key = (band, bucket hash): uniform by
    construction, so no salting needed here even on skewed corpora.
    Pass precomputed ``signatures`` to share the (dominant) signature
    cost with other consumers.
    """
    sigs = (signatures if signatures is not None
            else minhash_signatures(docs))
    return banded_signature_pairs(sigs, NUM_HASHES, BANDS,
                                  id_col="doc_id",
                                  out_a="doc_a", out_b="doc_b")


def banded_signature_pairs(sigs: DataFrame, num_hashes: int, bands: int,
                           id_col: str = "doc_id",
                           out_a: str = "id_a",
                           out_b: str = "id_b") -> DataFrame:
    """Banded-LSH candidate pairs from (id, signature array<long>) rows.

    Shared machinery: document MinHash (``minhash_lsh_pairs``) and
    adjacency-set MinHash (``graph.neighborhood_overlap_lsh``) bucket
    identically — band bucket = xxhash64 of the comma-joined signature
    slice; ids sharing any band bucket pair up (id_a < id_b).  A
    mega-hub only collides with genuinely similar sets, never with its
    whole neighborhood.
    """
    rows_per_band = num_hashes // bands
    band_rows = sigs.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(F.concat_ws(
                    ",",
                    *[F.element_at("signature", b * rows_per_band + r + 1)
                      .cast("string") for r in range(rows_per_band)],
                )).alias("bucket"),
            )
            for b in range(bands)
        ])).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    return (
        _bucket_pairs(band_rows, ["band", "bucket"], id_col)
        .select(F.col(f"l.{id_col}").alias(out_a),
                F.col(f"r.{id_col}").alias(out_b))
        .distinct()
    )


def minhash_jaccard_estimate(docs: DataFrame,
                             threshold: float = 0.5) -> DataFrame:
    """LSH candidates refined by signature-overlap Jaccard estimate."""
    # one signature computation shared by the LSH step and both joins
    sigs = minhash_signatures(docs).localCheckpoint()
    pairs = minhash_lsh_pairs(docs, signatures=sigs)
    a = sigs.select(F.col("doc_id").alias("doc_a"),
                    F.col("signature").alias("sig_a"))
    b = sigs.select(F.col("doc_id").alias("doc_b"),
                    F.col("signature").alias("sig_b"))
    est = (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .select(
            "doc_a", "doc_b",
            (F.size(F.filter(F.zip_with("sig_a", "sig_b",
                                        lambda x, y: x == y),
                             lambda eq: eq)).cast("double")
             / NUM_HASHES).alias("jaccard_est"),
        )
        .filter(F.col("jaccard_est") >= threshold)
        .orderBy("doc_a", "doc_b")
    )
    return est


def simhash(docs: DataFrame) -> DataFrame:
    """SimHash over tokens (sign of per-bit weighted sums).

    Shape: explode tokens -> xxhash64 once -> groupBy(doc_id) with one
    ``sum`` per bit + a count, then compose the hash from the bit
    majorities.  Everything stays in whole-stage codegen; the per-doc
    partial aggregation collapses each document's tokens map-side, so
    the shuffle moves exactly one row per document on a uniform key.
    (The previous formulation ran ``bits`` interpreted higher-order
    ``filter`` passes per row — ~30x more expression evaluation.)
    """
    # coalesce: a NULL text must still yield a simhash row (explode of a
    # NULL array would silently drop the document)
    toks = F.split(_norm(F.coalesce(F.col("text"), F.lit(""))), " ")
    ex = docs.select("doc_id", F.explode(toks).alias("tok"))
    h = F.xxhash64("tok")
    aggs = [F.sum(F.shiftright(h, b).bitwiseAND(F.lit(1))).alias(f"_o{b}")
            for b in range(SIMHASH_BITS)]
    per = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_n"), *aggs)
    sim = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        # linear OR-chain (each step references the previous tree once;
        # a when(...).otherwise(prev) rebind would double it per step)
        sim = sim.bitwiseOR(
            F.when(F.col(f"_o{b}") * 2 > F.col("_n"),
                   F.lit(1 << b).cast("long"))
            .otherwise(F.lit(0).cast("long")))
    return per.select("doc_id", sim.alias("simhash"))


def simhash_duplicate_groups(docs: DataFrame) -> DataFrame:
    """Groups of documents sharing an identical simhash."""
    return _groups(simhash(docs), "simhash")


def simhash_near_pairs(docs: DataFrame, bands: int = 4,
                       max_distance: int = 3) -> DataFrame:
    """Near-duplicate pairs within ``max_distance`` hamming bits.

    Banded-hamming bucketing: split the ``SIMHASH_BITS``-bit simhash
    into ``bands`` disjoint bit-bands; by pigeonhole, two hashes
    differing in at most ``max_distance`` < ``bands`` bits agree exactly
    on at least one band.  Bucket-join on (band, band_bits) — the only
    shuffle, on a uniform key — then exact ``bit_count(xor)`` rerank
    JVM-side.  Never all-pairs: candidate count ~ corpus / bucket
    cardinality.
    """
    if max_distance >= bands:
        raise ValueError(
            f"max_distance ({max_distance}) must be < bands ({bands}) "
            "for the pigeonhole guarantee to hold")
    band_bits = SIMHASH_BITS // bands
    mask = (1 << band_bits) - 1
    band_rows = simhash(docs).select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("simhash", b * band_bits)
                .bitwiseAND(F.lit(mask)).alias("val"))
            for b in range(bands)
        ])).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.val")
    dist = F.bit_count(
        F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
    return (
        _bucket_pairs(band_rows, ["band", "val"], "doc_id")
        .filter(dist <= max_distance)
        .select(F.col("l.doc_id").alias("doc_a"),
                F.col("r.doc_id").alias("doc_b"),
                dist.cast("int").alias("distance"))
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def ngram_jaccard_pairs(docs: DataFrame,
                        threshold: float = 0.8) -> DataFrame:
    """Exact n-gram Jaccard over LSH-pruned candidates (verification tier)."""
    sh = _with_shingles(docs).select(
        "doc_id", F.array_distinct("shingles").alias("sh"))
    cand = minhash_lsh_pairs(docs)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(a, "doc_a").join(b, "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def embedding_near_duplicates(spark: SparkSession, sf_dir: str,
                              threshold: float = 0.95,
                              max_vectors: int | None = None) -> DataFrame:
    """Cosine near-duplicate pairs over the embeddings table (exact).

    Exact all-pairs with id-ordering pruning; double-precision *ordered*
    folds so the DuckDB oracle computes bit-identical scores.  Norms are
    computed once per vector before the join (1 higher-order fold per
    pair instead of 3 — Spark HOFs are interpreted, not codegen'd).
    For corpora beyond ~10^4 vectors use
    :func:`embedding_near_duplicates_blocked` (numpy block matmul) or
    :func:`embedding_near_duplicates_lsh` to bound candidates.
    """
    from cbor_ld_spark.plans.partitioning import spread_input

    from .similarity import _dot, _norm2

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    if max_vectors is not None:
        emb = emb.filter(F.col("vec_id") < max_vectors)
    # single-file scan = one partition; the all-pairs fold below is the
    # expensive stage, so spread the vectors first (guide §2.5)
    emb = spread_input(emb)
    v = F.transform("embedding", lambda x: x.cast("double"))
    emb = emb.select(
        "vec_id", v.alias("v"), _norm2(v).alias("nrm"),
    ).localCheckpoint()  # ContextCleaner-released, unlike a leaked persist
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
                   F.col("nrm").alias("na"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
                   F.col("nrm").alias("nb"))
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b",
                F.round(_dot("va", "vb") / (F.col("na") * F.col("nb")), 6)
                .alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .orderBy("vec_a", "vec_b")
    )


def embedding_near_duplicates_lsh(spark: SparkSession, sf_dir: str,
                                  threshold: float = 0.4) -> DataFrame:
    """Cosine near-dup via hyperplane LSH — the 100 TB scale path.

    The exact tiers (:func:`embedding_near_duplicates` /
    ``_blocked``) are inherently O(n^2) compute; this tier bounds
    candidates first: one ``mapInArrow`` matmul assigns every vector a
    sign-bucket per table (operators/similarity._lsh_buckets —
    deterministic Lehmer planes, replayed by the DuckDB oracle; the
    matmul's summation order differs from the oracle's sequential fold,
    so sign decisions could in principle diverge for projections within
    float-ulp of zero — none observed at gate scale), candidates are
    pairs sharing a bucket in *any* table
    (recall dial ~ EMB_LSH_TABLES x collision prob^EMB_LSH_PLANES), and
    only candidates pay the exact rerank.  The only shuffle is the
    bucket join on the uniform (tbl, bucket) key — never all-pairs.
    """
    import numpy as np
    import pyarrow as pa

    from .similarity import (
        _arrow_vectors, _lsh_buckets, embedding_dim, load_embeddings,
    )

    emb = load_embeddings(spark, sf_dir).select("vec_id", "v")
    dim = embedding_dim(sf_dir, fallback=emb)
    tabled = _lsh_buckets(emb, dim, EMB_LSH_PLANES, EMB_LSH_TABLES)
    # NO dedup here: deduping candidate pairs would shuffle the vector
    # payloads (~1 KB/pair); instead rerank every bucket collision (a
    # pair repeats at most EMB_LSH_TABLES times, and the rerank is
    # vectorized) and distinct() the tiny (vec_a, vec_b, cosine) rows
    cand = (
        _bucket_pairs(tabled, ["tbl", "bucket"], "vec_id")
        .select(F.col("l.vec_id").alias("vec_a"),
                F.col("r.vec_id").alias("vec_b"),
                F.col("l.v").alias("va"), F.col("r.v").alias("vb"))
    )

    # vectorized rerank: per-Arrow-batch row dots (an interpreted HOF
    # fold per candidate pair was ~3x the query wall at sf0.1).  Same
    # precedent as the blocked tier: BLAS vs sequential-fold summation
    # agree after round(6) at this dimensionality (verified vs the
    # fold-based DuckDB oracle at the gate scale).
    thr = float(threshold)

    @python_task
    def rerank(batches):
        for batch, va, vb in _arrow_vectors(batches, 2, 3):
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.round(
                    np.einsum("ij,ij->i", va, vb)
                    / (np.linalg.norm(va, axis=1)
                       * np.linalg.norm(vb, axis=1)),
                    6)
            # Spark/DuckDB order NaN above every number, so a zero-norm
            # pair (cos = 0/0 = NaN) passes `cosine >= thr` there;
            # `~(cos < thr)` reproduces that, where `cos >= thr` would
            # silently drop it (numpy NaN comparisons are all-False)
            keep = ~(cos < thr)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0).filter(pa.array(keep)),
                 batch.column(1).filter(pa.array(keep)),
                 pa.array(cos[keep])],
                ["vec_a", "vec_b", "cosine"])

    return (
        cand.mapInArrow(rerank, "vec_a long, vec_b long, cosine double")
        .distinct()
        .orderBy("vec_a", "vec_b")
    )


def embedding_near_duplicates_blocked(spark: SparkSession, sf_dir: str,
                                      threshold: float = 0.95,
                                      block_size: int = 4096) -> DataFrame:
    """Exact cosine near-dup, distributed block-pair matmul (BLAS).

    Vectors hash into B = ceil(n / block_size) blocks; each of the
    B(B+1)/2 block *pairs* is one ``applyInArrow`` group that multiplies
    its two (block_size, d) matrices with BLAS.  Nothing is collected to
    the driver and nothing is broadcast: per-task memory is two blocks,
    the shuffle key (blk_i, blk_j) is uniform by construction (modulo
    hashing), and every (a, b) pair is examined exactly once (in the
    block pair (min(ha, hb), max(ha, hb))).

    Exact all-pairs is inherently O(n^2) compute: this tier is for
    corpora where that is affordable (~10^7 vectors).  Beyond that,
    bound candidates first (:func:`embedding_near_duplicates_lsh`) and
    rerank exactly — the replication factor here (each vector ships to
    B block pairs) makes larger exact runs shuffle-bound by design, not
    OOM.  Each block decodes through ``similarity._arrow_vectors`` and
    normalises with ``_unit``, so a zero vector scores 0 against every
    other instead of NaN.
    """
    from cbor_ld_spark.plans.partitioning import parquet_rows

    from .similarity import _arrow_vectors, _unit

    path = f"{sf_dir}/embeddings.parquet"
    emb = spark.read.parquet(path).select("vec_id", "embedding")
    # size the block grid from parquet footer metadata — no Spark scan;
    # the count only bounds per-task memory, so footer-exact is plenty.
    # pyarrow can't reach every Spark-readable filesystem (hdfs://,
    # dbfs:/): degrade to the column-pruned Spark count there.
    n = parquet_rows(path)
    if n is None:
        n = emb.select("vec_id").count()
    n_blocks = max(1, -(-n // block_size))
    pairs = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "blk_i int, blk_j int")
    blk = F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int")
    a = emb.withColumn("blk", blk)
    lhs = (a.join(F.broadcast(pairs), a.blk == pairs.blk_i)
           .withColumn("side", F.lit(0)))
    rhs = (a.join(F.broadcast(pairs.filter("blk_i != blk_j")),
                  a.blk == pairs.blk_j)
           .withColumn("side", F.lit(1)))
    both = lhs.unionByName(rhs).select(
        "blk_i", "blk_j", "side", "vec_id", "embedding")

    @python_task
    def fn(table):
        import pyarrow as pa
        import pyarrow.compute as pc

        def block(side):
            part = table.filter(pc.equal(table["side"], side)) \
                .combine_chunks()
            for _, m in _arrow_vectors(part.to_batches(), "embedding"):
                return part["vec_id"].to_numpy(), _unit(m)
            return part["vec_id"].to_numpy(), None

        # same-block must come from the GROUP KEY, not side counts: a
        # cross pair (i, j) whose block j is empty would otherwise be
        # misread as same-block and re-emit block i's self-pairs
        same_block = table["blk_i"][0].as_py() == table["blk_j"][0].as_py()
        ids0, m0 = block(0)
        ids1, m1 = (ids0, m0) if same_block else block(1)
        out_a, out_b, out_c, seen = [], [], [], set()
        if len(ids0) and len(ids1):  # an empty block has no pairs
            sims = m0 @ m1.T
            for r, c in zip(*(sims >= threshold).nonzero()):
                x, y = int(ids0[r]), int(ids1[c])
                pair = (min(x, y), max(x, y))
                # same-block pairs surface twice ((r,c) and (c,r)), and
                # BLAS may round the two differently: keep the first
                if x == y or same_block and pair in seen:
                    continue
                seen.add(pair)
                out_a.append(pair[0])
                out_b.append(pair[1])
                out_c.append(round(float(sims[r, c]), 6))
        return pa.table({"vec_a": pa.array(out_a, pa.int64()),
                         "vec_b": pa.array(out_b, pa.int64()),
                         "cosine": pa.array(out_c, pa.float64())})

    return (
        both.groupBy("blk_i", "blk_j")
        .applyInArrow(fn, schema="vec_a long, vec_b long, cosine double")
        .orderBy("vec_a", "vec_b")
    )

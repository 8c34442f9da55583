"""Similarity search over the ``embeddings`` table.

Four tiers, as a large-scale pipeline needs.  Every tier scores with
the same exact ``_cosine`` and ranks with the same ``_top_k``, so the
approximate tiers differ from the exact one only in which candidates
they score:

* ``cosine_topk``      — exact brute-force top-k for a (small) query set:
                         broadcast the queries, one scan over the corpus,
                         per-query top-k via window.  This is the
                         correctness baseline and is oracle-checkable in
                         DuckDB bit-for-bit (double-precision ordered
                         folds on both sides).
* ``lsh_topk``         — random-hyperplane LSH: deterministic
                         pseudo-random planes (Lehmer LCG), bucket join,
                         exact rerank inside buckets.  At 10^12 scale the
                         bucket join bounds the candidate set; the plan
                         is scan + one uniform-key shuffle.
* ``ivf_topk``         — inverted file: spherical k-means cells trained on
                         a driver-side sample; each query probes its
                         nearest cells and reranks their vectors exactly.
* ``pq_topk``          — product quantization: per-subspace codebooks,
                         asymmetric-distance scoring per Arrow batch,
                         exact rerank of each query's best candidates.

Vector math strategy (measured on this Spark build): the exact-rerank
dots stay Column-level array algebra so the DuckDB oracle can replicate
them, but the *per-vector signature stages* (LSH bucket projections, IVF
cell argmax, PQ encoding) are single ``mapInArrow`` numpy matmuls —
Spark's higher-order array functions (``aggregate``/``zip_with``) are
interpreted, not codegen'd, and evaluating 32 folds per row was a
measured 5x penalty (round-2 verdict, ann_lsh_topk regression).  Each
``mapInArrow`` body decodes its vectors with ``_arrow_vectors``;
driver-side normalisation is ``_unit``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.udfs import python_task

TRAIN_ROWS = 4096  # IVF/PQ training sample: the first rows by vec_id
KMEANS_ITERS = 5  # Lloyd iterations of IVF cells and PQ codebooks
LSH_TABLES = 8  # lsh_topk's hash tables
PLANE_SEED, PLANE_SEED_STEP = 7, 13  # table t's planes: seed 7 + 13 t
# pq_topk: top-5 of the first 5 vectors; 4 subspaces of 16 codes; exact
# rerank of each query's 32 best ADC candidates
PQ_QUERIES, PQ_K, PQ_M, PQ_CODES, PQ_RERANK = 5, 5, 4, 16, 32
_TOPK_SCHEMA = "query_id long, rank int, vec_id long, cosine double"


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cbor_ld_spark.plans.partitioning import spread_input

    # single-file scan = one input partition: spread so the vector-math
    # map stages (signature matmuls, rerank dots) downstream run in
    # parallel (guide §2.5)
    emb = spread_input(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return emb.select(
        "vec_id", "label",
        F.col("embedding").cast("array<double>").alias("v"),
    )


def embedding_dim(sf_dir: str, fallback: DataFrame | None = None) -> int:
    """Vector dimensionality, probed with a one-row pyarrow scan (~10ms,
    no Spark job); 0 for an empty table, which needs no planes.  The
    previous ``df.first()`` probe scheduled a full Spark stage before
    the main job just to learn one scalar; dim is not in the parquet
    schema (``list<float>`` is unsized), so reading one list element is
    the cheapest honest source.  Works on both a single file and a
    directory-of-parts dataset.

    pyarrow only reads filesystems it has handlers for (local, s3, ...);
    for paths only Spark can reach (hdfs://, dbfs:/) pass ``fallback`` —
    the loaded embeddings frame — and the probe degrades to one
    ``first()`` job instead of failing.
    """
    try:
        import pyarrow.dataset as ds

        dset = ds.dataset(f"{sf_dir}/embeddings.parquet")
        for batch in dset.scanner(columns=["embedding"],
                                  batch_size=1).to_batches():
            if batch.num_rows:
                return len(batch.column(0)[0])
        return 0
    except Exception:
        if fallback is None:
            raise
        row = fallback.select("v").first()
        return 0 if row is None else len(row["v"])


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm2(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def _cosine(a, b):
    """The exact score every tier ranks by: ``round(a.b / (|a| |b|), 6)``
    over ordered double folds, which the DuckDB oracles replay."""
    return F.round(_dot(a, b) / (_norm2(a) * _norm2(b)), 6).alias("cosine")


def _ranked(scored: DataFrame, score: str, k: int, rank: str) -> DataFrame:
    """Each query's ``k`` best rows by ``score`` (desc, ties by vec_id),
    numbered 1..k in column ``rank``."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("vec_id"))
    return (scored.withColumn(rank, F.row_number().over(w))
            .filter(F.col(rank) <= k))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, vec_id, cosine) rows -> every tier's result: each
    query's top ``k`` by exact cosine, sorted by (query_id, rank)."""
    return (_ranked(scored, "cosine", k, "rank")
            .select("query_id", "rank", "vec_id", "cosine")
            .orderBy("query_id", "rank"))


def l2_norm(v) -> float:
    """One vector's L2 norm, summed in a fixed order so that the result
    is the same on every CPU: element ``i``'s square goes into lane
    ``i mod 8``, the lanes combine as ``((r0+r2)+(r4+r6)) +
    ((r1+r3)+(r5+r7))``, then the tail past the last multiple of 8 adds
    in sequence.  ``np.linalg.norm`` of one vector is a BLAS dot whose
    summation order follows the kernel OpenBLAS picks for the CPU, and
    the IVF oracle writes centroids normalised by this norm into its
    SQL text.  The order is the SSE2 dot's for 64-dim vectors, the
    arithmetic the pinned oracle texts were made with."""
    v = np.asarray(v, dtype=np.float64)
    n8 = len(v) - len(v) % 8
    r = np.zeros(8)
    for block in v[:n8].reshape(-1, 8):
        r += block * block
    total = ((r[0] + r[2]) + (r[4] + r[6])) + ((r[1] + r[3]) + (r[5] + r[7]))
    for x in v[n8:]:
        total += x * x
    return float(np.sqrt(total))


def _unit(m):
    """``m`` scaled to unit L2 norm along its last axis; a zero vector
    stays zero instead of NaN.  One vector's norm is ``l2_norm`` (lanes
    ``i mod 8``, the same on every CPU), a matrix's numpy's row-wise
    sum; the two can differ in the last bit, and the IVF oracle replays
    each where the operator uses it."""
    if m.ndim == 1:
        return m / (l2_norm(m) or 1.0)
    norms = np.linalg.norm(m, axis=-1, keepdims=True)
    norms[norms == 0] = 1.0
    return m / norms


def _train_sample(emb: DataFrame):
    """IVF's and PQ's driver-side training sample: the first
    ``TRAIN_ROWS`` vectors by vec_id, unit-normalised (at corpus scale a
    fixed-size sample, not the corpus).  Empty for an empty table."""
    rows = emb.orderBy("vec_id").limit(TRAIN_ROWS).collect()
    return _unit(np.array([r["v"] for r in rows]))


def _arrow_vectors(batches, *cols):
    """``(batch, m, ...)`` for each non-empty Arrow batch, one (n, d)
    float64 matrix ``m`` per ``list<double>`` column index in ``cols``:
    the one place a ``mapInArrow`` body turns vectors into numpy."""
    for b in batches:
        n = b.num_rows
        if n:
            yield (b, *(np.asarray(b.column(c).flatten(),
                                   dtype=np.float64).reshape(n, -1)
                        for c in cols))


def cosine_topk(spark: SparkSession, sf_dir: str, n_queries: int = 5,
                k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` vectors.

    The query side is tiny -> broadcast join (no shuffle of the corpus);
    ranking window partitions by query (n_queries partitions, trivially
    balanced).
    """
    emb = load_embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    scored = (
        emb.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", _cosine("qv", "v"))
    )
    return _top_k(scored, k)


def lsh_plane(p: int, dim: int, seed: int = 7) -> list[float]:
    """Deterministic pseudo-random hyperplane in [-1, 1]^dim.

    Lehmer LCG (mod 2^31-1, multiplier 48271) keyed by (seed, p, d):
    pure 62-bit-safe integer arithmetic, so the exact same plane is
    reproducible anywhere — including the DuckDB oracle — with no RNG
    state and no engine-specific hash function.
    """
    m, a = 2147483647, 48271
    out = []
    for d in range(dim):
        x = (seed * 1_000_003 + p * dim + d + 1) % m
        x = (a * x) % m
        x = (a * x) % m  # two rounds decorrelate adjacent (p, d)
        out.append(x / m * 2.0 - 1.0)
    return out


def _lsh_plane_matrix(dim: int, n_planes: int, n_tables: int):
    """All tables' hyperplanes as one (n_tables*n_planes, dim) matrix,
    row order = (table-major, plane-minor).  Values are exactly
    ``lsh_plane`` — the DuckDB oracle rebuilds the same literals."""
    return np.array(
        [lsh_plane(p, dim, PLANE_SEED + PLANE_SEED_STEP * t)
         for t in range(n_tables) for p in range(n_planes)],
        dtype=np.float64)


def _lsh_buckets(df: DataFrame, dim: int, n_planes: int,
                 n_tables: int) -> DataFrame:
    """(vec_id, v) -> (vec_id, v, tbl, bucket), one row per table.

    One vectorized matmul per Arrow batch computes all
    ``n_tables * n_planes`` sign projections at once; bucket = the
    integer formed by each table's sign bits.  Filters on ``df`` must be
    applied *before* this stage (Catalyst cannot push predicates through
    an opaque Python map).
    """
    import pyarrow as pa

    planes = _lsh_plane_matrix(dim, n_planes, n_tables)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @python_task
    def compute(batches):
        for b, vecs in _arrow_vectors(batches, 1):
            n = b.num_rows
            bits = (vecs @ planes.T > 0).reshape(n, n_tables, n_planes)
            buckets = (bits * weights).sum(axis=2).astype(np.int32)
            offsets = pa.array(
                np.arange(0, (n + 1) * n_tables, n_tables, dtype=np.int32))
            blist = pa.ListArray.from_arrays(
                offsets, pa.array(buckets.ravel(), type=pa.int32()))
            yield pa.RecordBatch.from_arrays(
                [b.column(0), b.column(1), blist], ["vec_id", "v", "buckets"])

    return (df.select("vec_id", "v")
            .mapInArrow(compute,
                        "vec_id long, v array<double>, buckets array<int>")
            .select("vec_id", "v",
                    F.posexplode("buckets").alias("tbl", "bucket")))


def ivf_topk(spark: SparkSession, sf_dir: str, n_queries: int = 5,
             k: int = 5, n_cells: int = 16, n_probe: int = 4) -> DataFrame:
    """IVF (inverted-file) approximate top-k cosine search.

    Train: deterministic k-means on the driver-side training sample
    (centroid seeds = the first ``n_cells`` vectors, Lloyd iterations in
    numpy, each centroid the mean of its members over its ``l2_norm``,
    so the centroids the oracle writes as literals are the same on
    every CPU).  Index: assign every vector to its nearest centroid (one
    numpy matmul + argmax per Arrow batch against the closure-captured
    centroid matrix).  Search: each query probes its ``n_probe``
    nearest cells; the candidate scan is ~``n_probe/n_cells`` of the
    corpus, and the shuffle key (cell) has bounded fan-in.
    """
    import pyarrow as pa

    emb = load_embeddings(spark, sf_dir)
    sample = _train_sample(emb)
    n_cells = min(n_cells, len(sample))  # tiny corpora: fewer cells
    if n_cells == 0:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    centroids = sample[:n_cells].copy()
    for _ in range(KMEANS_ITERS):
        assign = np.argmax(sample @ centroids.T, axis=1)
        for c in range(n_cells):
            members = sample[assign == c]
            if len(members):
                m = members.mean(axis=0)
                centroids[c] = m / l2_norm(m)

    # first-max tie-break, same as the oracle's ORDER BY dot DESC, cell
    # LIMIT 1; n_cells interpreted HOF dots per row were the slow path
    @python_task
    def assign_cells(batches):
        for b, vecs in _arrow_vectors(batches, 1):
            cell = np.argmax(vecs @ centroids.T, axis=1).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [b.column(0), b.column(1), pa.array(cell)],
                ["vec_id", "v", "cell"])

    # localCheckpoint: blocks are ContextCleaner-released when the frame
    # goes out of scope (a persist here would leak across a query suite)
    indexed = emb.select("vec_id", "v").mapInArrow(
        assign_cells, "vec_id long, v array<double>, cell int"
    ).localCheckpoint()

    probe_rows = []
    for q in indexed.filter(F.col("vec_id") < n_queries).collect():
        order = np.argsort(-(centroids @ _unit(np.array(q["v"]))))
        probe_rows += [(q["vec_id"], int(c), q["v"])
                       for c in order[:n_probe]]
    probes = spark.createDataFrame(
        probe_rows, "query_id long, cell int, qv array<double>")

    scored = (
        indexed.join(F.broadcast(probes), on="cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", _cosine("qv", "v"))
    )
    return _top_k(scored, k)


def lsh_topk(spark: SparkSession, sf_dir: str, n_queries: int = 5,
             k: int = 5, n_planes: int = 4) -> DataFrame:
    """Approximate top-k: multi-table hyperplane LSH + exact rerank.

    L = ``LSH_TABLES`` independent tables of b planes each; a corpus
    vector is a candidate if it shares a bucket with the query in *any*
    table (standard recall/cost dial: candidate fraction ~ L/2^b for
    near-random data, sharply less for clustered data).  The join key
    (table, bucket) is uniform; candidates dedupe before rerank so each
    pair scores once.
    """
    emb = load_embeddings(spark, sf_dir)
    dim = embedding_dim(sf_dir, fallback=emb)
    tables = _lsh_buckets(emb, dim, n_planes, LSH_TABLES)
    # query side: filter BEFORE the Arrow stage so the vec_id predicate
    # reaches the parquet scan (it can't cross an opaque Python map)
    queries = _lsh_buckets(emb.filter(F.col("vec_id") < n_queries), dim,
                           n_planes, LSH_TABLES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        "tbl", "bucket")
    candidates = (
        tables.join(F.broadcast(queries), on=["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "qv", "v")
        .dropDuplicates(["query_id", "vec_id"])
    )
    return _top_k(candidates.select("query_id", "vec_id", _cosine("qv", "v")),
                  k)


def pq_train(sample, m: int, n_codes: int, kmeans_iters: int):
    """Deterministic per-subspace codebooks from a normalized sample.

    Subspaces are ``np.array_split`` column blocks; each codebook is
    Lloyd k-means seeded with the first ``n_codes`` subvectors
    (euclidean assignment, first-min tie-break) — the same deterministic
    recipe ivf_topk uses, replayed verbatim by the oracle generator.
    Returns (list of split column-offsets, list of (n_codes, sub_dim)
    codebook arrays).
    """
    dim = sample.shape[1]
    splits = np.array_split(np.arange(dim), m)
    books = []
    for cols in splits:
        sub = sample[:, cols]
        k_eff = min(n_codes, len(sub))
        cb = sub[:k_eff].copy()
        for _ in range(kmeans_iters):
            d2 = (-2.0 * sub @ cb.T) + (cb * cb).sum(axis=1)
            assign = np.argmin(d2, axis=1)
            for c in range(k_eff):
                members = sub[assign == c]
                if len(members):
                    cb[c] = members.mean(axis=0)
        books.append(cb)
    return splits, books


def pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k cosine search + exact rerank.

    The memory-bound scale tier the exact/LSH/IVF family lacks: each
    vector compresses to ``PQ_M`` one-byte codes (64 dims * 8 B -> 4 B,
    128x), so at 10^12 vectors the scan reads codes, not vectors.

    Train: per-subspace k-means codebooks on the driver-side training
    sample (deterministic, same recipe as IVF).  Encode: ONE
    ``mapInArrow`` pass — per batch, one argmin matmul per subspace.
    Search: asymmetric distance — each query precomputes a
    (m, n_codes) dot-product lookup table; scoring a vector is m table
    lookups + a sum, vectorized per batch, and each batch emits only its
    per-query top-``PQ_RERANK`` partial candidates (top-R of a union
    contains the union's top-R), so the shuffle is
    O(batches * n_queries * R), independent of corpus size.  Exact
    cosine rerank on the global top-``PQ_RERANK`` yields the final
    ranking — same candidate-bounded shape as lsh_topk/ivf_topk.
    """
    import pyarrow as pa

    emb = load_embeddings(spark, sf_dir)
    sample = _train_sample(emb)
    if len(sample) == 0:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    splits, books = pq_train(sample, PQ_M, PQ_CODES, KMEANS_ITERS)

    # queries: normalized driver-side; LUT[q, s, c] = q_s . codebook_s[c]
    qrows = emb.filter(F.col("vec_id") < PQ_QUERIES) \
        .orderBy("vec_id").collect()
    qmat = _unit(np.array([r["v"] for r in qrows], dtype=np.float64))
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    luts = [qmat[:, cols] @ books[s].T for s, cols in enumerate(splits)]

    @python_task
    def score_batches(batches):
        for b, vecs in _arrow_vectors(batches, 1):
            vecs = _unit(vecs)
            # encode: m argmin matmuls -> codes (n, m)
            scores = np.zeros((b.num_rows, len(qids)), dtype=np.float64)
            for s, cols in enumerate(splits):
                sub = vecs[:, cols]
                cb = books[s]
                d2 = (-2.0 * sub @ cb.T) + (cb * cb).sum(axis=1)
                codes = np.argmin(d2, axis=1)
                scores += luts[s][:, codes].T
            ids = np.asarray(b.column(0), dtype=np.int64)
            # per-batch partial top-R per query (adc desc, vec_id asc)
            out_q, out_v, out_s = [], [], []
            order_ids = np.argsort(ids, kind="stable")
            for qi in range(len(qids)):
                s_q = scores[:, qi]
                # self-match excluded BEFORE truncation: the query
                # occupying a top-R slot of its own batch would push
                # out the batch's R-th best real candidate
                by_id = order_ids[ids[order_ids] != qids[qi]]
                # sort by (-score, vec_id): stable argsort on vec_id
                # order first, then stable sort by -score
                top = by_id[np.argsort(-s_q[by_id],
                                       kind="stable")[:PQ_RERANK]]
                out_q += [int(qids[qi])] * len(top)
                out_v += [int(i) for i in ids[top]]
                out_s += [float(x) for x in s_q[top]]
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_q, type=pa.int64()),
                 pa.array(out_v, type=pa.int64()),
                 pa.array(out_s, type=pa.float64())],
                ["query_id", "vec_id", "adc"])

    partials = emb.select("vec_id", "v").mapInArrow(
        score_batches, "query_id long, vec_id long, adc double")
    cand = _ranked(partials, "adc", PQ_RERANK, "r").select(
        "query_id", "vec_id")

    queries = spark.createDataFrame(
        [(r["vec_id"], r["v"]) for r in qrows],
        "query_id long, qv array<double>")
    scored = (
        cand.join(emb, "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "vec_id", _cosine("qv", "v")))
    return _top_k(scored, PQ_K)

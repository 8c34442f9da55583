"""Similarity search over the ``embeddings`` table.

Two tiers, as a large-scale pipeline needs:

* ``cosine_topk``      — exact brute-force top-k for a (small) query set:
                         broadcast the queries, one scan over the corpus,
                         per-query top-k via window.  This is the
                         correctness baseline and is oracle-checkable in
                         DuckDB bit-for-bit (double-precision ordered
                         folds on both sides).
* ``lsh_topk``         — random-hyperplane LSH: deterministic
                         pseudo-random planes from xxhash64, bucket join,
                         exact rerank inside buckets.  At 10^12 scale the
                         bucket join bounds the candidate set; the plan
                         is scan + one uniform-key shuffle.

Vector math strategy (measured on this Spark build): the exact-rerank
dots stay Column-level array algebra so the DuckDB oracle can replicate
them, but the *per-vector signature stages* (LSH bucket projections, IVF
cell argmax) are single ``mapInArrow`` numpy matmuls — Spark's
higher-order array functions (``aggregate``/``zip_with``) are
interpreted, not codegen'd, and evaluating 32 folds per row was a
measured 5x penalty (round-2 verdict, ann_lsh_topk regression).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.udfs import python_task


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
    no Spark job).  The previous ``df.first()`` probe scheduled a full
    Spark stage before the main job just to learn one scalar; dim is not
    in the parquet schema (``list<float>`` is unsized), so reading one
    list element is the cheapest honest source.  Works on both a single
    file and a directory-of-parts dataset.

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
        raise ValueError("embeddings table is empty")
    except ValueError:
        raise
    except Exception:
        if fallback is None:
            raise
        row = fallback.select("v").first()
        if row is None:
            raise ValueError("embeddings table is empty") from None
        return len(row["v"])


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm2(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


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
        .select(
            "query_id", "vec_id",
            F.round(_dot("qv", "v") / (_norm2("qv") * _norm2("v")), 6)
            .alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
        .orderBy("query_id", "rank")
    )


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


def _lsh_plane_matrix(dim: int, n_planes: int, n_tables: int,
                      seed0: int = 7, seed_step: int = 13):
    """All tables' hyperplanes as one (n_tables*n_planes, dim) matrix,
    row order = (table-major, plane-minor).  Values are exactly
    ``lsh_plane`` — the DuckDB oracle rebuilds the same literals."""
    import numpy as np

    rows = []
    for t in range(n_tables):
        seed = seed0 + seed_step * t
        for p in range(n_planes):
            rows.append(lsh_plane(p, dim, seed))
    return np.array(rows, dtype=np.float64)


def _with_lsh_buckets(df: DataFrame, dim: int, n_planes: int,
                      n_tables: int) -> DataFrame:
    """(vec_id, v) -> (vec_id, v, buckets) with one bucket per table.

    One vectorized matmul per Arrow batch computes all
    ``n_tables * n_planes`` sign projections at once; bucket = the
    integer formed by each table's sign bits.  Filters on ``df`` must be
    applied *before* this stage (Catalyst cannot push predicates through
    an opaque Python map).
    """
    import numpy as np
    import pyarrow as pa

    planes = _lsh_plane_matrix(dim, n_planes, n_tables)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @python_task
    def compute(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            vecs = np.asarray(b.column(1).flatten(),
                              dtype=np.float64).reshape(n, dim)
            bits = (vecs @ planes.T > 0).reshape(n, n_tables, n_planes)
            buckets = (bits * weights).sum(axis=2).astype(np.int32)
            offsets = pa.array(
                np.arange(0, (n + 1) * n_tables, n_tables, dtype=np.int32))
            blist = pa.ListArray.from_arrays(
                offsets, pa.array(buckets.ravel(), type=pa.int32()))
            yield pa.RecordBatch.from_arrays(
                [b.column(0), b.column(1), blist], ["vec_id", "v", "buckets"])

    return df.select("vec_id", "v").mapInArrow(
        compute, "vec_id long, v array<double>, buckets array<int>")


def ivf_topk(spark: SparkSession, sf_dir: str, n_queries: int = 5,
             k: int = 5, n_cells: int = 16, n_probe: int = 4,
             kmeans_iters: int = 5) -> DataFrame:
    """IVF (inverted-file) approximate top-k cosine search.

    Train: deterministic k-means on a driver-side sample (centroid seeds
    = the first ``n_cells`` vectors, Lloyd iterations in numpy — at
    corpus scale this is a fixed-size sample, not the corpus).
    Index: assign every vector to its nearest centroid (one broadcast of
    the tiny centroid matrix; assignment is a JVM-side argmax over
    ``n_cells`` dot products).  Search: each query probes its ``n_probe``
    nearest cells; the candidate scan is ~``n_probe/n_cells`` of the
    corpus, and the shuffle key (cell) has bounded fan-in.
    """
    import numpy as np

    emb = load_embeddings(spark, sf_dir)

    sample = np.array(
        [r["v"] for r in emb.orderBy("vec_id").limit(4096).collect()])
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    norms[norms == 0] = 1.0  # zero vectors stay zero instead of NaN
    sample = sample / norms
    n_cells = min(n_cells, len(sample))  # tiny corpora: fewer cells
    if n_cells == 0:
        return spark.createDataFrame(
            [], "query_id long, rank int, vec_id long, cosine double")
    centroids = sample[:n_cells].copy()
    for _ in range(kmeans_iters):
        assign = np.argmax(sample @ centroids.T, axis=1)
        for c in range(n_cells):
            members = sample[assign == c]
            if len(members):
                m = members.mean(axis=0)
                centroids[c] = m / np.linalg.norm(m)

    def assign_cells(df):
        # one numpy matmul + argmax per Arrow batch (first-max tie-break,
        # same as both the previous Column argmax and the oracle's
        # ORDER BY dot DESC, cell LIMIT 1); n_cells interpreted HOF dots
        # per row were the slow path
        import pyarrow as pa

        cmat = centroids  # (n_cells, dim), closure-captured
        dim = cmat.shape[1]

        @python_task
        def compute(batches):
            for b in batches:
                n = b.num_rows
                if n == 0:
                    continue
                vecs = np.asarray(b.column(1).flatten(),
                                  dtype=np.float64).reshape(n, dim)
                cell = np.argmax(vecs @ cmat.T, axis=1).astype(np.int32)
                yield pa.RecordBatch.from_arrays(
                    [b.column(0), b.column(1), pa.array(cell)],
                    ["vec_id", "v", "cell"])

        return df.select("vec_id", "v").mapInArrow(
            compute, "vec_id long, v array<double>, cell int")

    # localCheckpoint: blocks are ContextCleaner-released when the frame
    # goes out of scope (a persist here would leak across a query suite)
    indexed = assign_cells(emb).localCheckpoint()

    queries = indexed.filter(F.col("vec_id") < n_queries).collect()
    probe_rows = []
    for q in queries:
        qv = np.array(q["v"])
        qn = np.linalg.norm(qv)
        qv = qv / (qn if qn else 1.0)
        order = np.argsort(-(centroids @ qv))[:n_probe]
        for c in order:
            probe_rows.append((q["vec_id"], int(c), q["v"]))
    probes = spark.createDataFrame(
        probe_rows, "query_id long, cell int, qv array<double>")

    scored = (
        indexed.join(F.broadcast(probes), on="cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id",
                F.round(_dot("qv", "v") / (_norm2("qv") * _norm2("v")), 6)
                .alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
        .orderBy("query_id", "rank")
    )


def lsh_topk(spark: SparkSession, sf_dir: str, n_queries: int = 5,
             k: int = 5, n_planes: int = 4, n_tables: int = 8) -> DataFrame:
    """Approximate top-k: multi-table hyperplane LSH + exact rerank.

    L independent tables of b planes each; a corpus vector is a candidate
    if it shares a bucket with the query in *any* table (standard
    recall/cost dial: candidate fraction ~ L/2^b for near-random data,
    sharply less for clustered data).  The join key (table, bucket) is
    uniform; candidates dedupe before rerank so each pair scores once.
    """
    emb = load_embeddings(spark, sf_dir)
    dim = embedding_dim(sf_dir, fallback=emb)

    def tabled(df):
        return (_with_lsh_buckets(df, dim, n_planes, n_tables)
                .select("vec_id", "v",
                        F.posexplode("buckets").alias("tbl", "bucket")))

    tables = tabled(emb)
    # query side: filter BEFORE the Arrow stage so the vec_id predicate
    # reaches the parquet scan (it can't cross an opaque Python map)
    queries = tabled(emb.filter(F.col("vec_id") < n_queries)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        "tbl", "bucket")
    candidates = (
        tables.join(F.broadcast(queries), on=["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "qv", "v")
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = candidates.select(
        "query_id", "vec_id",
        F.round(_dot("qv", "v") / (_norm2("qv") * _norm2("v")), 6)
        .alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
        .orderBy("query_id", "rank")
    )


def pq_train(sample, m: int, n_codes: int, kmeans_iters: int):
    """Deterministic per-subspace codebooks from a normalized sample.

    Subspaces are ``np.array_split`` column blocks; each codebook is
    Lloyd k-means seeded with the first ``n_codes`` subvectors
    (euclidean assignment, first-min tie-break) — the same deterministic
    recipe ivf_topk uses, replayed verbatim by the oracle generator.
    Returns (list of split column-offsets, list of (n_codes, sub_dim)
    codebook arrays).
    """
    import numpy as np

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


def pq_topk(spark: SparkSession, sf_dir: str, n_queries: int = 5,
            k: int = 5, m: int = 4, n_codes: int = 16,
            kmeans_iters: int = 5, rerank: int = 32) -> DataFrame:
    """Product-quantization ADC top-k cosine search + exact rerank.

    The memory-bound scale tier the exact/LSH/IVF family lacks: each
    vector compresses to ``m`` one-byte codes (64 dims * 8 B -> 4 B,
    128x), so at 10^12 vectors the scan reads codes, not vectors.

    Train: per-subspace k-means codebooks on a driver-side sample
    (deterministic, same recipe as IVF).  Encode: ONE ``mapInArrow``
    pass — per batch, m argmin matmuls.  Search: asymmetric distance —
    each query precomputes a (m, n_codes) dot-product lookup table;
    scoring a vector is m table lookups + a sum, vectorized per batch,
    and each batch emits only its per-query top-``rerank`` partial
    candidates (top-R of a union contains the union's top-R), so the
    shuffle is O(batches * n_queries * R), independent of corpus size.
    Exact cosine rerank on the global top-``rerank`` yields the final
    ranking — same candidate-bounded shape as lsh_topk/ivf_topk.
    """
    import numpy as np

    emb = load_embeddings(spark, sf_dir)
    sample = np.array(
        [r["v"] for r in emb.orderBy("vec_id").limit(4096).collect()])
    if len(sample) == 0:
        return spark.createDataFrame(
            [], "query_id long, rank int, vec_id long, cosine double")
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    splits, books = pq_train(sample / norms, m, n_codes, kmeans_iters)

    # queries: normalized driver-side; LUT[q, s, c] = q_s . codebook_s[c]
    qrows = emb.filter(F.col("vec_id") < n_queries) \
        .orderBy("vec_id").collect()
    qmat = np.array([r["v"] for r in qrows], dtype=np.float64)
    qn = np.linalg.norm(qmat, axis=1, keepdims=True)
    qn[qn == 0] = 1.0
    qmat = qmat / qn
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    luts = [qmat[:, cols] @ books[s].T for s, cols in enumerate(splits)]

    def score_batches(df):
        import pyarrow as pa

        dim = sample.shape[1]

        @python_task
        def compute(batches):
            for b in batches:
                n = b.num_rows
                if n == 0:
                    continue
                vecs = np.asarray(b.column(1).flatten(),
                                  dtype=np.float64).reshape(n, dim)
                vn = np.linalg.norm(vecs, axis=1, keepdims=True)
                vn[vn == 0] = 1.0
                vecs = vecs / vn
                # encode: m argmin matmuls -> codes (n, m)
                scores = np.zeros((n, len(qids)), dtype=np.float64)
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
                    # occupying a top-R slot of its own batch would
                    # push out the batch's R-th best real candidate
                    by_id = order_ids[ids[order_ids] != qids[qi]]
                    # sort by (-score, vec_id): stable argsort on vec_id
                    # order first, then stable sort by -score
                    top = by_id[np.argsort(-s_q[by_id],
                                           kind="stable")[:rerank]]
                    out_q += [int(qids[qi])] * len(top)
                    out_v += [int(i) for i in ids[top]]
                    out_s += [float(x) for x in s_q[top]]
                yield pa.RecordBatch.from_arrays(
                    [pa.array(out_q, type=pa.int64()),
                     pa.array(out_v, type=pa.int64()),
                     pa.array(out_s, type=pa.float64())],
                    ["query_id", "vec_id", "adc"])

        return df.select("vec_id", "v").mapInArrow(
            compute, "query_id long, vec_id long, adc double")

    partials = score_batches(emb)
    wq = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("vec_id"))
    cand = (partials.withColumn("r", F.row_number().over(wq))
            .filter(F.col("r") <= rerank)
            .select("query_id", "vec_id"))

    queries = spark.createDataFrame(
        [(r["vec_id"], r["v"]) for r in qrows],
        "query_id long, qv array<double>")
    scored = (
        cand.join(emb, "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "vec_id",
                F.round(_dot("qv", "v") / (_norm2("qv") * _norm2("v")), 6)
                .alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
        .orderBy("query_id", "rank")
    )

"""Scale-adaptive input-parallelism repair (optimization guide §2.5/§6).

The driver-generated testdata tables are single parquet files far below
``spark.sql.files.maxPartitionBytes``, so every scan yields ONE input
partition — and with it, every pre-shuffle map stage (the Python kernel
``mapInArrow`` pass, regex tokenization, explode + partial aggregation)
runs on one core of the machine.  AQE cannot help: it only coalesces
*post*-shuffle partitions, and its byte-based sizing is blind to
downstream per-row compute (a 1 MB batch of documents is minutes of
Python kernel work).

``spread_input`` repairs that at the source: one narrow round-robin
exchange of the freshly-scanned rows up to the session's parallelism.
The shuffle moves only the small scanned table once; the map work after
it scales with cores.  The target is the session's ``defaultParallelism``
(total executor cores on a cluster; ``spark.default.parallelism`` sets
it), so a deployment sizes it with Spark's own setting instead of a
local constant.  Determinism: Spark's sort-before-repartition
(``spark.sql.execution.sortBeforeRepartition``, on by default) makes the
row-to-partition assignment reproducible under task retry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def parquet_rows(path: str) -> int | None:
    """Row count from parquet footer metadata — no Spark job (~ms).

    Returns None for filesystems pyarrow cannot reach (hdfs://, dbfs:/);
    callers then fall back to full-width spreading.
    """
    try:
        import pyarrow.dataset as ds

        return ds.dataset(path).count_rows()
    except Exception:
        return None


def spread_input(df: DataFrame, by: str | None = None,
                 rows: int | None = None,
                 rows_per_task: int = 256) -> DataFrame:
    """Round-robin (or hash, with ``by``) repartition of a small scanned
    input to the session's ``defaultParallelism``, so expensive map
    stages that follow are not serialized onto the scan's single input
    split.

    With ``by`` the exchange is hash partitioning on that column with an
    EXPLICIT partition count — AQE leaves explicit counts alone, which
    is the point: the byte-based coalescer would fold the tiny exchange
    back to one partition and re-serialize the downstream compute.

    When ``rows`` is known (parquet footer, or a caller-side limit), the
    target is capped at ``ceil(rows / rows_per_task)``: every Python-
    boundary task carries a fixed CPU cost before its first row.  PySpark's
    ``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``
    before each task, which re-reads the central directory of every
    cached zip finder: on a 4-core box with Python 3.11.7 that was
    ~0.24 s of Python-worker CPU per task (a no-op ``mapInArrow`` over
    this exchange, 4 tasks: 0.97 s per pass).  Every task body of this
    package first calls ``functions.udfs.evict_pyspark_zip_finders``,
    which drops the finders of Spark's own archives, so a task that
    follows one on the same worker costs ~0.024 s (0.095 s per pass).
    The fixed cost still counts: fanning 200 rows across 32 tasks was
    measured at +2 s on a 3-Python-stage query before the eviction, and
    pure-JVM consumers pay ~0.3-0.4 s per query for 32 near-empty tasks
    (measured across the cheap dedup/corpus aggregations).  256
    rows/task balanced the two at bench scale against the old per-task
    cost; unbounded inputs spread to full width — the safe direction at
    scale.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if rows is not None:
        target = max(1, min(target, -(-rows // rows_per_task)))
    if by is not None:
        return df.repartition(target, F.col(by))
    return df.repartition(target)

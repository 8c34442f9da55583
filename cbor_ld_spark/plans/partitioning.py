"""Input-parallelism repair for single-split scans (optimization guide §2.5/§6).

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
    callers then fall back to full width.
    """
    try:
        import pyarrow.dataset as ds

        return ds.dataset(path).count_rows()
    except Exception:
        return None


def spread_input(df: DataFrame, by: str | None = None) -> DataFrame:
    """Round-robin (or hash, with ``by``) repartition of a small scanned
    input to the session's ``defaultParallelism``, so expensive map
    stages that follow are not serialized onto the scan's single input
    split.

    With ``by`` the exchange is hash partitioning on that column with an
    EXPLICIT partition count — AQE leaves explicit counts alone, which
    is the point: the byte-based coalescer would fold the tiny exchange
    back to one partition and re-serialize the downstream compute.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if by is not None:
        return df.repartition(target, F.col(by))
    return df.repartition(target)

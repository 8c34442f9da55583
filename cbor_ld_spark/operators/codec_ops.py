"""Column-level codec operators: CBOR-LD bytes as DataFrame columns.

The reference CLI's byte-level surface (encode to CBOR bytes, optional
hex framing ``-x``, decode back — reference: src/bin/main.rs:156-186)
as column transforms: ``encode_column`` produces a ``binary`` CBOR-LD
column (+ error quarantine), hex framing is the JVM built-ins
``F.hex``/``F.unhex`` (S2), and ``decode_column`` inverts.

Use these when the *compressed bytes themselves* are the product (e.g.
materializing a CBOR-LD column into Iceberg for barcode issuance) rather
than the graph view.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    DataType,
    StringType,
    StructField,
    StructType,
)

from ..functions.udfs import python_task
from ..kernel import (
    CborLdError,
    canonical_json,
    decode_document,
    encode_document,
    parse_json_document,
)


def _quarantined(fn, value) -> tuple:
    """``(fn(value), None)``, or ``(None, error kind)`` when it raises:
    a ``CborLdError``'s ``kind``, else the exception's type name."""
    try:
        return fn(value), None
    except CborLdError as e:
        return None, e.kind
    except Exception as e:  # noqa: BLE001 — one value never kills a task
        return None, type(e).__name__


def _quarantine_udf(fn, name: str, dtype: DataType):
    """An ``arrow_udf`` over one column: ``struct<name, error_kind>``
    holding ``_quarantined(fn, value)`` for each value."""
    from pyspark.sql.functions import arrow_udf

    result = StructType([StructField(name, dtype, True),
                         StructField("error_kind", StringType(), True)])

    @arrow_udf(result)
    @python_task
    def run(arrays: Iterator[pa.Array]) -> Iterator[pa.Array]:
        from pyspark.sql.pandas.types import to_arrow_type

        arrow = to_arrow_type(result)
        for a in arrays:
            yield pa.array([_quarantined(fn, v) for v in a.to_pylist()],
                           type=arrow)

    return run


def encode_column(df: DataFrame, content_col: str = "content",
                  registry_id: int = 1) -> DataFrame:
    """Add ``cbor`` (binary), ``cbor_hex``, ``encode_error`` columns."""
    r = _quarantine_udf(
        lambda c: encode_document(c, registry_id=registry_id),
        "cbor", BinaryType())(F.col(content_col))
    return (
        df.withColumn("_r", r)
        .withColumn("cbor", F.col("_r.cbor"))
        .withColumn("encode_error", F.col("_r.error_kind"))
        .drop("_r")
        .withColumn("cbor_hex", F.lower(F.hex("cbor")))
    )


def decode_column(df: DataFrame, cbor_col: str = "cbor") -> DataFrame:
    """Add ``json`` (canonical string) + ``decode_error`` columns."""
    r = _quarantine_udf(
        lambda b: canonical_json(decode_document(bytes(b))),
        "json", StringType())(F.col(cbor_col))
    return (
        df.withColumn("_r", r)
        .withColumn("json", F.col("_r.json"))
        .withColumn("decode_error", F.col("_r.error_kind"))
        .drop("_r")
    )


def hex_roundtrip_check(df: DataFrame, content_col: str = "content",
                        registry_id: int = 1) -> DataFrame:
    """Full byte surface: encode -> hex -> unhex -> decode -> compare.

    ``hex_roundtrip_ok`` is true only when the decoded document is
    canonically *equal* to the original source — the real invariant, not
    just decode-didn't-error.  Exercises the CLI's -x framing path (S2)
    via JVM hex/unhex.
    """
    enc = encode_column(df, content_col, registry_id)
    framed = enc.withColumn("cbor2", F.unhex("cbor_hex"))
    # framed feeds both the ok-branch and the failed-branch below; without a
    # materialization barrier Spark recomputes the whole encode UDF once per
    # branch (verified duplicate ArrowEvalPython subtrees in .explain()).
    # localCheckpoint() runs the encode exactly once; ContextCleaner reclaims
    # the blocks when the frame is GC'd, so callers need no unpersist.
    framed = framed.localCheckpoint(eager=False)
    dec = decode_column(framed.filter(F.col("cbor").isNotNull()), "cbor2")
    canon_src = _quarantine_udf(
        lambda c: canonical_json(parse_json_document(c)),
        "json", StringType())(F.col(content_col))
    dec = dec.withColumn("canon_src", canon_src["json"])
    ok_rows = dec.withColumn(
        "hex_roundtrip_ok",
        F.col("decode_error").isNull() &
        (F.col("json") == F.col("canon_src")))
    # keep encode-failed rows (ok=false) instead of silently dropping
    # them — otherwise aggregate health over the result over-reports
    failed = (framed.filter(F.col("cbor").isNull())
              .withColumn("json", F.lit(None).cast("string"))
              .withColumn("decode_error", F.lit(None).cast("string"))
              .withColumn("canon_src", F.lit(None).cast("string"))
              .withColumn("hex_roundtrip_ok", F.lit(False)))
    return ok_rows.unionByName(failed.select(*ok_rows.columns))

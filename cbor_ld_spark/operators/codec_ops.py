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

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
)

from ..functions.udfs import python_task

ENCODE_RESULT = StructType([
    StructField("cbor", BinaryType(), True),
    StructField("error_kind", StringType(), True),
])

DECODE_RESULT = StructType([
    StructField("json", StringType(), True),
    StructField("error_kind", StringType(), True),
])


def _encode_udf(registry_id: int):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(ENCODE_RESULT)
    @python_task
    def enc(contents: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        from cbor_ld_spark.kernel import CborLdError, encode_document

        for s in contents:
            cbor, err = [], []
            for c in s:
                try:
                    cbor.append(encode_document(c, registry_id=registry_id))
                    err.append(None)
                except CborLdError as e:
                    cbor.append(None)
                    err.append(e.kind)
                except Exception as e:
                    cbor.append(None)
                    err.append(type(e).__name__)
            yield pd.DataFrame({"cbor": cbor, "error_kind": err})

    return enc


def _decode_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(DECODE_RESULT)
    @python_task
    def dec(blobs: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        from cbor_ld_spark.kernel import (
            CborLdError,
            canonical_json,
            decode_document,
        )

        for s in blobs:
            out, err = [], []
            for b in s:
                try:
                    out.append(canonical_json(decode_document(bytes(b))))
                    err.append(None)
                except CborLdError as e:
                    out.append(None)
                    err.append(e.kind)
                except Exception as e:
                    out.append(None)
                    err.append(type(e).__name__)
            yield pd.DataFrame({"json": out, "error_kind": err})

    return dec


def encode_column(df: DataFrame, content_col: str = "content",
                  registry_id: int = 1) -> DataFrame:
    """Add ``cbor`` (binary), ``cbor_hex``, ``encode_error`` columns."""
    r = _encode_udf(registry_id)(F.col(content_col))
    return (
        df.withColumn("_r", r)
        .withColumn("cbor", F.col("_r.cbor"))
        .withColumn("encode_error", F.col("_r.error_kind"))
        .drop("_r")
        .withColumn("cbor_hex", F.lower(F.hex("cbor")))
    )


def decode_column(df: DataFrame, cbor_col: str = "cbor") -> DataFrame:
    """Add ``json`` (canonical string) + ``decode_error`` columns."""
    r = _decode_udf()(F.col(cbor_col))
    return (
        df.withColumn("_r", r)
        .withColumn("json", F.col("_r.json"))
        .withColumn("decode_error", F.col("_r.error_kind"))
        .drop("_r")
    )


def _canonical_source_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(StringType())
    @python_task
    def canon(contents: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from cbor_ld_spark.kernel import canonical_json, parse_json_document

        for s in contents:
            out = []
            for c in s:
                try:
                    out.append(canonical_json(parse_json_document(c)))
                except Exception:
                    out.append(None)
            yield pd.Series(out)

    return canon


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
    dec = dec.withColumn("canon_src", _canonical_source_udf()(F.col(content_col)))
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

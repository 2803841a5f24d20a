"""Multimodal binary-column plumbing + structured streaming tests."""

import pytest
from pyspark.sql import functions as F

from table_annotation_spark.operators import multimodal as mm
from table_annotation_spark.streaming import events_stream as es


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (1, "image", "image/png", bytearray(b"\x89PNG fake bytes 1"), 64, 64, None),
        (2, "image", "image/jpeg", bytearray(b"\xff\xd8 fake bytes 2"), 32, 32, None),
        (3, "audio", "audio/wav", bytearray(b"RIFF fake"), None, None, 2_000),
        (4, "video", "video/mp4", bytearray(b"ftyp fake"), 640, 360, 100),
        (5, "image", "image/png", bytearray(b""), 0, 0, None),  # corrupt
    ]
    return spark.createDataFrame(rows, schema=mm.MEDIA_SCHEMA)


class TestMultimodal:
    def test_feature_extraction(self, spark, media_df):
        feats = mm.extract_features(media_df).collect()
        by_id = {r["media_id"]: r for r in feats}
        assert set(by_id) == {1, 2, 3, 4}  # corrupt row 5 skipped
        assert all(len(r["feature"]) == mm.FEATURE_DIM for r in feats)
        assert all(0.0 <= x <= 1.0 for r in feats for x in r["feature"])

    def test_feature_determinism(self, spark, media_df):
        a = {r["media_id"]: r["feature"] for r in mm.extract_features(media_df).collect()}
        b = {r["media_id"]: r["feature"] for r in mm.extract_features(media_df).collect()}
        assert a == b

    def test_corrupt_raises_when_asked(self, spark, media_df):
        with pytest.raises(Exception, match="empty media payload"):
            mm.extract_features(media_df, on_error="raise").collect()


class TestStreaming:
    def test_windowed_counts_match_batch(self, spark, tmp_path):
        sf_dir = "/root/testdata/sf0.001"
        # file-source streams need a directory, not a single parquet file
        stream_dir = str(tmp_path / "events_stream")
        spark.read.parquet(f"{sf_dir}/events.parquet").write.parquet(stream_dir)
        stream = es.read_events_stream(spark, stream_dir)
        assert stream.isStreaming
        agg = es.windowed_event_counts(stream)
        q = es.run_to_memory(agg, "win_counts", output_mode="complete")
        q.awaitTermination(120)
        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["value_milli"])
            for r in spark.sql("select * from win_counts").collect()
        }
        batch = (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .groupBy(F.date_trunc("hour", "ts").alias("ws"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.floor(F.col("value") * 1000).cast("bigint")).alias("vm"),
            )
        )
        want = {
            (r["ws"], r["event_type"]): (r["n"], r["vm"]) for r in batch.collect()
        }
        assert got == want


class TestRealCodecs:
    """Pure-numpy BMP/WAV codecs: roundtrip + malformed-input contracts
    (no Spark needed). The end-to-end encode→decode hash gate is the driver
    oracle `multimodal_decode_real`."""

    def test_bmp_roundtrip(self):
        import numpy as np

        rng = np.random.default_rng(7)
        for w, h in [(1, 1), (3, 2), (16, 9), (5, 7)]:
            px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            out = mm.decode_bmp(mm.encode_bmp(px))
            assert out.shape == (h, w, 3)
            assert (out == px).all(), f"roundtrip mismatch at {w}x{h}"

    def test_bmp_padding_is_real(self):
        # w=3 → 9-byte rows padded to 12: a decoder ignoring padding reads
        # shifted pixels; this pins the stride handling
        import numpy as np

        px = np.arange(3 * 3 * 3, dtype=np.uint8).reshape(3, 3, 3)
        assert (mm.decode_bmp(mm.encode_bmp(px)) == px).all()

    def test_bmp_rejects_garbage(self):
        import pytest as _pytest

        for bad in [b"", b"BM", b"NOTABMP" * 20]:
            with _pytest.raises(ValueError):
                mm.decode_bmp(bad)

    def test_bmp_rejects_truncated_pixels(self):
        import numpy as np
        import pytest as _pytest

        full = mm.encode_bmp(np.zeros((4, 4, 3), dtype=np.uint8))
        with _pytest.raises(ValueError):
            mm.decode_bmp(full[:-5])

    def test_wav_roundtrip(self):
        import numpy as np

        smp = (np.arange(500, dtype=np.int64) * 173 % 65536 - 32768).astype(np.int16)
        rate, out = mm.decode_wav(mm.encode_wav(smp, sample_rate=16000))
        assert rate == 16000
        assert (out == smp).all()

    def test_wav_chunk_walk_skips_unknown_chunks(self):
        # a LIST chunk between fmt and data must not derail the parser
        import struct

        import numpy as np

        smp = np.array([1, -2, 3], dtype=np.int16)
        wav = mm.encode_wav(smp)
        fmt_end = 12 + 8 + 16
        extra = struct.pack("<4sI", b"LIST", 4) + b"INFO"
        patched = wav[:fmt_end] + extra + wav[fmt_end:]
        rate, out = mm.decode_wav(patched)
        assert rate == 8000 and (out == smp).all()

    def test_wav_rejects_stereo(self):
        import struct

        import numpy as np

        wav = bytearray(mm.encode_wav(np.array([0, 1], dtype=np.int16)))
        struct.pack_into("<H", wav, 12 + 8 + 2, 2)  # channels=2
        import pytest as _pytest

        with _pytest.raises(ValueError):
            mm.decode_wav(bytes(wav))

    def test_resize_bmp_nearest_neighbor(self):
        import numpy as np

        px = np.zeros((2, 2, 3), dtype=np.uint8)
        px[0, 0] = (255, 0, 0)
        px[0, 1] = (0, 255, 0)
        px[1, 0] = (0, 0, 255)
        px[1, 1] = (9, 9, 9)
        up = mm.decode_bmp(mm.resize_bmp_bytes(mm.encode_bmp(px), 4, 4))
        assert up.shape == (4, 4, 3)
        assert (up[0, 0] == (255, 0, 0)).all()
        assert (up[0, 3] == (0, 255, 0)).all()
        assert (up[3, 0] == (0, 0, 255)).all()
        assert (up[3, 3] == (9, 9, 9)).all()

    def test_resize_images_spark(self, spark, media_df):
        import numpy as np

        px = np.full((3, 5, 3), 42, dtype=np.uint8)
        rows = [(900, "image", "image/bmp", bytearray(mm.encode_bmp(px)), None, None, None)]
        bmp_df = spark.createDataFrame(rows, schema=mm.MEDIA_SCHEMA)
        out = mm.resize_images(bmp_df.unionByName(media_df), 8, 6)
        got = {r["media_id"]: r for r in out.collect()}
        assert got[900]["resized"] is True
        decoded = mm.decode_bmp(bytes(got[900]["payload"]))
        assert decoded.shape == (6, 8, 3) and (decoded == 42).all()
        # non-BMP payloads pass through un-resized
        assert all(not r["resized"] for k, r in got.items() if k != 900)


class TestStatefulSessionize:
    def test_streamed_closed_sessions_match_batch(self, spark, tmp_path):
        """sessionize_stream (applyInPandasWithState) ≡ batch sessionize:
        every emitted session must be byte-identical to a batch session, and
        every session the data definitely closed (a later event exists) MUST
        be emitted. A user's final session may or may not flush within the
        availableNow pass — it emits iff a later micro-batch's watermark
        passes its event-time timeout, which depends on how the file source
        splits batches — so the contract is closed ⊆ streamed ⊆ all, with
        the difference composed only of final (potentially-open)
        sessions."""
        import table_annotation_spark.operators.sessions as sess
        import table_annotation_spark.streaming.events_stream as es
        from pyspark.sql import functions as F

        sf_dir = "/root/testdata/sf0.001"
        stream_dir = str(tmp_path / "events_stream")
        spark.read.parquet(f"{sf_dir}/events.parquet").write.parquet(stream_dir)

        stream = es.read_events_stream(spark, stream_dir)
        q = es.run_to_memory(
            es.sessionize_stream(stream), "stream_sessions", output_mode="append"
        )
        q.awaitTermination()
        streamed = {
            tuple(r) for r in spark.sql(
                "select user_id, session_seq, n_events, first_event, last_event "
                "from stream_sessions"
            ).collect()
        }

        batch = sess.sessionize(spark, sf_dir)
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy(F.desc("session_seq"))
        ranked = batch.withColumn("_r", F.row_number().over(w))
        all_batch = {tuple(r) for r in ranked.drop("_r").collect()}
        closed_batch = {
            tuple(r) for r in ranked.where("_r > 1").drop("_r").collect()
        }
        final_batch = all_batch - closed_batch
        assert streamed, "stream emitted no closed sessions"
        # no invented sessions, none with wrong aggregates
        assert streamed <= all_batch, f"spurious: {sorted(streamed - all_batch)[:5]}"
        # every definitely-closed session was emitted
        assert closed_batch <= streamed, (
            f"missing closed: {sorted(closed_batch - streamed)[:5]}"
        )
        # whatever was withheld is exactly a subset of final sessions whose
        # timeout no later watermark reached
        assert (all_batch - streamed) <= final_batch


class TestStatefulSessionizeExact:
    def test_multi_restart_closed_set_equals_batch_exactly(self, spark, tmp_path):
        """Deterministic multi-pass harness for sessionize_stream: three
        sequential availableNow runs over a growing file-source dir sharing
        ONE checkpoint (run 1 = first half of events by time, run 2 = second
        half + a far-future sentinel event, run 3 = a later sentinel). The
        sentinels advance the watermark past every real session's event-time
        timeout, so the final open sessions MUST flush — the streamed closed
        set for real users equals batch ``sessionize`` output EXACTLY,
        timeout-flushed tail included (strengthens the ⊆ contract of
        test_streamed_closed_sessions_match_batch). Also exercises the
        late-event path: run 2's second half arrives after run 1 closed its
        watermark, and state recovery across query restarts."""
        import table_annotation_spark.operators.sessions as sess
        import table_annotation_spark.streaming.events_stream as es
        from pyspark.sql import functions as F

        sf_dir = "/root/testdata/sf0.001"
        stream_dir = str(tmp_path / "events_exact")
        ckpt_dir = str(tmp_path / "events_exact_ckpt")
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        schema = events.schema
        # parquet ts is TIMESTAMP_NTZ — route through timestamp for numerics
        epoch_col = F.unix_timestamp(F.col("ts").cast("timestamp"))
        median_ts = events.select(
            F.percentile_approx(epoch_col, 0.5).alias("m")
        ).collect()[0]["m"]
        max_ts = events.agg(F.max(F.col("ts").cast("timestamp"))).collect()[0][0]

        first = events.where(epoch_col <= median_ts)
        second = events.where(epoch_col > median_ts)

        def sentinel(days: int, eid: int):
            return spark.createDataFrame(
                [(eid, max_ts + __import__("datetime").timedelta(days=days),
                  -1, "sentinel", 0.0, "{}")],
                schema,
            )

        out_dir = str(tmp_path / "events_exact_out")

        def run_pass():
            # parquet sink: the only built-in sink that supports restarting
            # from an existing checkpoint (memory sink refuses recovery)
            q = (
                es.sessionize_stream(
                    es.read_events_stream(spark, stream_dir, schema=schema)
                )
                .writeStream.format("parquet")
                .outputMode("append")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt_dir)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        first.write.mode("append").parquet(stream_dir)
        run_pass()
        second.unionByName(sentinel(30, 10_000_001)).write.mode("append").parquet(
            stream_dir
        )
        run_pass()
        sentinel(60, 10_000_002).write.mode("append").parquet(stream_dir)
        run_pass()

        out = {tuple(r) for r in spark.read.parquet(out_dir).collect()}
        streamed_real = {t for t in out if t[0] != -1}
        batch = {
            tuple(r) for r in sess.sessionize(spark, sf_dir).collect()
        }
        assert streamed_real == batch, (
            f"missing: {sorted(batch - streamed_real)[:5]} "
            f"spurious: {sorted(streamed_real - batch)[:5]}"
        )


class TestStreamingTopK:
    def test_multi_restart_topk_equals_batch_exactly(self, spark, tmp_path):
        """3 sequential availableNow runs over a growing file-source dir
        sharing ONE checkpoint (first half by time / second half + far-
        future sentinel / later sentinel — same harness as
        TestStatefulSessionizeExact). The sentinels advance the watermark
        past every real window, so every real window finalizes and its
        top-k is emitted exactly once; the streamed top-k set for real
        windows must equal the batch rank-per-window EXACTLY, including
        the last (otherwise-open) hour."""
        import table_annotation_spark.streaming.events_stream as es2
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        sf_dir = "/root/testdata/sf0.001"
        stream_dir = str(tmp_path / "topk_events")
        ckpt_dir = str(tmp_path / "topk_ckpt")
        out_dir = str(tmp_path / "topk_out")
        K = 3

        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        schema = events.schema
        epoch_col = F.unix_timestamp(F.col("ts").cast("timestamp"))
        median_ts = events.select(
            F.percentile_approx(epoch_col, 0.5).alias("m")
        ).collect()[0]["m"]
        max_ts = events.agg(F.max(F.col("ts").cast("timestamp"))).collect()[0][0]
        first = events.where(epoch_col <= median_ts)
        second = events.where(epoch_col > median_ts)

        def sentinel(days: int, eid: int):
            return spark.createDataFrame(
                [(eid, max_ts + __import__("datetime").timedelta(days=days),
                  -1, "sentinel", 0.0, "{}")],
                schema,
            )

        def run_pass():
            q = es2.windowed_topk_stream(
                es2.read_events_stream(spark, stream_dir, schema=schema),
                out_dir, ckpt_dir, k=K,
            )
            q.awaitTermination()

        first.write.mode("append").parquet(stream_dir)
        run_pass()
        second.unionByName(sentinel(30, 20_000_001)).write.mode("append").parquet(
            stream_dir
        )
        run_pass()
        sentinel(60, 20_000_002).write.mode("append").parquet(stream_dir)
        run_pass()

        streamed = {
            tuple(r)
            for r in spark.read.parquet(out_dir)
            .where(F.col("event_type") != "sentinel")
            .collect()
        }
        w = Window.partitionBy("window_start").orderBy(
            F.desc("n_events"), F.asc("event_type")
        )
        batch = {
            tuple(r)
            for r in events.groupBy(
                F.date_trunc("hour", F.col("ts").cast("timestamp"))
                .alias("window_start"),
                "event_type",
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
            .withColumn("rank", F.row_number().over(w).cast("bigint"))
            .where(F.col("rank") <= K)
            .collect()
        }
        assert streamed == batch, (
            f"missing: {sorted(batch - streamed)[:5]} "
            f"spurious: {sorted(streamed - batch)[:5]}"
        )


class TestStreamingDedup:
    def test_duplicated_stream_collapses_to_batch_distinct(self, spark, tmp_path):
        """Write the events table into the stream dir TWICE (two files,
        identical rows): dropDuplicatesWithinWatermark must emit every
        event exactly once — the streamed set equals the batch table."""
        sf_dir = "/root/testdata/sf0.001"
        stream_dir = str(tmp_path / "dup_events")
        events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "event_id", "ts", "user_id", "event_type"
        )
        events.coalesce(1).write.mode("append").parquet(stream_dir)
        events.coalesce(1).write.mode("append").parquet(stream_dir)

        stream = es.read_events_stream(spark, stream_dir)
        deduped = es.dedup_stream(stream).select(
            "event_id", "user_id", "event_type"
        )
        q = es.run_to_memory(deduped, "dedup_stream_t")
        q.awaitTermination()
        got = {
            tuple(r)
            for r in spark.sql("select * from dedup_stream_t").collect()
        }
        want = {
            tuple(r)
            for r in events.select("event_id", "user_id", "event_type").collect()
        }
        assert got == want

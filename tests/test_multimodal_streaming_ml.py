"""Tests for the multimodal plumbing, the Structured Streaming wing and
the one-vs-one ML pipeline."""

from __future__ import annotations

import os
import tempfile
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming.query import StreamingQuery

from map_reduce_engine_cdps_spark.multimodal.binary import (
    FEATURE_DIM,
    extract_features,
    synth_media_df,
)
from map_reduce_engine_cdps_spark.operators.mlpipeline import train_one_vs_one
from map_reduce_engine_cdps_spark.plans.registry import get_query
from map_reduce_engine_cdps_spark.streaming.windows import (
    streaming_click_purchase_join,
    streaming_window_counts,
)


def ppm_encode(arr) -> bytes:
    """(H, W, 3) uint8-valued array → binary PPM (P6) payload: the
    fixture-side inverse of `multimodal.binary._ppm_decode`."""
    h, w = arr.shape[0], arr.shape[1]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype("uint8").tobytes()


def test_media_feature_extraction_plumbing(spark):
    media = synth_media_df(spark, n=32, partitions=4)
    feats = extract_features(media, decode="fake")
    rows = feats.collect()
    assert len(rows) == 32
    for r in rows:
        assert len(r["features"]) == FEATURE_DIM
        assert r["n_bytes"] > 0
    # determinism across runs / partitionings
    again = {
        r["media_id"]: r["features"]
        for r in extract_features(media.repartition(2), decode="fake").collect()
    }
    for r in rows:
        assert again[r["media_id"]] == r["features"]


def test_media_real_decode_is_stubbed(spark):
    """There is no "real" mode: it is rejected when the plan is built."""
    media = synth_media_df(spark, n=2, partitions=1)
    with pytest.raises(ValueError, match="unknown decode mode"):
        extract_features(media, decode="real")


def _tiny_png(width: int, height: int, rgb: tuple) -> bytes:
    """Hand-rolled minimal 8-bit RGB PNG (no Pillow needed to WRITE)."""
    import struct
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        body = tag + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    row = b"\x00" + bytes(rgb) * width  # filter byte 0 + pixels
    idat = zlib.compress(row * height)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def test_pillow_decode_requires_pillow_or_works(spark):
    """decode='pillow' either refuses cleanly (no Pillow in container)
    or produces real decoded features from a genuine PNG payload."""
    from map_reduce_engine_cdps_spark.multimodal.binary import pillow_available

    png = _tiny_png(4, 2, (255, 0, 0))
    media = spark.createDataFrame(
        [(0, bytearray(png), None)], schema=synth_media_df(spark, n=1).schema
    )
    if not pillow_available():
        with pytest.raises(ImportError, match="Pillow"):
            extract_features(media, decode="pillow")
        return
    rows = extract_features(media, decode="pillow").collect()
    assert len(rows) == 1 and len(rows[0]["features"]) == FEATURE_DIM
    assert all(0.0 <= v <= 1.0 for v in rows[0]["features"])


def test_pillow_decode_pads_to_square():
    """Reference semantics: non-square input is centered on a white
    square canvas before the LANCZOS resize (plants_classifier.py)."""
    from map_reduce_engine_cdps_spark.multimodal.binary import (
        _pillow_decode,
        pillow_available,
    )

    if not pillow_available():
        pytest.skip("Pillow not installed in this container")
    arr = _pillow_decode(_tiny_png(4, 2, (0, 0, 255)), size=(224, 224))
    assert arr.shape == (224, 224, 3)
    # corners come from the white padding above/below the wide image
    assert arr[0, 0].tolist() == [255.0, 255.0, 255.0]
    assert arr[-1, -1].tolist() == [255.0, 255.0, 255.0]
    # center row comes from the blue source image
    assert arr[112, 112, 2] > arr[112, 112, 0]


def test_pixel_grid_features_shape_and_range():
    import numpy as np

    from map_reduce_engine_cdps_spark.multimodal.binary import (
        _pixel_grid_features,
    )

    arr = np.zeros((224, 224, 3), dtype=np.float32)
    arr[:112] = 255.0  # top half white, bottom half black
    feats = _pixel_grid_features(arr)
    assert feats.shape == (FEATURE_DIM,)
    assert feats[:8].tolist() == [1.0] * 8  # top two grid rows
    assert feats[8:].tolist() == [0.0] * 8  # bottom two grid rows


def test_media_metadata_stays_typed(spark):
    media = synth_media_df(spark, n=4, partitions=1)
    meta = media.select("media_id", "meta.mime", "meta.n_bytes").collect()
    assert all(r["mime"] == "image/fake" and r["n_bytes"] > 0 for r in meta)


@pytest.mark.parametrize(
    "batch_query, stream_query",
    [
        pytest.param(b, s, id=s)
        for b, s in [
            ("tumbling_window_counts", "streaming_window_counts"),
            ("sliding_distinct_users", "streaming_sliding_distinct"),
            ("click_purchase_within_1h", "streaming_click_purchase_join"),
        ]
    ],
)
def test_streaming_twin_matches_batch(spark, sf_dir, batch_query, stream_query):
    """Each streaming twin shares its batch query's oracle, so the two
    execution modes must return the same rows."""
    batch = get_query(batch_query)(spark, sf_dir)
    streamed = get_query(stream_query)(spark, sf_dir)
    assert streamed.columns == batch.columns
    rows = Counter(map(tuple, batch.collect()))
    assert rows
    assert Counter(map(tuple, streamed.collect())) == rows


def test_stream_drain_raises_and_stops_on_timeout(spark, sf_dir, monkeypatch):
    """A stream still running at the drain timeout must not hand back a
    half-filled memory table, nor keep running."""
    monkeypatch.setattr(StreamingQuery, "awaitTermination", lambda self, timeout=None: False)
    with pytest.raises(RuntimeError, match="streaming_window_counts_out"):
        streaming_window_counts(spark, sf_dir)
    assert spark.streams.active == []


def test_stream_reads_leave_no_temp_dirs(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert streaming_click_purchase_join(spark, sf_dir).count() > 0
    assert not [p for p in os.listdir(tmp_path) if p.startswith("events_stream_")]


def test_one_vs_one_training(spark, sf_dir, tmp_path):
    trained = train_one_vs_one(spark, sf_dir, model_dir=str(tmp_path / "models"))
    rows = trained.collect()
    labels = {r["label_a"] for r in rows} | {r["label_b"] for r in rows}
    n = len(labels)
    assert len(rows) == n * (n - 1) // 2  # C(n,2) pairs, reference §F4
    for r in rows:
        assert 0.0 <= r["train_acc"] <= 1.0
        assert r["n_samples"] > 0
        assert r["pair_key"] == f"{r['label_a']}_{r['label_b']}"
    # deterministic trainer: rerun a second time, identical metrics
    again = {r["pair_key"]: r for r in train_one_vs_one(spark, sf_dir).collect()}
    for r in rows:
        assert again[r["pair_key"]]["coef_norm"] == r["coef_norm"]
        assert again[r["pair_key"]]["train_acc"] == r["train_acc"]


def test_sample_frames_bounded_fanout(spark):
    from map_reduce_engine_cdps_spark.multimodal.binary import (
        FRAME_BYTES,
        sample_frames,
        synth_media_df,
    )

    media = synth_media_df(spark, n=16, partitions=4)
    frames = sample_frames(media, every_n=2, max_frames=3)
    rows = frames.collect()
    assert rows, "no frames sampled"
    per_media = {}
    for r in rows:
        per_media.setdefault(r["media_id"], []).append(r)
        assert len(r["frame_features"]) == 16
        assert r["frame_idx"] % 2 == 0  # stride respected
    assert all(len(v) <= 3 for v in per_media.values())  # cap respected
    # determinism: same payload slice → same features
    again = {(r["media_id"], r["frame_idx"]): r["frame_features"]
             for r in sample_frames(media, every_n=2, max_frames=3).collect()}
    for r in rows:
        assert again[(r["media_id"], r["frame_idx"])] == r["frame_features"]


def test_sample_frames_real_decode_raises(spark):
    import pytest as _pytest

    from map_reduce_engine_cdps_spark.multimodal.binary import (
        sample_frames,
        synth_media_df,
    )

    media = synth_media_df(spark, n=4, partitions=2)
    with _pytest.raises(ValueError, match="unknown decode mode"):
        sample_frames(media, decode="real")


def test_window_audio_bounded_fanout_and_features(spark):
    import math

    from map_reduce_engine_cdps_spark.multimodal.binary import (
        synth_media_df,
        window_audio,
    )

    media = synth_media_df(spark, n=16, partitions=4)
    rows = window_audio(media, window_samples=32, max_windows=3).collect()
    assert rows, "no audio windows produced"
    per_media = {}
    for r in rows:
        per_media.setdefault(r["media_id"], []).append(r)
        assert 1 <= r["n_samples"] <= 32
        assert 0.0 <= r["rms"] <= 1.0 and 0.0 <= r["peak"] <= 1.0
        assert r["peak"] >= r["rms"] - 1e-12  # peak bounds RMS
        assert not math.isnan(r["rms"])
    assert all(len(v) <= 3 for v in per_media.values())  # cap respected
    # determinism across runs
    again = {(r["media_id"], r["window_idx"]): (r["rms"], r["peak"])
             for r in window_audio(media, window_samples=32, max_windows=3).collect()}
    for r in rows:
        assert again[(r["media_id"], r["window_idx"])] == (r["rms"], r["peak"])


def test_window_audio_real_decode_raises(spark):
    import pytest as _pytest

    from map_reduce_engine_cdps_spark.multimodal.binary import (
        synth_media_df,
        window_audio,
    )

    media = synth_media_df(spark, n=4, partitions=2)
    with _pytest.raises(ValueError, match="unknown decode mode"):
        window_audio(media, decode="real")


def test_streaming_checkpoint_incremental_restart(spark, sf_dir, tmp_path):
    """Exactly-once incremental restart: a checkpointed streaming agg is
    run to completion, new source files arrive, and the SAME checkpoint
    restarts the query — the second run must read only the new files
    (source offsets recovered) yet emit the full aggregate (state store
    recovered). This is the property that makes a 100 TB streaming
    backfill resumable instead of restart-from-zero."""
    from pyspark.sql import functions as F

    from map_reduce_engine_cdps_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    half1 = ev.filter(F.col("event_id") % 2 == 0)
    half2 = ev.filter(F.col("event_id") % 2 == 1)
    half1.write.mode("overwrite").parquet(src)
    n1 = half1.count()
    n2 = half2.count()
    schema = spark.read.parquet(src).schema

    def run_round(name: str):
        stream = spark.readStream.schema(schema).parquet(src)
        agg = stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        read = sum(
            int(p["numInputRows"]) for p in (q.recentProgress or [])
        )
        return spark.table(name), read

    out1, read1 = run_round("ckpt_restart_r1")
    assert read1 == n1
    got1 = {r["event_type"]: r["n"] for r in out1.collect()}
    exp1 = {
        r["event_type"]: r["n"]
        for r in half1.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got1 == exp1

    # new files arrive; restart from the same checkpoint
    half2.write.mode("append").parquet(src)
    out2, read2 = run_round("ckpt_restart_r2")
    assert read2 == n2, f"restart re-read old files: {read2} rows, want {n2}"
    got2 = {r["event_type"]: r["n"] for r in out2.collect()}
    exp2 = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got2 == exp2


def test_image_dims_header_parsing(spark):
    """Real (not stubbed) metadata decode: PNG / GIF / JPEG dimensions
    parsed from genuine header bytes via the Arrow-batched UDF; garbage
    bytes come back null."""
    import struct

    from map_reduce_engine_cdps_spark.multimodal.binary import image_dims

    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", 640, 480) + b"\x08\x02\x00\x00\x00" + b"\x00" * 4
    )
    gif = b"GIF89a" + struct.pack("<HH", 320, 200)
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
        + struct.pack(">HH", 1080, 1920)  # height, width
        + b"\x03" + b"\x00" * 9
    )
    rows = [("png", png), ("gif", gif), ("jpeg", jpeg), ("junk", b"notanimage")]
    df = spark.createDataFrame(rows, "name string, content binary")
    got = {
        r["name"]: (r["img_format"], r["img_width"], r["img_height"])
        for r in image_dims(df).collect()
    }
    assert got["png"] == ("png", 640, 480)
    assert got["gif"] == ("gif", 320, 200)
    assert got["jpeg"] == ("jpeg", 1920, 1080)
    assert got["junk"] == (None, None, None)


def test_dhash_properties(spark, sf_dir):
    from map_reduce_engine_cdps_spark.multimodal.binary import (
        _dhash_from_bytes,
        image_dhash_dedup,
    )

    a = bytes(range(256)) * 4
    assert _dhash_from_bytes(a) == _dhash_from_bytes(bytes(a))  # deterministic
    # single-byte perturbation moves few hash bits (near-dup stays near)
    b = bytearray(a)
    b[100] ^= 0xFF
    ham = bin(_dhash_from_bytes(a) ^ _dhash_from_bytes(bytes(b))).count("1")
    assert ham <= 8, ham
    # structurally different payload lands far away
    c = bytes(reversed(a))
    assert bin(_dhash_from_bytes(a) ^ _dhash_from_bytes(c)).count("1") > 8
    # end-to-end over testdata: summary row is consistent
    row = image_dhash_dedup(spark, sf_dir).collect()[0]
    assert row["n_images"] >= row["n_distinct_hashes"] > 0
    assert row["n_removable"] == row["n_images"] - row["n_distinct_hashes"]


def test_ensemble_vote_accuracy(spark, sf_dir):
    from map_reduce_engine_cdps_spark.operators.mlpipeline import (
        ensemble_vote_accuracy,
    )

    rows = ensemble_vote_accuracy(spark, sf_dir).collect()
    n_labels = len(rows)
    assert n_labels >= 2
    overall = sum(r["vote_accuracy"] * r["n_samples"] for r in rows) / sum(
        r["n_samples"] for r in rows
    )
    # the one-vs-one ensemble must beat the random baseline decisively
    assert overall > 2.0 / n_labels, overall
    # deterministic end to end
    again = {r["label"]: r["vote_accuracy"] for r in ensemble_vote_accuracy(spark, sf_dir).collect()}
    assert all(again[r["label"]] == r["vote_accuracy"] for r in rows)


def test_one_vs_one_shim_matches_dataframe_path(spark, sf_dir):
    from map_reduce_engine_cdps_spark.operators.mlpipeline import (
        one_vs_one_shim,
        train_one_vs_one,
    )

    via_shim = {r["pair_key"]: r for r in one_vs_one_shim(spark, sf_dir).collect()}
    via_df = {r["pair_key"]: r for r in train_one_vs_one(spark, sf_dir).collect()}
    assert set(via_shim) == set(via_df)
    for k, s in via_shim.items():
        d = via_df[k]
        assert (s["n_samples"], s["train_acc"], s["coef_norm"], s["intercept"]) == (
            d["n_samples"], d["train_acc"], d["coef_norm"], d["intercept"]
        ), k


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed aggregation with a 10-minute watermark must
    drop events that arrive after the watermark passed their window:
    run 1 ingests fresh data (advancing the persisted watermark), run 2
    ingests a file of LATE events plus a fresh flush file. The late
    window must never be emitted, while a batch aggregation over the
    same files would count it."""
    import datetime as dt

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    base = dt.datetime(2026, 1, 1, 12, 0, 0)

    def mk(name, start, n):
        rows = [
            (i, start + dt.timedelta(seconds=10 * i), "click", 1.0)
            for i in range(n)
        ]
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string, value double"
        ).coalesce(1).write.mode("append").parquet(src)

    schema = "event_id long, ts timestamp, event_type string, value double"

    out_dir = str(tmp_path / "out")

    def run(name):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .withWatermark("ts", "10 minutes")
        )
        agg = (
            stream.groupBy(F.window("ts", "5 minutes").alias("win"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("ws"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r["ws"]: r["n"] for r in spark.read.parquet(out_dir).collect()}

    mk("fresh1", base + dt.timedelta(hours=2), 30)  # advances watermark
    out1 = run("wm_run1")
    late_start = base  # 2h behind the watermark by now
    mk("late", late_start, 30)
    mk("fresh2", base + dt.timedelta(hours=2, minutes=30), 10)  # flush
    out2 = run("wm_run2")

    emitted = set(out1) | set(out2)
    late_ws = late_start.strftime("%Y-%m-%d %H:%M:%S")
    assert all(not ws.startswith("2026-01-01 12:0") for ws in emitted), emitted
    assert late_ws not in emitted
    # control: a batch aggregation over the same files counts the late rows
    batch = (
        spark.read.schema(schema).parquet(src)
        .groupBy(F.window("ts", "5 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("ws"))
    )
    assert late_ws in {r["ws"] for r in batch.collect()}
    # fresh windows from run 1's file were eventually emitted
    fresh_ws = (base + dt.timedelta(hours=2)).strftime("%Y-%m-%d %H:%M:%S")
    assert fresh_ws in emitted, emitted


def test_ppm_decode_roundtrip_exact():
    """A 224x224 gradient PPM decodes to the original pixels exactly
    (header parse + raw-RGB reshape; resize is the identity mapping at
    the native size)."""
    import numpy as np

    from map_reduce_engine_cdps_spark.multimodal.binary import (
        _ppm_decode,
    )

    y, x = np.mgrid[0:224, 0:224]
    arr = np.stack([(y * 31 + x * 17 + c * 7) % 256 for c in range(3)], axis=2)
    out = _ppm_decode(ppm_encode(arr))
    assert out.shape == (224, 224, 3)
    assert np.array_equal(out, arr.astype(np.float32))


def test_ppm_decode_pads_nonsquare_on_white():
    """A 2x6 constant image centers on a white square canvas before the
    resize: decoded pixels are only {v, 255}, with white at the top/
    bottom bands and the constant in the middle rows."""
    import numpy as np

    from map_reduce_engine_cdps_spark.multimodal.binary import (
        _ppm_decode,
    )

    v = 40
    arr = np.full((2, 6, 3), v, dtype=np.uint8)  # h=2, w=6 → pad top/bottom
    out = _ppm_decode(ppm_encode(arr))
    assert set(np.unique(out)) == {float(v), 255.0}
    assert out[0, 0, 0] == 255.0 and out[-1, -1, -1] == 255.0  # corners white
    assert out[112, 112, 0] == float(v)  # center row is image content


def test_ppm_decode_handles_comments_and_value_range():
    import numpy as np

    from map_reduce_engine_cdps_spark.multimodal.binary import _ppm_decode

    arr = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    payload = b"P6\n# a comment\n4 4\n255\n" + arr.tobytes()
    out = _ppm_decode(payload, size=(4, 4))
    assert np.array_equal(out, arr.astype(np.float32))


def test_ppm_spark_pipeline_matches_local_decode(spark):
    """extract_features(decode='ppm') through Arrow equals the local
    decode+grid computation bit-for-bit, including a non-square image."""
    import numpy as np

    from map_reduce_engine_cdps_spark.multimodal.binary import (
        _pixel_grid_features,
        _ppm_decode,
        extract_features,
    )

    rng_imgs = []
    for i, (h, w) in enumerate([(8, 8), (5, 9), (16, 12)]):
        y, x = np.mgrid[0:h, 0:w]
        rng_imgs.append(((y * 13 + x * 29 + i * 3) % 256).astype(np.uint8))
    payloads = [
        ppm_encode(np.stack([g, g, g], axis=2)) for g in rng_imgs
    ]
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "media_id long, content binary",
    )
    rows = {
        r["media_id"]: list(r["features"])
        for r in extract_features(df, decode="ppm").collect()
    }
    for i, p in enumerate(payloads):
        expect = _pixel_grid_features(_ppm_decode(p)).tolist()
        assert rows[i] == expect, f"image {i} mismatch"


def test_conv2d_im2col_matches_naive_loop():
    """The im2col stride-2 valid convolution must equal a naive
    quadruple-loop conv on random input — this is the pin that makes
    the CNN forward pass 'real', not just deterministic."""
    import numpy as np

    from map_reduce_engine_cdps_spark.multimodal.binary import _conv2d_s2_valid

    rng = np.random.default_rng(7)
    x = rng.standard_normal((11, 9, 3))
    w = rng.standard_normal((4, 3, 3, 3))
    b = rng.standard_normal(4)
    got = _conv2d_s2_valid(x, w, b)
    oh, ow = (11 - 3) // 2 + 1, (9 - 3) // 2 + 1
    assert got.shape == (oh, ow, 4)
    for oy in range(oh):
        for ox in range(ow):
            for co in range(4):
                acc = b[co]
                for dy in range(3):
                    for dx in range(3):
                        for ci in range(3):
                            acc += x[oy * 2 + dy, ox * 2 + dx, ci] * w[co, ci, dy, dx]
                assert abs(got[oy, ox, co] - acc) < 1e-9


def test_cnn_forward_unit_norm_and_determinism():
    import numpy as np

    from map_reduce_engine_cdps_spark.multimodal.binary import (
        FEATURE_DIM,
        _cnn_forward,
    )

    rng = np.random.default_rng(3)
    arr = rng.integers(0, 256, size=(16, 16, 3)).astype(np.float64)
    f1, f2 = _cnn_forward(arr), _cnn_forward(arr.copy())
    assert f1.shape == (FEATURE_DIM,)
    assert np.array_equal(f1, f2)
    assert abs(np.sqrt(np.sum(f1 * f1)) - 1.0) < 1e-12


def test_cnn_spark_pipeline_matches_local_forward(spark):
    """cnn_embeddings through Arrow equals the local decode+forward
    bit-for-bit (weight singleton, batching, float32 cast included)."""
    import numpy as np

    from map_reduce_engine_cdps_spark.multimodal.binary import (
        CNN_INPUT_SIDE,
        _cnn_forward,
        _ppm_decode,
        cnn_embeddings,
    )

    rng = np.random.default_rng(11)
    payloads = [
        ppm_encode(rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8))
        for h, w in [(16, 16), (9, 13), (24, 24)]
    ]
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "media_id long, content binary",
    )
    rows = {
        r["media_id"]: list(r["features"]) for r in cnn_embeddings(df).collect()
    }
    size = (CNN_INPUT_SIDE, CNN_INPUT_SIDE)
    for i, p in enumerate(payloads):
        expect = _cnn_forward(_ppm_decode(p, size=size)).astype(np.float32).tolist()
        assert rows[i] == expect, f"image {i} mismatch"


def test_ppm_split_varied_frame_sizes_and_sampling(spark):
    """The container parse must walk real headers (frames of DIFFERENT
    sizes), and decode='ppm' sampling must take every_n-th frame up to
    max_frames with bit-parity to the local decode."""
    import numpy as np

    from map_reduce_engine_cdps_spark.multimodal.binary import (
        _pixel_grid_features,
        _ppm_decode,
        _ppm_split,
        sample_frames,
    )

    rng = np.random.default_rng(5)
    frames = [
        ppm_encode(rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8))
        for h, w in [(8, 8), (4, 6), (10, 10), (6, 4), (8, 12), (5, 5)]
    ]
    payload = b"".join(frames)
    assert _ppm_split(payload) == frames  # exact per-frame extents

    df = spark.createDataFrame(
        [(7, bytearray(payload))], "media_id long, content binary"
    )
    rows = sorted(
        (r["frame_idx"], list(r["frame_features"]))
        for r in sample_frames(df, every_n=2, max_frames=4, decode="ppm").collect()
    )
    assert [i for i, _ in rows] == [0, 2, 4]  # every 2nd of 6 frames
    for idx, feats in rows:
        expect = _pixel_grid_features(
            _ppm_decode(frames[idx], size=None)
        ).tolist()
        assert feats == expect


def test_wav_decode_roundtrip_and_chunk_walk():
    """RIFF/WAVE parse must recover random PCM-16 samples exactly,
    skip unknown chunks, and honor word alignment for odd-size chunks."""
    import struct

    import numpy as np

    from map_reduce_engine_cdps_spark.multimodal.binary import _wav_decode

    rng = np.random.default_rng(9)
    samples = rng.integers(-32768, 32768, size=137, dtype=np.int16)
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
    # odd-sized unknown chunk before fmt: parser must pad to word bound
    junk = b"JUNK" + struct.pack("<I", 3) + b"abc" + b"\x00"
    body = junk + b"fmt " + struct.pack("<I", 16) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    payload = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    out = _wav_decode(payload)
    assert np.array_equal(out, samples.astype(np.float64) / 32768.0)


def test_wav_spark_windows_match_local(spark):
    import struct

    import numpy as np

    from map_reduce_engine_cdps_spark.multimodal.binary import (
        _wav_decode,
        window_audio,
    )

    rng = np.random.default_rng(21)
    samples = rng.integers(-32768, 32768, size=200, dtype=np.int16)
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
    payload = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", 16)
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "media_id long, content binary"
    )
    rows = sorted(
        (r["window_idx"], r["n_samples"], r["rms"], r["peak"])
        for r in window_audio(df, decode="wav").collect()
    )
    pcm = _wav_decode(payload)
    assert [r[0] for r in rows] == [0, 1, 2, 3] and [r[1] for r in rows] == [64, 64, 64, 8]
    for idx, ns, rms, peak in rows:
        chunk = pcm[idx * 64 : idx * 64 + ns]
        assert rms == float(np.sqrt(np.mean(chunk * chunk)))
        assert peak == float(np.max(np.abs(chunk)))


def test_ppm_roundtrip_property():
    """Hypothesis: encode→decode is the identity for ANY image shape
    and pixel content (native-resolution mode)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from map_reduce_engine_cdps_spark.multimodal.binary import (
        _ppm_decode,
    )

    @settings(max_examples=50, deadline=None)
    @given(
        h=st.integers(1, 40),
        w=st.integers(1, 40),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(h, w, seed):
        rng = np.random.default_rng(seed)
        arr = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
        out = _ppm_decode(ppm_encode(arr), size=None)
        assert out.shape == (h, w, 3)
        assert np.array_equal(out, arr.astype(np.float32))

    check()


def test_wav_roundtrip_property():
    """Hypothesis: WAV encode→decode recovers ANY int16 sample vector
    exactly, with arbitrary unknown chunks interleaved."""
    import struct

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from map_reduce_engine_cdps_spark.multimodal.binary import _wav_decode

    @settings(max_examples=50, deadline=None)
    @given(
        n=st.integers(1, 500),
        seed=st.integers(0, 2**31 - 1),
        junk_len=st.integers(0, 9),
    )
    def check(n, seed, junk_len):
        rng = np.random.default_rng(seed)
        samples = rng.integers(-32768, 32768, size=n, dtype=np.int16)
        data = samples.tobytes()
        fmt = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
        junk = (
            b"LIST" + struct.pack("<I", junk_len)
            + bytes(junk_len) + (b"\x00" if junk_len % 2 else b"")
        )
        body = (
            b"fmt " + struct.pack("<I", 16) + fmt
            + junk
            + b"data" + struct.pack("<I", len(data)) + data
        )
        payload = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
        out = _wav_decode(payload)
        assert np.array_equal(out, samples.astype(np.float64) / 32768.0)

    check()


def test_wav_decode_rejects_stereo():
    """ADVICE r4: a stereo PCM-16 WAV must raise, not silently decode
    the interleaved L/R stream as mono."""
    import struct

    import numpy as np
    import pytest

    from map_reduce_engine_cdps_spark.multimodal.binary import _wav_decode

    samples = np.arange(64, dtype=np.int16)
    fmt = struct.pack("<HHIIHH", 1, 2, 16000, 64000, 4, 16)  # 2 channels
    body = b"fmt " + struct.pack("<I", 16) + fmt
    body += b"data" + struct.pack("<I", len(samples.tobytes())) + samples.tobytes()
    payload = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    with pytest.raises(ValueError, match="mono"):
        _wav_decode(payload)


def test_ppm_header_truncation_error_is_clear():
    """ADVICE r4: a truncated header raises 'truncated PPM header', not
    an opaque int() ValueError."""
    import pytest

    from map_reduce_engine_cdps_spark.multimodal.binary import _ppm_header

    with pytest.raises(ValueError, match="truncated PPM header"):
        _ppm_header(b"P6\n12 ", 0)
    with pytest.raises(ValueError, match="truncated PPM header"):
        _ppm_header(b"P6\n", 0)
    # whitespace-then-EOF after two tokens
    with pytest.raises(ValueError, match="truncated PPM header"):
        _ppm_header(b"P6\n8 8\n", 0)


def test_ppm_cnn_oracle_sql_is_lazy_and_resolves():
    """ADVICE r4: the 97-forward-pass oracle must not run at import
    time; the registry resolves the callable on ORACLE_SQL() access."""
    from map_reduce_engine_cdps_spark.multimodal import binary
    from map_reduce_engine_cdps_spark.plans import registry

    assert callable(binary.PPM_CNN_EMBEDDINGS_SQL)
    sql = registry.ORACLE_SQL()["ppm_cnn_embeddings"]
    assert isinstance(sql, str) and "feat_sum" in sql


def test_gd2_probe_shim_matches_dataframe_and_closed_form(spark, sf_dir):
    """The PROBE_ITERS registry probes: shim path ≡ applyInPandas path,
    and step-1 weights match the closed form -lr·avg((0.5-y)·x) that
    the unrolled DuckDB oracle replays (sigmoid(0)=0.5 for every
    sample at zero init)."""
    import numpy as np

    from map_reduce_engine_cdps_spark.operators.mlpipeline import (
        GD_LR,
        PROBE_ITERS,
        one_vs_one_metrics,
        one_vs_one_shim_probe,
    )
    from map_reduce_engine_cdps_spark.sources.readers import load_table

    via_df = {r["pair_key"]: r for r in one_vs_one_metrics(spark, sf_dir).collect()}
    via_shim = {
        r["pair_key"]: r for r in one_vs_one_shim_probe(spark, sf_dir).collect()
    }
    assert set(via_df) == set(via_shim)
    for k, d in via_df.items():
        s = via_shim[k]
        assert (s["n_samples"], s["train_acc"], s["coef_norm"], s["intercept"]) == (
            d["n_samples"], d["train_acc"], d["coef_norm"], d["intercept"]
        ), k
    # closed-form step-1 replay for one pair (labels 0, 1)
    emb = load_table(spark, sf_dir, "embeddings")
    rows = sorted(
        (r["vec_id"], np.asarray(r["embedding"], dtype=np.float64), r["label"])
        for r in emb.filter(emb.label.isin(0, 1)).collect()
    )
    x = np.vstack([v for _, v, _ in rows])
    y = np.array([1.0 if lab == 1 else 0.0 for _, _, lab in rows])
    w, b = np.zeros(x.shape[1]), 0.0
    for _ in range(PROBE_ITERS):
        p = 1.0 / (1.0 + np.exp(-np.clip(x @ w + b, -30, 30)))
        w -= GD_LR * (x.T @ (p - y) / len(y))
        b -= GD_LR * float(np.mean(p - y))
    got = via_df["0_1"]
    assert got["n_samples"] == len(y)
    assert abs(got["coef_norm"] - np.linalg.norm(w)) < 1e-3
    assert abs(got["intercept"] - b) < 1e-3


def test_ensemble_vote_probe_beats_baseline_and_is_deterministic(spark, sf_dir):
    from map_reduce_engine_cdps_spark.operators.mlpipeline import (
        ensemble_vote_probe,
    )

    rows = ensemble_vote_probe(spark, sf_dir).collect()
    n_labels = len(rows)
    assert n_labels >= 2
    overall = sum(r["vote_accuracy"] * r["n_samples"] for r in rows) / sum(
        r["n_samples"] for r in rows
    )
    # two GD steps give weak models (the probe certifies the vote
    # MACHINERY via its DuckDB replay, not model quality — the
    # 200-iter test above keeps the decisive 2/n bar); still must
    # edge out the random baseline
    assert overall > 1.0 / n_labels, overall
    again = {
        r["label"]: r["vote_accuracy"]
        for r in ensemble_vote_probe(spark, sf_dir).collect()
    }
    assert all(again[r["label"]] == r["vote_accuracy"] for r in rows)


def _wav_payload(samples) -> bytes:
    """Canonical 44-byte-header mono PCM-16 RIFF/WAVE payload."""
    import struct

    import numpy as np

    data = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def _payload_cases():
    import numpy as np

    from map_reduce_engine_cdps_spark.multimodal import binary as B

    image = ppm_encode(np.arange(72).reshape(4, 6, 3) * 3)
    video = b"".join(ppm_encode(np.full((4, 4, 3), v)) for v in (10, 10, 90))
    audio = _wav_payload([5] * 40 + [3000] * 20 + [5] * 40)
    raw = bytes(range(150))
    bad_ppm, bad_wav = "not a binary PPM", "not a RIFF/WAVE"
    # (operator, normal payload, rows of [NULL, normal], rows of the
    # empty payload or the error it raises); arrays pinned by their sum
    return {
        "extract_features-fake": (
            lambda df: B.extract_features(df, decode="fake"), raw,
            [(1, 0, None), (3, 150, 8.890196)], [(2, 0, 8.317647)],
        ),
        "extract_features-ppm": (
            lambda df: B.extract_features(df, decode="ppm"), image,
            [(1, 0, None), (3, 83, 9.80631)], bad_ppm,
        ),
        "cnn_embeddings": (
            B.cnn_embeddings, image,
            [(1, 0, None), (3, 83, 2.754749)], bad_ppm,
        ),
        "sample_frames-fake": (
            B.sample_frames, raw,
            [(3, 0, 8.682353)], [(2, 0, 8.317647)],
        ),
        "sample_frames-ppm": (
            lambda df: B.sample_frames(df, decode="ppm"), video,
            [(3, 0, 0.627451), (3, 2, 5.647059)], [],
        ),
        "window_audio-fake": (
            B.window_audio, raw,
            [(3, 0, 64, 0.28529, 0.492188), (3, 1, 64, 0.759924, 0.992188),
             (3, 2, 22, 0.919306, 1.0)], [],
        ),
        "window_audio-wav": (
            lambda df: B.window_audio(df, decode="wav"), audio,
            [(3, 0, 64, 0.05118, 0.091553), (3, 1, 36, 0.000153, 0.000153)],
            bad_wav,
        ),
        "detect_shot_boundaries": (
            B.detect_shot_boundaries, video, [(3, 2, 80.0)], [],
        ),
        "silence_segments": (
            B.silence_segments, audio, [(3, 5, 4, 2)], bad_wav,
        ),
    }


@pytest.mark.parametrize("case", sorted(_payload_cases()))
def test_payload_operators_null_empty_and_normal_rows(spark, case):
    """The NULL-payload contract of every (media_id, content) operator:
    a one-to-one operator emits n_bytes 0 and NULL features, a
    one-to-many operator emits nothing; an empty payload is decoded
    like any other (or raises the decoder's error)."""
    op, normal, rows, empty = _payload_cases()[case]

    def collect(pairs):
        df = spark.createDataFrame(pairs, "media_id long, content binary")
        return sorted(
            tuple(
                round(sum(v), 6) if isinstance(v, list)
                else round(v, 6) if isinstance(v, float) else v
                for v in r
            )
            for r in op(df.coalesce(1)).collect()
        )

    null, blank, full = (1, None), (2, bytearray()), (3, bytearray(normal))
    if isinstance(empty, str):
        assert collect([null, full]) == rows
        with pytest.raises(Exception, match=empty):
            collect([blank])
    else:
        assert collect([null, blank, full]) == sorted(rows + empty)


@pytest.mark.parametrize("case", sorted(_payload_cases()))
def test_payload_operators_accept_an_all_null_batch(spark, case):
    """A batch in which no payload yields a row still returns a typed
    frame: a one-to-many operator with an array column used to fail
    in Arrow on the untyped empty columns."""
    op, _normal, rows, _empty = _payload_cases()[case]
    df = spark.createDataFrame([(1, None)], "media_id long, content binary")
    assert [tuple(r) for r in op(df).collect()] == [r for r in rows if r[0] == 1]

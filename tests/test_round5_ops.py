"""Round-5 surface: PNG pixel codec, real feature kernels, projection-only
IVF cell assignment, budget determinism/precondition guards, Velocity
method calls + directive-regex regression, native session_window twin,
overwrite n_buckets validation."""

import json
import math

import pytest
from pyspark.sql import functions as F

from nifi_processors_spark.operators import multimodal as mm
from nifi_processors_spark.operators import similarity
from nifi_processors_spark.operators.budget import token_budget_select, with_running_total
from nifi_processors_spark.operators.template import parse_velocity, render_velocity
from nifi_processors_spark.streaming.stateful import sessions_batch, sessions_native


# ---------------- PNG pixel codec (pure stdlib) ----------------


def test_png_round_trip_all_filters():
    """Encoder cycles filter types y%5, so any height >= 5 exercises
    None/Sub/Up/Average/Paeth; decode must invert all of them."""
    for seed, w, h in [(0, 16, 16), (7, 33, 21), (101, 79, 63)]:
        payload = mm.png_bytes(w, h, seed=seed, pattern="arith")
        px, crc_ok = mm._png_pixels(payload)
        assert crc_ok and px.shape == (h, w, 3)
        for x, y, c in [(0, 0, 0), (w - 1, h - 1, 2), (w // 2, h // 2, 1)]:
            assert px[y, x, c] == mm.arith_px(seed, x, y, c)


def test_png_rand_matches_det_bytes():
    payload = mm.png_bytes(20, 17, seed=5, pattern="rand")
    px, crc_ok = mm._png_pixels(payload)
    assert crc_ok
    assert bytes(px.reshape(-1)) == mm._det_bytes(5, 20 * 17 * 3)


def test_png_crc_corruption_detected():
    bad = bytearray(mm.png_bytes(16, 16, seed=1))
    bad[20] ^= 0xFF  # inside IHDR data -> IHDR CRC mismatch
    d = mm._parse_image(bytes(bad))
    # either the CRC flag trips or the damage breaks decode loudly per-row
    assert d.get("crc_ok") is False or "decode_error" in d


def test_png_truncated_is_error_not_crash():
    p = mm.png_bytes(16, 16, seed=2)
    d = mm._parse_image(p[: len(p) // 2])
    assert "decode_error" in d


def test_bmp_pixels_undo_bottom_up_and_bgr():
    seed, w, h = 9, 20, 12
    px = mm._bmp_pixels(mm.bmp_bytes(w, h, seed=seed, pattern="arith"))
    # arith_px is defined in top-down image space with semantic RGB: if
    # the decoder forgot the flip or the BGR order these would differ
    assert px[0, 0, 0] == mm.arith_px(seed, 0, 0, 0)
    assert px[h - 1, 3, 2] == mm.arith_px(seed, 3, h - 1, 2)


# ---------------- real feature kernels ----------------


def test_image_features_exact():
    seed, w, h = 4, 20, 12
    fv = mm.image_feature_vec(mm.bmp_bytes(w, h, seed=seed, pattern="arith"))
    mean_r = sum(mm.arith_px(seed, x, y, 0) for x in range(w) for y in range(h)) / (w * h)
    sv = sum(mm.arith_px(seed, x, y, c) for x in range(w) for y in range(h) for c in range(3))
    svy = sum(
        mm.arith_px(seed, x, y, c) * y for x in range(w) for y in range(h) for c in range(3)
    )
    assert fv[0] == mean_r and fv[3] == svy / sv
    # same pattern through the PNG path -> identical features
    assert fv == mm.image_feature_vec(mm.png_bytes(w, h, seed=seed, pattern="arith"))


def test_audio_features_exact():
    seed, n = 9, 1600
    fv = mm.audio_feature_vec(mm.wav_bytes(16000, n, seed=seed, pattern="arith"))
    s = [mm.arith_sample(seed, i) for i in range(n)]
    assert fv[0] == math.sqrt(sum(v * v for v in s) / n)
    assert fv[1] == sum(1 for i in range(1, n) if (s[i - 1] >= 0) != (s[i] >= 0)) / (n - 1)
    assert fv[2] == sum(s) / n
    assert fv[3] == float(max(abs(v) for v in s))


def test_extract_features_dispatch_and_quarantine(spark):
    img = mm.synthetic_media(spark, 3, kind="image", pattern="arith")
    wav = mm.synthetic_media(spark, 3, kind="audio", pattern="arith")
    vid = mm.synthetic_media(spark, 3, kind="video")
    rows = {
        r["media_id"]: r["features"]
        for r in mm.extract_features(img.unionByName(wav).unionByName(vid), dim=4).collect()
    }
    assert all(v is not None and len(v) == 4 for v in rows.values())
    # garbage payload -> null features, stage survives
    bad = img.withColumn("payload", F.lit(b"\x00garbage"))
    out = mm.extract_features(bad, dim=4).collect()
    assert all(r["features"] is None for r in out)


# ---------------- y4m video codec ----------------


def test_y4m_round_trip():
    w, h, nf = 20, 12, 5
    p = mm.y4m_bytes(w, h, nf, fps=4, seed=3, pattern="arith")
    w2, h2, fps, frames = mm._y4m_frames(p)
    assert (w2, h2, fps, len(frames)) == (w, h, 4, nf)
    for f, x, y, c in [(0, 0, 0, 0), (nf - 1, w - 1, h - 1, 2), (2, 3, 5, 1)]:
        assert frames[f][c, y, x] == mm.arith_frame_px(3, f, x, y, c)


def test_y4m_garbage_and_truncation():
    p = mm.y4m_bytes(16, 16, 3, seed=1)
    with pytest.raises(ValueError):
        mm._y4m_frames(p[:100])
    with pytest.raises(ValueError):
        mm._y4m_frames(b"YUV4MPEG2 W16 H16 F4:1 C420\n")  # unsupported colorspace


def test_decode_video_and_sample_frames(spark):
    media = mm.synthetic_media(spark, 4, kind="video", pattern="arith")
    dec = {r["media_id"]: r for r in mm.decode_video(media).collect()}
    for mid, r in dec.items():
        assert r["format"] == "y4m" and r["decode_error"] is None
        assert r["n_frames"] == (mid % 9000 + 1000) * 4 // 1000
    frames = mm.sample_frames(media).collect()
    assert len(frames) == sum(r["n_frames"] for r in dec.values())
    # garbage payload -> zero rows, no stage failure
    bad = media.withColumn("payload", F.lit(b"\x00nope"))
    assert mm.sample_frames(bad).count() == 0
    assert mm.decode_video(bad).filter(F.col("decode_error").isNotNull()).count() == 4


def test_video_features_exact():
    w, h, nf, seed = 18, 10, 4, 7
    p = mm.y4m_bytes(w, h, nf, fps=4, seed=seed, pattern="arith")
    fv = mm.video_feature_vec(p)
    last_y = sum(
        mm.arith_frame_px(seed, nf - 1, x, y, 0) for x in range(w) for y in range(h)
    ) / (w * h)
    assert fv[0] == float(nf) and fv[3] == last_y


# ---------------- IVF: projection-only assignment ----------------


def test_assign_cells_no_exchange_and_correct(spark):
    vecs = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(8)),
                    lambda i: (F.pmod(F.col("id") * i, F.lit(17))).cast("double")
                    ).alias("embedding"),
    )
    assigned, cents = similarity.assign_cells(vecs, n_cells=4)
    plan = assigned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "Exchange" not in plan, plan  # the whole assignment is narrow
    # ground truth: brute-force nearest centroid, ties -> lowest cell
    cent_rows = {r["cell"]: r["centroid"] for r in cents.collect()}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na > 0 and nb > 0 else 0.0

    got = {r["vec_id"]: r["cell"] for r in assigned.collect()}
    vrows = {r["vec_id"]: r["embedding"] for r in vecs.collect()}
    for vid, emb in vrows.items():
        best = max(sorted(cent_rows), key=lambda c: (cos(emb, cent_rows[c]), -c))
        assert got[vid] == best, (vid, got[vid], best)


def test_ivf_index_probe_prunes_partitions(spark, tmp_path):
    vecs = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(8)),
                    lambda i: (F.pmod(F.col("id") * i, F.lit(13))).cast("double")
                    ).alias("embedding"),
    )
    path = str(tmp_path / "ivf")
    similarity.build_ivf_index(vecs, path, n_cells=6)
    queries = vecs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.ivf_topk_indexed(spark, path, queries, k=3, nprobe=2)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan
    assert out.count() > 0


# ---------------- budget guards ----------------


def test_budget_rejects_negative_values(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, -3), (3, 5)], "id long, tokens long"
    )
    with pytest.raises(ValueError, match="non-negative"):
        token_budget_select(df, "tokens", 12, [F.col("id")]).collect()


def test_running_total_still_exact(spark):
    df = spark.createDataFrame([(i, i % 7) for i in range(500)], "id long, v long")
    out = with_running_total(df, [F.col("id")], "v", num_partitions=8).collect()
    acc, expect = 0, {}
    for i in range(500):
        acc += i % 7
        expect[i] = acc
    for r in out:
        assert r["running_total"] == expect[r["id"]]


# ---------------- Velocity: directive regex + method calls ----------------


def test_else_with_parenthesized_literal(spark):
    df = spark.createDataFrame([("x",), (None,)], "a string")
    out = {
        (r["a"] or "-"): r["content"]
        for r in render_velocity(df, "#if($a)y#else (b)#end", out_col="content").collect()
    }
    assert out == {"x": "y", "-": " (b)"}


def test_end_with_trailing_parenthetical():
    ast = parse_velocity("#if($a)y#end (note)")
    assert ast[-1] == ("text", " (note)")


def test_malformed_structural_directives_still_raise():
    for bad in ["#set(no)", "#if(noDollar)", "#foreach($x in y)"]:
        with pytest.raises(ValueError):
            parse_velocity(bad)


def test_method_calls(spark):
    df = spark.createDataFrame([("  Hello World  ", "abc")], "a string, b string")
    tmpl = (
        "$a.trim()|$b.toUpperCase()|$b.length()|$b.substring(1)|"
        '$b.substring(0,2)|$a.replace("Hello","Bye")|$b.mystery()|$missing.trim()'
    )
    out = render_velocity(df, tmpl, out_col="c").collect()[0]["c"]
    assert out == (
        "Hello World|ABC|3|bc|ab|  Bye World  |$b.mystery()|$missing.trim()"
    )


def test_method_call_on_set_literal(spark):
    df = spark.createDataFrame([(1,)], "id long")
    out = render_velocity(df, '#set($x = "hi")$x.toUpperCase()', out_col="c")
    assert out.collect()[0]["c"] == "HI"


# ---------------- overwrite validation ----------------


def test_rebucket_rejects_zero_buckets(spark, tmp_path):
    from nifi_processors_spark.operators.apply import ChangeApplier
    from nifi_processors_spark.plans.table import IceliteTable

    ddl = (
        "repo string, path string, op string, commit string, commit_seq long, "
        "event_seq long, epoch long, payload_json string"
    )
    pj = json.dumps({"lang": "py", "content": "c"}, separators=(",", ":"))
    ev = [("a/r", f"f{i}.py", "I", "0" * 40, i, 0, 0, pj) for i in range(4)]
    cl = str(tmp_path / "cl")
    spark.createDataFrame(ev, ddl).write.partitionBy("epoch").parquet(cl)
    ap = ChangeApplier(spark, str(tmp_path / "t"), cl, str(tmp_path / "s"), n_buckets=2)
    ap.run()
    t = IceliteTable(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="n_buckets"):
        t.rebucket(0)


# ---------------- native session_window twin ----------------


def _norm_sessions(df):
    return sorted(
        (r["user_id"], r["session_id"], r["n_events"], r["start_us"], r["end_us"])
        for r in df.collect()
    )


def test_sessions_native_equals_batch_on_real_events(spark):
    ev = (
        spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        .select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
    )
    assert _norm_sessions(sessions_native(ev)) == _norm_sessions(sessions_batch(ev))


def test_sessions_native_exact_gap_boundary(spark):
    gap_ms = 1000
    rows = [
        (1, 0),
        (1, 1_000_000),      # delta == gap -> SAME session (split is delta > gap)
        (1, 2_000_001),      # delta == gap+1us -> NEW session
        (2, 50),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts_us long")
    native = _norm_sessions(sessions_native(ev, gap_ms=gap_ms))
    batch = _norm_sessions(sessions_batch(ev, gap_ms=gap_ms))
    assert native == batch
    assert (1, 0, 2, 0, 1_000_000) in native
    assert (1, 2_000_001, 1, 2_000_001, 2_000_001) in native

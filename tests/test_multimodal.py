"""Multimodal plumbing tests: binary columns through Arrow batches,
deterministic fake decode, frame-sampling plan, codec gating."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    return mm.synth_media(spark, 30).cache()


def test_synth_media_deterministic(spark, media):
    again = mm.synth_media(spark, 30)
    a = {(r.media_id, bytes(r.payload)) for r in media.collect()}
    b = {(r.media_id, bytes(r.payload)) for r in again.collect()}
    assert a == b
    kinds = {r.kind for r in media.collect()}
    assert kinds == {"image", "audio", "video"}


def test_media_features_fake_decode(media):
    feats = mm.media_features(media).collect()
    assert len(feats) == 30
    by_id = {r.media_id: r for r in feats}
    img = next(r for r in feats if r.kind == "image")
    assert img.n_bytes == 2048  # 32-byte digest hex-repeated 64x → binary
    assert img.n_samples == img.n_bytes  # uint8 fake decode
    aud = next(r for r in feats if r.kind == "audio")
    assert aud.n_samples == aud.n_bytes // 2  # int16 fake decode
    assert all(0 <= r.mean <= 255 or r.kind == "audio" for r in feats)
    # deterministic: same stats on re-run
    again = {r.media_id: (r.mean, r.std, r.p99) for r in mm.media_features(media).collect()}
    assert all(again[i] == (by_id[i].mean, by_id[i].std, by_id[i].p99) for i in by_id)


def test_media_features_requires_codec(media):
    with pytest.raises(Exception) as err:
        mm.media_features(media, require_real_codec=True).collect()
    assert "NotImplementedError" in str(err.value) or "no codec" in str(err.value)


def test_real_codec_request_fails_closed_even_with_codec_importable(monkeypatch):
    """No real decode path exists, so ``require_real_codec=True`` must
    raise even where a codec library would import — never fall through
    to the fake decode."""
    monkeypatch.setattr(mm, "_codec_available", lambda: True, raising=False)
    with pytest.raises(NotImplementedError):
        mm._decode_payload(b"\x01\x02", "image", True)
    assert list(mm._decode_payload(b"\x01\x02", "image", False)) == [1, 2]


def test_resize_requires_codec(media):
    with pytest.raises(Exception) as err:
        mm.resize_images(media, 32, require_real_codec=True).collect()
    assert "NotImplementedError" in str(err.value) or "requires PIL" in str(err.value)


def test_resize_default_is_fail_loud(media):
    """The PUBLIC default is require_real_codec=True (round-12 ADVICE):
    callers that don't opt into the fake resample fail loudly rather
    than silently receiving fake pixels."""
    with pytest.raises(Exception) as err:
        mm.resize_images(media, 32).collect()
    assert "NotImplementedError" in str(err.value) or "requires PIL" in str(err.value)


def test_resize_plan_semantics(spark):
    """Aspect-preserving target math: a resized item's longer side lands
    EXACTLY on the target (floor(max·256/max) = 256), nothing grows, and
    the per-class aggregates reconcile with the per-item derivation."""
    import math

    sf = "/root/testdata/sf0.001"
    per = {
        r.media_id: (r.meta.width, r.meta.height)
        for r in mm.media_from_documents(spark, sf)
        .where("kind = 'image'")
        .select("media_id", "meta")
        .collect()
    }
    assert per, "image slice must be non-empty"
    assert any(max(wh) > mm.RESIZE_MAX_SIDE for wh in per.values())
    assert any(max(wh) <= mm.RESIZE_MAX_SIDE for wh in per.values())
    expect = {True: [0, 0, 0], False: [0, 0, 0]}
    for w, h in per.values():
        need = max(w, h) > mm.RESIZE_MAX_SIDE
        if need:
            tw = math.floor(w * mm.RESIZE_MAX_SIDE / max(w, h))
            th = math.floor(h * mm.RESIZE_MAX_SIDE / max(w, h))
            assert max(tw, th) == mm.RESIZE_MAX_SIDE
            assert tw * th <= w * h
        else:
            tw, th = w, h
        e = expect[need]
        e[0] += 1
        e[1] += w * h
        e[2] += tw * th
    rows = {r.will_resize: r for r in mm.resize_plan(spark, sf).collect()}
    for need, (n, src, dst) in expect.items():
        assert (rows[need].n_items, rows[need].src_pixels, rows[need].dst_pixels) == (n, src, dst)
    assert rows[True].dst_pixels < rows[True].src_pixels
    assert rows[False].dst_pixels == rows[False].src_pixels


def test_resize_exec_fake_resample(media):
    """The fake-codec resize is the exact 1-D nearest-neighbor resample
    out[j] = buf[(j·n) // m]: verify payload bytes and stats against an
    in-test Python replay (synth_media dims are 64×32)."""
    import math

    orig = {r.media_id: bytes(r.payload) for r in media.collect()}
    rows = mm.resize_images(media, 32, require_real_codec=False).collect()
    assert all(r.resized is True for r in rows)  # mx=64 > 32
    for r in rows:
        assert (r.src_w, r.src_h, r.dst_w, r.dst_h) == (64, 32, 32, 16)
        buf = orig[r.media_id]
        n, m = len(buf), 32 * 16
        want = bytes(buf[(j * n) // m] for j in range(m))
        assert bytes(r.payload) == want
        assert r.n_out == m and r.px_sum == sum(want)
        assert r.px_mean == math.floor(r.px_sum / m * 1e6 + 0.5) / 1e6


def test_resize_passthrough_at_or_under_target(media):
    # synth dims 64×32 ≤ default target 256 → payload passes through
    out = mm.resize_images(media, require_real_codec=False)
    rows = out.collect()
    assert all(r.resized is False for r in rows)
    assert all((r.dst_w, r.dst_h) == (r.src_w, r.src_h) for r in rows)
    orig = {r.media_id: bytes(r.payload) for r in media.collect()}
    assert all(bytes(r.payload) == orig[r.media_id] for r in rows)
    assert all(r.n_out == len(orig[r.media_id]) for r in rows)


def test_resize_exec_gate_probe(spark):
    """The driver-gate slice: fixed probe size, deterministic membership
    (lowest media_ids of the image slice), plan math agrees with
    resize_plan's target derivation."""
    from tests.conftest import SF_SMOKE

    rows = mm.resize_exec_stats(spark, SF_SMOKE).collect()
    assert len(rows) == mm.RESIZE_EXEC_PROBE
    ids = [r.media_id for r in rows]
    assert ids == sorted(ids) and all(i % 3 == 0 for i in ids)
    for r in rows:
        mx = max(r.src_w, r.src_h)
        if mx > mm.RESIZE_MAX_SIDE:
            assert r.resized and max(r.dst_w, r.dst_h) == mm.RESIZE_MAX_SIDE
            assert r.n_out == r.dst_w * r.dst_h
        else:
            assert not r.resized and (r.dst_w, r.dst_h) == (r.src_w, r.src_h)


def test_sample_frames_plan(media):
    frames = mm.sample_frames(media, every_nth=10).collect()
    assert all(r.frame_index % 10 == 0 for r in frames)
    assert all(r.frame_index < r.n_frames for r in frames)
    one = [r for r in frames if r.n_frames == 110]
    if one:
        assert len({r.frame_index for r in one}) == 11  # 0,10,...,100


def test_metadata_only_query_prunes_payload(spark, media, tmp_path_factory):
    # metadata aggregation over a parquet media lake must not read payload
    path = str(tmp_path_factory.mktemp("media_lake"))
    media.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    agg = back.groupBy("kind").agg(F.avg("meta.n_frames").alias("avg_frames"))
    physical = agg._jdf.queryExecution().executedPlan().toString()
    scan_lines = [l for l in physical.splitlines() if "ReadSchema" in l]
    assert scan_lines, physical
    assert all("payload" not in l for l in scan_lines), scan_lines


def test_media_from_documents_gate_queries(spark):
    """Driver-gate variants over the real documents parquet."""
    from tests.conftest import SF_SMOKE

    plan = mm.frame_plan(spark, SF_SMOKE)
    rows = plan.collect()
    assert rows, "every video has >= 1 sampled frame"
    for r in rows[:50]:
        assert r.frame_index % 10 == 0
        assert 0 <= r.frame_index < r.n_frames
    feats = mm.media_feature_stats(spark, SF_SMOKE)
    got = feats.limit(20).collect()
    assert got and all(r.n_bytes >= r.n_samples for r in got)


def test_extract_frames_fake_decode_exact(spark):
    """The fake frame decode partitions the payload into n_frames
    contiguous spans [f·n // nf, (f+1)·n // nf) and extracts every
    every_nth-th span; byte stats replay exactly, including the uneven
    split and the empty-payload edge."""
    import math

    schema = (
        "media_id long, payload binary, meta struct<width:int,height:int,"
        "sample_rate:int,n_frames:int,format:string>"
    )
    df = spark.createDataFrame(
        [
            (1, bytes(range(10)), (1, 1, 0, 5, "fake")),
            (2, b"", (1, 1, 0, 4, "fake")),
            (3, bytes(range(7)), (1, 1, 0, 3, "fake")),
        ],
        schema,
    )
    out = {
        (r.media_id, r.frame_index): r
        for r in mm.extract_frames(
            df, every_nth=2, require_real_codec=False
        ).collect()
    }
    # media 1: n=10, nf=5 → frames 0,2,4 span [0,2), [4,6), [8,10)
    assert {f for m, f in out if m == 1} == {0, 2, 4}
    assert out[(1, 0)].frame_bytes == 2 and out[(1, 0)].byte_sum == 0 + 1
    assert out[(1, 2)].byte_sum == 4 + 5 and out[(1, 4)].byte_sum == 8 + 9
    # media 3: n=7, nf=3, uneven split → frame 0 = [0,2), frame 2 = [4,7)
    assert out[(3, 0)].byte_sum == 0 + 1
    assert out[(3, 2)].frame_bytes == 3 and out[(3, 2)].byte_sum == 4 + 5 + 6
    assert out[(3, 2)].byte_mean == math.floor(15 / 3 * 1e6 + 0.5) / 1e6
    # media 2: empty payload → zero-byte frames with zero stats
    assert out[(2, 0)].frame_bytes == 0 and out[(2, 0)].byte_sum == 0
    assert out[(2, 0)].byte_mean == 0.0
    # stride-1 extraction reconstructs the payload exactly: the spans
    # partition the buffer
    full = mm.extract_frames(
        df.where(F.col("media_id") == 3), every_nth=1, require_real_codec=False
    ).collect()
    assert sum(r.frame_bytes for r in full) == 7
    assert sum(r.byte_sum for r in full) == sum(range(7))


def test_extract_frames_default_is_fail_loud(media):
    """The PUBLIC default is require_real_codec=True (round-12 ADVICE):
    callers that don't opt into the fake decode fail loudly rather than
    silently receiving fake frames."""
    with pytest.raises(Exception) as err:
        mm.extract_frames(media.where(F.col("kind") == "video")).collect()
    assert "NotImplementedError" in str(err.value) or "codec" in str(err.value)


def test_frame_exec_gate_matches_plan_selection(spark):
    """The executor's (media_id, frame_index) set must equal the
    metadata plan's on the probe slice — the exec pays decode only for
    frames the plan selected, and its selection math is the plan's."""
    from tests.conftest import SF_SMOKE

    exec_rows = mm.frame_exec_stats(spark, SF_SMOKE).collect()
    probe_ids = {r.media_id for r in exec_rows}
    assert len(probe_ids) == mm.FRAME_EXEC_PROBE
    assert all(i % 3 == 2 for i in probe_ids)  # the video slice
    assert probe_ids == set(
        sorted(
            r.media_id
            for r in mm.frame_plan(spark, SF_SMOKE)
            .select("media_id")
            .distinct()
            .collect()
        )[: mm.FRAME_EXEC_PROBE]
    )  # lowest media_ids — deterministic probe membership
    plan_sel = {
        (r.media_id, r.frame_index)
        for r in mm.frame_plan(spark, SF_SMOKE).collect()
        if r.media_id in probe_ids
    }
    assert plan_sel == {(r.media_id, r.frame_index) for r in exec_rows}
    for r in exec_rows:  # selected frames only: stride FRAME_EVERY_NTH
        assert r.frame_index % mm.FRAME_EVERY_NTH == 0
        assert r.frame_index < r.n_frames

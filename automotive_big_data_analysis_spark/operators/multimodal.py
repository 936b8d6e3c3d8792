"""Multimodal (image/audio/video) column handling.

Media are opaque ``binary`` payload columns plus a typed metadata struct —
the layout a 100 TB training-data lake uses (payload bytes in parquet,
metadata queryable without touching payloads; Catalyst prunes the binary
column away for metadata-only queries).

Heavy per-item work (decode, feature extraction, resize, frame sampling)
runs as Arrow-batched ``mapInPandas`` operators: bytes arrive in pandas
batches, numpy processes them vectorized-per-item, results return as
batches — no row-at-a-time Python, no driver round-trip, partition
parallelism preserved.

No real codec (PIL/librosa/ffmpeg) decode path exists. The *plumbing*
— schemas, batch iteration, UDF signatures, partitioning — is real and
tested; the codec call itself is isolated in ``_decode_payload``, which
runs a clearly-marked DETERMINISTIC FAKE that interprets the raw bytes
as the sample buffer. ``require_real_codec=True`` always raises
NotImplementedError instead of faking, whatever is installed.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                    T.StructField("format", T.StringType()),
                ]
            ),
        ),
    ]
)


# media_from_documents dim-formula coefficients — interpolated into BOTH
# the Spark expressions and the DuckDB oracle f-strings (round-11 ADVICE:
# raw literals duplicated on the two sides can silently drift apart)
DIM_W_COEF = 37
DIM_H_COEF = 11
DIM_MOD = 480
DIM_MIN = 16

RESIZE_MAX_SIDE = 256  # resize target: longest side, aspect preserved

# The exec gate hashes a FIXED-size probe slice (first N image rows by
# media_id) so its oracle replay cost is SF-invariant: the fake resample
# is O(dst_w·dst_h) per row on both engines, and an unbounded slice
# would put ~42 M list ops into every DuckDB sweep at sf0.1.
RESIZE_EXEC_PROBE = 32


def _decode_payload(payload: bytes, kind: str, require_real_codec: bool) -> np.ndarray:
    """Decode payload bytes → sample array.

    DETERMINISTIC FAKE: the raw payload bytes ARE the sample buffer
    (uint8 for images/video, int16 for audio). Real decode would go
    through PIL/soundfile here — the call site, batch shape, and output
    contract would be identical."""
    if require_real_codec:
        raise NotImplementedError(
            f"no codec decode path for kind={kind!r}; run with "
            "require_real_codec=False (deterministic fake decode)"
        )
    if kind == "audio":
        buf = payload[: len(payload) - (len(payload) % 2)]
        return np.frombuffer(buf, dtype=np.int16).astype(np.int64)
    return np.frombuffer(payload, dtype=np.uint8).astype(np.int64)


def media_features(df: DataFrame, require_real_codec: bool = False) -> DataFrame:
    """Per-item decoded-sample statistics via Arrow-batched mapInPandas.

    Output: media_id, kind, n_bytes, n_samples, mean, std, p99 — the
    feature-extraction stage of a curation pipeline.

    The statistics are defined EXACTLY so the DuckDB oracle can replay
    them bit-for-bit over the same bytes (samples are integers):

    * ``mean``  = r6(s / n), s the exact integer sample sum;
    * ``std``   = r6(sqrt((n·Σx² − s²) / n²)) — population variance
      with an exact integer numerator, one double division, one sqrt
      (numpy's two-pass ``.std()`` associates float additions differently
      per engine and can flip the 6th decimal);
    * ``p99``   = the nearest-rank percentile sorted[⌈0.99·n⌉ − 1] — an
      exact sample value, no interpolation arithmetic to mismatch;
    * ``r6(x)`` = floor(x·10⁶ + 0.5)/10⁶ — the SHARED rounding tree, the
      same IEEE ops on both engines. Library round() is NOT shared at
      exact decimal ties: s/n can be a dyadic odd/128 value whose 6th
      decimal is a true half (first hit at sf0.1: mean 24207.2578125),
      where Python rounds half-to-even and DuckDB half-away-from-zero —
      the scaled-floor form has no tie case at all because both engines
      floor the identical double."""

    out_schema = (
        "media_id long, kind string, n_bytes long, n_samples long, "
        "mean double, std double, p99 double"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        for pdf in it:
            rows = []
            for media_id, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                samples = _decode_payload(bytes(payload), kind, require_real_codec)
                n = len(samples)
                def r6(x: float) -> float:
                    return math.floor(x * 1_000_000 + 0.5) / 1_000_000

                if n:
                    s = int(samples.sum())
                    ssq = int((samples * samples).sum())
                    mean = r6(s / n)
                    std = r6(math.sqrt((n * ssq - s * s) / (n * n)))
                    p99 = float(
                        np.sort(samples)[max(math.ceil(0.99 * n), 1) - 1]
                    )
                else:
                    mean = std = p99 = 0.0
                rows.append(
                    {
                        "media_id": media_id,
                        "kind": kind,
                        "n_bytes": len(payload),
                        "n_samples": n,
                        "mean": mean,
                        "std": std,
                        "p99": p99,
                    }
                )
            yield pd.DataFrame(rows)

    return df.select("media_id", "kind", "payload").mapInPandas(batches, out_schema)


def resize_images(
    df: DataFrame, max_side: int | None = None, require_real_codec: bool = True
) -> DataFrame:
    """Image-resize EXECUTION stage (the pay-the-decode half of the
    plan/execute pair — :func:`resize_plan` is the metadata-only half,
    and this stage applies the IDENTICAL aspect-preserving integer
    target math: ``floor(side · max_side / max(w, h))``).

    Arrow-batched ``mapInPandas``; the codec call is isolated exactly
    like :func:`media_features`. A real codec path would decode →
    resample → re-encode here; the PUBLIC default is FAIL-LOUD
    (``require_real_codec=True`` always raises NotImplementedError —
    callers never silently receive fake pixels). Passing
    ``require_real_codec=False`` explicitly (what
    :func:`resize_exec_stats` does for the oracle gate) opts into the
    DETERMINISTIC FAKE resample: the payload bytes are the sample
    buffer (the fake-decode contract), and a resize to
    ``dst_w × dst_h`` is a 1-D nearest-neighbor resample to
    ``m = dst_w·dst_h`` samples, ``out[j] = buf[(j·n) // m]`` — exact
    integer index math a SQL oracle replays byte-for-byte.

    Output: one row per input with the resized payload plus exact
    integer pixel stats over the OUTPUT buffer (``n_out``, ``px_sum``,
    ``px_mean`` via the shared scaled-floor r6 rounding tree from
    :func:`media_features`) — the columns the correctness gate hashes.
    Rows at or under the target (``max(w, h) <= max_side``) pass
    through unresampled with ``resized = false``."""

    target = RESIZE_MAX_SIDE if max_side is None else max_side
    out_schema = (
        "media_id long, kind string, src_w long, src_h long, dst_w long, "
        "dst_h long, resized boolean, n_out long, px_sum long, "
        "px_mean double, payload binary"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        if require_real_codec:
            raise NotImplementedError(
                "image resize requires PIL decode, which is not implemented "
                "(pass require_real_codec=False for the deterministic fake)"
            )
        for pdf in it:
            rows = []
            for media_id, kind, payload, meta in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"], pdf["meta"]
            ):
                buf = np.frombuffer(bytes(payload), dtype=np.uint8)
                n = len(buf)
                w = int(meta["width"])
                h = int(meta["height"])
                mx = max(w, h)
                if mx > target:
                    tw = w * target // mx
                    th = h * target // mx
                    m = tw * th
                    if n and m:
                        out = buf[(np.arange(m, dtype=np.int64) * n) // m]
                    else:
                        out = buf[:0]
                    resized = True
                else:
                    tw, th = w, h
                    out = buf
                    resized = False
                n_out = len(out)
                s = int(out.astype(np.int64).sum()) if n_out else 0
                mean = (
                    math.floor(s / n_out * 1_000_000 + 0.5) / 1_000_000
                    if n_out
                    else 0.0
                )
                rows.append(
                    {
                        "media_id": media_id,
                        "kind": kind,
                        "src_w": w,
                        "src_h": h,
                        "dst_w": tw,
                        "dst_h": th,
                        "resized": resized,
                        "n_out": n_out,
                        "px_sum": s,
                        "px_mean": mean,
                        "payload": out.tobytes(),
                    }
                )
            yield pd.DataFrame(rows)

    return df.select("media_id", "kind", "payload", "meta").mapInPandas(
        batches, out_schema
    )


def sample_frames(df: DataFrame, every_nth: int = 10) -> DataFrame:
    """Video frame-sampling plan: one output row per selected frame index.
    Pure Spark expressions (no UDF) — the frame *selection* is metadata
    math; actual frame extraction would decode ``payload`` at the selected
    offsets in a later mapInPandas stage."""
    video = df.where(F.col("kind") == "video")
    idx = F.sequence(
        F.lit(0),
        F.greatest(F.col("meta.n_frames") - 1, F.lit(0)),
        F.lit(every_nth),
    )
    return video.select(
        "media_id",
        F.explode(idx).alias("frame_index"),
        F.col("meta.n_frames").alias("n_frames"),
    )


FRAME_EVERY_NTH = 10  # the sampling stride sample_frames/frame_plan use
# The frame-exec gate hashes a FIXED-size probe slice (first N video
# rows by media_id) — the RESIZE_EXEC_PROBE discipline: the extractor
# pays O(selected-frame bytes) per row on both engines, so the oracle
# cost must be SF-invariant while the operator stays unbounded.
FRAME_EXEC_PROBE = 16


def extract_frames(
    df: DataFrame,
    every_nth: int = FRAME_EVERY_NTH,
    require_real_codec: bool = True,
) -> DataFrame:
    """Video frame-extraction EXECUTION stage (the pay-the-decode half
    of the plan/execute pair — :func:`sample_frames` is the metadata-only
    half, and this stage materializes the IDENTICAL frame selection:
    indices ``0, every_nth, …`` below ``n_frames``).

    Arrow-batched ``mapInPandas``; the codec call is isolated exactly
    like :func:`media_features`/:func:`resize_images`, and the PUBLIC
    default is FAIL-LOUD (``require_real_codec=True`` always raises
    NotImplementedError — callers never silently receive fake frames).
    With a real decoder this is where the container would be demuxed
    and the selected frames seek-decoded. The explicit
    ``require_real_codec=False`` opt-in (what :func:`frame_exec_stats`
    does for the oracle gate) uses the DETERMINISTIC FAKE decode: the
    payload's ``n`` bytes ARE the sample buffer, partitioned into
    ``n_frames`` contiguous frames by the same integer index map the
    fake resample uses — frame ``f`` spans bytes
    ``[f·n // n_frames, (f+1)·n // n_frames)`` — so a SQL oracle
    replays every extracted byte.

    Output: one row per SELECTED frame with exact integer byte stats
    (``frame_bytes``, ``byte_sum``, ``byte_mean`` via the shared
    scaled-floor r6 rounding tree). At 100 TB the selection stride
    bounds the decode I/O to ~1/every_nth of the payload volume —
    which is the point of sampling before feature extraction."""

    out_schema = (
        "media_id long, frame_index int, n_frames int, frame_bytes long, "
        "byte_sum long, byte_mean double"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        if require_real_codec:
            raise NotImplementedError(
                "frame extraction requires a video codec decode path, which "
                "is not implemented (pass require_real_codec=False for the "
                "deterministic fake decode)"
            )
        for pdf in it:
            rows = []
            for media_id, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                buf = np.frombuffer(bytes(payload), dtype=np.uint8).astype(
                    np.int64
                )
                n = len(buf)
                nf = int(meta["n_frames"])
                # mirror sample_frames: sequence(0, max(nf-1, 0), step)
                for f in range(0, max(nf, 1), every_nth):
                    lo = f * n // nf if nf > 0 else 0
                    hi = (f + 1) * n // nf if nf > 0 else 0
                    seg = buf[lo:hi]
                    s = int(seg.sum()) if len(seg) else 0
                    rows.append(
                        {
                            "media_id": media_id,
                            "frame_index": f,
                            "n_frames": nf,
                            "frame_bytes": hi - lo,
                            "byte_sum": s,
                            "byte_mean": (
                                math.floor(s / (hi - lo) * 1_000_000 + 0.5)
                                / 1_000_000
                                if hi > lo
                                else 0.0
                            ),
                        }
                    )
            yield pd.DataFrame(rows)

    return df.select("media_id", "payload", "meta").mapInPandas(
        batches, out_schema
    )


def frame_exec_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: the frame-extraction EXECUTION stage over a
    fixed-size probe slice (first ``FRAME_EXEC_PROBE`` video rows by
    media_id — deterministic at every SF and layout). Completes the
    plan/execute pair the way :func:`resize_exec_stats` completed
    resize: the planner (:func:`frame_plan`) is gated on the full
    corpus because it reads only metadata; the executor pays decode
    work per selected frame on BOTH engines, so its hash gate runs on
    a bounded probe while the operator itself stays unbounded. The
    payload is decoded exactly once — one documents scan, one
    mapInPandas (plan-asserted in tests/test_plans.py)."""
    m = media_from_documents(spark, sf_dir).where(F.col("kind") == "video")
    probe = m.orderBy("media_id").limit(FRAME_EXEC_PROBE)
    # explicit opt-in to the deterministic fake decode: this gate exists
    # precisely to hash the fake-codec path (the public operator default
    # stays fail-loud)
    return extract_frames(
        probe, FRAME_EVERY_NTH, require_real_codec=False
    ).orderBy("media_id", "frame_index")


def media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapter: the ``documents`` corpus viewed as a media lake.

    Payload = the document's UTF-8 bytes; kind round-robins by doc_id;
    frame count derives from ``n_chars``. Deterministic on both engines,
    so the metadata-math queries below are oracle-checkable while the
    payload pipeline exercises the real binary/mapInPandas plumbing."""
    from automotive_big_data_analysis_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
    )
    # per-item dims derived from content metadata (doc_id, n_chars) so
    # dimension-dependent stages (the resize planner) see a realistic
    # spread of 16..495 px — both above and below the resize target;
    # the same expressions replay in DuckDB (round 11; feature/frame
    # queries never read width/height, so their values are untouched)
    meta = F.struct(
        (F.pmod(F.col("doc_id") * DIM_W_COEF + F.col("n_chars"), F.lit(DIM_MOD)) + DIM_MIN)
        .cast("int")
        .alias("width"),
        (F.pmod(F.col("n_chars") * DIM_H_COEF + F.col("doc_id"), F.lit(DIM_MOD)) + DIM_MIN)
        .cast("int")
        .alias("height"),
        F.lit(16000).alias("sample_rate"),
        (F.pmod(F.col("n_chars"), F.lit(50)) * 10 + 10).cast("int").alias("n_frames"),
        F.lit("fake").alias("format"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        meta.alias("meta"),
    )


def frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: video frame-sampling plan over the document-backed
    media corpus — pure metadata math (the binary column is pruned away by
    Catalyst; at 100 TB this query never touches payload bytes)."""
    return sample_frames(media_from_documents(spark, sf_dir), every_nth=10)


def resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: the image-RESIZE planning stage (the brief's
    resize line item as a first-class gated operator, completing the
    decide-before-you-rewrite pair with :func:`resize_images`, which
    executes the plan through the Arrow ``mapInPandas`` stage): per
    decision class, how many images a max-side-``RESIZE_MAX_SIDE``
    normalization pass would rewrite and the pixel volume before/after
    — the I/O/compute estimate a 100 TB media lake computes BEFORE
    paying a decode-resize-reencode job.

    Target dims are aspect-preserving integer math —
    ``floor(side · 256 / max(w, h))`` — exact on both engines, so the
    whole plan is hash-oracled. Pure metadata: Catalyst prunes the
    payload column away (plan-asserted), the 100 TB shape where
    planning reads kilobytes of metadata, not terabytes of pixels."""
    m = media_from_documents(spark, sf_dir).where(F.col("kind") == "image")
    w = F.col("meta.width").cast("long")
    h = F.col("meta.height").cast("long")
    mx = F.greatest(w, h)
    need = mx > RESIZE_MAX_SIDE
    tw = (
        F.when(need, F.floor(w * RESIZE_MAX_SIDE / mx)).otherwise(w)
    ).cast("long")
    th = (
        F.when(need, F.floor(h * RESIZE_MAX_SIDE / mx)).otherwise(h)
    ).cast("long")
    per = m.select(
        need.alias("will_resize"),
        (w * h).alias("src_px"),
        (tw * th).alias("dst_px"),
    )
    return (
        per.groupBy("will_resize")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("src_px").cast("long").alias("src_pixels"),
            F.sum("dst_px").cast("long").alias("dst_pixels"),
            F.round(F.sum("dst_px") / F.sum("src_px"), 6).alias("px_ratio"),
        )
        .orderBy("will_resize")
    )


def resize_exec_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: the image-resize EXECUTION stage over a
    fixed-size probe slice (first ``RESIZE_EXEC_PROBE`` image rows by
    media_id — a deterministic set at every SF and layout, since
    media_id is unique). Completes the plan/execute pair: the planner
    (:func:`resize_plan`) is gated on the full corpus because it reads
    only metadata; the executor pays O(dst pixels) decode work per row
    on BOTH engines, so its hash gate runs on a bounded probe while the
    operator itself stays unbounded. The payload is decoded exactly
    once — one documents scan, one mapInPandas (plan-asserted in
    tests/test_plans.py)."""
    m = media_from_documents(spark, sf_dir).where(F.col("kind") == "image")
    probe = m.orderBy("media_id").limit(RESIZE_EXEC_PROBE)
    return (
        # explicit opt-in to the deterministic fake resample: this gate
        # exists precisely to hash the fake-codec path (the public
        # operator default stays fail-loud, per round-12 ADVICE)
        resize_images(probe, RESIZE_MAX_SIDE, require_real_codec=False)
        .select(
            "media_id",
            "src_w",
            "src_h",
            "dst_w",
            "dst_h",
            "resized",
            "n_out",
            "px_sum",
            "px_mean",
        )
        .orderBy("media_id")
    )


def media_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: per-item decoded-sample features via the Arrow
    mapInPandas stage (deterministic fake decode — no codec here). The
    exact-integer stat definitions in :func:`media_features` make this
    fully oracle-checkable: DuckDB replays the byte-level decode via
    ``hex()`` arithmetic and matches hash-for-hash."""
    from automotive_big_data_analysis_spark.catalog import spread

    return media_features(spread(media_from_documents(spark, sf_dir)))


ORACLE: dict[str, str] = {
    "multimodal_frame_plan": """
        WITH m AS (
            SELECT doc_id AS media_id,
                   CAST((n_chars % 50) * 10 + 10 AS INTEGER) AS n_frames
            FROM documents WHERE doc_id % 3 = 2
        )
        SELECT media_id, CAST(f.f AS INTEGER) AS frame_index, n_frames
        FROM m, UNNEST(range(0, CAST(n_frames AS BIGINT), 10)) AS f(f)
    """,
    # Byte-level replay of the fake decode: UTF-8 payload → hex → per-byte
    # values (int16 little-endian pairs for audio), then the same exact
    # integer-sum statistics media_features defines.
    "multimodal_media_features": """
        WITH m AS (
            SELECT doc_id AS media_id,
                   CASE doc_id % 3 WHEN 0 THEN 'image'
                                   WHEN 1 THEN 'audio'
                                   ELSE 'video' END AS kind,
                   encode(text) AS payload
            FROM documents
        ), b AS (
            SELECT media_id, kind, octet_length(payload) AS n_bytes,
                   hex(payload) AS h
            FROM m
        ), vals AS (
            SELECT media_id, kind, n_bytes,
              CASE WHEN kind = 'audio' THEN
                list_transform(range(1, (n_bytes - n_bytes % 2) // 2 + 1), k ->
                  CASE WHEN ('0x' || substr(h, 4*k-3, 2))::BIGINT
                            + 256 * ('0x' || substr(h, 4*k-1, 2))::BIGINT
                            >= 32768
                       THEN ('0x' || substr(h, 4*k-3, 2))::BIGINT
                            + 256 * ('0x' || substr(h, 4*k-1, 2))::BIGINT
                            - 65536
                       ELSE ('0x' || substr(h, 4*k-3, 2))::BIGINT
                            + 256 * ('0x' || substr(h, 4*k-1, 2))::BIGINT
                  END)
              ELSE list_transform(range(1, n_bytes + 1),
                                  i -> ('0x' || substr(h, 2*i-1, 2))::BIGINT)
              END AS v
            FROM b
        )
        SELECT media_id, kind,
               CAST(n_bytes AS BIGINT) AS n_bytes,
               CAST(len(v) AS BIGINT) AS n_samples,
               -- r6(x) = FLOOR(x*1e6 + 0.5)/1e6: the shared rounding
               -- tree (ROUND's half-away vs Python's half-even diverge
               -- at exact dyadic ties like odd/128 means)
               CASE WHEN len(v) > 0
                    THEN FLOOR(CAST(list_sum(v) AS DOUBLE) / len(v)
                               * 1000000 + 0.5) / 1000000
                    ELSE 0.0 END AS mean,
               CASE WHEN len(v) > 0
                    THEN FLOOR(sqrt(CAST(
                           len(v) * list_sum(list_transform(v, x -> x*x))
                           - list_sum(v) * list_sum(v) AS DOUBLE)
                         / CAST(len(v) AS DOUBLE)**2)
                         * 1000000 + 0.5) / 1000000
                    ELSE 0.0 END AS std,
               CASE WHEN len(v) > 0
                    THEN CAST(list_sort(v)[
                           GREATEST(CAST(ceil(0.99 * len(v)) AS BIGINT), 1)]
                         AS DOUBLE)
                    ELSE 0.0 END AS p99
        FROM vals
    """,
}

# aspect-preserving resize-plan mirror: the same integer dims and
# floor-based target math as resize_plan, over the image slice
# (doc_id % 3 = 0 ⇔ kind = 'image' — same derivation the feature
# oracle uses)
ORACLE["multimodal_resize_plan"] = f"""
    WITH m AS (
        SELECT CAST((doc_id * {DIM_W_COEF} + n_chars) % {DIM_MOD} + {DIM_MIN} AS BIGINT) AS w,
               CAST((n_chars * {DIM_H_COEF} + doc_id) % {DIM_MOD} + {DIM_MIN} AS BIGINT) AS h
        FROM documents WHERE doc_id % 3 = 0
    ), p AS (
        SELECT (GREATEST(w, h) > {RESIZE_MAX_SIDE}) AS will_resize,
               w * h AS src_px,
               CASE WHEN GREATEST(w, h) > {RESIZE_MAX_SIDE}
                    THEN CAST(FLOOR(CAST(w * {RESIZE_MAX_SIDE} AS DOUBLE)
                                    / GREATEST(w, h)) AS BIGINT)
                         * CAST(FLOOR(CAST(h * {RESIZE_MAX_SIDE} AS DOUBLE)
                                      / GREATEST(w, h)) AS BIGINT)
                    ELSE w * h END AS dst_px
        FROM m
    )
    SELECT will_resize, COUNT(*) AS n_items,
           CAST(SUM(src_px) AS BIGINT) AS src_pixels,
           CAST(SUM(dst_px) AS BIGINT) AS dst_pixels,
           ROUND(SUM(dst_px) / CAST(SUM(src_px) AS DOUBLE), 6) AS px_ratio
    FROM p GROUP BY 1 ORDER BY will_resize
"""

# Byte-level replay of the fake-codec resize over the same probe slice:
# identical dim derivation, identical integer target math (`//`), and the
# identical 1-D nearest-neighbor index map out[j] = buf[(j·n) // m] via
# hex() arithmetic — the same replay style as multimodal_media_features.
ORACLE["multimodal_resize_exec"] = f"""
    WITH m AS (
        SELECT doc_id AS media_id, encode(text) AS payload,
               CAST((doc_id * {DIM_W_COEF} + n_chars) % {DIM_MOD} + {DIM_MIN} AS BIGINT) AS w,
               CAST((n_chars * {DIM_H_COEF} + doc_id) % {DIM_MOD} + {DIM_MIN} AS BIGINT) AS h
        FROM documents WHERE doc_id % 3 = 0
        ORDER BY doc_id LIMIT {RESIZE_EXEC_PROBE}
    ), d AS (
        SELECT media_id, w, h, GREATEST(w, h) AS mx,
               CAST(octet_length(payload) AS BIGINT) AS n, hex(payload) AS hx
        FROM m
    ), p AS (
        SELECT media_id, w, h, n, hx,
               (mx > {RESIZE_MAX_SIDE}) AS resized,
               CASE WHEN mx > {RESIZE_MAX_SIDE}
                    THEN w * {RESIZE_MAX_SIDE} // mx ELSE w END AS tw,
               CASE WHEN mx > {RESIZE_MAX_SIDE}
                    THEN h * {RESIZE_MAX_SIDE} // mx ELSE h END AS th
        FROM d
    ), s AS (
        SELECT media_id, w, h, tw, th, resized,
               CASE WHEN resized AND n > 0 THEN tw * th
                    WHEN resized THEN 0 ELSE n END AS n_out,
               CASE WHEN n = 0 THEN 0
                    WHEN resized THEN list_sum(list_transform(
                        range(0, tw * th),
                        j -> ('0x' || substr(hx, 2 * ((j * n) // (tw * th)) + 1, 2))::BIGINT))
                    ELSE list_sum(list_transform(range(1, n + 1),
                        i -> ('0x' || substr(hx, 2 * i - 1, 2))::BIGINT))
               END AS px_sum
        FROM p
    )
    SELECT media_id, w AS src_w, h AS src_h, tw AS dst_w, th AS dst_h,
           resized, CAST(n_out AS BIGINT) AS n_out,
           CAST(px_sum AS BIGINT) AS px_sum,
           CASE WHEN n_out > 0
                THEN FLOOR(CAST(px_sum AS DOUBLE) / n_out * 1000000 + 0.5)
                     / 1000000
                ELSE 0.0 END AS px_mean
    FROM s ORDER BY media_id
"""

# Byte-level replay of the fake-codec frame extraction over the same
# probe slice: identical n_frames derivation, identical frame selection
# (range step FRAME_EVERY_NTH below n_frames), and the identical integer
# frame-boundary map [f·n // nf, (f+1)·n // nf) via hex() arithmetic —
# the multimodal_resize_exec replay style.
ORACLE["multimodal_frame_exec"] = f"""
    WITH m AS (
        SELECT doc_id AS media_id, encode(text) AS payload,
               CAST((n_chars % 50) * 10 + 10 AS BIGINT) AS nf
        FROM documents WHERE doc_id % 3 = 2
        ORDER BY doc_id LIMIT {FRAME_EXEC_PROBE}
    ), d AS (
        SELECT media_id, nf,
               CAST(octet_length(payload) AS BIGINT) AS n,
               hex(payload) AS hx
        FROM m
    ), fr AS (
        SELECT media_id, nf, n, hx, CAST(f.f AS BIGINT) AS fi
        FROM d, UNNEST(range(0, GREATEST(nf, 1), {FRAME_EVERY_NTH})) AS f(f)
    ), seg AS (
        SELECT media_id, fi, nf,
               (fi + 1) * n // nf - fi * n // nf AS frame_bytes,
               COALESCE(list_sum(list_transform(
                   range(fi * n // nf, (fi + 1) * n // nf),
                   j -> ('0x' || substr(hx, 2 * j + 1, 2))::BIGINT)), 0)
                   AS byte_sum
        FROM fr
    )
    SELECT media_id, CAST(fi AS INTEGER) AS frame_index,
           CAST(nf AS INTEGER) AS n_frames,
           CAST(frame_bytes AS BIGINT) AS frame_bytes,
           CAST(byte_sum AS BIGINT) AS byte_sum,
           CASE WHEN frame_bytes > 0
                THEN FLOOR(CAST(byte_sum AS DOUBLE) / frame_bytes
                           * 1000000 + 0.5) / 1000000
                ELSE 0.0 END AS byte_mean
    FROM seg ORDER BY media_id, frame_index
"""

QUERIES = {
    "multimodal_frame_plan": frame_plan,
    "multimodal_frame_exec": frame_exec_stats,
    "multimodal_media_features": media_feature_stats,
    "multimodal_resize_plan": resize_plan,
    "multimodal_resize_exec": resize_exec_stats,
}


def synth_media(spark: SparkSession, n: int, seed: int = 7) -> DataFrame:
    """Deterministic synthetic media corpus: payload bytes derived from
    sha2 of the id (expression-only, distributed — same pattern as the
    car-data generator)."""
    df = spark.range(n)
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"),
    )
    # repeat the 32-byte sha2 digest to get a few-KB payload
    payload = F.to_binary(
        F.repeat(F.sha2(F.concat(F.lit(f"media{seed}:"), F.col("id")), 256), 64),
        F.lit("hex"),
    )
    meta = F.struct(
        F.lit(64).alias("width"),
        F.lit(32).alias("height"),
        F.lit(16000).alias("sample_rate"),
        (F.pmod(F.col("id"), F.lit(50)) * 10 + 10).cast("int").alias("n_frames"),
        F.lit("fake").alias("format"),
    )
    return df.select(
        F.col("id").alias("media_id"), kind.alias("kind"), payload.alias("payload"), meta.alias("meta")
    )

"""Driver-visible multimodal queries.

Two tiers over the deterministic synthetic blob tables (the fixture
set ships no binary columns):

* the original ``multimodal_*`` queries (rows-only checks) exercise the
  mixed corpus of operators/multimodal.py:fake_media_df — real rasters,
  digest pseudo-blobs, and undecodable rows side by side;
* the ``*_checked`` twins run the SAME operators over
  checked_media_df / checked_audio_df, whose pixel/sample values are
  pure integer arithmetic in (media_id, position). The DuckDB oracle
  recomputes every decoded statistic closed-form via generate_series —
  it never sees a byte of the payload — so a green hash means the real
  BMP/PPM/PNG/GIF/WAV codec stack round-tripped the exact pixels and
  samples, value-checked by the driver rather than only by pytest.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hridaya_steam_market_tracker_spark.operators.multimodal import (
    extract_features,
    fake_media_df,
    resize_images,
    sample_frames,
)
from hridaya_steam_market_tracker_spark.queries import register
from hridaya_steam_market_tracker_spark.queries.oracle_sql import (
    admission_sql,
    components_sql,
    containment_pairs_sql,
)


@register(
    "multimodal_feature_extract",
    oracle=None,  # binary blobs live outside the fixture tables; pytest covers values
    doc=(
        "Decode + featurize binary media blobs via Arrow-batched mapInPandas. "
        "REAL pure-stdlib codecs for BMP (24-bit BI_RGB), PPM (P6), PNG "
        "(zlib + filters 0-4, gray/RGB/palette/alpha), GIF (LZW, palettes, "
        "interlace), and JPEG (T.81 baseline + progressive DCT: Huffman + "
        "scan accumulation + dequant + IDCT + chroma upsampling) decode "
        "actual pixels into per-channel mean/std features; invalid bytes "
        "and unsupported codecs are marked decode_ok=false. Returns "
        "per-blob feature vectors + content hashes."
    ),
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_features(fake_media_df(spark, n=64)).select(
        "media_id", "media_type", "n_bytes", "sha256", "decode_ok"
    )


@register(
    "multimodal_frame_sample",
    oracle=None,
    doc=(
        "Video frame-sampling fan-out: native sequence+explode of the "
        "timestamp grid (1 Hz) — one row per sampled frame, no Python in the "
        "fan-out."
    ),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sample_frames(fake_media_df(spark, n=24), every_ms=1000).select(
        "media_id", "frame_ts_ms"
    )


@register(
    "multimodal_resize",
    oracle=None,
    doc=(
        "Image resize: image-only pushdown before the Arrow stage; "
        "BMP/PPM/PNG/GIF/baseline-JPEG rows are really resized (nearest-neighbor on "
        "decoded pixels, re-encoded in-format), typed output with the new "
        "dimensions."
    ),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resize_images(fake_media_df(spark, n=24), width=16, height=8).select(
        "media_id", "width", "height", "resize_ok", F.length("payload").alias("n_bytes")
    )


@register(
    "multimodal_audio_features",
    oracle=None,
    doc=(
        "Audio decode + featurize via Arrow-batched mapInPandas: REAL "
        "stdlib WAV codec (header + 16-bit PCM frames) yields sample "
        "rate, channels, duration, RMS, and peak; compressed formats "
        "mark decode_ok=false. Audio-only pushdown precedes the Python "
        "stage."
    ),
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        extract_audio_features,
        fake_audio_df,
    )

    return extract_audio_features(fake_audio_df(spark, n=32))


# ---------------------------------------------------------------------------
# Oracle-checked twins: statistics of REALLY-decoded pixels/samples vs the
# generation formula recomputed arithmetically in SQL.
# ---------------------------------------------------------------------------

_N_IMG = 48  # checked_media_df size
_FMT_SQL = "CASE o.i % 4 WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm' WHEN 2 THEN 'png' ELSE 'gif' END"


def _chan(c: int, p: str = "q.p") -> str:
    """SQL for the generator's pixel formula at channel c."""
    return f"((7*{p} + {31 * c} + 17*o.i) % 256)"


def _img_stats_sql(pixel_src: str, n_px: str) -> str:
    """mean/std per channel + aspect, replicating extract_features'
    float-op order exactly: mean = s/n then /255; var = s2/n - mean^2
    (un-normalized mean); std = sqrt(var)/255 with the var>0 guard.
    All sums are exact integers, so both engines perform the identical
    IEEE double sequence — no rounding needed for hash parity."""
    cols = []
    for c, ch in enumerate("rgb"):
        s, s2 = f"CAST(sum(v{c}) AS DOUBLE)", f"CAST(sum(v{c}*v{c}) AS DOUBLE)"
        mean = f"({s} / {n_px})"
        var = f"({s2} / {n_px} - {mean} * {mean})"
        cols.append(f"{mean} / 255.0 AS mean_{ch}")
        cols.append(
            f"(CASE WHEN {var} > 0 THEN sqrt({var}) ELSE 0.0 END) / 255.0 AS std_{ch}"
        )
    return (
        f"SELECT o.i, {', '.join(cols)} FROM ok o, LATERAL ({pixel_src}) q "
        "GROUP BY o.i, o.w, o.h"
    )


@register(
    "multimodal_feature_extract_checked",
    oracle=f"""
    WITH m AS (
      SELECT i, 4 + i % 5 AS w, 3 + i % 4 AS h
      FROM generate_series(0, {_N_IMG - 1}) g(i)
    ),
    ok AS (SELECT * FROM m WHERE i % 7 <> 3),
    px AS (
      {_img_stats_sql(
          "SELECT " + ", ".join(f"{_chan(c)} AS v{c}" for c in range(3))
          + " FROM (SELECT unnest(range(0, o.w*o.h)) AS p) q",
          "CAST(o.w*o.h AS DOUBLE)",
      )}
    )
    SELECT o.i AS media_id, {_FMT_SQL} AS format, TRUE AS decode_ok,
           px.mean_r, px.std_r, px.mean_g, px.std_g, px.mean_b, px.std_b,
           CAST(o.w AS DOUBLE) / CAST(o.w + o.h AS DOUBLE) AS aspect_w,
           CAST(o.h AS DOUBLE) / CAST(o.w + o.h AS DOUBLE) AS aspect_h
    FROM ok o JOIN px ON px.i = o.i
    UNION ALL
    SELECT i, 'jpg', FALSE, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
    FROM m WHERE i % 7 = 3
    """,
    doc=(
        "VALUE-CHECKED codec round trip: encode closed-form integer "
        "pixels through the real BMP/PPM/PNG/GIF encoders, decode them "
        "back via Arrow-batched mapInPandas, and featurize — the oracle "
        "recomputes per-channel mean/std + aspect arithmetically from "
        "the generation formula without touching a byte, so a hash "
        "match certifies the decoded pixels bit-for-bit. jpg rows "
        "value-check the honest failure marking (decode_ok=false, NULL "
        "features)."
    ),
)
def multimodal_feature_extract_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import checked_media_df

    feats = extract_features(checked_media_df(spark, n=_N_IMG))
    fmt = F.when(F.col("media_id") % 7 == 3, F.lit("jpg")).otherwise(
        F.element_at(
            F.array(F.lit("bmp"), F.lit("ppm"), F.lit("png"), F.lit("gif")),
            (F.col("media_id") % 4 + 1).cast("int"),
        )
    )
    names = ["mean_r", "std_r", "mean_g", "std_g", "mean_b", "std_b", "aspect_w", "aspect_h"]
    return feats.select(
        "media_id",
        fmt.alias("format"),
        "decode_ok",
        *[F.element_at("feat", k + 1).alias(n) for k, n in enumerate(names)],
    )


@register(
    "multimodal_resize_checked",
    oracle=f"""
    WITH m AS (
      SELECT i, 4 + i % 5 AS w, 3 + i % 4 AS h
      FROM generate_series(0, {_N_IMG - 1}) g(i)
    ),
    ok AS (SELECT * FROM m WHERE i % 7 <> 3),
    px AS (
      {_img_stats_sql(
          "SELECT " + ", ".join(f"{_chan(c, 'q2.p')} AS v{c}" for c in range(3))
          + " FROM (SELECT least((y.y*o.h) // 3, o.h - 1) * o.w"
          + "             + least((x.x*o.w) // 5, o.w - 1) AS p"
          + "        FROM generate_series(0, 2) y(y), generate_series(0, 4) x(x)) q2",
          "15.0",
      )}
    )
    SELECT o.i AS media_id, {_FMT_SQL} AS format, TRUE AS decode_ok,
           px.mean_r, px.std_r, px.mean_g, px.std_g, px.mean_b, px.std_b,
           5.0 / 8.0 AS aspect_w, 3.0 / 8.0 AS aspect_h
    FROM ok o JOIN px ON px.i = o.i
    UNION ALL
    SELECT i, 'jpg', FALSE, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
    FROM m WHERE i % 7 = 3
    """,
    doc=(
        "VALUE-CHECKED resize round trip: nearest-neighbor resize the "
        "closed-form rasters to 5x3 (decode -> sample -> re-encode in "
        "the SAME format, incl. the exact-palette GIF and PNG paths), "
        "then DECODE THE RESIZED PAYLOAD AGAIN and featurize. The "
        "oracle replays the nearest-neighbor index map "
        "(min(x*sw//W, sw-1)) over the generation formula — two full "
        "codec traversals certified per row."
    ),
)
def multimodal_resize_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import checked_media_df

    resized = resize_images(checked_media_df(spark, n=_N_IMG), width=5, height=3)
    redecoded = extract_features(
        resized.select(
            "media_id", F.lit("image").alias("media_type"), "format", "payload"
        )
    )
    fmt = F.when(F.col("media_id") % 7 == 3, F.lit("jpg")).otherwise(
        F.element_at(
            F.array(F.lit("bmp"), F.lit("ppm"), F.lit("png"), F.lit("gif")),
            (F.col("media_id") % 4 + 1).cast("int"),
        )
    )
    names = ["mean_r", "std_r", "mean_g", "std_g", "mean_b", "std_b", "aspect_w", "aspect_h"]
    return redecoded.select(
        "media_id",
        fmt.alias("format"),
        "decode_ok",
        *[F.element_at("feat", k + 1).alias(n) for k, n in enumerate(names)],
    )


@register(
    "multimodal_frame_sample_checked",
    oracle="""
    SELECT g.i AS media_id, CAST(t.ts AS BIGINT) AS frame_ts_ms
    FROM generate_series(0, 23) g(i),
         LATERAL (SELECT unnest(range(0, 800 + (g.i * 977) % 4200, 1000)) AS ts) t
    """,
    doc=(
        "VALUE-CHECKED frame-sampling grid: per-video 1 Hz timestamp "
        "fan-out (native sequence+explode) over durations that are "
        "closed-form in the id, so the oracle regenerates the exact "
        "grid. Certifies the inclusive-bound arithmetic of the sampler "
        "— the part of frame sampling that exists above the (stubbed) "
        "container decode."
    ),
)
def multimodal_frame_sample_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    vids = spark.range(24).select(
        F.col("id").alias("media_id"),
        F.lit("video").alias("media_type"),
        F.lit("fake").alias("format"),
        F.lit(None).cast("binary").alias("payload"),
        (800 + (F.col("id") * 977) % 4200).alias("duration_ms"),
    )
    return sample_frames(vids, every_ms=1000).select("media_id", "frame_ts_ms")


@register(
    "multimodal_audio_features_checked",
    oracle="""
    WITH m AS (SELECT i FROM generate_series(0, 31) g(i)),
    s AS (
      SELECT o.i, sum(q.v * q.v) AS ss, max(abs(q.v)) AS mx
      FROM (SELECT i FROM m WHERE i % 4 <> 0) o,
           LATERAL (
             SELECT ((t.t * (2*o.i + 3)) % 4001) - 2000 AS v
             FROM generate_series(0, 399) t(t)
           ) q
      GROUP BY o.i
    )
    SELECT i AS media_id, 8000 AS sample_rate, 1 AS n_channels,
           round(1000.0 * 400 / 8000, 6) AS duration_ms,
           round(sqrt(CAST(ss AS DOUBLE) / 400.0) / 32768.0, 6) AS rms,
           round(CAST(mx AS DOUBLE) / 32768.0, 6) AS peak,
           TRUE AS decode_ok
    FROM s
    UNION ALL
    SELECT i, NULL, NULL, NULL, NULL, NULL, FALSE FROM m WHERE i % 4 = 0
    """,
    doc=(
        "VALUE-CHECKED WAV round trip: encode the integer sawtooth "
        "((t*(2i+3)) % 4001) - 2000 as real 16-bit PCM WAV bytes, "
        "decode via the stdlib wave codec in mapInPandas, and report "
        "rate/channels/duration/RMS/peak — the oracle recomputes all "
        "five from the sample formula (exact integer sums, identical "
        "IEEE op order). mp3 rows value-check failure marking."
    ),
)
def multimodal_audio_features_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_audio_df,
        extract_audio_features,
    )

    return extract_audio_features(checked_audio_df(spark, n=32))


@register(
    "multimodal_mp4_frame_index_checked",
    oracle="""
    WITH m AS (
      SELECT i, 600 + 100 * (i % 4) AS tsc, 10 + i % 7 AS nf
      FROM generate_series(0, 15) g(i) WHERE i % 8 <> 5
    ),
    f AS (
      SELECT m.i, m.tsc, m.nf, j.j AS frame_idx,
             10 + (j.j * 7 + m.i) % 17 AS sz,
             CASE WHEN j.j < m.nf // 2 THEN 30 + m.i % 5
                  ELSE 40 + m.i % 3 END AS delta
      FROM m, LATERAL (SELECT unnest(range(0, m.nf)) AS j) j
    ),
    c AS (
      SELECT i, tsc, frame_idx, sz,
             coalesce(sum(delta) OVER (PARTITION BY i ORDER BY frame_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS t,
             coalesce(sum(sz) OVER (PARTITION BY i ORDER BY frame_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM f
    )
    SELECT i AS media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST((t * 1000) // tsc AS BIGINT) AS ts_ms,
           CAST(32 + off AS BIGINT) AS byte_offset,
           CAST(sz AS INTEGER) AS n_bytes,
           CASE WHEN i % 2 = 0 THEN frame_idx % 5 = 0 ELSE TRUE END AS keyframe,
           TRUE AS parse_ok
    FROM c
    UNION ALL
    SELECT i, NULL, NULL, NULL, NULL, NULL, FALSE
    FROM generate_series(0, 15) g(i) WHERE i % 8 = 5
    """,
    doc=(
        "VALUE-CHECKED MP4 container demux: real ISO BMFF bytes "
        "(ftyp/mdat/moov with stts delta runs, stsz, stsc chunk map, "
        "stco, optional stss) are parsed box-by-box in Arrow-batched "
        "mapInPandas into the per-frame index — decode timestamp, byte "
        "offset, size, keyframe flag — while the oracle recomputes the "
        "whole index arithmetically from the generator formulas "
        "(integer window cumsums). The frame-level work-item table a "
        "100 TB video pipeline fans out on, produced without a codec; "
        "invalid payloads value-check parse_ok=false."
    ),
)
def multimodal_mp4_frame_index_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_mp4_df,
        extract_mp4_frame_index,
    )

    return extract_mp4_frame_index(checked_mp4_df(spark, n=16))


@register(
    "multimodal_mp4_frame_sample_checked",
    oracle="""
    WITH m AS (
      SELECT i, 600 + 100 * (i % 4) AS tsc, 10 + i % 7 AS nf
      FROM generate_series(0, 15) g(i) WHERE i % 8 <> 5
    ),
    f AS (
      SELECT m.i, m.tsc, m.nf, j.j AS frame_idx,
             10 + (j.j * 7 + m.i) % 17 AS sz,
             CASE WHEN j.j < m.nf // 2 THEN 30 + m.i % 5
                  ELSE 40 + m.i % 3 END AS delta
      FROM m, LATERAL (SELECT unnest(range(0, m.nf)) AS j) j
    ),
    c AS (
      SELECT i, tsc, frame_idx, sz,
             coalesce(sum(delta) OVER (PARTITION BY i ORDER BY frame_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS t,
             coalesce(sum(sz) OVER (PARTITION BY i ORDER BY frame_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM f
    ),
    idx AS (
      SELECT i, frame_idx, CAST((t * 1000) // tsc AS BIGINT) AS ts_ms,
             CAST(32 + off AS BIGINT) AS byte_offset, sz
      FROM c
    ),
    mx AS (SELECT i, max(ts_ms) AS mxts FROM idx GROUP BY i),
    grid AS (
      SELECT mx.i, CAST(gg.g AS BIGINT) AS sample_ms
      FROM mx, LATERAL (SELECT unnest(range(0, mx.mxts + 1, 200)) AS g) gg
    ),
    j AS (
      SELECT grid.i, grid.sample_ms, idx.frame_idx, idx.byte_offset, idx.sz,
             row_number() OVER (PARTITION BY grid.i, grid.sample_ms
                                ORDER BY idx.ts_ms DESC, idx.frame_idx DESC) AS rn
      FROM grid JOIN idx ON idx.i = grid.i AND idx.ts_ms <= grid.sample_ms
    )
    SELECT i AS media_id, sample_ms, CAST(frame_idx AS INTEGER) AS frame_idx,
           byte_offset, CAST(sz AS INTEGER) AS n_bytes
    FROM j WHERE rn = 1
    """,
    doc=(
        "VALUE-CHECKED frame sampling over the REAL MP4 index: a 200 ms "
        "sampling grid per video is as-of joined (operators/asof.py — "
        "one keyed shuffle, union + last-carry window, no range-join "
        "explosion) to the demuxed frame table, yielding the frame to "
        "decode at each instant with its exact byte range — the shape a "
        "100 TB video pipeline hands to codec workers. Oracle replays "
        "demux arithmetic + the as-of semantics in SQL."
    ),
)
def multimodal_mp4_frame_sample_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.asof import as_of_join
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_mp4_df,
        extract_mp4_frame_index,
    )

    frames = (
        extract_mp4_frame_index(checked_mp4_df(spark, n=16))
        .filter(F.col("parse_ok"))
        .select("media_id", "ts_ms", "frame_idx", "byte_offset", "n_bytes")
    )
    grid = (
        frames.groupBy("media_id")
        .agg(F.max("ts_ms").alias("mx"))
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("mx"), F.lit(200).cast("long"))
            ).alias("ts_ms"),
        )
    )
    out = as_of_join(
        grid,
        frames,
        ["media_id"],
        ts_col="ts_ms",
        right_value_cols=["frame_idx", "byte_offset", "n_bytes"],
    )
    return out.select(
        "media_id",
        F.col("ts_ms").alias("sample_ms"),
        F.col("right_frame_idx").cast("int").alias("frame_idx"),
        F.col("right_byte_offset").cast("long").alias("byte_offset"),
        F.col("right_n_bytes").cast("int").alias("n_bytes"),
    )


@register(
    "multimodal_mjpeg_decode_checked",
    oracle="""
    WITH m AS (
      SELECT i, 500 + 100 * (i % 3) AS tsc, 5 + i % 4 AS nf,
             8 + i % 5 AS w, 6 + i % 3 AS h
      FROM generate_series(0, 11) g(i)
    ),
    f AS (
      SELECT m.i, m.tsc, m.w, m.h, j.j AS frame_idx,
             CASE WHEN j.j < m.nf // 2 THEN 30 + m.i % 5
                  ELSE 40 + m.i % 3 END AS delta,
             (37 * m.i + 11 * j.j) % 256 AS v,
             (m.i % 5 = 2 AND j.j = 1) AS bad
      FROM m, LATERAL (SELECT unnest(range(0, m.nf)) AS j) j
    ),
    c AS (
      SELECT i, tsc, w, h, frame_idx, v, bad,
             coalesce(sum(delta) OVER (PARTITION BY i ORDER BY frame_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS t
      FROM f
    )
    SELECT i AS media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST((t * 1000) // tsc AS BIGINT) AS ts_ms,
           CASE WHEN bad THEN NULL ELSE CAST(w AS INTEGER) END AS width,
           CASE WHEN bad THEN NULL ELSE CAST(h AS INTEGER) END AS height,
           CASE WHEN bad THEN NULL
                ELSE CAST(v * 3 * w * h AS DOUBLE)
                     / CAST(3 * w * h AS DOUBLE) / 255.0 END AS mean_intensity,
           NOT bad AS decode_ok
    FROM c
    """,
    doc=(
        "VALUE-CHECKED real video-frame decode (MJPEG-in-MP4): demux "
        "the ISO BMFF container to frame byte ranges, slice each "
        "frame's REAL baseline-JPEG bytes out of mdat, decode them "
        "through the T.81 codec, and emit per-frame pixel statistics. "
        "Frames are constant-gray rasters (closed-form level in "
        "media_id/frame_idx), which round-trip the near-lossless 4:4:4 "
        "JPEG path exactly, so the oracle restates every decoded mean "
        "arithmetically — certifying container demux + entropy decode "
        "+ IDCT + color transform end to end. One corrupted frame per "
        "i%5==2 video value-checks per-frame decode_ok=false marking."
    ),
)
def multimodal_mjpeg_decode_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_mjpeg_df,
        decode_mp4_frames,
    )

    return decode_mp4_frames(checked_mjpeg_df(spark, n=12))


@register(
    "multimodal_avc1_nal_index_checked",
    oracle="""
    WITH m AS (
      SELECT i, 500 + 100 * (i % 3) AS tsc, 6 + i % 5 AS nf
      FROM generate_series(0, 15) g(i) WHERE i % 8 <> 5
    ),
    f AS (  -- per frame: NAL count, framed size, stts delta, bad flag
      SELECT m.i, m.tsc, m.nf, j.j AS frame_idx,
             1 + (m.i + j.j) % 3 AS n_nals,
             CASE WHEN j.j < m.nf // 2 THEN 30 + m.i % 5
                  ELSE 40 + m.i % 3 END AS delta,
             (m.i % 5 = 2 AND j.j = 1) AS bad,
             CASE WHEN m.i % 5 = 2 AND j.j = 1 THEN 16
                  ELSE 10 * (1 + (m.i + j.j) % 3)
                       + CASE 1 + (m.i + j.j) % 3
                           WHEN 1 THEN (m.i + 2*j.j) % 9
                           WHEN 2 THEN (m.i + 2*j.j) % 9 + (m.i + 2*j.j + 3) % 9
                           ELSE (m.i + 2*j.j) % 9 + (m.i + 2*j.j + 3) % 9
                                + (m.i + 2*j.j + 6) % 9 END
             END AS fsize
      FROM m, LATERAL (SELECT unnest(range(0, m.nf)) AS j) j
    ),
    c AS (  -- cumulative frame offset (mdat data starts at 32) and time
      SELECT *,
             coalesce(sum(delta) OVER (PARTITION BY i ORDER BY frame_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS t,
             32 + coalesce(sum(fsize) OVER (PARTITION BY i ORDER BY frame_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS foff
      FROM f
    ),
    n AS (  -- per NAL: body size and within-frame cumulative offset
      SELECT c.i, c.tsc, c.frame_idx, c.t, c.foff, u.u AS nal_idx,
             5 + (c.i + 2*c.frame_idx + 3*u.u) % 9 AS bsz,
             coalesce(sum(10 + (c.i + 2*c.frame_idx + 3*u.u) % 9) OVER (
               PARTITION BY c.i, c.frame_idx ORDER BY u.u
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
      FROM c, LATERAL (SELECT unnest(range(0, c.n_nals)) AS u) u
      WHERE NOT c.bad
    )
    SELECT i AS media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST((t * 1000) // tsc AS BIGINT) AS ts_ms,
           CAST(nal_idx AS INTEGER) AS nal_idx,
           CAST(CASE WHEN nal_idx = 0 THEN
                  CASE WHEN frame_idx % 4 = 0 THEN 5 ELSE 1 END
                ELSE 6 END AS INTEGER) AS nal_type,
           (nal_idx = 0 AND frame_idx % 4 = 0) AS is_idr,
           CAST(foff + prev + 4 AS BIGINT) AS byte_offset,
           CAST(1 + bsz AS INTEGER) AS n_bytes,
           TRUE AS parse_ok
    FROM n
    UNION ALL
    SELECT i, CAST(frame_idx AS INTEGER), CAST((t * 1000) // tsc AS BIGINT),
           NULL, NULL, NULL, NULL, NULL, FALSE
    FROM c WHERE bad
    UNION ALL
    SELECT i, NULL, NULL, NULL, NULL, NULL, NULL, NULL, FALSE
    FROM generate_series(0, 15) g(i) WHERE i % 8 = 5
    """,
    doc=(
        "VALUE-CHECKED avc1/H.264 NAL-unit index, container level (no "
        "entropy decode, the honest scope): real MP4s whose samples are "
        "closed-form access units — even media ids length-prefixed (ISO "
        "14496-15), odd ids Annex-B start codes, both walked by the "
        "auto-detecting NAL scanner — against an oracle that restates "
        "every unit's type/IDR flag/absolute byte offset/size via integer "
        "window cumsums. Keyframe-level work items with byte ranges are "
        "the 100 TB fan-out shape for compressed video; per-frame and "
        "per-container parse_ok=false rows are value-checked too."
    ),
)
def multimodal_avc1_nal_index_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_avc1_df,
        extract_avc1_nal_index,
    )

    return extract_avc1_nal_index(checked_avc1_df(spark, n=16))


@register(
    "multimodal_hevc_nal_index_checked",
    oracle="""
    WITH m AS (
      SELECT i, 500 + 100 * (i % 3) AS tsc, 6 + i % 5 AS nf
      FROM generate_series(0, 15) g(i) WHERE i % 8 <> 5
    ),
    f AS (  -- per frame: NAL count, framed size (2-byte HEVC headers), delta
      SELECT m.i, m.tsc, m.nf, j.j AS frame_idx,
             1 + (m.i + j.j) % 3 AS n_nals,
             CASE WHEN j.j < m.nf // 2 THEN 30 + m.i % 5
                  ELSE 40 + m.i % 3 END AS delta,
             (m.i % 5 = 2 AND j.j = 1) AS bad,
             CASE WHEN m.i % 5 = 2 AND j.j = 1 THEN 16
                  ELSE 11 * (1 + (m.i + j.j) % 3)
                       + CASE 1 + (m.i + j.j) % 3
                           WHEN 1 THEN (m.i + 2*j.j) % 9
                           WHEN 2 THEN (m.i + 2*j.j) % 9 + (m.i + 2*j.j + 3) % 9
                           ELSE (m.i + 2*j.j) % 9 + (m.i + 2*j.j + 3) % 9
                                + (m.i + 2*j.j + 6) % 9 END
             END AS fsize
      FROM m, LATERAL (SELECT unnest(range(0, m.nf)) AS j) j
    ),
    c AS (
      SELECT *,
             coalesce(sum(delta) OVER (PARTITION BY i ORDER BY frame_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS t,
             32 + coalesce(sum(fsize) OVER (PARTITION BY i ORDER BY frame_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS foff
      FROM f
    ),
    n AS (
      SELECT c.i, c.tsc, c.frame_idx, c.t, c.foff, u.u AS nal_idx,
             5 + (c.i + 2*c.frame_idx + 3*u.u) % 9 AS bsz,
             coalesce(sum(11 + (c.i + 2*c.frame_idx + 3*u.u) % 9) OVER (
               PARTITION BY c.i, c.frame_idx ORDER BY u.u
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
      FROM c, LATERAL (SELECT unnest(range(0, c.n_nals)) AS u) u
      WHERE NOT c.bad
    )
    SELECT i AS media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST((t * 1000) // tsc AS BIGINT) AS ts_ms,
           CAST(nal_idx AS INTEGER) AS nal_idx,
           CAST(CASE WHEN nal_idx = 0 THEN
                  CASE WHEN frame_idx % 4 = 0 THEN 19 ELSE 1 END
                ELSE 39 END AS INTEGER) AS nal_type,
           (nal_idx = 0 AND frame_idx % 4 = 0) AS is_idr,
           CAST(foff + prev + 4 AS BIGINT) AS byte_offset,
           CAST(2 + bsz AS INTEGER) AS n_bytes,
           TRUE AS parse_ok
    FROM n
    UNION ALL
    SELECT i, CAST(frame_idx AS INTEGER), CAST((t * 1000) // tsc AS BIGINT),
           NULL, NULL, NULL, NULL, NULL, FALSE
    FROM c WHERE bad
    UNION ALL
    SELECT i, NULL, NULL, NULL, NULL, NULL, NULL, NULL, FALSE
    FROM generate_series(0, 15) g(i) WHERE i % 8 = 5
    """,
    doc=(
        "VALUE-CHECKED hevc/H.265 NAL-unit index (container level, no "
        "entropy decode): the same auto-detecting NAL walker as avc1 "
        "parameterized for the 2-byte HEVC header — unit type = bits "
        "1-6, keyframe = IRAP (16-23; the fixture uses IDR_W_RADL=19, "
        "TRAIL_R=1, SEI_PREFIX=39) — against an integer-cumsum oracle. "
        "Length-prefixed and Annex-B framings both value-checked; "
        "per-frame and per-container parse_ok=false rows too."
    ),
)
def multimodal_hevc_nal_index_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_hevc_df,
        extract_hevc_nal_index,
    )

    return extract_hevc_nal_index(checked_hevc_df(spark, n=16))


@register(
    "multimodal_avc1_sps_params_checked",
    oracle="""
    WITH m AS (SELECT i FROM generate_series(0, 15) g(i))
    SELECT i AS media_id, CAST(0 AS INTEGER) AS frame_idx,
           CAST(0 AS INTEGER) AS nal_idx,
           CAST(CASE i % 3 WHEN 0 THEN 66 WHEN 1 THEN 77 ELSE 100 END
                AS INTEGER) AS profile_idc,
           CAST(10 + (i % 5) * 10 AS INTEGER) AS level_idc,
           CAST(16 * (2 + i % 8) - 2 * (i % 2) AS INTEGER) AS width,
           CAST(16 * (2 + i % 6) - 2 * ((i // 2) % 2) AS INTEGER) AS height,
           CAST(1 AS INTEGER) AS chroma_format_idc,
           CAST(8 + CASE WHEN i % 3 = 2 THEN i % 2 ELSE 0 END
                AS INTEGER) AS bit_depth_luma,
           TRUE AS parse_ok
    FROM m WHERE i % 8 <> 5 AND i % 5 <> 2
    UNION ALL  -- truncated SPS body: per-SPS failure row at its position
    SELECT i, CAST(0 AS INTEGER), CAST(0 AS INTEGER),
           NULL, NULL, NULL, NULL, NULL, NULL, FALSE
    FROM m WHERE i % 5 = 2 AND i % 8 <> 5
    UNION ALL  -- invalid container: one all-NULL failure row
    SELECT i, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, FALSE
    FROM m WHERE i % 8 = 5
    """,
    doc=(
        "VALUE-CHECKED avc1/H.264 SPS stream-parameter extraction "
        "(ITU-T H.264 §7.3.2.1.1) — the resolution-filter gate for "
        "multimodal curation, still with NO entropy decode: the fixture "
        "ENCODES closed-form SPS RBSPs with a real Exp-Golomb bit "
        "writer (profile/level/MB-grid/cropping all formulas of the "
        "media id, High-profile ids carrying the chroma/bit-depth "
        "block), frames them as in-band NAL units (even ids "
        "length-prefixed, odd Annex-B) inside real MP4s, and the "
        "operator's emulation-prevention-stripping bit reader must "
        "decode profile_idc/level_idc/cropped display size/chroma "
        "format/bit depth back to the closed forms. Truncated-SPS and "
        "invalid-container failure rows are value-checked too."
    ),
)
def multimodal_avc1_sps_params_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_avc1_sps_df,
        extract_avc1_sps_params,
    )

    return extract_avc1_sps_params(checked_avc1_sps_df(spark, n=16))


@register(
    "multimodal_hevc_sps_params_checked",
    oracle="""
    WITH m AS (SELECT i FROM generate_series(0, 15) g(i))
    SELECT i AS media_id, CAST(0 AS INTEGER) AS frame_idx,
           CAST(0 AS INTEGER) AS nal_idx,
           CAST(1 + i % 2 AS INTEGER) AS profile_idc,
           CAST(30 * (1 + i % 4) AS INTEGER) AS level_idc,
           CAST(64 + 16 * (i % 8) - 2 * (i % 2) AS INTEGER) AS width,
           CAST(64 + 16 * (i % 6) AS INTEGER) AS height,
           CAST(1 AS INTEGER) AS chroma_format_idc,
           CAST(8 + i % 2 AS INTEGER) AS bit_depth_luma,
           TRUE AS parse_ok
    FROM m WHERE i % 8 <> 5 AND i % 5 <> 2
    UNION ALL
    SELECT i, CAST(0 AS INTEGER), CAST(0 AS INTEGER),
           NULL, NULL, NULL, NULL, NULL, NULL, FALSE
    FROM m WHERE i % 5 = 2 AND i % 8 <> 5
    UNION ALL
    SELECT i, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, FALSE
    FROM m WHERE i % 8 = 5
    """,
    doc=(
        "VALUE-CHECKED hevc/H.265 SPS stream-parameter extraction "
        "(ITU-T H.265 §7.3.2.2.1 with the full §7.3.3 "
        "profile_tier_level block): closed-form encoded SPS NALs "
        "(Main/Main10 profile, level, luma dimensions, conformance "
        "window, bit depth all formulas of the media id) round-trip "
        "through the operator's bit reader back to the formulas. "
        "Schema shared with the avc1 twin so downstream resolution "
        "gates are codec-agnostic; failure rows value-checked."
    ),
)
def multimodal_hevc_sps_params_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_hevc_sps_df,
        extract_hevc_sps_params,
    )

    return extract_hevc_sps_params(checked_hevc_sps_df(spark, n=16))


@register(
    "multimodal_avcc_config_sps_checked",
    oracle="""
    WITH m AS (
      SELECT i,
             CAST(CASE i % 3 WHEN 0 THEN 66 WHEN 1 THEN 77 ELSE 100 END
                  AS INTEGER) AS prof,
             CAST(10 + (i % 5) * 10 AS INTEGER) AS lev,
             CAST(16 * (2 + i % 8) - 2 * (i % 2) AS INTEGER) AS w,
             CAST(16 * (2 + i % 6) - 2 * ((i // 2) % 2) AS INTEGER) AS h,
             CAST(8 + CASE WHEN i % 3 = 2 THEN i % 2 ELSE 0 END
                  AS INTEGER) AS bd
      FROM generate_series(0, 15) g(i)
    )
    SELECT i AS media_id, CAST(0 AS INTEGER) AS sps_idx, prof AS profile_idc,
           lev AS level_idc, w AS width, h AS height,
           CAST(1 AS INTEGER) AS chroma_format_idc, bd AS bit_depth_luma,
           w AS entry_width, h AS entry_height, prof AS cfg_profile_idc,
           lev AS cfg_level_idc, CAST(4 AS INTEGER) AS length_size,
           TRUE AS parse_ok
    FROM m WHERE i % 8 <> 5 AND i % 5 <> 2
    UNION ALL  -- truncated SPS: box-declared fields salvaged, decode NULL
    SELECT i, CAST(0 AS INTEGER), NULL, NULL, NULL, NULL, NULL, NULL,
           w, h, prof, lev, CAST(4 AS INTEGER), FALSE
    FROM m WHERE i % 5 = 2 AND i % 8 <> 5
    UNION ALL  -- invalid container
    SELECT i, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           NULL, NULL, NULL, NULL, NULL, FALSE
    FROM m WHERE i % 8 = 5
    """,
    doc=(
        "VALUE-CHECKED avcC decoder-configuration SPS extraction "
        "(ISO/IEC 14496-15 §5.3.3.1) — the realistic avc1 layout where "
        "parameter sets ride the stsd sample entry, NOT the samples: a "
        "self-contained ISO-BMFF box walker descends to the avcC record "
        "over a spec-shaped 78-byte VisualSampleEntry, and every carried "
        "SPS goes through the same Exp-Golomb bit reader as the in-band "
        "op. Output pairs the box-DECLARED values (entry width/height, "
        "cfg profile/level, NAL length size) with the bit-DECODED ones — "
        "equal here by construction, and their disagreement in the wild "
        "is precisely the malformed-file signal a curation gate wants. "
        "Truncated-SPS rows keep the salvaged box fields with NULL "
        "decoded fields; invalid containers one all-NULL row."
    ),
)
def multimodal_avcc_config_sps_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_avcc_df,
        extract_avcc_sps_params,
    )

    return extract_avcc_sps_params(checked_avcc_df(spark, n=16))


@register(
    "multimodal_hvcc_config_sps_checked",
    oracle="""
    WITH m AS (
      SELECT i,
             CAST(1 + i % 2 AS INTEGER) AS prof,
             CAST(30 * (1 + i % 4) AS INTEGER) AS lev,
             CAST(64 + 16 * (i % 8) - 2 * (i % 2) AS INTEGER) AS w,
             CAST(64 + 16 * (i % 6) AS INTEGER) AS h,
             CAST(8 + i % 2 AS INTEGER) AS bd
      FROM generate_series(0, 15) g(i)
    )
    SELECT i AS media_id, CAST(0 AS INTEGER) AS sps_idx, prof AS profile_idc,
           lev AS level_idc, w AS width, h AS height,
           CAST(1 AS INTEGER) AS chroma_format_idc, bd AS bit_depth_luma,
           w AS entry_width, h AS entry_height, prof AS cfg_profile_idc,
           lev AS cfg_level_idc, CAST(4 AS INTEGER) AS length_size,
           TRUE AS parse_ok
    FROM m WHERE i % 8 <> 5 AND i % 5 <> 2
    UNION ALL
    SELECT i, CAST(0 AS INTEGER), NULL, NULL, NULL, NULL, NULL, NULL,
           w, h, prof, lev, CAST(4 AS INTEGER), FALSE
    FROM m WHERE i % 5 = 2 AND i % 8 <> 5
    UNION ALL
    SELECT i, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           NULL, NULL, NULL, NULL, NULL, FALSE
    FROM m WHERE i % 8 = 5
    """,
    doc=(
        "VALUE-CHECKED hvcC decoder-configuration SPS extraction "
        "(ISO/IEC 14496-15 §8.3.3.1): the HEVC record's NAL-unit "
        "arrays are walked for type-33 entries and each SPS decoded "
        "through the full §7.3.3 profile_tier_level bit parse. Same "
        "declared-vs-decoded pairing and failure grid as the avcC "
        "twin; schema shared so downstream gates are codec-agnostic."
    ),
)
def multimodal_hvcc_config_sps_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_hvcc_df,
        extract_hvcc_sps_params,
    )

    return extract_hvcc_sps_params(checked_hvcc_df(spark, n=16))


# The 9x8 difference hash recomputed closed-form over a px(b, x, y, v)
# gray relation of 36x32 rasters: exact integer 4x4 cell sums, one bit
# per horizontal neighbour comparison, packed big-endian into two
# 32-bit BIGINT halves -> hashes(b, hash_hi, hash_lo).
_DHASH_CTE = """
    cells AS (
      SELECT b, x // 4 AS cx, y // 4 AS cy, CAST(sum(v) AS BIGINT) AS s
      FROM px GROUP BY 1, 2, 3
    ),
    bits AS (
      SELECT a.b, CASE WHEN a.s > c.s THEN 1 ELSE 0 END AS bit,
             a.cy * 8 + a.cx AS k
      FROM cells a
      JOIN cells c ON a.b = c.b AND a.cy = c.cy AND c.cx = a.cx + 1
    ),
    hashes AS (
      SELECT b,
             CAST(sum(CASE WHEN k < 32
                  THEN bit * (CAST(1 AS BIGINT) << (31 - k)) ELSE 0 END)
                  AS BIGINT) AS hash_hi,
             CAST(sum(CASE WHEN k >= 32
                  THEN bit * (CAST(1 AS BIGINT) << (63 - k)) ELSE 0 END)
                  AS BIGINT) AS hash_lo
      FROM bits GROUP BY b
    )
"""

# Shared by the two dHash queries: the 16 fixture rasters of
# operators/multimodal.py:checked_dhash_df (ids i and i+8 share a base,
# the second with one bumped cell), hashed per id (b = i).
_DHASH_HASHES_CTE = (
    """
    px AS (
      SELECT i AS b, x, y,
             3 * (((x * (2 + (i % 8) % 5) + y * (3 + (i % 8) % 7)
                    + 11 * (i % 8)) % 200)
                  + CASE WHEN i >= 8 AND x // 4 = 2 AND y // 4 = 3
                         THEN 50 ELSE 0 END) AS v
      FROM generate_series(0, 15) g(i),
           generate_series(0, 35) gx(x), generate_series(0, 31) gy(y)
    ),"""
    + _DHASH_CTE
)

# The four upright bases of operators/multimodal.py:
# checked_oriented_dhash_df, hashed per base b; every stored orientation
# of id i uprights to base 1 + (i // 8) % 4.
_ORIENTED_DHASH_CTE = (
    """
    px AS (
      SELECT b, x, y,
             3 * ((x * (2 + b % 5) + y * (3 + b % 7) + 11 * b) % 200) AS v
      FROM generate_series(1, 4) g(b),
           generate_series(0, 35) gx(x), generate_series(0, 31) gy(y)
    ),"""
    + _DHASH_CTE
)

# The 33 stored images of checked_oriented_dhash_df with their upright
# hashes: imgs(i, hash_hi, hash_lo); row 32 is the corrupt-eXIf copy of
# base 1.
_ORIENTED_IMGS_CTE = _ORIENTED_DHASH_CTE + """,
    imgs AS (
      SELECT g.i, h.hash_hi, h.hash_lo
      FROM generate_series(0, 32) g(i)
      JOIN hashes h
        ON h.b = CASE WHEN g.i = 32 THEN 1 ELSE 1 + (g.i // 8) % 4 END
    )"""


def _hamming_sql(a: str, b: str) -> str:
    """Hamming distance between the 64-bit hashes of rows ``a`` and
    ``b``, each split into the two BIGINT halves ``hash_hi``/``hash_lo``."""
    return (
        f"(bit_count(xor({a}.hash_hi, {b}.hash_hi))"
        f" + bit_count(xor({a}.hash_lo, {b}.hash_lo)))"
    )


def _dhash_pairs_sql(rel: str, id_col: str = "i") -> str:
    """The ``dhash_near_pairs(max_hamming=3)`` result over
    ``rel(id_col, hash_hi, hash_lo)``: every lower-id pair within
    Hamming 3, as ``(i, j, hamming)`` with BIGINT ids."""
    return f"""
    SELECT CAST(a.{id_col} AS BIGINT) AS i, CAST(c.{id_col} AS BIGINT) AS j,
           CAST({_hamming_sql("a", "c")} AS INTEGER) AS hamming
    FROM {rel} a JOIN {rel} c ON a.{id_col} < c.{id_col}
    WHERE {_hamming_sql("a", "c")} <= 3
    """


def _dhash_keep_list_oracle(ctes: str, nodes: str) -> str:
    """The ``_dhash_keep_list`` result, given ``ctes`` that define the
    decodable items ``nodes(i, hash_hi, hash_lo)``."""
    return f"""
    WITH RECURSIVE {ctes},
    pairs AS ({_dhash_pairs_sql(nodes)}){components_sql(nodes, "i")}
    SELECT i AS media_id, component, component = i AS kept FROM comp
    """


def _dhash_keep_list(hashes: DataFrame) -> DataFrame:
    """Keep-min-id per connected component of the Hamming <= 3 pair
    graph over the decodable rows of a ``(media_id, ..., hash_hi,
    hash_lo, decode_ok)`` signature relation: (media_id, component,
    kept). Undecodable rows are left out of the graph."""
    from hridaya_steam_market_tracker_spark.operators.components import (
        cluster_labels,
    )
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        dhash_near_pairs,
    )

    labels = cluster_labels(
        hashes.filter(F.col("decode_ok")).select("media_id"),
        dhash_near_pairs(hashes, max_hamming=3),
    )
    return labels.withColumn("kept", F.col("component") == F.col("media_id"))


@register(
    "multimodal_image_dhash_checked",
    oracle=f"""
    WITH {_DHASH_HASHES_CTE}
    SELECT b AS media_id, CAST(36 AS INTEGER) AS width,
           CAST(32 AS INTEGER) AS height, hash_hi, hash_lo,
           TRUE AS decode_ok
    FROM hashes
    UNION ALL
    SELECT CAST(16 AS BIGINT), NULL, NULL, NULL, NULL, FALSE
    """,
    doc=(
        "VALUE-CHECKED perceptual difference hash (dHash) over REAL "
        "decoded pixels: 36x32 gray BMPs with closed-form gray values "
        "round-trip the real BMP codec, an exact-integer 9x8 cell-sum "
        "grid, and the 64-bit big-endian bit packing (two 32-bit BIGINT "
        "halves) against a DuckDB oracle that recomputes every cell sum "
        "and comparison bit arithmetically. Ids i and i+8 share a base "
        "image with one bumped cell, so the hash is demonstrably "
        "edit-tolerant; the undecodable row is value-checked too. No "
        "float resampling anywhere — the hash is replicable "
        "cross-engine, which is what makes it a corpus-scale image "
        "near-dup signature rather than a library artifact."
    ),
)
def multimodal_image_dhash_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_dhash_df,
        image_dhash,
    )

    return image_dhash(checked_dhash_df(spark, n=17))


@register(
    "multimodal_dhash_near_pairs_checked",
    oracle=f"WITH {_DHASH_HASHES_CTE}" + _dhash_pairs_sql("hashes", "b"),
    doc=(
        "VALUE-CHECKED image near-dup pair join over dHash signatures, "
        "BANDED: each 64-bit hash splits into four 16-bit bands and "
        "candidates come from the (band_idx, band_value) equi-join — "
        "by pigeonhole a <= 3-bit Hamming pair cannot flip all four "
        "bands, so the blocking is LOSSLESS (same algebra as the "
        "SimHash chunk join) and the oracle can be the brute-force "
        "Hamming filter. Only candidates pay the exact "
        "bit_count(XOR) verify. The fixture's (i, i+8) bumped-cell "
        "pairs surface here within Hamming 2; at corpus scale the "
        "shuffle moves 4 two-int rows per image, never the all-pairs "
        "square."
    ),
)
def multimodal_dhash_near_pairs_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_dhash_df,
        dhash_near_pairs,
        image_dhash,
    )

    return dhash_near_pairs(image_dhash(checked_dhash_df(spark, n=17)))


@register(
    "multimodal_dhash_oriented_checked",
    oracle=f"""
    WITH {_ORIENTED_DHASH_CTE},
    ids AS (SELECT CAST(unnest(range(0, 33)) AS BIGINT) AS i)
    SELECT i AS media_id,
           CAST(CASE WHEN i = 32 THEN 1 ELSE 1 + i % 8 END AS INTEGER)
             AS orientation,
           CAST(36 AS INTEGER) AS width, CAST(32 AS INTEGER) AS height,
           h.hash_hi, h.hash_lo, TRUE AS decode_ok
    FROM ids
    JOIN hashes h ON h.b = CASE WHEN i = 32 THEN 1 ELSE 1 + (i // 8) % 4 END
    UNION ALL
    SELECT CAST(33 AS BIGINT), NULL, NULL, NULL, NULL, NULL, FALSE
    """,
    doc=(
        "VALUE-CHECKED orientation-normalized dHash (rotate-before-"
        "hash): real PNGs carrying real eXIf orientation metadata are "
        "stored as a camera would write them (all 8 EXIF orientations "
        "of 4 closed-form upright rasters), un-rotated by the exact "
        "integer pixel permutation, and hashed — the oracle computes "
        "ONE hash per base from the upright formula, so the value "
        "check PROVES every rotated/mirrored copy collapses onto the "
        "identical 64-bit signature (plain dHash puts a 90-degree "
        "rotation ~half the bits away). Fixture forward transforms "
        "are implemented independently of the operator's inverse "
        "mapping, so a swapped orientation case cannot cancel out. "
        "Corrupt-eXIf fallback (orientation 1) and the undecodable "
        "row are value-checked too."
    ),
)
def multimodal_dhash_oriented_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_oriented_dhash_df,
        image_dhash_oriented,
    )

    return image_dhash_oriented(checked_oriented_dhash_df(spark, n=34))


@register(
    "multimodal_dhash_oriented_near_pairs_checked",
    oracle=f"WITH {_ORIENTED_IMGS_CTE}" + _dhash_pairs_sql("imgs"),
    doc=(
        "VALUE-CHECKED end-to-end rotated-duplicate retrieval: "
        "orientation-normalized hashes feed the SAME lossless 4x16-bit "
        "banded join as plain dHash, and every rotated/mirrored copy "
        "of a base image surfaces as a Hamming-0 pair (all 8 EXIF "
        "orientations cluster, plus the corrupt-eXIf fallback row "
        "joining its base-0 cluster) — the pipeline a crawl-scale "
        "image dedup actually runs: EXIF walk -> upright -> dHash -> "
        "band-bucket join, with the oracle brute-forcing Hamming over "
        "the closed-form upright hashes. Plain dHash finds NONE of "
        "the cross-orientation pairs (the property test pins one at "
        ">3 bits)."
    ),
)
def multimodal_dhash_oriented_near_pairs_checked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_oriented_dhash_df,
        dhash_near_pairs,
        image_dhash_oriented,
    )

    return dhash_near_pairs(
        image_dhash_oriented(checked_oriented_dhash_df(spark, n=34))
    )


@register(
    "multimodal_image_dedup_keep_list",
    oracle=_dhash_keep_list_oracle(_ORIENTED_IMGS_CTE, "imgs"),
    doc=(
        "The full crawl-scale image-dedup decision, VALUE-CHECKED end "
        "to end: EXIF-upright dHash -> lossless banded candidate join "
        "-> connected components over verified Hamming<=3 pairs -> "
        "keep min-id per cluster. Every rotated/mirrored/corrupt-"
        "metadata copy of a base image collapses into one component "
        "with exactly one kept survivor (undecodable rows are excluded "
        "from the graph rather than silently kept); the oracle "
        "recomputes the hashes closed-form and resolves the same "
        "components with recursive SQL. Composition of three "
        "independently-oracled tiers — the image analog of "
        "semantic_dedup_keep_list."
    ),
)
def multimodal_image_dedup_keep_list(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_oriented_dhash_df,
        image_dhash_oriented,
    )

    return _dhash_keep_list(
        image_dhash_oriented(checked_oriented_dhash_df(spark, n=34))
    )


_VIDEO_TDHASH_HASHES_CTE = """
    vals AS (
      SELECT i, j,
        CASE i % 4
          WHEN 0 THEN (j*j*7 + j*29*((i//4)+3) + 151*(i//4)) % 251
          WHEN 1 THEN (j*j*7 + j*29*((i//4)+3) + 151*(i//4)) % 251 + 4
          WHEN 2 THEN CASE WHEN j = 10
                 THEN (((9*9*7 + 9*29*((i//4)+3) + 151*(i//4)) % 251)
                       + ((11*11*7 + 11*29*((i//4)+3) + 151*(i//4)) % 251)) // 2
                 ELSE (j*j*7 + j*29*((i//4)+3) + 151*(i//4)) % 251 END
          ELSE (j*j*11 + j*37*((i//4)+5) + 97*(i//4) + 3) % 251
        END AS v
      FROM generate_series(0, 15) g(i), generate_series(0, 64) gj(j)
      UNION ALL
      SELECT 17, j, (j*j*7 + j*87) % 251 FROM generate_series(0, 9) gj(j)
    ),
    bits AS (
      SELECT a.i, a.j AS k, CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
      FROM vals a JOIN vals b ON b.i = a.i AND b.j = a.j + 1
      WHERE a.j < 64
    ),
    hashes AS (
      SELECT i, CAST(count(*) AS INTEGER) AS n_bits,
        CAST(sum(CASE WHEN k < 32
             THEN bit * (CAST(1 AS BIGINT) << (31 - k)) ELSE 0 END)
             AS BIGINT) AS hash_hi,
        CAST(sum(CASE WHEN k >= 32
             THEN bit * (CAST(1 AS BIGINT) << (63 - k)) ELSE 0 END)
             AS BIGINT) AS hash_lo
      FROM bits GROUP BY i
    )
"""


@register(
    "multimodal_video_temporal_hash_checked",
    oracle="WITH "
    + _VIDEO_TDHASH_HASHES_CTE
    + """
    SELECT CAST(i AS BIGINT) AS media_id, n_bits, hash_hi, hash_lo,
           n_bits = 64 AS decode_ok
    FROM hashes
    UNION ALL
    SELECT 16, 0, NULL, NULL, FALSE
    """,
    doc=(
        "VALUE-CHECKED per-video temporal dHash: real MJPEG-in-MP4 "
        "containers are demuxed, every constant-gray frame decoded "
        "through the real baseline-JPEG codec, and the 64 sign bits of "
        "consecutive frame-mean differences packed into the same "
        "(hash_hi, hash_lo) relation the image dedup machinery "
        "consumes. The oracle restates each signature arithmetically "
        "from the closed-form frame levels (exact because constant-"
        "gray JPEG round-trips losslessly). Honesty rows ride along: "
        "an unparseable container (n_bits 0, NULL hash) and a 10-frame "
        "clip whose REAL 9-bit partial hash is value-checked but "
        "decode_ok=false — too short to band without spurious "
        "zero-padding matches."
    ),
)
def multimodal_video_temporal_hash_checked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_video_dedup_df,
        video_temporal_dhash,
    )

    return video_temporal_dhash(checked_video_dedup_df(spark))


@register(
    "multimodal_video_dedup_keep_list",
    oracle=_dhash_keep_list_oracle(
        _VIDEO_TDHASH_HASHES_CTE
        + """,
    vids AS (SELECT CAST(i AS BIGINT) AS i, hash_hi, hash_lo
             FROM hashes WHERE n_bits = 64)""",
        "vids",
    ),
    doc=(
        "The full crawl-scale VIDEO-dedup decision, value-checked end "
        "to end: MP4 demux -> per-frame JPEG decode -> temporal dHash "
        "-> the SAME lossless 4x16-bit banded join, Hamming<=3 verify, "
        "connected components and keep-min-id as the image plane — "
        "zero new shuffle machinery, one new signature. Brightness-"
        "re-encoded copies land Hamming 0, a one-frame edit within "
        "the radius, different content >= 25 bits away; unparseable "
        "and too-short clips are excluded from the graph rather than "
        "silently kept. The video analog of "
        "multimodal_image_dedup_keep_list."
    ),
)
def multimodal_video_dedup_keep_list(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_video_dedup_df,
        video_temporal_dhash,
    )

    return _dhash_keep_list(video_temporal_dhash(checked_video_dedup_df(spark)))


_AUDIO_FP_HASHES_CTE = """
    x AS (
      SELECT i, t,
        CASE
          WHEN i >= 17 THEN ((t*t*13 + t*17*2) % 1025) - 512
          WHEN i % 4 = 0
            THEN ((t*t*13 + t*17*((i//4)+2) + 31*(i//4)) % 1025) - 512
          WHEN i % 4 = 1
            THEN 2 * (((t*t*13 + t*17*((i//4)+2) + 31*(i//4)) % 1025) - 512)
          WHEN i % 4 = 2 THEN CASE WHEN t // 128 = 5
            THEN ((t*t*5 + t*23*((i//4)+4) + 11*(i//4)) % 1025) - 512
            ELSE ((t*t*13 + t*17*((i//4)+2) + 31*(i//4)) % 1025) - 512 END
          ELSE ((t*t*19 + t*13*((i//4)+6) + 53*(i//4) + 7) % 1025) - 512
        END AS v
      FROM (SELECT i FROM generate_series(0, 18) g(i) WHERE i <> 16) gi,
           generate_series(0, 2047) gt(t)
      WHERE i <> 17 OR t < 384
    ),
    e AS (
      SELECT i, t // 128 AS w, k.k,
        sum(v * CASE k.k
            WHEN 0 THEN CASE (127 - t % 128) % 6
                 WHEN 0 THEN 1 WHEN 1 THEN 1
                 WHEN 3 THEN -1 WHEN 4 THEN -1 ELSE 0 END
            WHEN 1 THEN CASE (127 - t % 128) % 4
                 WHEN 0 THEN 1 WHEN 2 THEN -1 ELSE 0 END
            WHEN 2 THEN CASE (127 - t % 128) % 3
                 WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END
            ELSE (128 - t % 128)
                 * (CASE WHEN (127 - t % 128) % 2 = 0 THEN 1 ELSE -1 END)
          END) AS s1,
        sum(CASE WHEN t % 128 <= 126 THEN v * CASE k.k
            WHEN 0 THEN CASE (126 - t % 128) % 6
                 WHEN 0 THEN 1 WHEN 1 THEN 1
                 WHEN 3 THEN -1 WHEN 4 THEN -1 ELSE 0 END
            WHEN 1 THEN CASE (126 - t % 128) % 4
                 WHEN 0 THEN 1 WHEN 2 THEN -1 ELSE 0 END
            WHEN 2 THEN CASE (126 - t % 128) % 3
                 WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END
            ELSE (127 - t % 128)
                 * (CASE WHEN (126 - t % 128) % 2 = 0 THEN 1 ELSE -1 END)
          END ELSE 0 END) AS s2
      FROM x, (VALUES (0), (1), (2), (3)) k(k)
      GROUP BY i, t // 128, k.k
    ),
    pw AS (
      SELECT i, w, k,
        s1*s1 + s2*s2
        - (CASE k WHEN 0 THEN 1 WHEN 1 THEN 0 WHEN 2 THEN -1 ELSE -2 END)
          * s1 * s2 AS en
      FROM e
    ),
    bits AS (
      SELECT a.i, 4 * a.w + a.k AS p,
             CASE WHEN a.en > b.en THEN 1 ELSE 0 END AS bit
      FROM pw a JOIN pw b
        ON b.i = a.i AND b.w = a.w AND b.k = (a.k + 1) % 4
    ),
    hashes AS (
      SELECT i, CAST(count(*) AS INTEGER) AS n_bits,
        CAST(sum(CASE WHEN p < 32
             THEN bit * (CAST(1 AS BIGINT) << (31 - p)) ELSE 0 END)
             AS BIGINT) AS hash_hi,
        CAST(sum(CASE WHEN p >= 32
             THEN bit * (CAST(1 AS BIGINT) << (63 - p)) ELSE 0 END)
             AS BIGINT) AS hash_lo
      FROM bits GROUP BY i
    )
"""


@register(
    "multimodal_audio_fingerprint_checked",
    oracle="WITH "
    + _AUDIO_FP_HASHES_CTE
    + """
    SELECT CAST(i AS BIGINT) AS media_id, n_bits, hash_hi, hash_lo,
           n_bits = 64 AS decode_ok
    FROM hashes
    UNION ALL
    SELECT 16, 0, NULL, NULL, FALSE
    """,
    doc=(
        "VALUE-CHECKED multi-bin Goertzel audio fingerprint: really-"
        "decoded 16-bit PCM, four integer-grid band powers (fs/6, "
        "fs/4, fs/3, fs/2 — coefficients 1, 0, -1, -2) per 128-sample "
        "window, 16 windows of spectral-slope bits packed into the "
        "shared (hash_hi, hash_lo) relation. The oracle restates every "
        "power as a weighted integer sum over the closed-form samples "
        "(the recursion's impulse response is periodic, or the "
        "alternating ramp for fs/2), so all 64 bits are cross-engine "
        "exact. Honesty rows: an mp3 digest blob, a 500-sample clip "
        "whose REAL 12-bit partial hash is value-checked "
        "(decode_ok=false — too short to band), and a STEREO clip "
        "whose channel 0 is base 0's samples — it must land on base "
        "0's exact hash, value-checking the deinterleave discipline."
    ),
)
def multimodal_audio_fingerprint_checked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        audio_goertzel_fingerprint,
        checked_audio_fp_df,
    )

    return audio_goertzel_fingerprint(checked_audio_fp_df(spark))


@register(
    "multimodal_audio_dedup_keep_list",
    oracle=_dhash_keep_list_oracle(
        _AUDIO_FP_HASHES_CTE
        + """,
    clips AS (SELECT CAST(i AS BIGINT) AS i, hash_hi, hash_lo
              FROM hashes WHERE n_bits = 64)""",
        "clips",
    ),
    doc=(
        "The full crawl-scale AUDIO-dedup decision, value-checked end "
        "to end: PCM decode -> integer-grid Goertzel fingerprint -> "
        "the SAME lossless 4x16-bit banded join, Hamming<=3 verify, "
        "connected components and keep-min-id as the image and video "
        "planes. Volume-doubled re-uploads land Hamming 0 (power "
        "ratios are amplitude-invariant), a one-window edit stays "
        "inside the radius, different content >= 21 bits away, and "
        "the stereo twin joins its mono base's cluster; undecodable "
        "and too-short clips are excluded from the graph rather than "
        "silently kept."
    ),
)
def multimodal_audio_dedup_keep_list(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        audio_goertzel_fingerprint,
        checked_audio_fp_df,
    )

    return _dhash_keep_list(audio_goertzel_fingerprint(checked_audio_fp_df(spark)))


def _admitted(batch: DataFrame, rejects: DataFrame) -> DataFrame:
    """(media_id, admitted) for every batch row: rejected ids False."""
    return (
        batch.select("media_id")
        .join(rejects.withColumn("rej", F.lit(True)), "media_id", "left")
        .select(
            "media_id",
            F.coalesce(~F.col("rej"), F.lit(True)).alias("admitted"),
        )
    )


@register(
    "media_ingest_admission_twin",
    oracle=f"""
    WITH {_ORIENTED_DHASH_CTE},
    ids(i, wave) AS (VALUES (0, 'store'), (8, 'store'), (5, 'batch'),
                            (13, 'batch'), (18, 'batch'), (19, 'batch'),
                            (26, 'batch')),
    imgs AS (
      SELECT ids.i, ids.wave, h.hash_hi, h.hash_lo
      FROM ids JOIN hashes h ON h.b = 1 + (ids.i // 8) % 4
    ),
    rej AS (
      SELECT b.i FROM imgs b
      WHERE b.wave = 'batch' AND EXISTS (
        SELECT 1 FROM imgs s
        WHERE (s.wave = 'store' OR (s.wave = 'batch' AND s.i < b.i))
          AND {_hamming_sql("s", "b")} <= 3
      )
    )
    SELECT CAST(i AS BIGINT) AS media_id,
           i NOT IN (SELECT i FROM rej) AS admitted
    FROM ids WHERE wave = 'batch'
    UNION ALL
    SELECT 33, TRUE
    """,
    doc=(
        "Batch twin of the streaming media-ingest gate: the EXACT "
        "admission decision function the foreachBatch path runs "
        "(streaming/media_ingest.py media_admission_rejects — shared "
        "code, not a reimplementation) evaluated against a planted "
        "store of two upright bases and a batch of rotated re-uploads. "
        "Value-checked decisions: rotated copies of STORED bases are "
        "rejected via the band-join + carried-hash verify; a rotation "
        "pair of an UNSTORED base resolves within-batch by "
        "leader-keeps (min id admitted, satellite rejected); a base "
        "with no match anywhere is admitted; the undecodable blob is "
        "admitted docs-only (dedup cannot gate on evidence it cannot "
        "read). The J-family-twin discipline applied to the media "
        "plane."
    ),
)
def media_ingest_admission_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_oriented_dhash_df,
        dhash_bands,
        image_dhash_oriented,
    )
    from hridaya_steam_market_tracker_spark.streaming.media_ingest import (
        media_admission_rejects,
    )

    fixture = checked_oriented_dhash_df(spark, n=34)
    # One fixture synthesis for the whole twin (round 13): both band
    # derivations and the final id join scan this relation.
    fixture = fixture.localCheckpoint(eager=False)
    stored = fixture.filter(F.col("media_id").isin([0, 8]))
    batch = fixture.filter(F.col("media_id").isin([5, 13, 18, 19, 26, 33]))
    # Lazy band-stage boundary (round 13): the decision references the
    # batch bands twice (both join sides) — the checkpoint decodes each
    # batch image once. Stored bands are referenced once; no boundary.
    stored_bands = dhash_bands(image_dhash_oriented(stored))
    rejects = media_admission_rejects(
        stored_bands,
        dhash_bands(image_dhash_oriented(batch)).localCheckpoint(eager=False),
    )
    return _admitted(batch, rejects)


@register(
    "any_media_ingest_admission_twin",
    oracle="""
    WITH imgs AS (
      SELECT g.i, q.hash_hi, q.hash_lo
      FROM (VALUES (0), (5), (18), (19)) g(i)
      JOIN (
        WITH """
    + _ORIENTED_DHASH_CTE
    + """
        SELECT b, hash_hi, hash_lo FROM hashes
      ) q ON q.b = 1 + (g.i // 8) % 4
    ),
    vids AS (
      SELECT i + 1000 AS i, hash_hi, hash_lo FROM (
        WITH """
    + _VIDEO_TDHASH_HASHES_CTE
    + """
        SELECT i, hash_hi, hash_lo FROM hashes
        WHERE n_bits = 64 AND i IN (0, 1, 3)
      )
    ),
    auds AS (
      SELECT i + 2000 AS i, hash_hi, hash_lo FROM (
        WITH """
    + _AUDIO_FP_HASHES_CTE
    + """
        SELECT i, hash_hi, hash_lo FROM hashes
        WHERE n_bits = 64 AND i IN (0, 1, 18)
      )
    ),
    sigs AS (
      SELECT 'image' AS plane, i, hash_hi, hash_lo FROM imgs
      UNION ALL SELECT 'video', i, hash_hi, hash_lo FROM vids
      UNION ALL SELECT 'audio', i, hash_hi, hash_lo FROM auds
    ),
    ids(i, wave) AS (VALUES
      (0, 'store'), (5, 'batch'), (18, 'batch'), (19, 'batch'),
      (1000, 'store'), (1001, 'batch'), (1003, 'batch'),
      (2000, 'store'), (2001, 'batch'), (2018, 'batch')),
    rows_ AS (
      SELECT ids.i, ids.wave, s.plane, s.hash_hi, s.hash_lo
      FROM ids JOIN sigs s ON s.i = ids.i
    ),
    rej AS (
      SELECT b.i FROM rows_ b
      WHERE b.wave = 'batch' AND EXISTS (
        SELECT 1 FROM rows_ s
        WHERE s.plane = b.plane
          AND (s.wave = 'store' OR (s.wave = 'batch' AND s.i < b.i))
          AND """
    + _hamming_sql("s", "b")
    + """ <= 3
      )
    )
    SELECT CAST(i AS BIGINT) AS media_id,
           i NOT IN (SELECT i FROM rej) AS admitted
    FROM ids WHERE wave = 'batch'
    UNION ALL
    SELECT 2016, TRUE
    UNION ALL
    SELECT 1017, TRUE
    """,
    doc=(
        "Batch twin of the UNIFIED multi-plane media gate: the literal "
        "shared decision path (media_signatures -> plane-tagged bands "
        "-> media_admission_rejects keyed on (plane, band, bucket)) "
        "evaluated against a planted store holding one image, one "
        "video and one audio base. Value-checked decisions across all "
        "three modalities at once: a rotated image re-upload, a "
        "brightness-re-encoded video, a volume-doubled audio and a "
        "stereo twin are rejected against their same-plane stored "
        "bases; an unstored image rotation pair resolves by leader-"
        "keeps; new video content is admitted; evidence-less rows "
        "(garbage audio, too-short video) are admitted docs-only. The "
        "oracle recomputes all three signature families closed-form "
        "(each CTE block scoped inside its own subquery) and applies "
        "the same plane-keyed rejection predicate."
    ),
)
def any_media_ingest_admission_twin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_audio_fp_df,
        checked_oriented_dhash_df,
        checked_video_dedup_df,
    )
    from hridaya_steam_market_tracker_spark.streaming.media_ingest import (
        _ANY_KEYS,
        _any_bands,
        media_admission_rejects,
        media_signatures,
    )

    img = checked_oriented_dhash_df(spark, n=34)
    vid = checked_video_dedup_df(spark).withColumn(
        "media_id", F.col("media_id") + 1000
    )
    aud = checked_audio_fp_df(spark).withColumn(
        "media_id", F.col("media_id") + 2000
    )
    mixed = img.unionByName(vid).unionByName(aud)
    # One fixture synthesis for the whole twin (round 13): every
    # decode plane and the final id join scan this union, so without
    # a boundary each scan re-ran all the fixture generators.
    mixed = mixed.localCheckpoint(eager=False)
    stored = mixed.filter(F.col("media_id").isin([0, 1000, 2000]))
    batch = mixed.filter(
        F.col("media_id").isin([5, 18, 19, 1001, 1003, 1017, 2001, 2016, 2018])
    )
    # Lazy band-stage boundaries (round 13): the decision references
    # batch bands twice (both join sides) — without the checkpoint each
    # reference re-ran the full three-modality signature decode. The
    # streaming gate itself persist()s its band relations the same way.
    rejects = media_admission_rejects(
        _any_bands(media_signatures(stored)).localCheckpoint(eager=False),
        _any_bands(media_signatures(batch)).localCheckpoint(eager=False),
        keys=_ANY_KEYS,
    )
    return _admitted(batch, rejects)


# DuckDB twin of operators.dedup._h60(gram, seed=0), shared with the
# text winnow oracles (queries/curation_ext.py).
_VH60_SQL = "('0x' || substr(md5('0:' || {g}), 1, 15))::BIGINT"

# The exploded (media_id, fp) rows of a winnowing CTE's `win` relation.
_WIN_FPS = "win, unnest(fps) AS t(fp)"


def _containment_pairs(fps: DataFrame) -> DataFrame:
    """winnow_containment_pairs at 0.5 over a (media_id, fp) relation.

    Lazy stage boundary (the r8 strip->span lesson): the containment
    join fans the fingerprint relation out four ways (both join sides +
    both count sides), and without the cut each branch would re-run the
    mapInPandas DECODE, the one genuinely expensive stage. The
    checkpoint materializes the fingerprints once, at first execution,
    inside any timer."""
    from hridaya_steam_market_tracker_spark.operators.dedup import (
        winnow_containment_pairs,
    )

    return winnow_containment_pairs(
        fps.localCheckpoint(eager=False), id_col="media_id", min_containment=0.5
    )


def _excerpt_twin(spark, parts, stored, batch, **planes) -> DataFrame:
    """Batch twin of the excerpt/crop admission gate: the LITERAL
    streaming decision (`media_excerpt_rejects` over `media_winnow_fps`
    with the gate's `planes` options) at tau 0.8. ``parts`` are
    (id offset, fixture builder) pairs, unioned in order with each
    fixture's media_id shifted by its offset; ``stored`` / ``batch``
    name the two waves by shifted id.

    Lazy boundaries (round 13): one on the fixture union, because every
    decode plane and the final id join scan it and each scan would
    otherwise re-run every fixture generator; one on each fps relation,
    because the decision fans it out ~4 ways (population, evidence,
    denominator) and each reference would otherwise re-run the decode
    planes and the winnow. Each payload is decoded once, at first
    execution. The streaming gate gets the same effect from its
    persist() on batch_wfps."""
    from hridaya_steam_market_tracker_spark.streaming.corpus_ingest import (
        media_excerpt_rejects,
    )
    from hridaya_steam_market_tracker_spark.streaming.media_ingest import (
        media_winnow_fps,
    )

    mixed = reduce(
        DataFrame.unionByName,
        (
            fixture(spark).withColumn("media_id", F.col("media_id") + offset)
            for offset, fixture in parts
        ),
    ).localCheckpoint(eager=False)
    batch_df = mixed.filter(F.col("media_id").isin(list(batch)))
    rejects = media_excerpt_rejects(
        media_winnow_fps(
            mixed.filter(F.col("media_id").isin(list(stored))), **planes
        ).localCheckpoint(eager=False),
        media_winnow_fps(batch_df, **planes).localCheckpoint(eager=False),
        0.8,
    )
    return _admitted(batch_df, rejects)


def _excerpt_twin_oracle(planes, stored, batch) -> str:
    """DuckDB restatement of an excerpt twin: every (id offset, plane,
    fixture CTE, fps relation) plane contributes the fingerprints its
    fixture CTE recomputes bit-for-bit (the same CTEs that oracle the
    fingerprint and pair queries), shifted by its offset, and
    admission_sql states the decision over the stored/batch waves."""
    allf = "\n      UNION ALL\n      ".join(
        f"SELECT media_id + {offset} AS media_id, '{plane}' AS plane, fp\n"
        f"      FROM (WITH {cte}\n            SELECT media_id, fp FROM {rel})"
        for offset, plane, cte, rel in planes
    )
    return f"\n    WITH allf AS (\n      {allf}\n    )" + admission_sql(
        "allf",
        "media_id",
        "VALUES " + ", ".join(f"({i})" for i in stored),
        "VALUES " + ", ".join(f"({i})" for i in batch),
    )


_VIDEO_CLIP_WINNOW_CTE = f"""
    vals AS (
      SELECT i, j,
        CASE WHEN i % 2 = 0
          THEN (j*j*(7 + (i//2) % 5) + j*(31 + 3*(i//2))
                + 5 + 11*(i//2)) % 251
          ELSE ((j+20)*(j+20)*(7 + (i//2) % 5) + (j+20)*(31 + 3*(i//2))
                + 5 + 11*(i//2)) % 251
        END AS v
      FROM generate_series(0, 7) gi(i), generate_series(0, 79) gj(j)
      WHERE i % 2 = 0 OR j < 30
    ),
    d AS (SELECT i AS media_id, list(CAST(v AS VARCHAR) ORDER BY j) AS w
          FROM vals GROUP BY i),
    g AS (SELECT media_id,
                 [{_VH60_SQL.format(g="array_to_string(w[k:k+2], ' ')")}
                  for k in range(1, len(w) - 1)] AS h
          FROM d WHERE len(w) >= 3),
    win AS (SELECT media_id,
                   CASE WHEN len(h) >= 4
                        THEN list_distinct([list_min(h[k:k+3])
                                            for k in range(1, len(h) - 2)])
                        ELSE [list_min(h)] END AS fps
            FROM g)
"""


@register(
    "multimodal_video_clip_fingerprints",
    oracle="WITH "
    + _VIDEO_CLIP_WINNOW_CTE
    + """
    SELECT media_id, fp FROM win, unnest(fps) AS t(fp)
    """,
    doc=(
        "Winnowing fingerprints over VIDEO frame-token sequences: each "
        "decodable frame becomes the integer token round(mean*255) "
        "(exact for constant-gray MJPEG), and the TEXT winnowing "
        "operator runs unchanged — 3-frame grams, window 4, 60-bit md5 "
        "hashes the oracle recomputes bit-for-bit. The SIGMOD'03 "
        "guarantee transfers: any shared run of >= 6 frames between "
        "two videos shares a selected fingerprint, which is what makes "
        "subclip detection joinable. The unparseable honesty row "
        "fingerprints nothing."
    ),
)
def multimodal_video_clip_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.dedup import (
        winnow_fingerprints,
    )
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_video_clip_df,
        video_frame_token_text,
    )

    toks = video_frame_token_text(checked_video_clip_df(spark))
    return winnow_fingerprints(toks, id_col="media_id", k=3, w=4)


@register(
    "multimodal_video_subclip_pairs",
    oracle="WITH "
    + _VIDEO_CLIP_WINNOW_CTE
    + """,
    fps AS (SELECT media_id, fp FROM win, unnest(fps) AS t(fp))"""
    + containment_pairs_sql("fps", "media_id"),
    doc=(
        "VIDEO SUBCLIP detection, value-checked end to end: a 30-frame "
        "clip embedded inside each 80-frame base surfaces through the "
        "fingerprint inverted index with directional containment "
        "scoring (shared / smaller side's fingerprint count) — the "
        "embedded-duplicate class the whole-clip temporal hash is "
        "structurally blind to (alignment destroys its bit positions), "
        "and the video analog of text excerpt detection. Composition "
        "of decode -> frame tokens -> winnowing -> "
        "winnow_containment_pairs, each tier independently oracled; "
        "unrelated bases share no fingerprints and produce no rows."
    ),
)
def multimodal_video_subclip_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.dedup import (
        winnow_fingerprints,
    )
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_video_clip_df,
        video_frame_token_text,
    )

    toks = video_frame_token_text(checked_video_clip_df(spark))
    return _containment_pairs(
        winnow_fingerprints(toks, id_col="media_id", k=3, w=4)
    )


_AUDIO_CLIP_WINNOW_CTE = f"""
    xs AS (
      SELECT i, t,
        CASE WHEN i % 2 = 0
          THEN ((t*t*(11 + (i//2) % 7) + t*(37 + (i//2) % 101)
                 + 17*(i//2)) % 1025) - 512
          ELSE (((t+1024)*(t+1024)*(11 + (i//2) % 7)
                 + (t+1024)*(37 + (i//2) % 101)
                 + 17*(i//2)) % 1025) - 512
        END AS v
      FROM generate_series(0, 7) gi(i), generate_series(0, 4095) gt(t)
      WHERE i % 2 = 0 OR t < 1536
    ),
    e AS (
      SELECT i, t // 128 AS wn, k.k,
        sum(v * CASE k.k
            WHEN 0 THEN CASE (127 - t % 128) % 6
                 WHEN 0 THEN 1 WHEN 1 THEN 1
                 WHEN 3 THEN -1 WHEN 4 THEN -1 ELSE 0 END
            WHEN 1 THEN CASE (127 - t % 128) % 4
                 WHEN 0 THEN 1 WHEN 2 THEN -1 ELSE 0 END
            WHEN 2 THEN CASE (127 - t % 128) % 3
                 WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END
            ELSE (128 - t % 128)
                 * (CASE WHEN (127 - t % 128) % 2 = 0 THEN 1 ELSE -1 END)
          END) AS s1,
        sum(CASE WHEN t % 128 <= 126 THEN v * CASE k.k
            WHEN 0 THEN CASE (126 - t % 128) % 6
                 WHEN 0 THEN 1 WHEN 1 THEN 1
                 WHEN 3 THEN -1 WHEN 4 THEN -1 ELSE 0 END
            WHEN 1 THEN CASE (126 - t % 128) % 4
                 WHEN 0 THEN 1 WHEN 2 THEN -1 ELSE 0 END
            WHEN 2 THEN CASE (126 - t % 128) % 3
                 WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END
            ELSE (127 - t % 128)
                 * (CASE WHEN (126 - t % 128) % 2 = 0 THEN 1 ELSE -1 END)
          END ELSE 0 END) AS s2
      FROM xs, (VALUES (0), (1), (2), (3)) k(k)
      GROUP BY i, t // 128, k.k
    ),
    tok AS (
      SELECT i, wn,
             array_to_string(
               list(CAST(s1*s1 + s2*s2
                    - (CASE k WHEN 0 THEN 1 WHEN 1 THEN 0
                       WHEN 2 THEN -1 ELSE -2 END) * s1 * s2 AS VARCHAR)
                    ORDER BY k), '_') AS t_str
      FROM e GROUP BY i, wn
    ),
    d AS (SELECT i AS media_id, list(t_str ORDER BY wn) AS w
          FROM tok GROUP BY i),
    g AS (SELECT media_id,
                 [{_VH60_SQL.format(g="array_to_string(w[k:k+2], ' ')")}
                  for k in range(1, len(w) - 1)] AS h
          FROM d WHERE len(w) >= 3),
    win AS (SELECT media_id,
                   CASE WHEN len(h) >= 4
                        THEN list_distinct([list_min(h[k:k+3])
                                            for k in range(1, len(h) - 2)])
                        ELSE [list_min(h)] END AS fps
            FROM g)
"""


@register(
    "multimodal_audio_clip_fingerprints",
    oracle="WITH "
    + _AUDIO_CLIP_WINNOW_CTE
    + """
    SELECT media_id, fp FROM win, unnest(fps) AS t(fp)
    """,
    doc=(
        "Winnowing fingerprints over AUDIO window-token sequences: "
        "every 128-sample window of channel 0 becomes the token "
        "E0_E1_E2_E3 (its four exact-integer Goertzel band powers), "
        "and the TEXT winnowing operator runs unchanged — the oracle "
        "recomputes every power as a weighted integer sum AND every "
        "60-bit gram hash bit-for-bit. A window-aligned excerpt of a "
        "stored clip has byte-identical windows hence identical "
        "tokens, so shared runs of >= 6 windows are guaranteed a "
        "shared fingerprint. The mp3 honesty row fingerprints nothing."
    ),
)
def multimodal_audio_clip_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.dedup import (
        winnow_fingerprints,
    )
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        audio_window_token_text,
        checked_audio_clip_df,
    )

    toks = audio_window_token_text(checked_audio_clip_df(spark))
    return winnow_fingerprints(toks, id_col="media_id", k=3, w=4)


@register(
    "multimodal_audio_excerpt_pairs",
    oracle="WITH "
    + _AUDIO_CLIP_WINNOW_CTE
    + """,
    fps AS (SELECT media_id, fp FROM win, unnest(fps) AS t(fp))"""
    + containment_pairs_sql("fps", "media_id"),
    doc=(
        "AUDIO EXCERPT detection, value-checked end to end: a 12-window "
        "excerpt cut window-aligned from each 32-window host surfaces "
        "through the fingerprint inverted index with directional "
        "containment scoring — the audio member of the excerpt/subclip/"
        "quote family (containment_pairs for text, "
        "multimodal_video_subclip_pairs for video), completing the "
        "embedded-duplicate plane across all three modalities. "
        "Unrelated hosts share no fingerprints and produce no rows."
    ),
)
def multimodal_audio_excerpt_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.dedup import (
        winnow_fingerprints,
    )
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        audio_window_token_text,
        checked_audio_clip_df,
    )

    toks = audio_window_token_text(checked_audio_clip_df(spark))
    return _containment_pairs(
        winnow_fingerprints(toks, id_col="media_id", k=3, w=4)
    )


# Phased window tokens of checked_audio_offset_clip_df recomputed
# closed-form (round 11): same Goertzel impulse-response restatement as
# _AUDIO_CLIP_WINNOW_CTE, but windows are taken on BOTH phase grids
# (sample offsets o in {0, 64}) — in-window position (t - o) % 128,
# window number (t - o) // 128, full windows only — and the excerpt
# (odd ids) starts at host sample 1088 (8.5 windows: on the 64-sample
# phase lattice, NOT a window boundary). One token document per
# (clip, phase); fingerprints are the per-document winnowing selection
# unioned DISTINCT per clip — matching winnow_fingerprints over the
# phases=2 multi-row token relation with its (id, fp) dedup.
_AUDIO_OFFSET_CLIP_CTE = f"""
    xs AS (
      SELECT i, t,
        CASE WHEN i % 2 = 0
          THEN ((t*t*(11 + (i//2) % 7) + t*(37 + (i//2) % 101)
                 + 17*(i//2)) % 1025) - 512
          ELSE (((t+1088)*(t+1088)*(11 + (i//2) % 7)
                 + (t+1088)*(37 + (i//2) % 101)
                 + 17*(i//2)) % 1025) - 512
        END AS v,
        CASE WHEN i % 2 = 0 THEN 4096 ELSE 1536 END AS n
      FROM generate_series(0, 7) gi(i), generate_series(0, 4095) gt(t)
      WHERE i % 2 = 0 OR t < 1536
    ),
    ph AS (SELECT 0 AS o UNION ALL SELECT 64),
    e AS (
      SELECT i, ph.o AS o, (t - ph.o) // 128 AS wn, k.k,
        sum(v * CASE k.k
            WHEN 0 THEN CASE (127 - (t - ph.o) % 128) % 6
                 WHEN 0 THEN 1 WHEN 1 THEN 1
                 WHEN 3 THEN -1 WHEN 4 THEN -1 ELSE 0 END
            WHEN 1 THEN CASE (127 - (t - ph.o) % 128) % 4
                 WHEN 0 THEN 1 WHEN 2 THEN -1 ELSE 0 END
            WHEN 2 THEN CASE (127 - (t - ph.o) % 128) % 3
                 WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END
            ELSE (128 - (t - ph.o) % 128)
                 * (CASE WHEN (127 - (t - ph.o) % 128) % 2 = 0
                    THEN 1 ELSE -1 END)
          END) AS s1,
        sum(CASE WHEN (t - ph.o) % 128 <= 126 THEN v * CASE k.k
            WHEN 0 THEN CASE (126 - (t - ph.o) % 128) % 6
                 WHEN 0 THEN 1 WHEN 1 THEN 1
                 WHEN 3 THEN -1 WHEN 4 THEN -1 ELSE 0 END
            WHEN 1 THEN CASE (126 - (t - ph.o) % 128) % 4
                 WHEN 0 THEN 1 WHEN 2 THEN -1 ELSE 0 END
            WHEN 2 THEN CASE (126 - (t - ph.o) % 128) % 3
                 WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END
            ELSE (127 - (t - ph.o) % 128)
                 * (CASE WHEN (126 - (t - ph.o) % 128) % 2 = 0
                    THEN 1 ELSE -1 END)
          END ELSE 0 END) AS s2
      FROM xs, ph, (VALUES (0), (1), (2), (3)) k(k)
      WHERE t >= ph.o AND t < ph.o + ((n - ph.o) // 128) * 128
      GROUP BY i, ph.o, (t - ph.o) // 128, k.k
    ),
    tok AS (
      SELECT i, o, wn,
             array_to_string(
               list(CAST(s1*s1 + s2*s2
                    - (CASE k WHEN 0 THEN 1 WHEN 1 THEN 0
                       WHEN 2 THEN -1 ELSE -2 END) * s1 * s2 AS VARCHAR)
                    ORDER BY k), '_') AS t_str
      FROM e GROUP BY i, o, wn
    ),
    d AS (SELECT i AS media_id, o, list(t_str ORDER BY wn) AS w
          FROM tok GROUP BY i, o),
    g AS (SELECT media_id, o,
                 [{_VH60_SQL.format(g="array_to_string(w[k:k+2], ' ')")}
                  for k in range(1, len(w) - 1)] AS h
          FROM d WHERE len(w) >= 3),
    win AS (SELECT media_id, o,
                   CASE WHEN len(h) >= 4
                        THEN list_distinct([list_min(h[k:k+3])
                                            for k in range(1, len(h) - 2)])
                        ELSE [list_min(h)] END AS fps
            FROM g),
    afps AS (SELECT DISTINCT media_id, fp
             FROM win, unnest(fps) AS t(fp))
"""


@register(
    "multimodal_audio_offset_clip_fingerprints",
    oracle="WITH "
    + _AUDIO_OFFSET_CLIP_CTE
    + """
    SELECT media_id, fp FROM afps
    """,
    doc=(
        "PHASE-SHIFTED audio window fingerprints (phases=2) over the "
        "non-aligned-excerpt fixture: one token document per (clip, "
        "64-sample phase offset), winnowed independently, unioned "
        "DISTINCT per clip — every Goertzel power, gram hash, and "
        "winnowing selection recomputed bit-for-bit by the oracle. "
        "The index side of the audio alignment-blind-spot shrink "
        "(index <= 2x; the mp3 honesty row fingerprints nothing)."
    ),
)
def multimodal_audio_offset_clip_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.dedup import (
        winnow_fingerprints,
    )
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        audio_window_token_text,
        checked_audio_offset_clip_df,
    )

    toks = audio_window_token_text(
        checked_audio_offset_clip_df(spark), phases=2
    )
    return winnow_fingerprints(
        toks, id_col="media_id", k=3, w=4
    ).dropDuplicates(["media_id", "fp"])


@register(
    "multimodal_audio_offset_excerpt_pairs",
    oracle="WITH "
    + _AUDIO_OFFSET_CLIP_CTE
    + containment_pairs_sql("afps", "media_id"),
    doc=(
        "NON-ALIGNED audio excerpt containment, value-checked end to "
        "end — the audio member of the round-11 blind-spot shrink: an "
        "excerpt cut at 8.5 windows (the 64-sample phase lattice, not "
        "a window boundary) shares ZERO tokens with its host under "
        "single-grid tokenization (every excerpt window straddles two "
        "host windows), but with phases=2 the excerpt's phase "
        "documents are contiguous runs of the host's phase documents "
        "and the pair surfaces through the UNCHANGED df-capped "
        "winnow_containment_pairs join. Unrelated hosts share no "
        "fingerprints and produce no rows."
    ),
)
def multimodal_audio_offset_excerpt_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.dedup import (
        winnow_fingerprints,
    )
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        audio_window_token_text,
        checked_audio_offset_clip_df,
    )

    toks = audio_window_token_text(
        checked_audio_offset_clip_df(spark), phases=2
    )
    return _containment_pairs(
        winnow_fingerprints(toks, id_col="media_id", k=3, w=4)
        .dropDuplicates(["media_id", "fp"])
    )


# Tile tokens of checked_image_crop_df recomputed closed-form: pixel
# v(b,x,y) (crop rows shift by the (16,8) offset), 8x8 tiles, token =
# position-weighted byte sum (each gray pixel contributes v*(9k+6), k =
# its row-major index within the tile), fp = the shared 60-bit md5
# recipe. id 9 (the camera-rotated storage of base 0's crop) uprights
# to id 1's raster exactly, so its tokens are id 1's.
_IMAGE_CROP_TILE_CTE = f"""
    px AS (
      SELECT i, x, y,
        CASE WHEN i % 2 = 0
          THEN (x*x*(3 + (i//2) % 5) + y*y*(7 + (i//2) % 3) + x*y
                + 13*(i//2)) % 251
          ELSE ((x+16)*(x+16)*(3 + (i//2) % 5)
                + (y+8)*(y+8)*(7 + (i//2) % 3) + (x+16)*(y+8)
                + 13*(i//2)) % 251
        END AS v
      FROM generate_series(0, 7) gi(i),
           generate_series(0, 63) gx(x),
           generate_series(0, 47) gy(y)
      WHERE i % 2 = 0 OR (x < 32 AND y < 24)
    ),
    tok AS (
      SELECT i AS media_id, x // 8 AS tx, y // 8 AS ty,
             sum(v * (9 * ((y % 8) * 8 + (x % 8)) + 6)) % 2147483648 AS t
      FROM px GROUP BY 1, 2, 3
    ),
    tok9 AS (
      SELECT media_id, t FROM tok
      UNION ALL
      SELECT 9, t FROM tok WHERE media_id = 1
    ),
    ifps AS (
      SELECT DISTINCT CAST(media_id AS BIGINT) AS media_id,
             {_VH60_SQL.format(g="CAST(t AS VARCHAR)")} AS fp
      FROM tok9
    )
"""


@register(
    "multimodal_image_tile_fingerprints",
    oracle="WITH "
    + _IMAGE_CROP_TILE_CTE
    + """
    SELECT media_id, fp FROM ifps
    """,
    doc=(
        "Tile-content fingerprints over REALLY-decoded, EXIF-upright "
        "image rasters: each full 8x8 tile becomes the integer token "
        "sum(byte*(k+1)) mod 2^31 and the shared 60-bit md5 fp the "
        "oracle recomputes bit-for-bit — the image's content plane "
        "for CROP containment (images have no token sequence, so "
        "this is the analog of video frame tokens, set-valued). The "
        "camera-rotated crop (id 9, real eXIf orientation 6) must "
        "fingerprint identically to its upright twin (id 1) — the "
        "rotate-before-hash rule transfers to tiles; the undecodable "
        "honesty row fingerprints nothing."
    ),
)
def multimodal_image_tile_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_image_crop_df,
        image_tile_fingerprints,
    )

    return image_tile_fingerprints(checked_image_crop_df(spark))


@register(
    "multimodal_image_crop_pairs",
    oracle="WITH "
    + _IMAGE_CROP_TILE_CTE
    + containment_pairs_sql("ifps", "media_id"),
    doc=(
        "CROPPED-IMAGE containment, value-checked end to end: a 32x24 "
        "tile-aligned crop planted inside each 64x48 base surfaces "
        "through the tile-fingerprint inverted index with directional "
        "containment scoring (shared / smaller side's fingerprint "
        "count) at exactly 1.0 — the re-upload class the whole-image "
        "dHash is structurally blind to (cropping shifts the global "
        "resize grid: measured host-vs-crop Hamming 32-40 of 64) — "
        "closing the embedded-duplicate matrix across text / video / "
        "audio / image. The camera-rotated crop pairs with BOTH its "
        "host and its upright twin; unrelated bases share no "
        "fingerprints and produce no rows. Same df-capped "
        "winnow_containment_pairs join as every other plane."
    ),
)
def multimodal_image_crop_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_image_crop_df,
        image_tile_fingerprints,
    )

    return _containment_pairs(
        image_tile_fingerprints(checked_image_crop_df(spark))
    )


# Phased tile tokens of checked_image_offset_crop_df recomputed
# closed-form (round 11): same pixel formula as the aligned fixture but
# the crop sits at offset (20, 12) — a tile/2 lattice point, NOT a tile
# boundary — and tokens come from ALL FOUR phase grids (x/y offsets in
# {0, 4}): a phase grid at offset o tiles the [o, o + ((dim-o)//8)*8)
# span, and each tile's token is the same position-weighted byte sum
# keyed by in-tile coordinates RELATIVE to the grid origin. fps are the
# shared 60-bit md5 recipe, distinct per image (tokens are content-only
# across phases — cross-phase joins are exactly what realign a shifted
# crop, see operators/multimodal._tile_token_kernel).
_IMAGE_OFFSET_CROP_CTE = f"""
    px AS (
      SELECT i, x, y,
        CASE WHEN i % 2 = 0
          THEN (x*x*(3 + (i//2) % 5) + y*y*(7 + (i//2) % 3) + x*y
                + 13*(i//2)) % 251
          ELSE ((x+20)*(x+20)*(3 + (i//2) % 5)
                + (y+12)*(y+12)*(7 + (i//2) % 3) + (x+20)*(y+12)
                + 13*(i//2)) % 251
        END AS v,
        CASE WHEN i % 2 = 0 THEN 64 ELSE 32 END AS iw,
        CASE WHEN i % 2 = 0 THEN 48 ELSE 24 END AS ih
      FROM generate_series(0, 7) gi(i),
           generate_series(0, 63) gx(x),
           generate_series(0, 47) gy(y)
      WHERE i % 2 = 0 OR (x < 32 AND y < 24)
    ),
    ph AS (SELECT 0 AS o UNION ALL SELECT 4),
    tok AS (
      SELECT i AS media_id,
             sum(v * (9 * (((y - hy.o) % 8) * 8 + ((x - hx.o) % 8)) + 6))
               % 2147483648 AS t
      FROM px, ph hx, ph hy
      WHERE x >= hx.o AND y >= hy.o
        AND x < hx.o + ((iw - hx.o) // 8) * 8
        AND y < hy.o + ((ih - hy.o) // 8) * 8
      GROUP BY i, hx.o, hy.o, (x - hx.o) // 8, (y - hy.o) // 8
    ),
    ifps AS (
      SELECT DISTINCT CAST(media_id AS BIGINT) AS media_id,
             {_VH60_SQL.format(g="CAST(t AS VARCHAR)")} AS fp
      FROM tok
    )
"""


@register(
    "multimodal_image_offset_tile_fingerprints",
    oracle="WITH "
    + _IMAGE_OFFSET_CROP_CTE
    + """
    SELECT media_id, fp FROM ifps
    """,
    doc=(
        "PHASE-SHIFTED tile fingerprints (phases=2) over the "
        "non-aligned-crop fixture: every token of all four phase "
        "grids (x/y offsets 0 and 4) of the really-decoded rasters, "
        "distinct per image, recomputed bit-for-bit by the oracle — "
        "the index side of the round-11 alignment-blind-spot shrink "
        "(index grows <= 4x; the undecodable honesty row "
        "fingerprints nothing)."
    ),
)
def multimodal_image_offset_tile_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_image_offset_crop_df,
        image_tile_fingerprints,
    )

    return image_tile_fingerprints(
        checked_image_offset_crop_df(spark), phases=2
    )


@register(
    "multimodal_image_offset_crop_pairs",
    oracle="WITH "
    + _IMAGE_OFFSET_CROP_CTE
    + containment_pairs_sql("ifps", "media_id"),
    doc=(
        "NON-ALIGNED cropped-image containment, value-checked end to "
        "end — the round-11 blind-spot shrink: a 32x24 crop at offset "
        "(20, 12) (a tile/2 lattice point, not a tile boundary) "
        "shares ZERO tiles with its host under the single grid (the "
        "class the round-10 aligned plane still admitted), but with "
        "phases=2 every crop-phase grid realigns with some host-phase "
        "grid and the pair surfaces at containment exactly 1.0 "
        "through the UNCHANGED df-capped winnow_containment_pairs "
        "join. Unrelated bases share no fingerprints and produce no "
        "rows."
    ),
)
def multimodal_image_offset_crop_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_image_offset_crop_df,
        image_tile_fingerprints,
    )

    return _containment_pairs(
        image_tile_fingerprints(checked_image_offset_crop_df(spark), phases=2)
    )


# Content-defined tile anchors of checked_image_cdt_crop_df recomputed
# closed-form (round 12): the fixture plants each 32x24 crop at offset
# (13, 7) — off EVERY tile/phases lattice — and the oracle re-derives
# every anchor from the pixel formula: gray = 3*v (the fixtures store
# r=g=b=v), T(ax, ay) = sum over the 8x8 neighborhood of
# gray * (31^dx * 37^dy mod 1e9+7), one final mod (64 terms of
# <= 765*(M-1) fit BIGINT, so one mod equals Spark's stepwise mod),
# anchor iff T % 64 = 0. id 9 is the camera-rotated storage of id 1's
# crop: its UPRIGHT pixels are id 1's, so the oracle assigns it id 1's
# formula (rotate-before-hash, same rule the tile plane pins). id 8
# (undecodable blob) is absent by construction.
_IMAGE_CDT_PW = ", ".join(
    f"({dx}, {dy}, {pow(31, dx, 1_000_000_007) * pow(37, dy, 1_000_000_007) % 1_000_000_007})"
    for dx in range(8)
    for dy in range(8)
)

_IMAGE_CDT_CTE = f"""
    ids AS (
      SELECT i, CASE WHEN i = 9 THEN 0 ELSE i // 2 END AS b
      FROM generate_series(0, 9) gi(i) WHERE i != 8
    ),
    px AS (
      SELECT i, x, y,
        CASE WHEN i % 2 = 0
          THEN (x*x*(3 + b % 5) + y*y*(7 + b % 3) + x*y + 13*b) % 251
          ELSE ((x+13)*(x+13)*(3 + b % 5) + (y+7)*(y+7)*(7 + b % 3)
                + (x+13)*(y+7) + 13*b) % 251
        END AS v,
        CASE WHEN i % 2 = 0 THEN 64 ELSE 32 END AS iw,
        CASE WHEN i % 2 = 0 THEN 48 ELSE 24 END AS ih
      FROM ids,
           generate_series(0, 63) gx(x),
           generate_series(0, 47) gy(y)
      WHERE i % 2 = 0 OR (x < 32 AND y < 24)
    ),
    pw(dx, dy, pv) AS (VALUES {_IMAGE_CDT_PW}),
    t AS (
      SELECT p.i AS media_id, p.x - pw.dx AS ax, p.y - pw.dy AS ay,
             sum(CAST(3 * p.v AS BIGINT) * pw.pv) % 1000000007 AS tok
      FROM px p, pw
      WHERE p.x - pw.dx BETWEEN 0 AND p.iw - 8
        AND p.y - pw.dy BETWEEN 0 AND p.ih - 8
      GROUP BY 1, 2, 3
    ),
    anchors AS (
      SELECT CAST(media_id AS BIGINT) AS media_id,
             CAST(ax AS INTEGER) AS ax, CAST(ay AS INTEGER) AS ay,
             CAST(tok AS BIGINT) AS tok
      FROM t WHERE tok % 64 = 0
    ),
    cfps AS (
      SELECT DISTINCT media_id,
             {_VH60_SQL.format(g="CAST(tok AS VARCHAR)")} AS fp
      FROM anchors
    )
"""


@register(
    "multimodal_image_cdt_anchors_checked",
    oracle="WITH "
    + _IMAGE_CDT_CTE
    + """
    SELECT media_id, ax, ay, tok FROM anchors
    """,
    doc=(
        "CONTENT-DEFINED image tile anchors (round 12), value-checked "
        "end to end: every (position, token) where the polynomial "
        "rolling hash of the 8x8 pixel neighborhood of the really-"
        "decoded EXIF-upright raster satisfies the divisor-64 mask — "
        "the 2-D generalization of content_defined_chunks' rsync rule "
        "and the offset-INDEPENDENT complement to the phase grids "
        "(operators/multimodal.image_cdt_anchor_tokens). The oracle "
        "recomputes every hash from the closed-form pixels, the "
        "camera-rotated row anchors as its upright twin, and the "
        "undecodable blob is absent (honest per-row failure)."
    ),
)
def multimodal_image_cdt_anchors_checked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_image_cdt_crop_df,
        image_cdt_anchor_tokens,
    )

    return (
        image_cdt_anchor_tokens(checked_image_cdt_crop_df(spark))
        .filter(F.col("decode_ok") & F.col("tok").isNotNull())
        .select("media_id", "ax", "ay", "tok")
    )


@register(
    "multimodal_image_cdt_crop_pairs",
    oracle="WITH "
    + _IMAGE_CDT_CTE
    + containment_pairs_sql("cfps", "media_id"),
    doc=(
        "ARBITRARY-OFFSET cropped-image containment, value-checked end "
        "to end — the round-12 close of the last admitted duplicate "
        "class: a 32x24 crop at offset (13, 7) sits off EVERY "
        "tile/phases lattice (the phase grids share ZERO tokens with "
        "it at any phase count), but content-defined anchors depend "
        "only on each 8x8 block's bytes, so the crop's anchor set is "
        "an exact SUBSET of its host's and the pair surfaces at "
        "containment exactly 1.0 through the UNCHANGED df-capped "
        "winnow_containment_pairs join — at CONSTANT index mass "
        "(~W*H/64, the tile grid's own density), not phases^2. The "
        "camera-rotated crop pairs with both its host and its upright "
        "twin; unrelated bases produce no rows."
    ),
)
def multimodal_image_cdt_crop_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_image_cdt_crop_df,
        image_cdt_fingerprints,
    )

    return _containment_pairs(
        image_cdt_fingerprints(checked_image_cdt_crop_df(spark))
    )


# Content-defined audio anchors of checked_audio_cdt_excerpt_df
# recomputed closed-form (round 12): hosts are the 4,096-sample clips
# x(b, t) = ((t*t*(11 + b%7) + t*(37 + b%101) + 17*b) % 4099) - 2049
# (prime modulus > clip length -> aperiodic, every anchor distinct),
# excerpts cut samples 1037..2572 (off every window/phases lattice).
# T(p) = sum_{d<16} (x(b, p + off + d) + 32768) * 31^d mod 1e9+7 —
# terms <= 65535 * (M-1) and 16 of them fit BIGINT, so one final mod
# equals Spark's stepwise mod; the +32768 unsigned shift keeps every
# term nonnegative so DuckDB's sign-of-dividend % agrees with numpy.
# Anchor iff T % 64 = 0. id 8 (undecodable mp3 blob) is absent.
_AUDIO_CDT_PW = ", ".join(
    f"({d}, {pow(31, d, 1_000_000_007)})" for d in range(16)
)

_AUDIO_CDT_CTE = f"""
    ids AS (
      SELECT i, i // 2 AS b,
             CASE WHEN i % 2 = 0 THEN 4096 ELSE 1536 END AS n,
             CASE WHEN i % 2 = 0 THEN 0 ELSE 1037 END AS off
      FROM generate_series(0, 7) gi(i)
    ),
    t AS (
      SELECT ids.i AS media_id, g.p AS apos,
             sum(CAST(((((g.p + off + pw.d) * (g.p + off + pw.d)
                         * (11 + b % 7)
                       + (g.p + off + pw.d) * (37 + b % 101)
                       + 17 * b) % 4099) - 2049 + 32768) AS BIGINT)
                 * pw.pv) % 1000000007 AS tok
      FROM ids, generate_series(0, 4080) g(p),
           (VALUES {_AUDIO_CDT_PW}) pw(d, pv)
      WHERE g.p <= n - 16
      GROUP BY 1, 2
    ),
    aanchors AS (
      SELECT CAST(media_id AS BIGINT) AS media_id,
             CAST(apos AS INTEGER) AS apos, CAST(tok AS BIGINT) AS tok
      FROM t WHERE tok % 64 = 0
    ),
    afps AS (
      SELECT DISTINCT media_id,
             {_VH60_SQL.format(g="CAST(tok AS VARCHAR)")} AS fp
      FROM aanchors
    )
"""


@register(
    "multimodal_audio_cdt_anchors_checked",
    oracle="WITH "
    + _AUDIO_CDT_CTE
    + """
    SELECT media_id, apos, tok FROM aanchors
    """,
    doc=(
        "CONTENT-DEFINED audio anchors (round 12), value-checked end "
        "to end: every (sample position, token) where the polynomial "
        "rolling hash of the 16-sample neighborhood of the really-"
        "decoded channel-0 stream satisfies the divisor-64 mask — the "
        "1-D member of the offset-independent family "
        "(operators/multimodal.audio_cdt_anchor_tokens), anchor-POINT "
        "form so an excerpt's token set is a strict subset of its "
        "host's at ANY cut offset. The oracle recomputes every hash "
        "from the closed-form samples; the undecodable blob is absent."
    ),
)
def multimodal_audio_cdt_anchors_checked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        audio_cdt_anchor_tokens,
        checked_audio_cdt_excerpt_df,
    )

    return (
        audio_cdt_anchor_tokens(checked_audio_cdt_excerpt_df(spark))
        .filter(F.col("decode_ok") & F.col("tok").isNotNull())
        .select("media_id", "apos", "tok")
    )


@register(
    "multimodal_audio_cdt_excerpt_pairs",
    oracle="WITH "
    + _AUDIO_CDT_CTE
    + containment_pairs_sql("afps", "media_id"),
    doc=(
        "ARBITRARY-OFFSET audio excerpt containment, value-checked end "
        "to end — the 1-D close of the round-12 offset-independence "
        "push: an excerpt cut at sample 1037 (coprime to every "
        "window/phases step) shares ZERO tokens with its host under "
        "the phased window grids at any phase count, but its "
        "content-defined anchor set is an exact SUBSET of the host's, "
        "so the pair surfaces at containment exactly 1.0 through the "
        "unchanged df-capped winnow_containment_pairs join — no "
        "boundary re-sync slack (anchor-point form, not chunk "
        "tiling). Unrelated bases produce no rows."
    ),
)
def multimodal_audio_cdt_excerpt_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        audio_cdt_fingerprints,
        checked_audio_cdt_excerpt_df,
    )

    return _containment_pairs(
        audio_cdt_fingerprints(checked_audio_cdt_excerpt_df(spark))
    )


# Hybrid-plane CTEs (round 13): the low-entropy fixtures of
# checked_image_hybrid_df / checked_audio_hybrid_df recomputed
# closed-form. Content images/clips reuse the CDT fixture formulas; the
# LOW-ENTROPY members (horizontal gradient v = x % 256; silence;
# period-50 sawtooth) are exactly the classes whose distinct
# anchor-token set collapses (the round-12 honest finding), and the
# oracle recomputes the anchors (collapsing to zero rows naturally),
# the single-phase tile tokens, both integer density flags
# (n_distinct_tokens < greatest(1, expected div 4)), and the hybrid
# fingerprint union (cdt for everyone + grid/window for low-entropy).
_IMAGE_HYBRID_CTE = f"""
    hids AS (
      SELECT i,
             CASE WHEN i IN (0, 2, 6) THEN 64 ELSE 32 END AS iw,
             CASE WHEN i IN (0, 2, 6) THEN 48 ELSE 24 END AS ih,
             CASE WHEN i = 6 THEN 1 ELSE 0 END AS b,
             CASE WHEN i IN (1, 4) THEN 13 WHEN i = 3 THEN 16
                  ELSE 0 END AS x0,
             CASE WHEN i = 1 THEN 7 WHEN i = 3 THEN 8 ELSE 0 END AS y0,
             (i IN (2, 3, 4)) AS grad
      FROM (VALUES (0),(1),(2),(3),(4),(6)) gi(i)
    ),
    hpx AS (
      SELECT i, x, y, iw, ih,
             CASE WHEN grad THEN (x + x0) % 256
                  ELSE ((x+x0)*(x+x0)*(3 + b % 5)
                        + (y+y0)*(y+y0)*(7 + b % 3)
                        + (x+x0)*(y+y0) + 13*b) % 251
             END AS v
      FROM hids,
           generate_series(0, 63) gx(x),
           generate_series(0, 47) gy(y)
      WHERE x < iw AND y < ih
    ),
    hpw(dx, dy, pv) AS (VALUES {_IMAGE_CDT_PW}),
    ht AS (
      SELECT p.i AS media_id, p.x - w.dx AS ax, p.y - w.dy AS ay,
             sum(CAST(3 * p.v AS BIGINT) * w.pv) % 1000000007 AS tok
      FROM hpx p, hpw w
      WHERE p.x - w.dx BETWEEN 0 AND p.iw - 8
        AND p.y - w.dy BETWEEN 0 AND p.ih - 8
      GROUP BY 1, 2, 3
    ),
    hanch AS (SELECT media_id, ax, ay, tok FROM ht WHERE tok % 64 = 0),
    hgtok AS (
      SELECT i AS media_id, x // 8 AS tx, y // 8 AS ty,
             sum(v * (9 * ((y % 8) * 8 + (x % 8)) + 6))
               % 2147483648 AS t
      FROM hpx GROUP BY 1, 2, 3
    ),
    hdens AS (
      SELECT hids.i AS media_id, iw, ih,
             coalesce(a.c, 0) AS n_tok,
             ((iw - 7) * (ih - 7)) // 64 AS expected,
             coalesce(a.c, 0)
               < greatest(1, ((iw - 7) * (ih - 7)) // 64 // 4)
               AS low_entropy
      FROM hids
      LEFT JOIN (SELECT media_id, count(DISTINCT tok) AS c
                 FROM hanch GROUP BY 1) a ON a.media_id = hids.i
    ),
    hfps AS (
      SELECT DISTINCT media_id, fp FROM (
        SELECT media_id,
               {_VH60_SQL.format(g="CAST(tok AS VARCHAR)")} AS fp
        FROM hanch
        UNION ALL
        SELECT g.media_id,
               {_VH60_SQL.format(g="CAST(g.t AS VARCHAR)")}
        FROM hgtok g JOIN hdens d
          ON d.media_id = g.media_id AND d.low_entropy
      )
    )
"""

# Audio twin. The window-plane fallback fps are value-stated only for
# the SILENCE members (all-zero windows -> every 3-gram of the token
# document is '0_0_0_0 0_0_0_0 0_0_0_0', so winnowing selects exactly
# that one fp); the period-50 sawtooth host (id 4) is low-entropy too
# but shares content with nothing, so the queries that read the fps CTE
# (pairs, admission twin) exclude it from their id sets rather than
# restate 32 Goertzel window powers — its value gate is the DENSITY
# query, which reads only the anchor CTE.
_AUDIO_HYBRID_CTE = f"""
    ahids AS (
      SELECT i,
             CASE WHEN i IN (1, 3) THEN 1536 ELSE 4096 END AS n,
             CASE WHEN i = 1 THEN 1037 ELSE 0 END AS off,
             CASE WHEN i IN (0, 1) THEN 0 WHEN i = 4 THEN 2
                  ELSE 1 END AS kind
      FROM (VALUES (0),(1),(2),(3),(4)) gi(i)
    ),
    aht AS (
      SELECT ahids.i AS media_id, g.p AS apos,
             sum(CAST((CASE kind
                   WHEN 0 THEN (((g.p+off+pw.d)*(g.p+off+pw.d)*11
                                 + (g.p+off+pw.d)*37) % 4099) - 2049
                   WHEN 2 THEN 83 * ((g.p+off+pw.d) % 50) - 2000
                   ELSE 0 END) + 32768 AS BIGINT) * pw.pv)
               % 1000000007 AS tok
      FROM ahids, generate_series(0, 4080) g(p),
           (VALUES {_AUDIO_CDT_PW}) pw(d, pv)
      WHERE g.p <= n - 16
      GROUP BY 1, 2
    ),
    ahanch AS (SELECT media_id, apos, tok FROM aht WHERE tok % 64 = 0),
    ahdens AS (
      SELECT ahids.i AS media_id, n,
             coalesce(a.c, 0) AS n_tok,
             (n - 15) // 64 AS expected,
             coalesce(a.c, 0) < greatest(1, (n - 15) // 64 // 4)
               AS low_entropy
      FROM ahids
      LEFT JOIN (SELECT media_id, count(DISTINCT tok) AS c
                 FROM ahanch GROUP BY 1) a ON a.media_id = ahids.i
    ),
    ahfps AS (
      SELECT DISTINCT media_id, fp FROM (
        SELECT media_id,
               {_VH60_SQL.format(g="CAST(tok AS VARCHAR)")} AS fp
        FROM ahanch WHERE media_id != 4
        UNION ALL
        SELECT i, ('0x' || substr(md5('0:' ||
               '0_0_0_0 0_0_0_0 0_0_0_0'), 1, 15))::BIGINT
        FROM (VALUES (2), (3)) s(i)
      )
    )
"""


@register(
    "multimodal_image_cdt_density_checked",
    oracle="WITH "
    + _IMAGE_HYBRID_CTE
    + """
    SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(iw AS INTEGER) AS width, CAST(ih AS INTEGER) AS height,
           CAST(n_tok AS BIGINT) AS n_anchor_tokens,
           CAST(expected AS BIGINT) AS expected_anchors,
           low_entropy, TRUE AS decode_ok
    FROM hdens
    UNION ALL
    SELECT 5, NULL, NULL, NULL, NULL, NULL, FALSE
    """,
    doc=(
        "Per-image CDT anchor-count presence diagnostic (round 13), "
        "value-checked end to end: DISTINCT anchor tokens vs the "
        "designed (W-7)(H-7)/64 expectation over the hybrid fixture "
        "— content images at full density (36 of expected 36), the "
        "horizontal-gradient members collapsed to ZERO (the round-12 "
        "honest finding made measurable), low_entropy = n < "
        "greatest(1, expected div 4) recomputed integer-exactly by "
        "the oracle, undecodable row marked honestly. This flag "
        "drives the hybrid gate's per-item grid fallback."
    ),
)
def multimodal_image_cdt_density_checked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_image_hybrid_df,
        image_cdt_anchor_density,
    )

    return image_cdt_anchor_density(checked_image_hybrid_df(spark))


@register(
    "multimodal_image_hybrid_crop_pairs",
    oracle="WITH "
    + _IMAGE_HYBRID_CTE
    + containment_pairs_sql("hfps", "media_id"),
    doc=(
        "HYBRID-plane cropped-image containment, value-checked end to "
        "end (round 13): the content host/off-lattice-crop pair "
        "surfaces at exactly 1.0 through CDT anchors (the preserved "
        "any-offset guarantee), AND the gradient host/tile-aligned-"
        "crop pair — which pure cdt mode MISSES, both members having "
        "ZERO anchors — surfaces at exactly 1.0 through the per-item "
        "grid fallback (4 column-tile fps, a subset of the host's 8). "
        "The gradient OFF-lattice crop pairs with nothing: the stated "
        "honest residual (low-entropy content is weak evidence for "
        "any exact plane; the dHash signature plane gates wholesale "
        "re-uploads). The oracle recomputes anchors, tile tokens, "
        "density flags, and the union."
    ),
)
def multimodal_image_hybrid_crop_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_image_hybrid_df,
        image_hybrid_fingerprints,
    )

    return _containment_pairs(
        image_hybrid_fingerprints(checked_image_hybrid_df(spark))
    )


@register(
    "multimodal_audio_cdt_density_checked",
    oracle="WITH "
    + _AUDIO_HYBRID_CTE
    + """
    SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(n AS INTEGER) AS n_samples,
           CAST(n_tok AS BIGINT) AS n_anchor_tokens,
           CAST(expected AS BIGINT) AS expected_anchors,
           low_entropy, TRUE AS decode_ok
    FROM ahdens
    UNION ALL
    SELECT 5, NULL, NULL, NULL, NULL, FALSE
    """,
    doc=(
        "Per-clip CDT anchor-count presence diagnostic — the 1-D twin "
        "of the image density check, pinned because the measured audio "
        "collapse is WORSE: silence 0 distinct tokens of expected 63, "
        "and the period-50 sawtooth anchors at ~80 POSITIONS but "
        "produces at most one distinct TOKEN (the case that proves "
        "the diagnostic must count distinct tokens); the aperiodic "
        "host sits at 57. The oracle recomputes every rolling hash "
        "from the closed-form samples and the integer threshold "
        "exactly. This flag drives the hybrid gate's per-clip window "
        "fallback."
    ),
)
def multimodal_audio_cdt_density_checked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        audio_cdt_anchor_density,
        checked_audio_hybrid_df,
    )

    return audio_cdt_anchor_density(checked_audio_hybrid_df(spark))


@register(
    "multimodal_audio_hybrid_excerpt_pairs",
    oracle="WITH "
    + _AUDIO_HYBRID_CTE
    + containment_pairs_sql("ahfps", "media_id"),
    doc=(
        "HYBRID-plane audio excerpt containment, value-checked end to "
        "end: the content host/off-lattice-excerpt pair at exactly "
        "1.0 through CDT anchors, AND the silence host/window-ALIGNED-"
        "excerpt pair — invisible to pure cdt mode (zero anchors on "
        "both sides) — at exactly 1.0 through the per-clip window "
        "fallback (one shared all-zero-window winnowing fp, which the "
        "oracle states as the literal md5 constant). The sawtooth "
        "host is excluded from this id set (it pairs with nothing; "
        "its value gate is the density query) so every fingerprint "
        "the decision touches is value-stated."
    ),
)
def multimodal_audio_hybrid_excerpt_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        audio_hybrid_fingerprints,
        checked_audio_hybrid_df,
    )

    return _containment_pairs(
        audio_hybrid_fingerprints(
            checked_audio_hybrid_df(spark).filter(F.col("media_id") != 4)
        )
    )


_HYBRID_TWIN_STORED = (2000, 2002, 3000, 3002)
_HYBRID_TWIN_BATCH = (
    2001, 2003, 2005, 3001, 3003, 3004, 3005, 3006,
)


@register(
    "media_hybrid_admission_twin",
    oracle=_excerpt_twin_oracle(
        (
            (2000, "audio", _AUDIO_HYBRID_CTE, "ahfps"),
            (3000, "image", _IMAGE_HYBRID_CTE, "hfps"),
        ),
        _HYBRID_TWIN_STORED,
        _HYBRID_TWIN_BATCH,
    ),
    doc=(
        "The HYBRID low-entropy admission DECISION, value-checked end "
        "to end (round 13 — the verdict's planted-fixture ask): the "
        "LITERAL streaming decision function runs on hybrid-plane "
        "fingerprints with stored low-entropy hosts (a gradient "
        "image, a silence clip) and content hosts. The gradient "
        "tile-aligned crop and the silence window-aligned excerpt — "
        "both of which pure cdt mode ADMITS, because both sides have "
        "zero anchors — are REJECTED through the per-item fallback "
        "planes; the content crop/excerpt keep their any-offset CDT "
        "rejections; the gradient off-lattice crop is admitted (the "
        "stated honest residual); blobs and unrelated hosts admit. "
        "DuckDB recomputes every fingerprint, both density flags, and "
        "the whole decision."
    ),
)
def media_hybrid_admission_twin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_audio_hybrid_df,
        checked_image_hybrid_df,
    )

    return _excerpt_twin(
        spark,
        ((2000, checked_audio_hybrid_df), (3000, checked_image_hybrid_df)),
        _HYBRID_TWIN_STORED,
        _HYBRID_TWIN_BATCH,
        image_plane="hybrid",
        audio_plane="hybrid",
    )


@register(
    "multimodal_avc1_ipcm_decode_checked",
    oracle="""
    WITH pids AS (
      SELECT i, 2 AS mbw, 1 + i % 2 AS mbh
      FROM generate_series(0, 9) g(i) WHERE i != 5
    ),
    pmbs AS (
      SELECT i, j, mbx, mby
      FROM pids, generate_series(0, 1) gj(j),
           generate_series(0, 1) gx(mbx), generate_series(0, 1) gy(mby)
      WHERE mbx < mbw AND mby < mbh AND NOT (i % 5 = 3 AND j = 1)
    ),
    ptok AS (
      SELECT i, j, mbx, mby,
             sum((((16*mbx + px)*(16*mbx + px)*(3 + i % 5)
                   + (16*mby + py)*(16*mby + py)*(7 + i % 3)
                   + (16*mbx + px)*(16*mby + py)
                   + 11*i + 29*j) % 251)
                 * (16*py + px + 1)) % 2147483648 AS luma_tok
      FROM pmbs,
           generate_series(0, 15) gpx(px),
           generate_series(0, 15) gpy(py)
      GROUP BY 1, 2, 3, 4
    )
    SELECT CAST(i AS BIGINT) AS media_id,
           CAST(j AS INTEGER) AS frame_idx,
           CAST(mbx AS INTEGER) AS mb_x, CAST(mby AS INTEGER) AS mb_y,
           CAST(luma_tok AS BIGINT) AS luma_tok,
           CAST(((40 + i) % 256) * 2080 AS BIGINT) AS cb_tok,
           CAST(((200 + i) % 256) * 2080 AS BIGINT) AS cr_tok,
           TRUE AS decode_ok
    FROM ptok
    UNION ALL
    SELECT i, 1, NULL, NULL, NULL, NULL, NULL, FALSE
    FROM pids WHERE i % 5 = 3
    UNION ALL
    SELECT 5, NULL, NULL, NULL, NULL, NULL, NULL, FALSE
    """,
    doc=(
        "avc1 IDR frame CONTENT decoded and value-checked end to end "
        "(round 13 — the first tier past the long-documented avc1 "
        "seam): real Baseline H.264 bitstreams whose IDR slices are "
        "all-I_PCM macroblocks decode through the real layers — avcC "
        "SPS/PPS Exp-Golomb parse, NAL walk (length-prefixed AND "
        "Annex-B), EBSP emulation-prevention unescaping, spec-order "
        "slice-header parse, per-macroblock mb_type + byte-aligned "
        "raw sample extraction — into position-weighted luma/Cb/Cr "
        "tokens the oracle recomputes from the closed-form pixels. "
        "The seam is now INSIDE the slice and enforced: the fixture "
        "plants a CAVLC-coded macroblock (mb_type 3) in one frame, "
        "which must surface as that frame's decode_ok=false honesty "
        "row while its sibling IDR still decodes; the digest blob "
        "keeps the container-level honesty row."
    ),
)
def multimodal_avc1_ipcm_decode_checked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        avc1_ipcm_mb_tokens,
        checked_avc1_ipcm_df,
    )

    return avc1_ipcm_mb_tokens(checked_avc1_ipcm_df(spark))


@register(
    "multimodal_jpeg_ac_decode_checked",
    oracle=f"""
    WITH px AS (
      SELECT i, x, y,
        (100 + 3*i + 5*(x//8) + 7*(y//8))
        + (10 + i % 5 + 2*(x//8))
          * (CASE WHEN (x % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
        + (12 + i % 7 + 3*(y//8))
          * (CASE WHEN (y % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
        + (5 + i % 3)
          * (CASE WHEN (x % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
          * (CASE WHEN (y % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
        AS v
      FROM generate_series(0, 15) gi(i),
           generate_series(0, 15) gx(x),
           generate_series(0, 15) gy(y)
    )
    SELECT CAST(i AS BIGINT) AS media_id,
           CAST(x // 8 AS INTEGER) AS tile_x,
           CAST(y // 8 AS INTEGER) AS tile_y,
           sum(v * (9 * ((y % 8) * 8 + (x % 8)) + 6)) % 2147483648 AS tok,
           TRUE AS decode_ok
    FROM px GROUP BY 1, 2, 3
    UNION ALL
    SELECT 16, NULL, NULL, NULL, FALSE
    """,
    doc=(
        "VALUE-CHECKED JPEG decode with NONZERO AC energy — the "
        "Huffman AC path (size categories, run-length skips, a ZRL "
        "16-zero skip at zigzag 39, EOB) and the off-DC IDCT bases, "
        "which every constant-gray fixture leaves untouched, pinned "
        "byte-for-byte: the u=4 sign-pattern blocks quantize to "
        "exactly four even coefficients, so the decoded raster equals "
        "the closed form the oracle recomputes through the "
        "position-weighted 8x8 tile tokens (a decoder that dropped, "
        "misplaced or mis-scaled ANY AC coefficient shifts whole sign "
        "patterns and breaks every token). The unparseable row "
        "value-checks failure marking."
    ),
)
def multimodal_jpeg_ac_decode_checked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_jpeg_ac_df,
        image_tile_tokens,
    )

    return image_tile_tokens(checked_jpeg_ac_df(spark))


@register(
    "multimodal_png_adam7_checked",
    oracle="""
    SELECT CAST(i AS BIGINT) AS media_id,
           CAST(x AS INTEGER) AS tile_x,
           CAST(y AS INTEGER) AS tile_y,
           CAST(6 * ((x*(3 + i % 5) + y*(5 + i % 7) + 11*i) % 251)
                AS BIGINT) AS tok,
           TRUE AS decode_ok
    FROM generate_series(0, 7) gi(i),
         generate_series(0, 19) gx(x),
         generate_series(0, 12) gy(y)
    UNION ALL
    SELECT 8, NULL, NULL, NULL, FALSE
    """,
    doc=(
        "VALUE-CHECKED Adam7-interlaced PNG decode — the one common "
        "real-world PNG variant that was an honest seam until round "
        "10 — pinned per PIXEL (1x1 tile tokens, tok = 6*v): seven "
        "independently-filtered reduced passes over odd 20x13 dims "
        "(partial passes), gray AND true-color layouts, per-pass "
        "Up/Sub filtering that resets state, reassembled by a pure "
        "strided index permutation the oracle recomputes from the "
        "closed form. A decoder off by one pass origin, sharing "
        "filter state across passes, or mis-striding the scatter "
        "breaks thousands of tokens. The unparseable row value-checks "
        "failure marking."
    ),
)
def multimodal_png_adam7_checked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_png_adam7_df,
        image_tile_tokens,
    )

    return image_tile_tokens(checked_png_adam7_df(spark), tile=1)


_EXCERPT_TWIN_STORED = (1000, 1003, 2000, 3000)
_EXCERPT_TWIN_BATCH = (
    1001, 1002, 1004, 1006, 1007, 1008, 2001, 2002, 3001, 3002, 3009,
)


@register(
    "media_excerpt_admission_twin",
    oracle=_excerpt_twin_oracle(
        (
            (1000, "video", _VIDEO_CLIP_WINNOW_CTE, _WIN_FPS),
            (2000, "audio", _AUDIO_CLIP_WINNOW_CTE, _WIN_FPS),
            (3000, "image", _IMAGE_CROP_TILE_CTE, "ifps"),
        ),
        _EXCERPT_TWIN_STORED,
        _EXCERPT_TWIN_BATCH,
    ),
    doc=(
        "The excerpt/crop admission DECISION, value-checked end to "
        "end: the LITERAL streaming decision function "
        "(streaming/corpus_ingest.py:media_excerpt_rejects — df-capped "
        "evidence, unpruned denominator, distinct shared fps, stored "
        "+ lower-id leader-keeps, >= tau) runs against planted "
        "store/batch waves spanning ALL THREE planes — a video "
        "subclip of a stored host (reject), a window-aligned audio "
        "excerpt (reject), a tile-aligned image crop AND its "
        "camera-rotated re-upload (both reject via upright tiles), a "
        "host whose CLIP is stored (admit — directional), an in-batch "
        "host+clip pair (leader-keeps: host admitted, clip rejected), "
        "unrelated hosts (admit) and an unparseable row (admit — "
        "fp=NULL presence rows can never evidence a rejection) — and "
        "DuckDB recomputes every fingerprint AND the whole decision. "
        "Completes the oracle story for the streaming gate: the band "
        "planes have any_media_ingest_admission_twin, the "
        "excerpt/crop tier has this."
    ),
)
def media_excerpt_admission_twin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_audio_clip_df,
        checked_image_crop_df,
        checked_video_clip_df,
    )

    return _excerpt_twin(
        spark,
        (
            (1000, checked_video_clip_df),
            (2000, checked_audio_clip_df),
            (3000, checked_image_crop_df),
        ),
        _EXCERPT_TWIN_STORED,
        _EXCERPT_TWIN_BATCH,
    )


_PHASE_TWIN_STORED = (2000, 3000)
_PHASE_TWIN_BATCH = (2001, 2002, 2008, 3001, 3002, 3004, 3005, 3008)


@register(
    "media_phase_excerpt_admission_twin",
    oracle=_excerpt_twin_oracle(
        (
            (2000, "audio", _AUDIO_OFFSET_CLIP_CTE, "afps"),
            (3000, "image", _IMAGE_OFFSET_CROP_CTE, "ifps"),
        ),
        _PHASE_TWIN_STORED,
        _PHASE_TWIN_BATCH,
    ),
    doc=(
        "The PHASE-AWARE excerpt/crop admission DECISION, value-"
        "checked end to end (round 11): the LITERAL streaming "
        "decision function runs on phases=2 fingerprints of the "
        "offset fixtures — an audio excerpt cut at 8.5 windows "
        "(reject), an image crop at offset (20, 12) (reject), both "
        "classes the single-grid gate ADMITS — plus unrelated hosts "
        "(admit), an in-batch host+offset-crop pair (leader-keeps: "
        "host admitted, crop rejected) and the unparseable honesty "
        "rows (admit — fp=NULL presence rows never evidence a "
        "rejection). DuckDB recomputes every phased fingerprint AND "
        "the whole decision."
    ),
)
def media_phase_excerpt_admission_twin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_audio_offset_clip_df,
        checked_image_offset_crop_df,
    )

    return _excerpt_twin(
        spark,
        (
            (2000, checked_audio_offset_clip_df),
            (3000, checked_image_offset_crop_df),
        ),
        _PHASE_TWIN_STORED,
        _PHASE_TWIN_BATCH,
        phases=2,
    )


_CDT_TWIN_STORED = (2000, 3000)
_CDT_TWIN_BATCH = (2001, 2002, 2008, 3001, 3002, 3004, 3005, 3008, 3009)


@register(
    "media_cdt_excerpt_admission_twin",
    oracle=_excerpt_twin_oracle(
        (
            (2000, "audio", _AUDIO_CDT_CTE, "afps"),
            (3000, "image", _IMAGE_CDT_CTE, "cfps"),
        ),
        _CDT_TWIN_STORED,
        _CDT_TWIN_BATCH,
    ),
    doc=(
        "The CONTENT-DEFINED crop/excerpt admission DECISION, value-"
        "checked end to end (round 12): the LITERAL streaming decision "
        "function runs on CDT-plane fingerprints of the arbitrary-"
        "offset fixtures — an audio excerpt cut at sample 1037 "
        "(reject) and an image crop at offset (13, 7) (reject), both "
        "off EVERY tile/window/phases lattice and therefore ADMITTED "
        "by every grid gate including phases=2 — plus unrelated hosts "
        "(admit), an in-batch host+crop pair (leader-keeps: host "
        "admitted, crop rejected), the camera-rotated copy of the "
        "stored host's crop (reject — rotate-before-hash), and the "
        "unparseable honesty rows (admit — fp=NULL presence rows "
        "never evidence a rejection). DuckDB recomputes every CDT "
        "anchor fingerprint AND the whole decision."
    ),
)
def media_cdt_excerpt_admission_twin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_audio_cdt_excerpt_df,
        checked_image_cdt_crop_df,
    )

    return _excerpt_twin(
        spark,
        (
            (2000, checked_audio_cdt_excerpt_df),
            (3000, checked_image_cdt_crop_df),
        ),
        _CDT_TWIN_STORED,
        _CDT_TWIN_BATCH,
        image_plane="cdt",
        audio_plane="cdt",
    )


@register(
    "multimodal_audio_zcr_checked",
    oracle="""
    WITH m AS (SELECT i FROM generate_series(0, 31) g(i)),
    s AS (
      SELECT o.i,
             sum(CASE WHEN q.v * q.vp < 0 THEN 1 ELSE 0 END) AS crossings,
             sum(abs(q.v)) AS sabs
      FROM (SELECT i FROM m WHERE i % 4 <> 0) o,
           LATERAL (
             SELECT ((t.t * (2*o.i + 3)) % 4001) - 2000 AS v,
                    CASE WHEN t.t = 0 THEN 0
                         ELSE (((t.t - 1) * (2*o.i + 3)) % 4001) - 2000
                    END AS vp
             FROM generate_series(0, 399) t(t)
           ) q
      GROUP BY o.i
    )
    SELECT i AS media_id, CAST(400 AS INTEGER) AS n_samples,
           CAST(crossings AS INTEGER) AS zero_crossings,
           round(crossings / 399.0, 6) AS zcr,
           round(sabs / 400.0, 6) AS mean_abs,
           TRUE AS decode_ok
    FROM s
    UNION ALL
    SELECT i, NULL, NULL, NULL, NULL, FALSE FROM m WHERE i % 4 = 0
    """,
    doc=(
        "VALUE-CHECKED zero-crossing analysis of really-decoded PCM: "
        "the integer sawtooth WAVs round-trip the stdlib wave codec "
        "and the strict sign-product crossing count — the cheap "
        "voiced/unvoiced + noisiness gate speech curation thresholds "
        "on — plus mean absolute amplitude, all recomputed by the "
        "oracle from the sample formula (t=0 pairs with a synthetic "
        "0 predecessor, so the count starts at the second sample on "
        "both sides). mp3 rows value-check failure marking."
    ),
)
def multimodal_audio_zcr_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_audio_df,
        extract_audio_zcr,
    )

    return extract_audio_zcr(checked_audio_df(spark, n=32))


@register(
    "multimodal_audio_goertzel_checked",
    oracle="""
    WITH m AS (SELECT i FROM generate_series(0, 23) g(i)),
    s AS (
      SELECT o.i,
             sum(CASE WHEN q.t % 2 = 1
                 THEN (CASE WHEN (399 - q.t) % 4 = 0 THEN 1 ELSE -1 END) * q.v
                 ELSE 0 END) AS s1,
             sum(CASE WHEN q.t % 2 = 0
                 THEN (CASE WHEN (398 - q.t) % 4 = 0 THEN 1 ELSE -1 END) * q.v
                 ELSE 0 END) AS s2,
             sum(q.v * q.v) AS total
      FROM (SELECT i FROM m WHERE i % 4 <> 0) o,
           LATERAL (
             SELECT t.t,
                    CASE o.i % 4
                      WHEN 1 THEN (500 + 37*o.i)
                           * (CASE t.t % 4 WHEN 1 THEN 1 WHEN 3 THEN -1
                              ELSE 0 END)
                      WHEN 2 THEN (500 + 37*o.i)
                           * (CASE WHEN t.t % 2 = 0 THEN 1 ELSE -1 END)
                      ELSE ((t.t * (2*o.i + 3)) % 4001) - 2000
                    END AS v
             FROM generate_series(0, 399) t(t)
           ) q
      GROUP BY o.i
    )
    SELECT i AS media_id, CAST(400 AS INTEGER) AS n_frames,
           CAST(1 AS INTEGER) AS n_channels,
           round(CAST(s1*s1 + s2*s2 AS DOUBLE), 6) AS goertzel_power,
           round(CAST(total AS DOUBLE), 6) AS total_power,
           round(2.0 * (s1*s1 + s2*s2) / (400.0 * total), 6) AS band_ratio,
           TRUE AS decode_ok
    FROM s
    UNION ALL
    SELECT i, NULL, NULL, NULL, NULL, NULL, FALSE FROM m WHERE i % 4 = 0
    """,
    doc=(
        "VALUE-CHECKED single-bin Goertzel energy over really-decoded "
        "PCM — the first spectral gate past ZCR. The quarter-band "
        "probe's coefficient is exactly 0, so the recursion collapses "
        "to alternating sums of same-parity samples: the oracle "
        "replicates s[N-1], s[N-2], the power, the total energy and "
        "the normalized band ratio arithmetically from the sample "
        "formulas, on the exact integer grid (no IEEE ambiguity "
        "before the one final division, rounded identically on both "
        "sides). The fixture spans the three canonical regimes — "
        "matched fs/4 tone (band_ratio exactly 1.0), antipodal fs/2 "
        "alternation (Goertzel power exactly 0), broadband integer "
        "sawtooth — plus value-checked failure rows."
    ),
)
def multimodal_audio_goertzel_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_goertzel_df,
        extract_audio_goertzel,
    )

    return extract_audio_goertzel(checked_goertzel_df(spark, n=24))


@register(
    "multimodal_image_exif_checked",
    oracle="""
    WITH ids AS (SELECT CAST(unnest(range(0, 24)) AS BIGINT) AS i),
    shaped AS (
      SELECT i,
             i % 4 AS shape,
             (i % 7 = 5 AND i % 4 IN (0, 1)) AS trunc,
             i = 23 AS blob,
             i % 3 = 0 AS icc
      FROM ids
    )
    SELECT i AS media_id,
           CASE WHEN blob OR trunc THEN NULL
                WHEN shape IN (0, 1) THEN TRUE ELSE FALSE END AS has_exif,
           CASE WHEN blob OR trunc OR shape NOT IN (0, 1) THEN NULL
                ELSE CAST(1 + i % 8 AS INTEGER) END AS orientation,
           CASE WHEN blob OR trunc OR shape NOT IN (0, 1) THEN NULL
                ELSE '2024:01:' || lpad(CAST(2 + i % 27 AS VARCHAR), 2, '0')
                     || ' ' || lpad(CAST(i % 24 AS VARCHAR), 2, '0')
                     || ':' || lpad(CAST((3 * i) % 60 AS VARCHAR), 2, '0')
                     || ':00' END AS exif_datetime,
           CASE WHEN blob OR trunc THEN NULL
                WHEN shape = 2 THEN FALSE ELSE icc END AS has_icc,
           NOT (blob OR trunc) AS parse_ok
    FROM shaped
    """,
    doc=(
        "VALUE-CHECKED EXIF/ICC metadata gate — the standard image "
        "curation filters (orientation for rotate-before-hash, capture "
        "timestamp for date windows, ICC presence for color-managed "
        "sources) extracted by REAL container walks: JPEG APP1 "
        "'Exif\\0\\0' + APP2 'ICC_PROFILE\\0' marker-segment scan, PNG "
        "eXIf/iCCP chunk scan (CRC-checked), then a real TIFF/IFD0 "
        "parse (EXIF 2.3 / TIFF 6.0) under BOTH byte orders for "
        "Orientation (0x0112) and DateTime (0x0132). The fixture "
        "injects closed-form metadata into the package's own "
        "JPEG/PNG/BMP encodings — shapes cycle i%4 over "
        "JPEG-with-EXIF / PNG-eXIf / BMP-no-container / JPEG-no-EXIF, "
        "byte order alternates II/MM on i%2, ICC on i%3, i%7==5 "
        "truncates the TIFF body (parse_ok=false all-NULL, the honest-"
        "failure contract), last id is an undecodable blob — so every "
        "field is recomputable arithmetically by the oracle. "
        "has_exif=false (a valid common state) stays distinct from "
        "parse failure. Metadata-only: no pixel decode; Arrow-batched "
        "mapInPandas on the image-only scan "
        "(operators/multimodal.py:extract_image_exif)."
    ),
)
def multimodal_image_exif_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_exif_df,
        extract_image_exif,
    )

    return extract_image_exif(checked_exif_df(spark, n=24))


_VIDEO_SHOT_SEGMENTS_CTE = """
    vals AS (
      SELECT i, j, 30 + 70 * (j // 16) + 9 * i + (j % 16) AS v
      FROM generate_series(0, 3) gi(i), generate_series(0, 47) gj(j)
      WHERE NOT (i = 1 AND j = 8)
      UNION ALL
      SELECT 5, j, CASE WHEN j = 2 THEN 200 ELSE 100 END
      FROM generate_series(0, 2) gj(j)
    ),
    flagged AS (
      SELECT i, j, v,
        CASE WHEN lag(v) OVER (PARTITION BY i ORDER BY j) IS NULL
               OR abs(v - lag(v) OVER (PARTITION BY i ORDER BY j)) >= 24
             THEN 1 ELSE 0 END AS cut
      FROM vals
    ),
    shots AS (
      SELECT i, j, v,
        CAST(sum(cut) OVER (PARTITION BY i ORDER BY j) - 1
             AS INTEGER) AS shot_id
      FROM flagged
    ),
    scored AS (
      SELECT i, shot_id, j, v,
        count(*) OVER (PARTITION BY i, shot_id) AS n,
        sum(v) OVER (PARTITION BY i, shot_id) AS s
      FROM shots
    ),
    ranked AS (
      SELECT i, shot_id, j, v,
        row_number() OVER (PARTITION BY i, shot_id
                           ORDER BY abs(v * n - s), j) AS rn
      FROM scored
    ),
    segments AS (
      SELECT CAST(i AS BIGINT) AS media_id, shot_id,
        CAST(min(j) AS INTEGER) AS start_frame,
        CAST(max(j) AS INTEGER) AS end_frame,
        CAST(count(*) AS INTEGER) AS n_frames,
        CAST(max(CASE WHEN rn = 1 THEN j END) AS INTEGER) AS keyframe_idx,
        CAST(max(CASE WHEN rn = 1 THEN v END) AS INTEGER) AS keyframe_level
      FROM ranked GROUP BY i, shot_id
    )
"""


@register(
    "multimodal_video_shot_segments",
    oracle="WITH " + _VIDEO_SHOT_SEGMENTS_CTE + """
    SELECT * FROM segments
    """,
    doc=(
        "VALUE-CHECKED shot-boundary segmentation + keyframe election "
        "— the scene-aware frame-sampling primitive for vision "
        "training pipelines: real MJPEG-in-MP4 demux + JPEG decode, a "
        "cut wherever the integer frame level jumps >= tau=24, and "
        "per-shot keyframe = argmin |level*n - sum_levels| (integer "
        "arithmetic, frame_idx tie-break), so the oracle restates "
        "every shot and every election closed-form. The fixture "
        "plants three 16-frame shots per video (within-shot drift "
        "+1/frame never splits, boundary jumps ~55 always cut), a "
        "mid-shot corrupt frame the lag must close over WITHOUT a "
        "spurious boundary, an unparseable container (absent), and a "
        "minimal [100,100,200] two-shot clip whose second shot is a "
        "single self-keyframed frame. One media_id-keyed shuffle after "
        "the decode scan (windows + groupBy all satisfy the subset "
        "rule)."
    ),
)
def multimodal_video_shot_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_video_shots_df,
        video_shot_segments,
    )

    return video_shot_segments(checked_video_shots_df(spark))


@register(
    "multimodal_video_scene_keyframes",
    oracle="WITH " + _VIDEO_SHOT_SEGMENTS_CTE + """
    , nf AS (
      SELECT media_id, CASE WHEN media_id = 5 THEN 3 ELSE 48 END AS nf,
             30 + media_id % 5 AS d1, 40 + media_id % 3 AS d2
      FROM (SELECT DISTINCT media_id FROM segments) m
    )
    SELECT s.media_id, s.shot_id, s.keyframe_idx,
      CAST((CASE WHEN s.keyframe_idx <= nf.nf // 2
                 THEN s.keyframe_idx * nf.d1
                 ELSE (nf.nf // 2) * nf.d1
                      + (s.keyframe_idx - nf.nf // 2) * nf.d2 END
            * 1000) // 600 AS BIGINT) AS ts_ms,
      s.keyframe_level
    FROM segments s JOIN nf ON nf.media_id = s.media_id
    """,
    doc=(
        "The frame-sampling DELIVERABLE: one elected keyframe per "
        "detected shot with its PRESENTATION TIMESTAMP, ready for a "
        "downstream extract-frame-at-T stage — shot segmentation "
        "composed with the demuxed stts timing of the same container "
        "(decode_mp4_frames ts_ms), value-checked end to end: the "
        "oracle re-derives the shots, re-elects the keyframes, and "
        "restates each elected frame's timestamp from the closed-form "
        "two-run stts deltas. The segments side arrives already "
        "media_id-clustered, so the timestamp join adds no driver "
        "work and the whole plan stays scan -> one keyed shuffle -> "
        "join."
    ),
)
def multimodal_video_scene_keyframes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_video_shots_df,
        decode_mp4_frames,
        video_shot_segments,
    )

    media = checked_video_shots_df(spark)
    # Lazy checkpoint: the frames relation feeds BOTH the segmentation
    # and the timestamp join — without it each payload decodes twice
    # (the subclip tier's measured fix, same boundary).
    frames = decode_mp4_frames(media).localCheckpoint(eager=False)
    segs = video_shot_segments(media, frames=frames)
    return segs.join(
        frames.select(
            "media_id",
            F.col("frame_idx").alias("keyframe_idx"),
            "ts_ms",
        ),
        ["media_id", "keyframe_idx"],
    ).select(
        "media_id", "shot_id", "keyframe_idx", "ts_ms", "keyframe_level"
    )


# Dissolve fixture restated closed-form (round 11): 56-frame clips with
# an 8-frame +9/frame linear dissolve (every step under the hard-cut
# tau) and one genuine +55 hard cut; (i=1, j=19) is the mid-dissolve
# corrupt frame the lag must close over. The drift rule is the rising
# edge of the 8-row windowed |step| sum at 24.
_VIDEO_DISSOLVE_CTE = """
    vals AS (
      SELECT i, j, 30 + 9*i + CASE
          WHEN j < 16 THEN j
          WHEN j < 24 THEN 15 + 9*(j - 15)
          WHEN j < 40 THEN 88 + (j - 24)
          ELSE 158 + (j - 40) END AS v
      FROM generate_series(0, 3) gi(i), generate_series(0, 55) gj(j)
      WHERE NOT (i = 1 AND j = 19)
    ),
    lagged AS (
      SELECT i, j, v,
        v - lag(v) OVER (PARTITION BY i ORDER BY j) AS dlt
      FROM vals
    ),
    drifted AS (
      SELECT i, j, v, dlt,
        sum(abs(dlt)) OVER (PARTITION BY i ORDER BY j
                            ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
          AS drift
      FROM lagged
    ),
    flagged AS (
      SELECT i, j, v,
        CASE WHEN dlt IS NULL OR abs(dlt) >= 24
               OR (coalesce(drift, 0) >= 24
                   AND coalesce(lag(drift)
                                OVER (PARTITION BY i ORDER BY j), 0) < 24)
             THEN 1 ELSE 0 END AS cut
      FROM drifted
    ),
    shots AS (
      SELECT i, j, v,
        CAST(sum(cut) OVER (PARTITION BY i ORDER BY j) - 1
             AS INTEGER) AS shot_id
      FROM flagged
    ),
    scored AS (
      SELECT i, shot_id, j, v,
        count(*) OVER (PARTITION BY i, shot_id) AS n,
        sum(v) OVER (PARTITION BY i, shot_id) AS s
      FROM shots
    ),
    ranked AS (
      SELECT i, shot_id, j, v,
        row_number() OVER (PARTITION BY i, shot_id
                           ORDER BY abs(v * n - s), j) AS rn
      FROM scored
    ),
    segments AS (
      SELECT CAST(i AS BIGINT) AS media_id, shot_id,
        CAST(min(j) AS INTEGER) AS start_frame,
        CAST(max(j) AS INTEGER) AS end_frame,
        CAST(count(*) AS INTEGER) AS n_frames,
        CAST(max(CASE WHEN rn = 1 THEN j END) AS INTEGER) AS keyframe_idx,
        CAST(max(CASE WHEN rn = 1 THEN v END) AS INTEGER) AS keyframe_level
      FROM ranked GROUP BY i, shot_id
    )
"""


@register(
    "multimodal_video_dissolve_segments",
    oracle="WITH " + _VIDEO_DISSOLVE_CTE + """
    SELECT * FROM segments
    """,
    doc=(
        "GRADUAL shot transitions, value-checked end to end (round "
        "11): a linear dissolve spreads a scene change over 8 frames "
        "at +9/frame — every step under the hard-cut tau=24, so "
        "hard-cut-only segmentation under-segments (blindness "
        "asserted in tests) — and the windowed cumulative-drift "
        "rising edge (sum of |step| over 8 decoded frames crossing "
        "24) detects it as exactly ONE boundary at frame 17; the "
        "genuine +55 hard cut at frame 40 still cuts (both rules "
        "fire at the same frame — single boundary), and the "
        "mid-dissolve corrupt frame is lag-closed without moving any "
        "boundary. The oracle restates deltas, windowed drift sums, "
        "rising edges, shot ids and keyframe elections closed-form. "
        "Same integer algebra, same single media_id-keyed shuffle."
    ),
)
def multimodal_video_dissolve_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_video_dissolve_df,
        video_shot_segments,
    )

    return video_shot_segments(
        checked_video_dissolve_df(spark), drift_window=8, drift_tau=24
    )


@register(
    "multimodal_audio_segments",
    oracle="""
    WITH x AS (
      SELECT i, t,
        CASE WHEN (t // 128) BETWEEN 4 AND 11
               OR (t // 128) BETWEEN 14 AND 19
             THEN ((t*t*(7+i) + t*(29+5*i) + 13*i) % 1025) - 512
             ELSE 0 END AS v
      FROM generate_series(0, 2) gi(i), generate_series(0, 3071) gt(t)
      UNION ALL
      SELECT 4, t, 0 FROM generate_series(0, 1023) gt(t)
      UNION ALL
      SELECT 5, t, ((t*t*7 + t*29) % 1025) - 512
      FROM generate_series(0, 767) gt(t)
    ),
    e AS (
      SELECT i, t // 128 AS w, k.k,
        sum(v * CASE k.k
            WHEN 0 THEN CASE (127 - t % 128) % 6
                 WHEN 0 THEN 1 WHEN 1 THEN 1
                 WHEN 3 THEN -1 WHEN 4 THEN -1 ELSE 0 END
            WHEN 1 THEN CASE (127 - t % 128) % 4
                 WHEN 0 THEN 1 WHEN 2 THEN -1 ELSE 0 END
            WHEN 2 THEN CASE (127 - t % 128) % 3
                 WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END
            ELSE (128 - t % 128)
                 * (CASE WHEN (127 - t % 128) % 2 = 0 THEN 1 ELSE -1 END)
          END) AS s1,
        sum(CASE WHEN t % 128 <= 126 THEN v * CASE k.k
            WHEN 0 THEN CASE (126 - t % 128) % 6
                 WHEN 0 THEN 1 WHEN 1 THEN 1
                 WHEN 3 THEN -1 WHEN 4 THEN -1 ELSE 0 END
            WHEN 1 THEN CASE (126 - t % 128) % 4
                 WHEN 0 THEN 1 WHEN 2 THEN -1 ELSE 0 END
            WHEN 2 THEN CASE (126 - t % 128) % 3
                 WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END
            ELSE (127 - t % 128)
                 * (CASE WHEN (126 - t % 128) % 2 = 0 THEN 1 ELSE -1 END)
          END ELSE 0 END) AS s2
      FROM x, (VALUES (0), (1), (2), (3)) k(k)
      GROUP BY i, t // 128, k.k
    ),
    pw AS (
      SELECT i, w, k,
        s1*s1 + s2*s2
        - (CASE k WHEN 0 THEN 1 WHEN 1 THEN 0 WHEN 2 THEN -1 ELSE -2 END)
          * s1 * s2 AS en
      FROM e
    ),
    act AS (
      SELECT i, w FROM pw GROUP BY i, w HAVING sum(en) >= 1
    ),
    isl AS (
      SELECT i, w,
        w - row_number() OVER (PARTITION BY i ORDER BY w) AS grp
      FROM act
    ),
    seg AS (
      SELECT i, grp, min(w) AS sw, max(w) AS ew, count(*) AS nw
      FROM isl GROUP BY i, grp
    )
    SELECT CAST(i AS BIGINT) AS media_id,
      CAST(row_number() OVER (PARTITION BY i ORDER BY sw) - 1
           AS INTEGER) AS segment_id,
      CAST(sw AS INTEGER) AS start_window,
      CAST(ew AS INTEGER) AS end_window,
      CAST(nw AS INTEGER) AS n_windows
    FROM seg
    """,
    doc=(
        "VALUE-CHECKED energy-based audio segmentation — the "
        "split-at-silence primitive for speech/audio training "
        "pipelines: really-decoded 16-bit PCM, a window is active "
        "when the sum of its four exact-integer Goertzel band powers "
        "is >= 1 (digital silence is exactly 0 in every band — each "
        "power is a positive-semidefinite quadratic form), segments "
        "are maximal active runs via gaps-and-islands rank "
        "arithmetic. The oracle restates every band power as the "
        "impulse-response weighted sum over the closed-form samples "
        "and re-derives the same islands, so every segment boundary "
        "is cross-engine exact. Fixture plants silence/content/"
        "silence/content/silence structure, an undecodable blob "
        "(absent), an ALL-silence clip (decodes fine, zero segments "
        "— absent), and an all-content clip (one full-span segment). "
        "One media_id-keyed shuffle after the decode scan."
    ),
)
def multimodal_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        audio_energy_segments,
        checked_audio_segments_df,
    )

    return audio_energy_segments(checked_audio_segments_df(spark))


_WHT_HASHES_CTE = """
    px AS (
      SELECT i, x, y,
        CASE i % 4
          WHEN 0 THEN (x*x*(3 + i//4) + y*(7 + 2*(i//4)) + x*y
                       + 5*(i//4)) % 101
          WHEN 1 THEN 2 * ((x*x*(3 + i//4) + y*(7 + 2*(i//4)) + x*y
                            + 5*(i//4)) % 101) + 30
          WHEN 2 THEN CASE WHEN x BETWEEN 8 AND 9 AND y BETWEEN 8 AND 9
                 THEN (x*x*(3 + i//4) + y*(7 + 2*(i//4)) + x*y
                       + 5*(i//4)) % 101 + 6
                 ELSE (x*x*(3 + i//4) + y*(7 + 2*(i//4)) + x*y
                       + 5*(i//4)) % 101 END
          ELSE (x*(11 + i//4) + y*y*(5 + i//4) + 3*x*y + 7*(i//4)
                + 40) % 101
        END AS v
      FROM generate_series(0, 11) gi(i),
           generate_series(0, 15) gx(x), generate_series(0, 15) gy(y)
    ),
    cells AS (
      SELECT i, x // 2 AS cx, y // 2 AS cy,
             CAST(sum(3 * v) AS BIGINT) AS s
      FROM px GROUP BY i, x // 2, y // 2
    ),
    coef AS (
      SELECT c.i, u.u, vv.v AS vb,
        sum(c.s * (1 - 2 * ((bit_count(u.u & c.cy)
                             + bit_count(vv.v & c.cx)) % 2))) AS co
      FROM cells c, generate_series(0, 7) u(u), generate_series(0, 7) vv(v)
      GROUP BY c.i, u.u, vv.v
    ),
    ac AS (
      SELECT i, 8 * u + vb - 1 AS p, co FROM coef WHERE 8 * u + vb >= 1
    ),
    med AS (
      SELECT i, co AS m FROM (
        SELECT i, co, row_number() OVER (PARTITION BY i ORDER BY co) AS rn
        FROM ac
      ) WHERE rn = 32
    ),
    bits AS (
      SELECT a.i, a.p, CASE WHEN a.co > m.m THEN 1 ELSE 0 END AS bit
      FROM ac a JOIN med m ON m.i = a.i
    ),
    hashes AS (
      SELECT i,
        CAST(sum(CASE WHEN p < 32
             THEN bit * (CAST(1 AS BIGINT) << (31 - p)) ELSE 0 END)
             AS BIGINT) AS hash_hi,
        CAST(sum(CASE WHEN p >= 32
             THEN bit * (CAST(1 AS BIGINT) << (63 - p)) ELSE 0 END)
             AS BIGINT) AS hash_lo
      FROM bits GROUP BY i
    )
"""


@register(
    "multimodal_image_whash_checked",
    oracle="WITH " + _WHT_HASHES_CTE + """
    SELECT CAST(i AS BIGINT) AS media_id, CAST(1 AS INTEGER) AS orientation,
           hash_hi, hash_lo, TRUE AS decode_ok
    FROM hashes
    UNION ALL
    SELECT 12, 6, hash_hi, hash_lo, TRUE FROM hashes WHERE i = 0
    UNION ALL SELECT 13, NULL, NULL, NULL, FALSE
    UNION ALL SELECT 14, NULL, NULL, NULL, FALSE
    """,
    doc=(
        "VALUE-CHECKED Walsh-Hadamard perceptual hash — the "
        "frequency-domain member of the image near-dup plane (the "
        "pHash sign-of-transform-coefficients idea on the "
        "integer-exact WHT instead of the float DCT, so every bit is "
        "cross-engine replicable): really-decoded lossless PNG "
        "rasters, EXIF-upright, 8x8 equal-size cell sums, natural-"
        "order Hadamard transform H[u,x] = (-1)^popcount(u AND x), 63 "
        "AC signs vs their lower median packed into the SAME "
        "(hash_hi, hash_lo) relation the dedup machinery consumes. "
        "The oracle restates every coefficient as a +-1-weighted "
        "integer sum and re-derives the median by rank. Planted "
        "invariances: gain/offset re-encode 2g+30 lands Hamming 0 BY "
        "LINEARITY (coefficients and median scale together; the "
        "offset dies in the discarded DC); a camera-rotated copy "
        "(real PNG eXIf, orientation 6) lands on the base's exact "
        "hash; a one-cell +6 edit flips only near-median signs "
        "(Hamming 1-3); honesty rows: an undecodable blob and a 4x4 "
        "raster smaller than the grid (NULL hash, decode_ok false)."
    ),
)
def multimodal_image_whash_checked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_wht_df,
        image_wht_hash,
    )

    return image_wht_hash(checked_wht_df(spark))


@register(
    "multimodal_whash_near_pairs",
    oracle="WITH " + _WHT_HASHES_CTE + """
    , allh AS (
      SELECT CAST(i AS BIGINT) AS i, hash_hi, hash_lo FROM hashes
      UNION ALL
      SELECT 12, hash_hi, hash_lo FROM hashes WHERE i = 0
    )""" + _dhash_pairs_sql("allh"),
    doc=(
        "The WHT hash riding the UNCHANGED banded near-pair machinery "
        "(dhash_bands 4x16-bit pigeonhole blocking + exact "
        "bit_count(XOR) verify): gain/offset re-encodes and the "
        "camera-rotated copy pair at Hamming 0, the one-cell edits "
        "inside the <=3 radius, different content (measured 28-38 "
        "bits) produces no rows — value-checked against the "
        "brute-force Hamming filter over the same restated "
        "coefficient signs. At corpus scale the shuffle moves 4 "
        "two-int band rows per image, never the all-pairs square."
    ),
)
def multimodal_whash_near_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_wht_df,
        dhash_near_pairs,
        image_wht_hash,
    )

    return dhash_near_pairs(
        image_wht_hash(checked_wht_df(spark)), max_hamming=3
    )

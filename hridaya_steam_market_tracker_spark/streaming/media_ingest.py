"""Streaming near-dup-gated MEDIA ingest: one store deduping images,
videos AND audio, each through its own signature, sharing the banded
admission machinery — so a camera-rotated or mirrored image
re-upload, a re-encoded video or a volume-shifted audio clip of a
stored item is rejected at the gate, not discovered later by a batch
sweep. The plane (image/video/audio) rides the band rows and the join
key, so an image and an audio clip that happen to land on the same 64
bits can never reject each other — cross-modality isolation is
structural, not probabilistic.

The store protocol is the text gate's, written once in
`streaming/corpus_ingest.py` and imported here: ``isdir`` existence
checks so a real read failure fails the batch loudly instead of
aliasing to "empty store", loud refusal of a half-compacted store,
the ``_GATE_MODE`` lifetime marker, orphan-index repair, rename-aside
compaction via `compact_store` (this gate passes its own partition
layout), the ``foreachBatch`` starter, and replay as a no-op
(already-stored media_ids are anti-joined away first). Reference
analog: the replay-safe delta-insert discipline of
src/SQLinserts.py:515-584, re-expressed for media.

Two places the media gate is deliberately DIFFERENT from the text gate:

* **The signature is sufficient for exact verify.** Text near-dup must
  re-read colliding store documents to compute exact Jaccard; a
  64-bit signature match is decided by two bit_count(XOR)s, so band
  rows carry (hash_hi, hash_lo) and the verify path NEVER re-reads a
  stored payload — at 100 TB of blobs, the store's bytes are written
  once and only ever re-read by a human or a re-featurization job, not
  by the admission gate.
* **Undecodable blobs are ADMITTED to docs/ and excluded from
  bands/.** Dedup cannot gate on evidence it cannot read; silently
  dropping corrupt rows here would make ingest lossy in a way replay
  could never repair. The quality tier owns rejecting corrupt media —
  the honest-failure split every codec operator in this package
  already makes (decode_ok=false rows keep their identity).

State under ``store_path``:

* ``docs/``  — accepted media rows (media_id, media_type, format,
  payload, decode_ok). ``decode_ok`` records whether the row is
  band-indexed: true rows have band rows, false/null rows are the
  admitted evidence-less items that legitimately have none. That bit
  makes a crash between the docs/ append and the bands/ append
  DETECTABLE: a decode_ok=true docs row absent from bands/ is always
  an orphan, and every ingest batch starts by repairing those (re-sign
  just the orphans, append their band rows) before admitting
  anything, so replay heals the index instead of anti-joining the
  evidence away.
* ``bands/`` — (media_id, bucket, hash_hi, hash_lo),
  HIVE-PARTITIONED BY (``plane``, ``band``) (4 bands — the 16-bit
  quarters of the 64-bit hash), so each plane's postings stay
  physically clustered and a batch of one modality scans only its own
  plane's directories. Each micro-batch equi-joins its own 4
  rows/item against this store on (plane, band, bucket); by
  pigeonhole the blocking is lossless for Hamming <= 3.
* ``wfps/``  — (excerpt-aware stores only) content fingerprints
  (media_id, fp), hive-partitioned by ``plane``; see
  `media_winnow_fps`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hridaya_steam_market_tracker_spark.operators.multimodal import dhash_bands
from hridaya_steam_market_tracker_spark.storage.layout import (
    _check_partition_integrity,
)
from hridaya_steam_market_tracker_spark.streaming.corpus_ingest import (
    _auto_compact,
    _check_gate_mode,
    _repair_index,
    _start_gate,
    compact_store,
    media_excerpt_rejects,
)

_DOC_COLS = ("media_id", "media_type", "format", "payload")
_ANY_BAND_COLS = ("media_id", "plane", "band", "bucket", "hash_hi", "hash_lo")
_ANY_KEYS = ("plane", "band", "bucket")
_WFP_COLS = ("media_id", "plane", "fp")
_MEDIA_LAYOUT = {"docs": (), "bands": ("plane", "band"), "wfps": ("plane",)}


def _hamming(hi_a, lo_a, hi_b, lo_b):
    return (
        F.bit_count(hi_a.bitwiseXOR(hi_b)) + F.bit_count(lo_a.bitwiseXOR(lo_b))
    ).cast("int")


def media_admission_rejects(
    stored_bands: DataFrame | None,
    batch_bands: DataFrame,
    max_hamming: int = 3,
    keys: tuple[str, ...] = ("band", "bucket"),
) -> DataFrame:
    """The admission DECISION function, factored out so the streaming
    gate and its registered batch twins (`media_ingest_admission_twin`
    and `any_media_ingest_admission_twin` in queries/media.py) run
    literally the same plan: given the store's
    band index (None for an empty store) and the batch's band rows
    (both shaped like `dhash_bands` output), return the one-column
    (media_id) relation of batch rows to REJECT — a verified
    Hamming <= max_hamming match among stored rows, or among lower-id
    rows of the same batch (leader-keeps). Equi-join on ``keys`` —
    (band, bucket) for the image-only batch twin, (plane, band,
    bucket) for the gate, where the plane key makes
    cross-modality collisions structurally impossible — with the
    carried hashes verified inline: 4 two-int rows per item cross the
    shuffle, never payloads, never the all-pairs square."""
    keys = list(keys)
    a = batch_bands.select(
        F.col("media_id").alias("i"), F.col("hash_hi").alias("hi_i"),
        F.col("hash_lo").alias("lo_i"), *keys,
    )
    b = batch_bands.select(
        F.col("media_id").alias("j"), F.col("hash_hi").alias("hi_j"),
        F.col("hash_lo").alias("lo_j"), *keys,
    )
    ham = _hamming(F.col("hi_i"), F.col("lo_i"), F.col("hi_j"), F.col("lo_j"))
    within = (
        a.join(b, keys)
        .filter((F.col("i") < F.col("j")) & (ham <= max_hamming))
        .select("j")
    )
    if stored_bands is not None:
        s = stored_bands.select(
            F.col("media_id").alias("i"),
            F.col("hash_hi").alias("hi_i"),
            F.col("hash_lo").alias("lo_i"), *keys,
        )
        cross = s.join(b, keys).filter(ham <= max_hamming).select("j")
        rejected = cross.unionByName(within).distinct()
    else:
        rejected = within.distinct()
    return rejected.withColumnRenamed("j", "media_id")



def media_gate_mode(
    excerpt: bool, phases: int = 1, image_plane: str = "grid",
    audio_plane: str = "window",
) -> str:
    """The ``_GATE_MODE`` string of a media store (`set_gate_mode`):
    ``"plain"``, or the excerpt mode with every setting that keys the
    wfps/ index — ``excerpt_phases``, ``excerpt_image_plane`` and
    ``excerpt_audio_plane`` are part of the store-lifetime contract, so
    a store indexed at one setting refuses batches at another.
    Grandfathered marker-less stores are phases=1 grid/window, the only
    setting that existed before the marker carried it."""
    if image_plane not in ("grid", "cdt", "hybrid"):
        raise ValueError(
            f"image_plane={image_plane!r}: expected 'grid' (phase-"
            "shifted tile grids), 'cdt' (content-defined tiling), or "
            "'hybrid' (cdt with per-item low-entropy grid fallback)"
        )
    if audio_plane not in ("window", "cdt", "hybrid"):
        raise ValueError(
            f"audio_plane={audio_plane!r}: expected 'window' (phased "
            "window tokens), 'cdt' (content-defined anchors), or "
            "'hybrid' (cdt with per-clip low-entropy window fallback)"
        )
    if not excerpt:
        return "plain"
    mode = "excerpt" if phases == 1 else f"excerpt:phases={phases}"
    if image_plane != "grid":
        mode += f":image={image_plane}"
    if audio_plane != "window":
        mode += f":audio={audio_plane}"
    return mode



def media_signatures(
    batch: DataFrame,
    video_frames: DataFrame | None = None,
    audio_windows: DataFrame | None = None,
    image_decoded: DataFrame | None = None,
) -> DataFrame:
    """Per-plane near-dup signatures for a mixed media batch, unified
    into the shared (media_id, plane, hash_hi, hash_lo, decode_ok)
    relation: orientation-normalized dHash for images
    (`image_dhash_oriented`), temporal dHash for MP4 videos
    (`video_temporal_dhash`), multi-bin Goertzel fingerprint for audio
    (`audio_goertzel_fingerprint`). Each operator already pushes its
    own media_type filter down before its Python stage, so a row's
    payload crosses the Arrow boundary exactly once, in its own
    plane's pass. Rows matching no plane (e.g. a webm video) are
    simply absent — the caller treats them like undecodable evidence
    (admitted docs-only, never indexed).

    Plane disjointness is STRUCTURAL, not an implicit contract on the
    operators' internal filters: each operator receives only the rows
    whose media_type IS its plane (one value per row, so the slices
    cannot overlap), and a future operator whose internal filter
    overlapped an existing plane still could not double-sign a row
    into two planes. Catalyst collapses the redundant double filter,
    so the guard costs nothing.

    ``video_frames`` / ``audio_windows`` / ``image_decoded``
    (optional): precomputed decode relations (`decode_mp4_frames`,
    `decode_audio_windows`, `decode_image_signature_tiles`) — the
    excerpt-aware gate needs every plane TWICE (whole-item signature
    plus content fingerprints), so it decodes each plane once and
    shares the persisted relation with `media_winnow_fps`."""
    from hridaya_steam_market_tracker_spark.operators import multimodal as mm

    cols = ["media_id", "hash_hi", "hash_lo", "decode_ok"]
    planes = (
        ("image", mm.image_dhash_oriented,
         {"decoded": image_decoded} if image_decoded is not None else {}),
        ("video", mm.video_temporal_dhash,
         {"frames": video_frames} if video_frames is not None else {}),
        ("audio", mm.audio_goertzel_fingerprint,
         {"windows": audio_windows} if audio_windows is not None else {}),
    )
    parts = [
        op(batch.filter(F.col("media_type") == plane), **kw)
        .select(*cols)
        .withColumn("plane", F.lit(plane))
        for plane, op, kw in planes
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _any_bands(signatures: DataFrame) -> DataFrame:
    """`dhash_bands` with the plane tag riding the explode (a
    scan-stage projection — no join back, no extra shuffle)."""
    return dhash_bands(signatures, carry=("plane",)).select(*_ANY_BAND_COLS)



def repair_any_media_band_index(spark: SparkSession, store_path: str) -> int:
    """`_repair_index` for bands/: decodable (decode_ok=true) docs rows
    missing from bands/ are re-signatured through ALL planes and
    re-indexed. The normal-path cost is one id/flag-column anti-join
    between the two stores (no payload touched); only when orphans
    exist are their payload rows re-read and re-hashed — the "stored
    payloads are never re-read on admission" property holds for every
    non-crash batch. Returns band rows written."""
    return _repair_index(
        spark, store_path, "bands", "media_id",
        lambda d: _any_bands(media_signatures(d)), ("plane", "band"),
        candidates=F.col("decode_ok"),
    )


def repair_media_wfps_index(
    spark: SparkSession, store_path: str, phases: int = 1,
    image_plane: str = "grid", audio_plane: str = "window",
) -> int:
    """`_repair_index` for wfps/: image/video/audio docs rows missing
    from wfps/, with the fp=NULL presence rows making 'nothing to
    fingerprint' a recorded state instead of a perpetual orphan. Also
    how a pre-crop-plane store upgrades (its image rows have no wfps
    rows, so the first excerpt-aware batch re-fingerprints them here,
    once) and how a mode switch rebuilds: `set_gate_mode` drops wfps/
    when the excerpt mode changes, so every stored item re-enters here
    as an orphan and is re-fingerprinted at the gate's settings.
    Returns wfps rows written."""
    return _repair_index(
        spark, store_path, "wfps", "media_id",
        lambda d: media_winnow_fps(
            d, phases=phases, image_plane=image_plane, audio_plane=audio_plane
        ),
        ("plane",),
        candidates=F.col("media_type").isin("image", "video", "audio"),
    )


def ingest_any_media_batch(
    batch_df: DataFrame,
    store_path: str,
    max_hamming: int = 3,
    excerpt_tau: float | None = None,
    excerpt_max_df: int = 50,
    excerpt_phases: int = 1,
    excerpt_image_plane: str = "grid",
    excerpt_audio_plane: str = "window",
    auto_compact_files: int | None = 1024,
    auto_compact_target_files: int = 8,
) -> None:
    """Process ONE mixed media micro-batch through the gate:
    per-plane signatures (image dHash / video temporal dHash / audio
    Goertzel fingerprint), ONE plane-keyed band join against the store
    index and the batch itself, admit leaders and genuinely-new items,
    append accepted blobs + their plane-tagged band rows. Designed for
    foreachBatch; replay is a no-op and heals a crash-orphaned index
    first. Rows with no verifiable signature — undecodable payloads,
    too-short clips, formats outside the codec set — are admitted
    docs-only with decode_ok false/null (dedup cannot gate on evidence
    it cannot read; the quality tier owns rejecting them).

    ``excerpt_tau`` (optional) additionally rejects a batch item whose
    content fingerprints are >= tau already stored — a window-aligned
    audio excerpt, a video subclip, or a tile-aligned image CROP of a
    stored item, the classes the whole-item hashes are structurally
    blind to — maintaining a third store component wfps/
    (hive-partitioned by plane; fp=NULL presence rows for
    unfingerprintable items). Directional: a new host
    containing a stored clip is admitted. The setting is a
    store-LIFETIME contract, ENFORCED: a ``_GATE_MODE`` marker records
    the store's mode (`media_gate_mode`) at first ingest and a
    mixed-mode batch refuses loudly instead of silently weakening the
    gate; switch deliberately with `set_gate_mode`, after which the
    repair pass re-fingerprints stored items once.

    ``excerpt_phases`` (round 11, part of the same lifetime contract):
    phase-shifted content grids for the image/audio planes so
    NON-aligned crops and excerpts are rejected too (see
    `media_winnow_fps`); the wfps/ index grows <= phases^2x for
    images, <= phases x for audio, and the gate's join shapes are
    unchanged.

    ``excerpt_image_plane`` (round 12, same lifetime contract):
    ``"cdt"`` switches the image content plane to CONTENT-DEFINED
    anchors (`image_cdt_fingerprints`) — crops at ANY pixel offset
    are rejected, not just tile/phases lattice points, at ~constant
    index mass instead of phases^2. Recorded in the ``_GATE_MODE``
    marker; switching planes on a live store drops and rebuilds
    wfps/ exactly like a phases switch. ``excerpt_audio_plane``
    (round 12) is the 1-D twin: ``"cdt"`` rejects audio excerpts cut
    at ANY sample offset via content-defined sample anchors.

    ``"hybrid"`` (round 13, both planes): cdt anchors with a
    PER-ITEM fallback to the phased grid/window plane for LOW-ENTROPY
    content — flat/gradient rasters and silent/tonal clips collapse
    the anchor set to ~0-3 distinct tokens (the round-12 honest
    finding), leaving their crops/excerpts under-evidenced in pure
    cdt mode; the hybrid gate detects the collapse per item
    (`image_cdt_anchor_density` / `audio_cdt_anchor_density`,
    integer-exact) and indexes such items by the phased grid TOO, so
    lattice-aligned crops/excerpts of low-entropy items are rejected
    at r11 strength while content-ful items keep the exact
    any-offset guarantee. ``excerpt_phases`` then sizes the fallback
    grids.

    ``auto_compact_files`` (round 11): after the batch's appends, if
    the store's parquet part-file count exceeds this threshold,
    `compact_any_media_store` runs inside the batch — the same
    self-enforcing bounded-growth trigger as the text gate
    (streaming/corpus_ingest.ingest_batch); 0 compacts after every
    batch that appends, None disables."""
    if max_hamming > 3:
        raise ValueError(
            f"max_hamming={max_hamming}: 16-bit banding is lossless only "
            "for max_hamming <= 3 (pigeonhole over 4 bands)"
        )
    from pyspark import StorageLevel

    spark = batch_df.sparkSession
    docs_path = os.path.join(store_path, "docs")
    bands_path = os.path.join(store_path, "bands")
    wfps_path = os.path.join(store_path, "wfps")

    batch = batch_df.select(*_DOC_COLS).dropDuplicates(["media_id"])
    _check_partition_integrity(store_path)
    _check_gate_mode(store_path, media_gate_mode(
        excerpt_tau is not None, excerpt_phases,
        excerpt_image_plane, excerpt_audio_plane,
    ))
    repair_any_media_band_index(spark, store_path)
    if excerpt_tau is not None:
        repair_media_wfps_index(
            spark, store_path, phases=excerpt_phases,
            image_plane=excerpt_image_plane,
            audio_plane=excerpt_audio_plane,
        )
    stored = spark.read.parquet(docs_path) if os.path.isdir(docs_path) else None
    if stored is not None:
        batch = batch.join(stored.select("media_id"), "media_id", "left_anti")
    batch = batch.persist(StorageLevel.MEMORY_AND_DISK)
    sigs = None
    batch_wfps = None
    shared = []  # persisted per-plane decode relations (excerpt mode)
    decode_kw = {}
    try:
        if batch.isEmpty():
            return

        if excerpt_tau is not None:
            # Excerpt mode needs EVERY plane twice — whole-item
            # signature AND content fingerprints. Decode each plane
            # once into a persisted relation shared by both passes;
            # without this every payload crossed the Arrow decode
            # boundary twice per batch (the dominant batch cost).
            from hridaya_steam_market_tracker_spark.operators.multimodal import (
                decode_audio_windows,
                decode_image_signature_tiles,
                decode_mp4_frames,
            )

            decode_kw = {
                "video_frames": decode_mp4_frames(batch),
                "audio_windows": decode_audio_windows(
                    batch, phases=excerpt_phases
                ),
                "image_decoded": decode_image_signature_tiles(
                    batch, phases=excerpt_phases,
                    include_cdt=(
                        excerpt_image_plane in ("cdt", "hybrid")
                    ),
                ),
            }
            for df in decode_kw.values():
                shared.append(df.persist(StorageLevel.MEMORY_AND_DISK))
        sigs = media_signatures(batch, **decode_kw).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        b_bands = _any_bands(sigs)
        stored_bands = (
            spark.read.parquet(bands_path).select(*_ANY_BAND_COLS)
            if os.path.isdir(bands_path)
            else None
        )
        rejected = media_admission_rejects(
            stored_bands, b_bands, max_hamming, keys=_ANY_KEYS
        )
        if excerpt_tau is not None:
            batch_wfps = media_winnow_fps(
                batch, phases=excerpt_phases,
                image_plane=excerpt_image_plane,
                audio_plane=excerpt_audio_plane, **decode_kw
            ).persist(StorageLevel.MEMORY_AND_DISK)
            stored_wfps = (
                spark.read.parquet(wfps_path).select(*_WFP_COLS)
                if os.path.isdir(wfps_path)
                else None
            )
            rejected = rejected.unionByName(
                media_excerpt_rejects(
                    stored_wfps, batch_wfps, excerpt_tau, excerpt_max_df
                )
            ).distinct()

        accepted = (
            batch.join(rejected, "media_id", "left_anti")
            .join(sigs.select("media_id", "decode_ok"), "media_id", "left")
            .localCheckpoint(eager=True)
        )
        accepted_bands = (
            _any_bands(sigs)
            .join(accepted.select("media_id"), "media_id", "left_semi")
            .localCheckpoint(eager=True)
        )
        if excerpt_tau is not None:
            accepted_wfps = batch_wfps.join(
                accepted.select("media_id"), "media_id", "left_semi"
            ).localCheckpoint(eager=True)
        accepted.write.mode("append").parquet(docs_path)
        # Never append an EMPTY frame: it creates a directory holding
        # only _SUCCESS, which a later batch's read fails on with
        # UNABLE_TO_INFER_SCHEMA (e.g. a first batch of solely
        # unbandable items — one too-short clip — has docs rows but
        # zero band rows).
        if not accepted_bands.isEmpty():
            (
                accepted_bands.write.mode("append")
                .partitionBy("plane", "band")
                .parquet(bands_path)
            )
        if excerpt_tau is not None and not accepted_wfps.isEmpty():
            (
                accepted_wfps.write.mode("append")
                .partitionBy("plane")
                .parquet(wfps_path)
            )
        _auto_compact(
            spark, store_path, auto_compact_files, auto_compact_target_files,
            _MEDIA_LAYOUT,
        )
    finally:
        if sigs is not None:
            sigs.unpersist()
        if excerpt_tau is not None and batch_wfps is not None:
            batch_wfps.unpersist()
        for df in shared:
            df.unpersist()
        batch.unpersist()


def compact_any_media_store(
    spark: SparkSession, store_path: str, target_files: int = 1
) -> dict[str, int]:
    """`compact_store` with this gate's (plane, band) bands/ and
    plane-partitioned wfps/ layout."""
    return compact_store(spark, store_path, target_files, _MEDIA_LAYOUT)


def start_dedup_any_media_ingest(
    stream_media: DataFrame,
    store_path: str,
    checkpoint_path: str,
    available_now: bool = True,
    **dedup_kwargs,
):
    """Wire a mixed media stream into the near-dup-gated store via
    foreachBatch(ingest_any_media_batch); ``dedup_kwargs`` go to every
    `ingest_any_media_batch` call. Returns the StreamingQuery."""
    return _start_gate(
        ingest_any_media_batch, stream_media, store_path, checkpoint_path,
        available_now, dedup_kwargs,
    )


# ---------------------------------------------------------------------------
# Excerpt-aware admission (round 9; image crops round 10): the banded
# hash gate rejects whole-item near-dups; with ``excerpt_tau`` set, the
# gate ALSO rejects a new item most of whose CONTENT is already
# stored — a window-aligned audio excerpt, a video subclip, or a
# tile-aligned image crop of a stored item — via a content-fingerprint
# index (the same machinery the batch subclip/excerpt/crop queries
# value-check). Directional by design: a new HOST containing a stored
# clip is admitted (most of its fingerprints are new); a new clip
# contained in a stored host is redundant.
# ---------------------------------------------------------------------------

def media_winnow_fps(
    batch: DataFrame,
    video_frames: DataFrame | None = None,
    audio_windows: DataFrame | None = None,
    image_decoded: DataFrame | None = None,
    phases: int = 1,
    image_plane: str = "grid",
    audio_plane: str = "window",
) -> DataFrame:
    """(media_id, plane, fp) content fingerprints for the containment
    planes: winnowing fingerprints over the sequence planes (video
    frame tokens, audio window tokens) plus TILE fingerprints for
    images (`image_tile_fingerprints` — images have no sequence, so
    their content plane is the set of 8x8-tile tokens of the
    EXIF-upright raster; a tile-aligned CROP of a stored image is then
    rejected exactly like a video subclip). EVERY image/video/audio
    row in the batch gets at least one output row: items whose content
    yields no fingerprint (undecodable, shorter than one k-gram,
    smaller than one tile) carry a single fp=NULL presence row, so the
    index distinguishes 'indexed, nothing to match' from 'orphaned' —
    NULL never equi-joins, so presence rows can never evidence a
    rejection.

    ``phases`` (round 11): phase-shifted grids for the image tile and
    audio window planes (see `_tile_token_kernel` /
    `audio_window_token_text`) so NON-aligned crops and excerpts
    surface too; the video plane needs none (its token unit is a
    whole frame — every subclip is frame-aligned by construction).
    The audio plane then emits one token document per (clip, phase),
    so the winnowed (id, fp) pairs are deduped before the containment
    consumers count them (phases=1 keeps the historical single-doc
    plan untouched). When the shared ``audio_windows`` /
    ``image_decoded`` relations are supplied they must have been
    decoded with the SAME phases.

    ``image_plane`` (round 12): ``"grid"`` keeps the (phase-shifted)
    tile-grid fingerprints; ``"cdt"`` fingerprints images by
    CONTENT-DEFINED anchors instead (`image_cdt_fingerprints`) — the
    offset-INDEPENDENT plane, so a crop at ANY pixel offset is
    rejected, not just tile/phases lattice points, at ~the single
    grid's index mass. ``phases`` then applies to the audio plane
    only (CDT needs no phases — that is the point), and the shared
    ``image_decoded`` relation is ignored for the fp plane (its tile
    structs are grid tokens) UNLESS it was built with
    ``include_cdt=True`` — then its carried anchor structs are the
    one-decode path; a cdt-less shared relation falls back to the fp
    plane's own Arrow pass over image payloads.

    ``audio_plane`` (round 12): the 1-D twin — ``"cdt"`` fingerprints
    audio by content-defined SAMPLE anchors
    (`audio_cdt_fingerprints`) instead of the phased window
    tokenization, so an excerpt cut at ANY sample offset is rejected;
    ``phases`` and the shared ``audio_windows`` relation are then
    ignored for the fp plane (same documented extra decode as the
    image CDT mode)."""
    from hridaya_steam_market_tracker_spark.operators.dedup import (
        winnow_fingerprints,
    )
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        audio_cdt_fingerprints,
        audio_hybrid_fingerprints,
        audio_window_token_text,
        image_cdt_fingerprints,
        image_hybrid_fingerprints,
        image_tile_fingerprints,
        video_frame_token_text,
    )

    if image_plane not in ("grid", "cdt", "hybrid"):
        raise ValueError(
            f"image_plane={image_plane!r}: expected 'grid', 'cdt', or "
            "'hybrid'"
        )
    if audio_plane not in ("window", "cdt", "hybrid"):
        raise ValueError(
            f"audio_plane={audio_plane!r}: expected 'window', 'cdt', "
            "or 'hybrid'"
        )
    toks = video_frame_token_text(batch, frames=video_frames)
    if audio_plane == "window":
        toks = toks.unionByName(
            audio_window_token_text(
                batch, windows=audio_windows, phases=phases
            )
        )
    wfps = winnow_fingerprints(toks, id_col="media_id", k=3, w=4)
    if audio_plane == "window" and (
        phases > 1
        or (audio_windows is not None and "phase" in audio_windows.columns)
    ):
        wfps = wfps.dropDuplicates(["media_id", "fp"])
    if audio_plane == "cdt":
        wfps = wfps.unionByName(audio_cdt_fingerprints(batch))
    elif audio_plane == "hybrid":
        # anchors + per-clip low-entropy window fallback; the window
        # tokens ride the gate's shared phased decode, the anchors and
        # the density decision share one Arrow pass
        wfps = wfps.unionByName(
            audio_hybrid_fingerprints(
                batch, phases=phases, windows=audio_windows
            )
        )
    # one-decode path (cdt/hybrid): the shared relation carries the
    # anchors when built with include_cdt=True; otherwise the fps
    # plane pays its own Arrow pass (documented mode cost)
    cdt_decoded = (
        image_decoded
        if image_decoded is not None and "cdt" in image_decoded.columns
        else None
    )
    if image_plane == "cdt":
        ifps = image_cdt_fingerprints(batch, decoded=cdt_decoded)
    elif image_plane == "hybrid":
        ifps = image_hybrid_fingerprints(
            batch, phases=phases, decoded=cdt_decoded
        )
    else:
        ifps = image_tile_fingerprints(
            batch, decoded=image_decoded, phases=phases
        )
    fps = wfps.unionByName(ifps)
    ids = batch.filter(
        F.col("media_type").isin("image", "video", "audio")
    ).select("media_id", F.col("media_type").alias("plane"))
    return ids.join(fps, "media_id", "left").select(*_WFP_COLS)


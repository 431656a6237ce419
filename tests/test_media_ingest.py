"""Streaming near-dup-gated MEDIA ingest (streaming/media_ingest.py):
the media twin of the corpus-ingest e2e suite. The image-plane tests
use checked_oriented_dhash_df — real PNGs with real eXIf orientation,
so "duplicate" there means a camera-rotated/mirrored re-upload of a
stored image, the case plain content hashing can never catch."""

from __future__ import annotations

import os

import pytest

from hridaya_steam_market_tracker_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    checked_oriented_dhash_df,
    _pixel_codec,
)
from hridaya_steam_market_tracker_spark.streaming.corpus_ingest import (
    set_gate_mode,
)
from hridaya_steam_market_tracker_spark.streaming.media_ingest import (
    compact_any_media_store,
    ingest_any_media_batch,
    media_gate_mode,
    repair_any_media_band_index,
    start_dedup_any_media_ingest,
)


def _white_png_row(media_id: int):
    """A genuinely new image: constant white hashes to (0, 0), which sits
    >= 4 Hamming bits from every fixture base (1-4)."""
    _, encode = _pixel_codec()
    payload = bytearray(encode(36, 32, b"\xff" * (36 * 32 * 3), "png"))
    return (media_id, "image", "png", payload, None, None, None)


def _rows(spark, ids, extra=()):
    base = checked_oriented_dhash_df(spark, n=34)
    picked = base.filter(base["media_id"].isin(list(ids)))
    if extra:
        picked = picked.unionByName(
            spark.createDataFrame(list(extra), MEDIA_SCHEMA)
        )
    return picked


def _stored_ids(spark, store):
    return {
        r["media_id"]
        for r in spark.read.parquet(store + "/docs").collect()
    }


def test_media_ingest_two_waves_rotated_rejected(spark, tmp_path):
    """Wave 1 admits four upright bases plus the undecodable blob
    (admitted to docs/, excluded from bands/). Wave 2's rotated/
    mirrored re-uploads of stored bases are all rejected via the
    band-join + carried-hash verify; a genuinely new image is
    admitted."""
    store = str(tmp_path / "store")

    ingest_any_media_batch(_rows(spark, [0, 8, 16, 24, 33]), store)
    assert _stored_ids(spark, store) == {0, 8, 16, 24, 33}
    band_ids = {
        r["media_id"]
        for r in spark.read.parquet(store + "/bands").collect()
    }
    assert band_ids == {0, 8, 16, 24}  # undecodable row indexes nothing

    # ids 5 (base1, EXIF 6), 13 (base2, EXIF 6), 26 (base4, EXIF 3) are
    # stored-content re-uploads under rotation; 100 is new.
    ingest_any_media_batch(
        _rows(spark, [5, 13, 26], extra=[_white_png_row(100)]), store
    )
    assert _stored_ids(spark, store) == {0, 8, 16, 24, 33, 100}


def test_media_ingest_replay_and_leader_keeps(spark, tmp_path):
    """(a) Replaying a micro-batch is a no-op (already-stored ids are
    anti-joined before any decode). (b) Within one batch, the smallest
    id of a rotation group is the admitted leader; its satellites are
    rejected even with an empty store."""
    store = str(tmp_path / "store")

    # leader-keeps: ids 2 and 3 are orientations 3 and 4 of base 1
    batch = _rows(spark, [2, 3])
    ingest_any_media_batch(batch, store)
    assert _stored_ids(spark, store) == {2}

    ingest_any_media_batch(batch, store)  # replay: no-op
    assert _stored_ids(spark, store) == {2}
    assert spark.read.parquet(store + "/docs").count() == 1


def test_media_ingest_refuses_oversize_radius(spark, tmp_path):
    with pytest.raises(ValueError, match="max_hamming"):
        ingest_any_media_batch(_rows(spark, [0]), str(tmp_path / "s"), max_hamming=4)


def _band_dir_files(store):
    """Parquet file count of every (plane, band) partition of bands/."""
    out = {}
    for plane_dir in os.listdir(os.path.join(store, "bands")):
        if not plane_dir.startswith("plane="):
            continue
        for band_dir in os.listdir(os.path.join(store, "bands", plane_dir)):
            if band_dir.startswith("band="):
                d = os.path.join(store, "bands", plane_dir, band_dir)
                out[(plane_dir, band_dir)] = sum(
                    f.endswith(".parquet") for f in os.listdir(d)
                )
    return out


def test_media_ingest_streaming_e2e_with_compaction(spark, tmp_path):
    """start_dedup_any_media_ingest wires the gate into foreachBatch
    with in-batch compaction: after the stream drains, each band
    partition holds <= auto_compact_target_files files, and a second
    wave against the compacted store still rejects a rotated re-upload
    while admitting a new image — compaction changed no admission
    decision."""
    src_dir = str(tmp_path / "incoming")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src_dir)

    _rows(spark, [0, 8, 16, 24]).write.parquet(src_dir, mode="append")
    stream = spark.readStream.schema(MEDIA_SCHEMA).parquet(src_dir)
    q = start_dedup_any_media_ingest(stream, store, ckpt,
                                     auto_compact_files=0,
                                     auto_compact_target_files=1)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    files = _band_dir_files(store)
    assert len(files) == 4 and max(files.values()) <= 1, files

    # wave 2: id 7 is base 1 under EXIF 8 (stored as id 0's rotation),
    # 101 is new
    _rows(spark, [7], extra=[_white_png_row(101)]).write.parquet(
        src_dir, mode="append"
    )
    stream2 = spark.readStream.schema(MEDIA_SCHEMA).parquet(src_dir)
    q2 = start_dedup_any_media_ingest(stream2, store, ckpt,
                                      auto_compact_files=0,
                                      auto_compact_target_files=1)
    try:
        q2.awaitTermination(120)
    finally:
        q2.stop()
    assert _stored_ids(spark, store) == {0, 8, 16, 24, 101}


def test_media_ingest_repairs_crash_orphaned_band_index(spark, tmp_path):
    """A crash between the docs/ append and the bands/ append used to
    leave admitted images permanently unindexed: replay anti-joined
    their ids away (already stored), their band rows were never
    written, and rotated re-uploads were silently admitted forever.
    Every batch now starts by re-indexing decodable docs rows missing
    from bands/, so the next ingest — even a replay — heals the store
    and the re-upload is rejected. The undecodable blob (decode_ok
    false) must NOT count as an orphan."""
    import shutil

    store = str(tmp_path / "store")
    ingest_any_media_batch(_rows(spark, [0, 33]), store)  # base 1 + undecodable
    shutil.rmtree(store + "/bands")  # crash state: docs written, bands not

    # id 5 is base 1 under EXIF orientation 6 — a rotated re-upload of
    # stored id 0. Without repair it would be admitted.
    ingest_any_media_batch(_rows(spark, [5]), store)
    assert _stored_ids(spark, store) == {0, 33}
    band_ids = {
        r["media_id"] for r in spark.read.parquet(store + "/bands").collect()
    }
    assert band_ids == {0}  # repaired; decode_ok=false row stayed unindexed

    # a healthy store repairs nothing (the cheap-path no-op)
    assert repair_any_media_band_index(spark, store) == 0


def test_media_store_halfcompacted_refusal_and_recovery(spark, tmp_path):
    """The shared integrity guard covers this plane too: a mid-swap
    crash state refuses both ingest and compaction, and the one-rename
    recovery restores every admission."""
    store = str(tmp_path / "store")
    ingest_any_media_batch(_rows(spark, [0, 8]), store)
    docs = os.path.join(store, "docs")

    os.rename(docs, docs + ".compact.tmp")
    with pytest.raises(RuntimeError, match="half-compacted"):
        ingest_any_media_batch(_rows(spark, [16]), store)
    with pytest.raises(RuntimeError, match="half-compacted"):
        compact_any_media_store(spark, store)
    os.rename(docs + ".compact.tmp", docs)
    ingest_any_media_batch(_rows(spark, [16]), store)
    assert _stored_ids(spark, store) == {0, 8, 16}
    rewritten = compact_any_media_store(spark, store)
    assert rewritten == {"docs": 3, "bands": 12}


def _mixed_rows(spark, img_ids=(), vid_ids=(), aud_ids=()):
    """Mixed-modality batch: image rows from the oriented-dHash fixture,
    video rows from the temporal-hash fixture remapped +1000, audio
    rows from the fingerprint fixture remapped +2000 (one id space)."""
    from pyspark.sql import functions as F

    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_audio_fp_df,
        checked_video_dedup_df,
    )

    parts = []
    if img_ids:
        base = checked_oriented_dhash_df(spark, n=34)
        parts.append(base.filter(base["media_id"].isin(list(img_ids))))
    if vid_ids:
        vid = checked_video_dedup_df(spark).withColumn(
            "media_id", F.col("media_id") + 1000
        )
        parts.append(vid.filter(vid["media_id"].isin(list(vid_ids))))
    if aud_ids:
        aud = checked_audio_fp_df(spark).withColumn(
            "media_id", F.col("media_id") + 2000
        )
        parts.append(aud.filter(aud["media_id"].isin(list(aud_ids))))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def test_any_media_ingest_three_planes_e2e(spark, tmp_path):
    """The unified gate dedups all three modalities through ONE store:
    wave 2's rotated image re-upload, brightness-re-encoded video and
    volume-doubled + stereo-twin audio are all rejected against wave
    1's store; an unstored image rotation pair resolves by
    leader-keeps; genuinely new video content is admitted; evidence-
    less rows (undecodable audio, too-short video) are admitted
    docs-only. Replay is a no-op."""
    from hridaya_steam_market_tracker_spark.streaming.media_ingest import (
        ingest_any_media_batch,
    )

    store = str(tmp_path / "store")
    # wave 1: image base1 (id 0), video base0 (1000), audio base0
    # (2000), plus evidence-less rows: garbage audio 2016, short video 1017
    ingest_any_media_batch(
        _mixed_rows(spark, img_ids=[0], vid_ids=[1000, 1017],
                    aud_ids=[2000, 2016]), store,
    )
    assert _stored_ids(spark, store) == {0, 1000, 1017, 2000, 2016}
    bands = spark.read.parquet(store + "/bands")
    by_plane = {
        (r["plane"], r["media_id"]) for r in bands.collect()
    }
    assert {p for p, _ in by_plane} == {"image", "video", "audio"}
    assert {m for _, m in by_plane} == {0, 1000, 2000}  # evidence-less unindexed

    # wave 2
    wave2 = _mixed_rows(
        spark,
        img_ids=[5, 18, 19],        # 5: rotation of stored 0; 18/19: unstored base pair
        vid_ids=[1001, 1003],       # 1001: brightness twin of 1000; 1003: new content
        aud_ids=[2001, 2018],       # 2001: volume-doubled 2000; 2018: stereo twin of 2000
    )
    ingest_any_media_batch(wave2, store)
    assert _stored_ids(spark, store) == {
        0, 1000, 1017, 2000, 2016, 18, 1003,
    }

    ingest_any_media_batch(wave2, store)  # replay: no-op
    assert spark.read.parquet(store + "/docs").count() == 7


def test_any_media_cross_plane_isolation(spark):
    """An image and an audio clip landing on the SAME 64-bit hash must
    never reject each other: with the plane in the join key the
    decision is empty; without it (the single-plane key, wrong tool
    for a mixed store) the same rows would collide — proving the
    plane key is what carries the isolation."""
    from hridaya_steam_market_tracker_spark.streaming.media_ingest import (
        media_admission_rejects,
    )

    def bands(mid, plane):
        rows = [(mid, plane, b, 7 * b + 1, 1234567, 7654321)
                for b in range(4)]
        return spark.createDataFrame(
            rows,
            "media_id long, plane string, band int, bucket long, "
            "hash_hi long, hash_lo long",
        )

    stored = bands(1, "image")
    batch = bands(2, "audio")
    isolated = media_admission_rejects(
        stored, batch, keys=("plane", "band", "bucket")
    )
    assert isolated.count() == 0
    collided = media_admission_rejects(stored, batch)  # plane-less key
    assert {r["media_id"] for r in collided.collect()} == {2}


def test_any_media_ingest_repairs_and_compacts(spark, tmp_path):
    """Crash state (bands/ lost after docs append) heals on the next
    ingest across ALL planes — a brightness-re-encoded video re-upload
    is still rejected — and compaction bounds files per (plane, band)
    partition without changing admissions."""
    import shutil

    from hridaya_steam_market_tracker_spark.streaming.media_ingest import (
        compact_any_media_store,
        ingest_any_media_batch,
        repair_any_media_band_index,
    )

    store = str(tmp_path / "store")
    ingest_any_media_batch(
        _mixed_rows(spark, img_ids=[0], vid_ids=[1000], aud_ids=[2000]),
        store,
    )
    shutil.rmtree(store + "/bands")

    ingest_any_media_batch(_mixed_rows(spark, vid_ids=[1001]), store)
    assert _stored_ids(spark, store) == {0, 1000, 2000}  # 1001 rejected post-repair
    assert repair_any_media_band_index(spark, store) == 0  # healthy now

    rewritten = compact_any_media_store(spark, store)
    assert rewritten["docs"] == 3 and rewritten["bands"] == 12
    files = _band_dir_files(store)
    assert len(files) == 12 and max(files.values()) <= 1, files
    # admissions invariant post-compaction
    ingest_any_media_batch(_mixed_rows(spark, aud_ids=[2001]), store)
    assert _stored_ids(spark, store) == {0, 1000, 2000}


def test_any_media_streaming_e2e(spark, tmp_path):
    """start_dedup_any_media_ingest drains a mixed-modality stream with
    inline compaction; a second wave against the compacted store still
    rejects one re-upload per plane while admitting new content."""
    from hridaya_steam_market_tracker_spark.streaming.media_ingest import (
        start_dedup_any_media_ingest,
    )

    src_dir = str(tmp_path / "incoming")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src_dir)

    _mixed_rows(spark, img_ids=[0], vid_ids=[1000], aud_ids=[2000]).write.parquet(
        src_dir, mode="append"
    )
    stream = spark.readStream.schema(MEDIA_SCHEMA).parquet(src_dir)
    q = start_dedup_any_media_ingest(stream, store, ckpt,
                                     auto_compact_files=0,
                                     auto_compact_target_files=1)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    # wave 2: one rotated/re-encoded twin per plane + one new video
    _mixed_rows(spark, img_ids=[5], vid_ids=[1001, 1003],
                aud_ids=[2001]).write.parquet(src_dir, mode="append")
    stream2 = spark.readStream.schema(MEDIA_SCHEMA).parquet(src_dir)
    q2 = start_dedup_any_media_ingest(stream2, store, ckpt,
                                      auto_compact_files=0,
                                      auto_compact_target_files=1)
    try:
        q2.awaitTermination(120)
    finally:
        q2.stop()
    assert _stored_ids(spark, store) == {0, 1000, 2000, 1003}


def _clip_rows(spark, vid_ids=(), aud_ids=()):
    """Excerpt-family fixtures remapped into one id space: video clip
    table +1000, audio clip table +2000."""
    from pyspark.sql import functions as F

    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_audio_clip_df,
        checked_video_clip_df,
    )

    parts = []
    if vid_ids:
        vid = checked_video_clip_df(spark).withColumn(
            "media_id", F.col("media_id") + 1000
        )
        parts.append(vid.filter(vid["media_id"].isin(list(vid_ids))))
    if aud_ids:
        aud = checked_audio_clip_df(spark).withColumn(
            "media_id", F.col("media_id") + 2000
        )
        parts.append(aud.filter(aud["media_id"].isin(list(aud_ids))))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def test_any_media_excerpt_aware_admission(spark, tmp_path):
    """With excerpt_tau set, the unified gate rejects a video SUBCLIP
    and an audio EXCERPT of stored items — the class the whole-item
    hashes are structurally blind to (the plain gate admits both) —
    while unrelated content is admitted, and the policy is
    DIRECTIONAL: a new host containing a stored clip is admitted."""
    from hridaya_steam_market_tracker_spark.streaming.media_ingest import (
        ingest_any_media_batch,
    )

    # blindness control: the plain gate admits the subclip + excerpt
    plain = str(tmp_path / "plain")
    ingest_any_media_batch(_clip_rows(spark, [1000], [2000]), plain)
    ingest_any_media_batch(_clip_rows(spark, [1001], [2001]), plain)
    assert _stored_ids(spark, plain) == {1000, 2000, 1001, 2001}

    # excerpt-aware: both rejected; unrelated base-1 host admitted
    store = str(tmp_path / "store")
    ingest_any_media_batch(
        _clip_rows(spark, [1000], [2000]), store, excerpt_tau=0.8
    )
    ingest_any_media_batch(
        _clip_rows(spark, [1001, 1002], [2001]), store, excerpt_tau=0.8
    )
    assert _stored_ids(spark, store) == {1000, 2000, 1002}
    wfps_planes = {
        r["plane"]
        for r in spark.read.parquet(store + "/wfps").collect()
    }
    assert wfps_planes == {"video", "audio"}

    # directionality: store a subclip first, then ingest its host
    store2 = str(tmp_path / "store2")
    ingest_any_media_batch(_clip_rows(spark, [1003]), store2, excerpt_tau=0.8)
    ingest_any_media_batch(_clip_rows(spark, [1002]), store2, excerpt_tau=0.8)
    assert _stored_ids(spark, store2) == {1003, 1002}


def test_any_media_excerpt_index_repair_replay_compaction(spark, tmp_path):
    """The wfps/ index heals like the band index (a crash-lost index is
    rebuilt on the next batch and the excerpt is still rejected),
    replay is a no-op, and compaction rewrites all three components
    without changing admissions."""
    import shutil

    from hridaya_steam_market_tracker_spark.streaming.media_ingest import (
        compact_any_media_store,
        ingest_any_media_batch,
        repair_media_wfps_index,
    )

    store = str(tmp_path / "store")
    wave1 = _clip_rows(spark, [1000], [2000])
    ingest_any_media_batch(wave1, store, excerpt_tau=0.8)
    shutil.rmtree(store + "/wfps")  # crash state: docs written, wfps not

    ingest_any_media_batch(_clip_rows(spark, [1001]), store, excerpt_tau=0.8)
    assert _stored_ids(spark, store) == {1000, 2000}  # rejected post-repair
    assert repair_media_wfps_index(spark, store) == 0  # healthy no-op

    ingest_any_media_batch(wave1, store, excerpt_tau=0.8)  # replay no-op
    assert spark.read.parquet(store + "/docs").count() == 2

    out = compact_any_media_store(spark, store)
    assert out["docs"] == 2 and "wfps" in out
    ingest_any_media_batch(_clip_rows(spark, [2001]), store, excerpt_tau=0.8)
    assert _stored_ids(spark, store) == {1000, 2000}  # still rejected


def test_media_excerpt_rejects_df_cap_matches_batch_twin(spark):
    """media_excerpt_rejects applies the SAME document-frequency
    cutoff as its oracled batch twin winnow_containment_pairs:
    boilerplate fingerprints (runs of silent windows / black frames
    shared across > max_df items) stay in the denominator but cannot
    EVIDENCE containment, so common-content items are not falsely
    rejected at the streaming gate."""
    from hridaya_steam_market_tracker_spark.streaming.media_ingest import (
        media_excerpt_rejects,
    )

    boiler = 1  # fp carried by 60 stored items (df=61 with the batch)
    stored = spark.createDataFrame(
        [(i, "audio", boiler) for i in range(60)]
        + [(999, "audio", fp) for fp in (2, 3, 4)],
        "media_id long, plane string, fp long",
    )
    batch = spark.createDataFrame(
        [(5000, "audio", fp) for fp in (boiler, 2, 3, 4, 5)],
        "media_id long, plane string, fp long",
    )

    # Uncapped (max_df high): 4/5 fps stored -> rejected at tau=0.8.
    hit = media_excerpt_rejects(stored, batch, 0.8, max_df=1000).collect()
    assert {r["media_id"] for r in hit} == {5000}

    # Default cap 50 (= winnow_containment_pairs): the boilerplate fp
    # is pruned from evidence but kept in the denominator -> 3/5 < 0.8.
    assert media_excerpt_rejects(stored, batch, 0.8).collect() == []


def test_any_media_crop_aware_admission(spark, tmp_path):
    """With excerpt_tau set, the unified gate rejects a tile-aligned
    CROP of a stored image — measured host-vs-crop dHash Hamming is
    32-40 of 64, so the plain band gate is structurally blind to it
    (blindness control below) — closing the embedded-duplicate family
    for the image plane. Directional: a new HOST containing a stored
    crop is admitted. The camera-ROTATED crop (real eXIf) is rejected
    too: the tile plane inherits the rotate-before-hash rule."""
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_image_crop_df,
    )
    from hridaya_steam_market_tracker_spark.streaming.media_ingest import (
        ingest_any_media_batch,
    )

    rows = checked_image_crop_df(spark)

    def pick(*ids):
        return rows.filter(rows["media_id"].isin(list(ids)))

    # blindness control: the plain gate admits the crop
    plain = str(tmp_path / "plain")
    ingest_any_media_batch(pick(0), plain)
    ingest_any_media_batch(pick(1), plain)
    assert _stored_ids(spark, plain) == {0, 1}

    # crop-aware: upright crop AND rotated crop rejected; unrelated
    # host (base 1) admitted; undecodable honesty row admitted
    # docs-only with a NULL presence wfps row
    store = str(tmp_path / "store")
    ingest_any_media_batch(pick(0), store, excerpt_tau=0.8)
    ingest_any_media_batch(pick(1, 9, 2, 8), store, excerpt_tau=0.8)
    assert _stored_ids(spark, store) == {0, 2, 8}
    wfps = spark.read.parquet(store + "/wfps").collect()
    assert {r["plane"] for r in wfps} == {"image"}
    assert {r["media_id"] for r in wfps if r["fp"] is None} == {8}

    # directionality: store the crop first, then ingest its host —
    # most of the host's tiles are new, so it is admitted
    store2 = str(tmp_path / "store2")
    ingest_any_media_batch(pick(1), store2, excerpt_tau=0.8)
    ingest_any_media_batch(pick(0), store2, excerpt_tau=0.8)
    assert _stored_ids(spark, store2) == {1, 0}


def test_any_media_crop_plane_upgrade_via_repair(spark, tmp_path):
    """A store whose image rows were ingested BEFORE the crop plane
    (no image wfps rows — simulated by deleting wfps/) heals on the
    next excerpt-aware batch: repair re-fingerprints the stored image
    once, and its crop is still rejected."""
    import shutil

    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_image_crop_df,
    )
    from hridaya_steam_market_tracker_spark.streaming.media_ingest import (
        ingest_any_media_batch,
        repair_media_wfps_index,
    )

    rows = checked_image_crop_df(spark)
    store = str(tmp_path / "store")
    ingest_any_media_batch(
        rows.filter(rows["media_id"] == 0), store, excerpt_tau=0.8
    )
    shutil.rmtree(store + "/wfps")  # pre-crop-plane / crash state

    ingest_any_media_batch(
        rows.filter(rows["media_id"] == 1), store, excerpt_tau=0.8
    )
    assert _stored_ids(spark, store) == {0}  # crop rejected post-repair
    assert repair_media_wfps_index(spark, store) == 0  # healthy no-op


def test_any_media_gate_mode_lifetime_contract(spark, tmp_path):
    """excerpt_tau is a store-LIFETIME setting, now enforced by the
    _GATE_MODE marker: mixed-mode ingest refuses loudly (a plain batch
    into an excerpt store silently stops rejecting excerpts and lets
    wfps/ go stale; the reverse quietly pays a full-store
    re-fingerprint), marker-less pre-round-10 stores are inferred once
    from wfps/ existence, and set_gate_mode is the
    deliberate switch after which repair upgrades the store."""
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_image_crop_df,
    )
    from hridaya_steam_market_tracker_spark.streaming.media_ingest import (
        ingest_any_media_batch,
    )

    rows = checked_image_crop_df(spark)

    def pick(*ids):
        return rows.filter(rows["media_id"].isin(list(ids)))

    # excerpt store refuses a plain batch
    store = str(tmp_path / "store")
    ingest_any_media_batch(pick(0), store, excerpt_tau=0.8)
    with pytest.raises(ValueError, match="mixed-mode"):
        ingest_any_media_batch(pick(2), store)
    assert _stored_ids(spark, store) == {0}  # refused before any write

    # plain store refuses an excerpt batch; the deliberate switch +
    # repair-driven upgrade then rejects the stored image's crop
    plain = str(tmp_path / "plain")
    ingest_any_media_batch(pick(0), plain)
    with pytest.raises(ValueError, match="set_gate_mode"):
        ingest_any_media_batch(pick(1), plain, excerpt_tau=0.8)
    set_gate_mode(plain, media_gate_mode(excerpt=True))
    ingest_any_media_batch(pick(1), plain, excerpt_tau=0.8)
    assert _stored_ids(spark, plain) == {0}  # crop rejected post-upgrade

    # grandfathering: a marker-less store infers its mode from wfps/
    os.remove(os.path.join(store, "_GATE_MODE"))
    with pytest.raises(ValueError, match="mixed-mode"):
        ingest_any_media_batch(pick(2), store)  # inferred excerpt
    ingest_any_media_batch(pick(2), store, excerpt_tau=0.8)
    assert _stored_ids(spark, store) == {0, 2}
    with open(os.path.join(store, "_GATE_MODE")) as f:
        assert f.read() == "excerpt"  # inference recorded once


def test_any_media_phase_aware_admission(spark, tmp_path):
    """excerpt_phases=2 closes the ALIGNMENT blind spot (round 11):
    an image crop at offset (20, 12) — a tile/2 lattice point, not a
    tile boundary — and an audio excerpt cut at 8.5 windows are both
    ADMITTED by the single-grid excerpt gate (the blindness the
    round-10 verdict named as the largest remaining duplicate class)
    and REJECTED by the phases=2 gate through the identical join
    shapes. Directionality still holds at phases=2."""
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_audio_offset_clip_df,
        checked_image_offset_crop_df,
    )
    from hridaya_steam_market_tracker_spark.streaming.media_ingest import (
        ingest_any_media_batch,
    )

    for name, rows in (
        ("img", checked_image_offset_crop_df(spark)),
        ("aud", checked_audio_offset_clip_df(spark)),
    ):
        def pick(*ids):
            return rows.filter(rows["media_id"].isin(list(ids)))

        # blindness control: the single-grid excerpt gate admits the
        # offset crop/excerpt (id 1 = the planted non-aligned copy)
        blind = str(tmp_path / f"{name}_blind")
        ingest_any_media_batch(pick(0), blind, excerpt_tau=0.8)
        ingest_any_media_batch(pick(1), blind, excerpt_tau=0.8)
        assert _stored_ids(spark, blind) == {0, 1}

        # phases=2: rejected; unrelated base (id 2) admitted;
        # undecodable honesty row (id 8) admitted docs-only
        store = str(tmp_path / f"{name}_ph2")
        ingest_any_media_batch(
            pick(0), store, excerpt_tau=0.8, excerpt_phases=2
        )
        ingest_any_media_batch(
            pick(1, 2, 8), store, excerpt_tau=0.8, excerpt_phases=2
        )
        assert _stored_ids(spark, store) == {0, 2, 8}

        # directionality: crop/excerpt first, host still admitted
        store2 = str(tmp_path / f"{name}_dir")
        ingest_any_media_batch(
            pick(1), store2, excerpt_tau=0.8, excerpt_phases=2
        )
        ingest_any_media_batch(
            pick(0), store2, excerpt_tau=0.8, excerpt_phases=2
        )
        assert _stored_ids(spark, store2) == {1, 0}


def test_any_media_phase_mode_lifetime_and_switch(spark, tmp_path):
    """excerpt_phases is part of the _GATE_MODE lifetime contract: a
    phases=2 store refuses a phases=1 batch (and vice versa) because
    a mixed-phase wfps/ silently re-opens the alignment blind spot
    for whichever items were indexed at the lower phase count. The
    deliberate switch (set_gate_mode with the new phases' mode)
    DROPS wfps/ and the next batch's repair rebuilds it at the new
    phase count — after which the offset crop of an item stored
    BEFORE the switch is rejected too."""
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_image_offset_crop_df,
    )
    from hridaya_steam_market_tracker_spark.streaming.media_ingest import (
        ingest_any_media_batch,
    )

    rows = checked_image_offset_crop_df(spark)

    def pick(*ids):
        return rows.filter(rows["media_id"].isin(list(ids)))

    store = str(tmp_path / "store")
    ingest_any_media_batch(pick(0), store, excerpt_tau=0.8, excerpt_phases=2)
    with pytest.raises(ValueError, match="mixed-mode"):
        ingest_any_media_batch(pick(2), store, excerpt_tau=0.8)
    with open(os.path.join(store, "_GATE_MODE")) as f:
        assert f.read() == "excerpt:phases=2"

    # a phases=1 store upgraded to phases=2: the marker switch drops
    # wfps/, repair re-fingerprints the stored host at phases=2, and
    # its offset crop — admitted-class under the old index — rejects
    old = str(tmp_path / "old")
    ingest_any_media_batch(pick(0), old, excerpt_tau=0.8)
    with pytest.raises(ValueError, match="mixed-mode"):
        ingest_any_media_batch(
            pick(1), old, excerpt_tau=0.8, excerpt_phases=2
        )
    set_gate_mode(old, media_gate_mode(excerpt=True, phases=2))
    assert not os.path.isdir(os.path.join(old, "wfps"))  # dropped
    ingest_any_media_batch(pick(1), old, excerpt_tau=0.8, excerpt_phases=2)
    assert _stored_ids(spark, old) == {0}  # rebuilt index catches it


def test_phased_audio_decode_preserves_base_consumers(spark):
    """A phases=2 `decode_audio_windows` relation must be a strict
    SUPERSET view for the base-grid consumers: the whole-clip Goertzel
    signature and the energy segmentation pin themselves to phase 0
    and come out bit-identical to the unphased path, while the token
    plane gains one extra document per decodable clip (the offset-64
    grid) and keeps every base document byte-for-byte."""
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        audio_energy_segments,
        audio_goertzel_fingerprint,
        audio_window_token_text,
        checked_audio_clip_df,
        decode_audio_windows,
    )

    aud = checked_audio_clip_df(spark)
    w1 = decode_audio_windows(aud).localCheckpoint(eager=True)
    w2 = decode_audio_windows(aud, phases=2).localCheckpoint(eager=True)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(audio_goertzel_fingerprint(aud, windows=w1)) == rows(
        audio_goertzel_fingerprint(aud, windows=w2)
    )
    assert rows(audio_energy_segments(aud, windows=w1)) == rows(
        audio_energy_segments(aud, windows=w2)
    )
    t1 = rows(audio_window_token_text(aud, windows=w1))
    t2 = rows(audio_window_token_text(aud, windows=w2))
    assert set(t1) <= set(t2)
    per_clip1 = {}
    per_clip2 = {}
    for mid, _ in t1:
        per_clip1[mid] = per_clip1.get(mid, 0) + 1
    for mid, _ in t2:
        per_clip2[mid] = per_clip2.get(mid, 0) + 1
    assert set(per_clip1) == set(per_clip2)
    assert all(per_clip2[m] == per_clip1[m] + 1 for m in per_clip1)


def test_media_signatures_plane_disjointness(spark, monkeypatch):
    """Plane disjointness is structural: each plane operator receives
    ONLY its media_type's rows, so even an operator whose internal
    filter overlapped another plane (simulated: an audio operator that
    signs every row it is handed) cannot double-sign a media_id into
    two planes."""
    from pyspark.sql import functions as F

    from hridaya_steam_market_tracker_spark.operators import multimodal as mm
    from hridaya_steam_market_tracker_spark.streaming.media_ingest import (
        media_signatures,
    )

    def greedy_audio_sig(df):
        # Deliberately ignores media_type: signs EVERYTHING it receives.
        return df.select(
            "media_id",
            F.lit(7).alias("hash_hi"),
            F.lit(7).alias("hash_lo"),
            F.lit(True).alias("decode_ok"),
        )

    monkeypatch.setattr(mm, "audio_goertzel_fingerprint", greedy_audio_sig)
    batch = _mixed_rows(spark, img_ids=[0], vid_ids=[1000], aud_ids=[2000])
    sigs = media_signatures(batch).collect()
    planes = {}
    for r in sigs:
        planes.setdefault(r["media_id"], []).append(r["plane"])
    assert all(len(v) == 1 for v in planes.values()), planes
    assert planes[2000] == ["audio"] and planes[0] == ["image"]


def test_any_media_excerpt_streaming_e2e(spark, tmp_path):
    """The excerpt-aware gate through the REAL Structured Streaming
    path (start_dedup_any_media_ingest(excerpt_tau=...) -> foreachBatch
    with inline compaction): wave 1 stores a video host, an audio host
    and an image host; wave 2's subclip / excerpt / crop are all
    rejected against the COMPACTED three-component store while new
    content is admitted, and the _GATE_MODE marker written by the
    streaming path refuses a later plain batch."""
    from pyspark.sql import functions as F

    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_image_crop_df,
    )
    from hridaya_steam_market_tracker_spark.streaming.media_ingest import (
        ingest_any_media_batch,
        start_dedup_any_media_ingest,
    )

    src_dir = str(tmp_path / "incoming")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src_dir)

    img = checked_image_crop_df(spark).withColumn(
        "media_id", F.col("media_id") + 3000
    )

    def wave(vid_ids, aud_ids, img_ids):
        out = _clip_rows(spark, vid_ids, aud_ids).unionByName(
            img.filter(img["media_id"].isin(list(img_ids)))
        )
        out.write.parquet(src_dir, mode="append")

    def drain():
        stream = spark.readStream.schema(MEDIA_SCHEMA).parquet(src_dir)
        q = start_dedup_any_media_ingest(
            stream, store, ckpt, auto_compact_files=0,
            auto_compact_target_files=1, excerpt_tau=0.8,
        )
        try:
            q.awaitTermination(180)
        finally:
            q.stop()

    wave([1000], [2000], [3000])  # hosts
    drain()
    assert _stored_ids(spark, store) == {1000, 2000, 3000}

    # wave 2: subclip of 1000, excerpt of 2000, crop of 3000 (all
    # rejected vs the compacted store) + an unrelated video host
    wave([1001, 1002], [2001], [3001])
    drain()
    assert _stored_ids(spark, store) == {1000, 2000, 3000, 1002}

    # the marker the STREAMING path wrote enforces the lifetime contract
    with pytest.raises(ValueError, match="mixed-mode"):
        ingest_any_media_batch(
            img.filter(img["media_id"] == 3002), store
        )


def test_shared_decode_relations_match_default_paths(spark):
    """The excerpt-aware gate's one-decode-per-plane relations
    (`decode_audio_windows`, `decode_image_signature_tiles`, shared
    `decode_mp4_frames`) must reproduce every default single-op
    output BIT-FOR-BIT — signature, tokens and tile fingerprints —
    across the edge cases: undecodable payloads, an audio clip
    shorter than one window, an image that tiles but is smaller than
    the dHash grid, and a camera-rotated image."""
    import io
    import wave as wave_mod

    from pyspark.sql import functions as F

    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        audio_goertzel_fingerprint,
        audio_window_token_text,
        checked_audio_clip_df,
        checked_image_crop_df,
        checked_video_clip_df,
        decode_audio_windows,
        decode_image_signature_tiles,
        decode_mp4_frames,
        image_dhash_oriented,
        image_tile_fingerprints,
        image_tile_tokens,
        video_frame_token_text,
        video_temporal_dhash,
    )

    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(b"\x01\x00" * 50)  # < one 128-sample window
    _, encode = _pixel_codec()
    extra = spark.createDataFrame(
        [
            (9901, "audio", "wav", bytearray(buf.getvalue()),
             None, None, None),
            # tiles fine (8x8), smaller than the 9x8 dHash grid
            (9902, "image", "bmp",
             bytearray(encode(8, 8, bytes(range(64)) * 3, "bmp")),
             8, 8, None),
        ],
        MEDIA_SCHEMA,
    )
    media = (
        checked_video_clip_df(spark)
        .withColumn("media_id", F.col("media_id") + 1000)
        .unionByName(
            checked_audio_clip_df(spark).withColumn(
                "media_id", F.col("media_id") + 2000
            )
        )
        .unionByName(
            checked_image_crop_df(spark).withColumn(
                "media_id", F.col("media_id") + 3000
            )
        )
        .unionByName(extra)
    )
    frames = decode_mp4_frames(media)
    windows = decode_audio_windows(media)
    decoded = decode_image_signature_tiles(media)
    pairs = [
        (video_temporal_dhash(media),
         video_temporal_dhash(media, frames=frames)),
        (video_frame_token_text(media),
         video_frame_token_text(media, frames=frames)),
        (audio_goertzel_fingerprint(media),
         audio_goertzel_fingerprint(media, windows=windows)),
        (audio_window_token_text(media),
         audio_window_token_text(media, windows=windows)),
        (image_dhash_oriented(media),
         image_dhash_oriented(media, decoded=decoded)),
        (image_tile_tokens(media),
         image_tile_tokens(media, decoded=decoded)),
        (image_tile_fingerprints(media),
         image_tile_fingerprints(media, decoded=decoded)),
    ]
    for default, fused in pairs:
        key = lambda t: tuple(str(x) for x in t)
        d = sorted((tuple(r) for r in default.collect()), key=key)
        f = sorted((tuple(r) for r in fused.collect()), key=key)
        assert d == f, f"fused path diverged: {default.columns}"


def test_any_media_cdt_gate_closes_arbitrary_offset_crop(spark, tmp_path):
    """excerpt_image_plane='cdt' (round 12) closes the LAST admitted
    duplicate class: an image crop at offset (13, 7) — off EVERY
    tile/phases lattice — is ADMITTED by the phases=2 grid gate (the
    round-11 residual blindness) and REJECTED by the content-defined
    plane through the identical join shapes, the camera-rotated copy
    of the same crop included. Directionality, undecodable honesty,
    the _GATE_MODE lifetime contract and the switch-drops-wfps rule
    all hold for the new plane."""
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_image_cdt_crop_df,
    )
    from hridaya_steam_market_tracker_spark.streaming.media_ingest import (
        ingest_any_media_batch,
    )

    rows = checked_image_cdt_crop_df(spark)

    def pick(*ids):
        return rows.filter(rows["media_id"].isin(list(ids)))

    # blindness control: even the phases=2 grid gate admits (13, 7)
    blind = str(tmp_path / "blind")
    ingest_any_media_batch(pick(0), blind, excerpt_tau=0.8,
                           excerpt_phases=2)
    ingest_any_media_batch(pick(1), blind, excerpt_tau=0.8,
                           excerpt_phases=2)
    assert _stored_ids(spark, blind) == {0, 1}

    # cdt: crop AND its camera-rotated copy rejected; unrelated base
    # admitted; undecodable honesty row admitted docs-only
    store = str(tmp_path / "cdt")
    ingest_any_media_batch(pick(0), store, excerpt_tau=0.8,
                           excerpt_image_plane="cdt")
    ingest_any_media_batch(pick(1, 2, 8, 9), store, excerpt_tau=0.8,
                           excerpt_image_plane="cdt")
    assert _stored_ids(spark, store) == {0, 2, 8}
    with open(os.path.join(store, "_GATE_MODE")) as f:
        assert f.read() == "excerpt:image=cdt"

    # lifetime contract: a cdt store refuses a grid batch
    with pytest.raises(ValueError, match="mixed-mode"):
        ingest_any_media_batch(pick(4), store, excerpt_tau=0.8)

    # directionality: crop first, host still admitted
    store2 = str(tmp_path / "dir")
    ingest_any_media_batch(pick(1), store2, excerpt_tau=0.8,
                           excerpt_image_plane="cdt")
    ingest_any_media_batch(pick(0), store2, excerpt_tau=0.8,
                           excerpt_image_plane="cdt")
    assert _stored_ids(spark, store2) == {1, 0}

    # plane switch drops wfps/ and the rebuild catches the crop of a
    # host stored under the OLD (grid) plane
    old = str(tmp_path / "old")
    ingest_any_media_batch(pick(0), old, excerpt_tau=0.8)
    set_gate_mode(old, media_gate_mode(excerpt=True, image_plane="cdt"))
    assert not os.path.isdir(os.path.join(old, "wfps"))
    ingest_any_media_batch(pick(1), old, excerpt_tau=0.8,
                           excerpt_image_plane="cdt")
    assert _stored_ids(spark, old) == {0}


def test_any_media_cdt_gate_closes_arbitrary_offset_audio_excerpt(
    spark, tmp_path
):
    """excerpt_audio_plane='cdt' (round 12), the 1-D twin of the image
    CDT gate: an audio excerpt cut at sample 1037 — off every
    window/phases lattice — is ADMITTED by the phases=2 window gate
    and REJECTED by the content-defined sample anchors through the
    identical join shapes. Directionality, undecodable honesty and
    the _GATE_MODE lifetime contract hold; image grid + audio cdt
    compose in one mode string."""
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        checked_audio_cdt_excerpt_df,
    )
    from hridaya_steam_market_tracker_spark.streaming.media_ingest import (
        ingest_any_media_batch,
    )

    rows = checked_audio_cdt_excerpt_df(spark)

    def pick(*ids):
        return rows.filter(rows["media_id"].isin(list(ids)))

    # blindness control: the phases=2 window gate admits offset 1037
    blind = str(tmp_path / "blind")
    ingest_any_media_batch(pick(0), blind, excerpt_tau=0.8,
                           excerpt_phases=2)
    ingest_any_media_batch(pick(1), blind, excerpt_tau=0.8,
                           excerpt_phases=2)
    assert _stored_ids(spark, blind) == {0, 1}

    # cdt: excerpt rejected; unrelated base admitted; undecodable
    # honesty row admitted docs-only
    store = str(tmp_path / "cdt")
    ingest_any_media_batch(pick(0), store, excerpt_tau=0.8,
                           excerpt_audio_plane="cdt")
    ingest_any_media_batch(pick(1, 2, 8), store, excerpt_tau=0.8,
                           excerpt_audio_plane="cdt")
    assert _stored_ids(spark, store) == {0, 2, 8}
    with open(os.path.join(store, "_GATE_MODE")) as f:
        assert f.read() == "excerpt:audio=cdt"

    # lifetime contract: the cdt store refuses a window-plane batch
    with pytest.raises(ValueError, match="mixed-mode"):
        ingest_any_media_batch(pick(4), store, excerpt_tau=0.8)

    # directionality: excerpt first, host still admitted
    store2 = str(tmp_path / "dir")
    ingest_any_media_batch(pick(1), store2, excerpt_tau=0.8,
                           excerpt_audio_plane="cdt")
    ingest_any_media_batch(pick(0), store2, excerpt_tau=0.8,
                           excerpt_audio_plane="cdt")
    assert _stored_ids(spark, store2) == {1, 0}

def test_any_media_hybrid_gate_low_entropy_fallback(spark, tmp_path):
    """excerpt_image_plane/audio_plane='hybrid' (round 13) closes the
    round-12 honest finding at the FULL gate: LOW-ENTROPY content
    collapses the CDT anchor set, so pure cdt mode admits even
    lattice-ALIGNED crops/excerpts of such items when the dHash
    signature plane is blind too. The planted image pair makes all
    three planes' roles explicit: a two-region host (descending ramp
    top half, ascending bottom) and its tile-aligned bottom-half crop
    sit at dHash Hamming 32 (band gate blind — same-direction ramps
    collide at 0, which is why the plain gradient fixture's crop is
    caught by dHash instead), have 6 and 0 distinct anchors (cdt
    excerpt tier blind), and share all 4 of the crop's grid fps
    (hybrid fallback catches). The audio silence pair is blind-gate
    admitted under cdt and rejected under hybrid the same way. The
    checked hybrid fixtures flow through the full gate with the
    oracled twin's exact decisions; _GATE_MODE covers the new mode
    string; directionality holds."""
    from pyspark.sql import functions as F

    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        _pixel_codec,
        checked_audio_hybrid_df,
        checked_image_hybrid_df,
    )
    from hridaya_steam_market_tracker_spark.streaming.media_ingest import (
        ingest_any_media_batch,
    )

    _, encode = _pixel_codec()

    def png_of(vals, ww, hh):
        rgb = bytes(p for row in vals for p in row for _ in range(3))
        return bytearray(encode(ww, hh, rgb, "png"))

    host = [[(255 - x) if y < 24 else x for x in range(64)]
            for y in range(48)]
    crop = [[x + 16 for x in range(32)] for y in range(24)]
    two_region = spark.createDataFrame(
        [(3100, "image", "png", png_of(host, 64, 48), None, None, None),
         (3101, "image", "png", png_of(crop, 32, 24), None, None, None)],
        MEDIA_SCHEMA,
    )
    aud = checked_audio_hybrid_df(spark).withColumn(
        "media_id", F.col("media_id") + 2000
    )
    img = checked_image_hybrid_df(spark).withColumn(
        "media_id", F.col("media_id") + 3000
    )
    mixed = aud.unionByName(img).unionByName(two_region)

    def pick(*ids):
        return mixed.filter(mixed["media_id"].isin(list(ids)))

    # blindness control at the FULL gate: under pure cdt mode the
    # two-region ALIGNED crop and the silence ALIGNED excerpt are both
    # ADMITTED (band plane blind by Hamming, cdt excerpt plane blind
    # by anchor collapse)
    blind = str(tmp_path / "blind")
    ingest_any_media_batch(pick(2002, 3100), blind, excerpt_tau=0.8,
                           excerpt_image_plane="cdt",
                           excerpt_audio_plane="cdt")
    ingest_any_media_batch(pick(2003, 3101), blind, excerpt_tau=0.8,
                           excerpt_image_plane="cdt",
                           excerpt_audio_plane="cdt")
    assert _stored_ids(spark, blind) == {2002, 3100, 2003, 3101}

    # hybrid: both rejected through the per-item fallback planes
    store = str(tmp_path / "hybrid")
    ingest_any_media_batch(pick(2002, 3100), store, excerpt_tau=0.8,
                           excerpt_image_plane="hybrid",
                           excerpt_audio_plane="hybrid")
    ingest_any_media_batch(pick(2003, 3101), store, excerpt_tau=0.8,
                           excerpt_image_plane="hybrid",
                           excerpt_audio_plane="hybrid")
    assert _stored_ids(spark, store) == {2002, 3100}
    with open(os.path.join(store, "_GATE_MODE")) as f:
        assert f.read() == "excerpt:image=hybrid:audio=hybrid"

    # lifetime contract: the hybrid store refuses a cdt batch
    with pytest.raises(ValueError, match="mixed-mode"):
        ingest_any_media_batch(pick(3006), store, excerpt_tau=0.8,
                               excerpt_image_plane="cdt",
                               excerpt_audio_plane="cdt")

    # the checked fixtures through the full hybrid gate: content
    # crop/excerpt keep their any-offset CDT rejections; blobs and
    # unrelated hosts admit. The gradient OFF-lattice crop 3004 — the
    # excerpt-TIER residual the oracled twin pins as admitted — is
    # band-rejected at the full gate (every monotone-ascending ramp
    # dHashes to all-zero bits, so it sits at Hamming 0 from its
    # host): the layered gate's signature plane covering exactly the
    # wholesale low-entropy re-upload class the hybrid docstring
    # promises it to.
    full = str(tmp_path / "full")
    ingest_any_media_batch(pick(2000, 3000, 3002), full,
                           excerpt_tau=0.8,
                           excerpt_image_plane="hybrid",
                           excerpt_audio_plane="hybrid")
    ingest_any_media_batch(pick(2001, 2005, 3001, 3004, 3005, 3006),
                           full, excerpt_tau=0.8,
                           excerpt_image_plane="hybrid",
                           excerpt_audio_plane="hybrid")
    assert _stored_ids(spark, full) == {
        2000, 3000, 3002, 2005, 3005, 3006,
    }

    # directionality: low-entropy crop stored first, host admitted
    # (most of the host's grid fps are new)
    store2 = str(tmp_path / "dir")
    ingest_any_media_batch(pick(3101), store2, excerpt_tau=0.8,
                           excerpt_image_plane="hybrid",
                           excerpt_audio_plane="hybrid")
    ingest_any_media_batch(pick(3100), store2, excerpt_tau=0.8,
                           excerpt_image_plane="hybrid",
                           excerpt_audio_plane="hybrid")
    assert _stored_ids(spark, store2) == {3101, 3100}

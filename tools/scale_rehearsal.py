"""Reproduce the PLANS.md SCALE section: generate an N-times-scaled
copy of the documents/embeddings fixtures (replica-disjoint
vocabularies — see below), time the heavy-tier queries on it, and
print one JSON line per query plus a summary line.

Usage:
    python tools/scale_rehearsal.py [--rep 10] [--sf-dir /root/testdata/sf0.1] \
        [--out /tmp/scale_sf1] [--queries name1,name2,...]

Scaling design: replica r > 0 suffixes EVERY token with ``_r<r>`` and
shifts ids by r * 10_000_000, so replicas share no vocabulary and no
ids. Similarity structure (dup pairs, clusters, candidate volume) is
therefore the base corpus's replicated N times — output and work scale
linearly, with none of the pathological N-clone clusters naive
duplication would create. Embeddings get a small per-replica component
shift for the same reason. Other tables are symlinked unscaled.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hridaya_steam_market_tracker_spark.queries import load_all  # noqa: E402
from hridaya_steam_market_tracker_spark.session import get_spark  # noqa: E402

DEFAULT_QUERIES = [
    "dedup_minhash_lsh",
    "ann_lsh_multiprobe_topk",
    "tfidf_cosine_pairs",
    "ccnet_perplexity_buckets",
    "dsir_importance_weights",
    "dedup_incremental_delta",
    # round-6 text heavies
    "duplicate_span_stats",
    "duplicate_span_pairs",
    "containment_pairs",
]


def generate(spark, src: str, dst: str, rep: int) -> None:
    os.makedirs(dst, exist_ok=True)
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events"):
        link = os.path.join(dst, f"{t}.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.join(src, f"{t}.parquet"), link)

    reps = spark.range(rep).withColumnRenamed("id", "rep")
    docs = spark.read.parquet(os.path.join(src, "documents.parquet"))
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    suffixed = F.array_join(
        F.transform(toks, lambda w: F.concat(w, F.lit("_r"), F.col("rep").cast("string"))),
        " ",
    )
    text = F.when(F.col("rep") == 0, F.col("text")).otherwise(suffixed)
    (
        docs.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("rep") * F.lit(10_000_000)).alias("doc_id"),
            text.alias("text"),
            "lang",
            "source",
            F.length(text).cast("long").alias("n_chars"),
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(dst, "documents.parquet"))
    )
    emb = spark.read.parquet(os.path.join(src, "embeddings.parquet"))
    (
        emb.crossJoin(reps)
        .select(
            (F.col("vec_id") + F.col("rep") * F.lit(10_000_000)).alias("vec_id"),
            F.when(F.col("rep") == 0, F.col("embedding"))
            .otherwise(
                F.transform(
                    "embedding", lambda x: x + F.col("rep").cast("float") * F.lit(0.003)
                )
            )
            .alias("embedding"),
            "label",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(dst, "embeddings.parquet"))
    )


class _PeakRss:
    """Background sampler for the Arrow/pandas worker tier: every 200 ms
    sum VmRSS over all `pyspark.daemon` python workers (the processes
    whose memory profile the codec tier's mapInPandas actually stresses)
    and keep the peak total + peak single worker. Linux /proc only —
    degrades to zeros elsewhere."""

    def __init__(self) -> None:
        import threading

        self.peak_total_mb = 0.0
        self.peak_worker_mb = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        total = 0.0
        worst = 0.0
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    if b"pyspark.daemon" not in f.read():
                        continue
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            mb = int(line.split()[1]) / 1024.0
                            total += mb
                            worst = max(worst, mb)
                            break
            except OSError:
                continue
        self.peak_total_mb = max(self.peak_total_mb, total)
        self.peak_worker_mb = max(self.peak_worker_mb, worst)

    def _run(self) -> None:
        while not self._stop.wait(0.2):
            self._sample()

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=2)
        return False


def media_rehearsal(spark, rep: int, passes: int) -> None:
    """Scale the codec tier: N-times-replicated synthetic media corpora
    (each replica re-seeded, so payload bytes differ) through the
    mapInPandas decode/index operators, recording wall time, rows/s,
    rows/s/core and the Python-worker peak RSS — the one tier whose
    memory profile the sf1 text rehearsal did not cover."""
    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        audio_goertzel_fingerprint,
        checked_audio_fp_df,
        checked_avc1_df,
        checked_goertzel_df,
        checked_hevc_df,
        checked_mjpeg_df,
        checked_oriented_dhash_df,
        decode_mp4_frames,
        extract_audio_goertzel,
        extract_avc1_nal_index,
        extract_features,
        extract_hevc_nal_index,
        audio_energy_segments,
        checked_audio_segments_df,
        checked_video_shots_df,
        checked_wht_df,
        fake_media_df,
        image_dhash_oriented,
        image_wht_hash,
        video_shot_segments,
        video_temporal_dhash,
    )

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    jobs = [
        ("decode_media_features", lambda: extract_features(
            fake_media_df(spark, n=64 * rep).repartition(cores))),
        ("decode_mp4_frames", lambda: decode_mp4_frames(
            checked_mjpeg_df(spark, n=12 * rep).repartition(cores))),
        ("avc1_nal_index", lambda: extract_avc1_nal_index(
            checked_avc1_df(spark, n=16 * rep).repartition(cores))),
        ("hevc_nal_index", lambda: extract_hevc_nal_index(
            checked_hevc_df(spark, n=16 * rep).repartition(cores))),
        # round-8 ops: EXIF walk + upright + hash in one pass; Goertzel
        # over decoded PCM — both ride the same mapInPandas posture.
        ("dhash_oriented", lambda: image_dhash_oriented(
            checked_oriented_dhash_df(spark, n=34 * rep).repartition(cores))),
        ("audio_goertzel", lambda: extract_audio_goertzel(
            checked_goertzel_df(spark, n=24 * rep).repartition(cores))),
        # round-9 near-dup signature ops: the video temporal hash rides
        # the same MJPEG demux+decode pass as decode_mp4_frames plus a
        # media_id-keyed window+groupBy; the audio fingerprint is the
        # numpy-vectorized multi-bin Goertzel.
        ("video_temporal_dhash", lambda: video_temporal_dhash(
            checked_mjpeg_df(spark, n=12 * rep).repartition(cores))),
        ("audio_fingerprint", lambda: audio_goertzel_fingerprint(
            checked_audio_fp_df(spark, n_bases=4 * rep).repartition(cores))),
        # round-10 analysis/sampling ops: shot segmentation + keyframe
        # election over the shared frame decode; energy segmentation
        # over the shared window decode; the WHT frequency-domain hash
        # (one Arrow pass, same posture as dhash_oriented).
        ("video_shot_segments", lambda: video_shot_segments(
            checked_video_shots_df(spark, n_bases=4 * rep)
            .repartition(cores))),
        ("audio_energy_segments", lambda: audio_energy_segments(
            checked_audio_segments_df(spark, n_bases=3 * rep)
            .repartition(cores))),
        ("image_wht_hash", lambda: image_wht_hash(
            checked_wht_df(spark, n_bases=3 * rep).repartition(cores))),
    ]
    results = {}
    for name, build in jobs:
        best = None
        rows = 0
        sampler = _PeakRss()
        with sampler:
            for _ in range(passes):
                df = build()
                t0 = time.perf_counter()
                rows = df.count()  # count() forces full decode of every blob row
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
        rec = {
            "tier": "media", "op": name, "rep": rep,
            "best_sec": round(best, 2), "out_rows": rows,
            "rows_per_sec": round(rows / best, 1),
            "rows_per_sec_core": round(rows / best / cores, 2),
            "peak_worker_rss_mb": round(sampler.peak_worker_mb, 1),
            "peak_workers_total_mb": round(sampler.peak_total_mb, 1),
        }
        results[name] = rec
        print(json.dumps(rec))
    print(json.dumps({"metric": "media_rehearsal_total", "rep": rep,
                      "value": round(sum(r["best_sec"] for r in results.values()), 2),
                      "unit": "sec"}))


def boilerplate_rehearsal(
    spark, out_dir: str, rep: int, passes: int, banner_pct: int = 80
) -> None:
    """Measure the df cap + strip stage under the regime they exist for:
    a boilerplate-HEAVY crawl. Injects a shared per-source 8-token
    banner into ``banner_pct``% of the rep-times-scaled corpus, then
    times the span/containment heavies on that corpus twice — WITHOUT
    any strip pass (the df∈[2,8] cap is the only guard against the
    banner grams' quadratic pair space) and WITH `strip_source_prefix`
    in front (the C4/CCNet sanitize-before-screen discipline; reference
    analog: the sanitize-before-store path of
    /root/reference/src/SQLinserts.py:386-402). Records best wall time
    AND output rows per corpus, plus the strip stage's own cost, so
    PLANS.md can state measured numbers for both the guard and the
    cleanup payoff."""
    import shutil

    from hridaya_steam_market_tracker_spark.operators.text import (
        strip_source_prefix,
    )

    registry = load_all()
    base = spark.read.parquet(os.path.join(out_dir, "documents.parquet"))

    # Per-source banner: 8 tokens that exist nowhere in the organic
    # vocabulary, identical across every hit doc OF THE SAME SOURCE —
    # the worst case for positional n-grams (every hit shares the same
    # grams at the same positions) and exactly what prefix detection
    # is specified to recover (>= 20% support; we inject into 80%).
    banner = F.concat_ws(
        " ", *[F.concat(F.lit(f"bnr{k}q"), F.col("source")) for k in range(8)]
    )
    hit = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(100)) < banner_pct
    dirty_text = F.when(
        hit, F.concat(banner, F.lit(" "), F.col("text"))
    ).otherwise(F.col("text"))

    corpora = {}
    for tag in ("banner", "stripped"):
        d = f"{out_dir}_{tag}"
        if os.path.isdir(d):
            shutil.rmtree(d)
        os.makedirs(d)
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events"):
            os.symlink(os.path.join(out_dir, f"{t}.parquet"),
                       os.path.join(d, f"{t}.parquet"))
        os.symlink(os.path.join(out_dir, "embeddings.parquet"),
                   os.path.join(d, "embeddings.parquet"))
        corpora[tag] = d

    dirty = base.select(
        "doc_id",
        dirty_text.alias("text"),
        "lang",
        "source",
        F.length(dirty_text).cast("long").alias("n_chars"),
    )
    dirty.repartition(32).write.mode("overwrite").parquet(
        os.path.join(corpora["banner"], "documents.parquet")
    )

    # The strip stage itself, timed end-to-end (detect + apply + write):
    # this is the number the WITH-strip pipeline pays up front.
    dirty_on_disk = spark.read.parquet(
        os.path.join(corpora["banner"], "documents.parquet")
    )
    t0 = time.perf_counter()
    cleaned = strip_source_prefix(
        dirty_on_disk, max_len=8, min_support=0.2
    ).join(dirty_on_disk.select("doc_id", "lang"), "doc_id")
    (
        cleaned.select(
            "doc_id",
            F.col("text_clean").alias("text"),
            "lang",
            "source",
            F.length("text_clean").cast("long").alias("n_chars"),
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(corpora["stripped"], "documents.parquet"))
    )
    strip_sec = round(time.perf_counter() - t0, 2)
    stripped_n = spark.read.parquet(
        os.path.join(corpora["stripped"], "documents.parquet")
    ).filter(F.col("text").startswith("bnr0q")).count()
    print(json.dumps({
        "tier": "boilerplate", "stage": "strip", "rep": rep,
        "banner_pct": banner_pct, "strip_write_sec": strip_sec,
        "residual_banner_docs": stripped_n,
    }))

    queries = ["duplicate_span_stats", "duplicate_span_pairs",
               "containment_pairs"]
    summary = {}
    for tag, d in corpora.items():
        for name in queries:
            best = None
            rows = 0
            for _ in range(passes):
                spark.catalog.clearCache()
                df = registry[name].fn(spark, d)
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                dt = round(time.perf_counter() - t0, 2)
                best = dt if best is None else min(best, dt)
            rows = registry[name].fn(spark, d).count()
            summary[f"{tag}.{name}"] = {"best_sec": best, "out_rows": rows}
            print(json.dumps({
                "tier": "boilerplate", "corpus": tag, "query": name,
                "rep": rep, "best_sec": best, "out_rows": rows,
            }))
    print(json.dumps({
        "metric": "boilerplate_rehearsal", "rep": rep,
        "banner_pct": banner_pct, "strip_write_sec": strip_sec,
        "queries": summary,
    }))


def streaming_rehearsal(
    spark, out_dir: str, n_batches: int = 20,
    excerpt_tau: float | None = None,
    auto_compact_files: int | None = None,
) -> None:
    """Scale the streaming corpus-ingest path: feed the scaled document
    corpus through `ingest_batch` in n_batches hash-sliced micro-batches
    against one growing store, recording each batch's wall time (the
    per-batch cost curve — its growth rate is the store-maintenance
    signal), then compact_store and time one replayed batch to measure
    the compaction payoff.

    ``excerpt_tau`` additionally runs the gate excerpt-aware and plants
    an EXACT-accounting wave: unique-vocabulary 60-word hosts ride
    batch 0, and at the midpoint batch a 12-word excerpt of each
    stored host (must all be REJECTED — containment 1.0, vocabulary
    shared with nothing else so the df cap cannot dilute it) plus one
    new host CONTAINING a stored host's words (must be ADMITTED — the
    directional control)."""
    import shutil

    from pyspark.sql import functions as F

    from hridaya_steam_market_tracker_spark.streaming.corpus_ingest import (
        compact_store,
        ingest_batch,
    )

    docs = spark.read.parquet(os.path.join(out_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    store = os.path.join(out_dir, "ingest_store")
    if os.path.isdir(store):
        shutil.rmtree(store)

    def count_files(sub: str) -> int:
        n = 0
        for _r, _d, fs in os.walk(os.path.join(store, sub)):
            n += sum(f.endswith(".parquet") for f in fs)
        return n

    n_plants = 8
    if excerpt_tau is not None:
        def host(i: int) -> str:
            return " ".join(f"ph{i}w{k}" for k in range(60))

        hosts = [(2_000_000_000 + i, host(i)) for i in range(n_plants)]
        excerpts = [
            (1_000_000_000 + i,
             " ".join(f"ph{i}w{k}" for k in range(20, 32)))
            for i in range(n_plants)
        ]
        directional = [(3_000_000_000, host(0) + " " + " ".join(
            f"dh0w{k}" for k in range(60)))]
        schema = "doc_id long, text string"
        hosts_df = spark.createDataFrame(hosts, schema)
        probe_df = spark.createDataFrame(excerpts + directional, schema)

    kwargs = {} if excerpt_tau is None else {"excerpt_tau": excerpt_tau}
    if auto_compact_files is not None:
        kwargs["auto_compact_files"] = auto_compact_files
        kwargs["auto_compact_target_files"] = 4
    times = []
    for b in range(n_batches):
        batch = docs.filter(F.pmod(F.hash("doc_id"), F.lit(n_batches)) == b)
        if excerpt_tau is not None and b == 0:
            batch = batch.unionByName(hosts_df)
        if excerpt_tau is not None and b == n_batches // 2:
            batch = batch.unionByName(probe_df)
        t0 = time.perf_counter()
        ingest_batch(batch, store, **kwargs)
        times.append(round(time.perf_counter() - t0, 2))
        print(json.dumps({"tier": "streaming", "batch": b, "sec": times[-1]}))
    accounting = None
    if excerpt_tau is not None:
        stored_ids = {
            r["doc_id"]
            for r in spark.read.parquet(os.path.join(store, "docs"))
            .filter(F.col("doc_id") >= 1_000_000_000)
            .collect()
        }
        accounting = {
            "hosts_admitted": sum(
                1 for i, _ in hosts if i in stored_ids
            ) == n_plants,
            "excerpts_rejected": all(
                i not in stored_ids for i, _ in excerpts
            ),
            "directional_host_admitted": 3_000_000_000 in stored_ids,
        }
        accounting["exact_id_match"] = all(accounting.values())
    files_before = {"docs": count_files("docs"), "bands": count_files("bands")}
    t0 = time.perf_counter()
    compact_store(spark, store, target_files=4)
    compact_sec = round(time.perf_counter() - t0, 2)
    files_after = {"docs": count_files("docs"), "bands": count_files("bands")}
    # replay the last batch (a no-op admission-wise) against the
    # compacted store: isolates the file-count effect on batch cost.
    batch = docs.filter(F.pmod(F.hash("doc_id"), F.lit(n_batches)) == n_batches - 1)
    t0 = time.perf_counter()
    ingest_batch(batch, store, **kwargs)
    replay_sec = round(time.perf_counter() - t0, 2)
    print(json.dumps({
        "metric": "streaming_rehearsal", "batches": n_batches,
        "excerpt_tau": excerpt_tau, "accounting": accounting,
        "batch_sec": times, "first5_avg": round(sum(times[:5]) / 5, 2),
        "last5_avg": round(sum(times[-5:]) / 5, 2),
        "files_before": files_before, "files_after": files_after,
        "compact_sec": compact_sec, "replayed_batch_sec": replay_sec,
    }))


def streaming_any_media_rehearsal(spark, out_dir: str, rep: int,
                                  n_batches: int = 10,
                                  excerpt_tau: float | None = None,
                                  excerpt_phases: int = 1,
                                  image_plane: str = "grid",
                                  audio_plane: str = "window",
                                  auto_compact_files: int | None = None,
                                  ) -> None:
    """Scale the UNIFIED media gate: a rep-scaled MIXED corpus (media_id
    cycles image/video/audio; within each modality every 4th item is
    that plane's twin class — rotated re-upload / brightness re-encode /
    volume doubling) in n_batches hash-sliced micro-batches against one
    growing plane-partitioned store, then compaction and one replayed
    batch. Claims under test: (a) admission cost tracks the band index,
    never stored payload bytes, same as the single-plane gate; (b) the
    three planes share one store without cross-plane interference —
    admissions per modality match the planted twin structure.

    With ``excerpt_tau`` (round 10, the r9 verdict's ask #4) the corpus
    ALSO plants embedded duplicates — video subclips, window-aligned
    audio excerpts, tile-aligned image crops (modality index
    k % 4 == 1) — and the run asserts EXACT id-level admissions
    against a driver-side REFERENCE run of the same decision functions
    over an in-memory store (no files): byte-same admissions prove the
    on-disk mechanics — hive layout, carried hashes, repair, the
    localCheckpoint stage boundaries — change nothing, while the
    decision semantics themselves stay value-checked by the registered
    DuckDB-oracled twins. (A first-principles hand simulation is NOT
    used: it would have to re-model legitimate gate behavior like a
    twin arriving before its base and then rejecting the base, or
    near-constant gradient crops colliding on dHash — re-implementing
    the gate wrong is how accounting checks rot.) Claim (a) extends to
    the wfps join: admission cost must stay flat in store size with
    the winnowing/tile join included."""
    import shutil

    from pyspark.sql import functions as F

    from hridaya_steam_market_tracker_spark.operators.multimodal import (
        synthetic_mixed_media_corpus,
    )
    from hridaya_steam_market_tracker_spark.streaming.media_ingest import (
        compact_any_media_store,
        ingest_any_media_batch,
    )

    os.makedirs(out_dir, exist_ok=True)
    corpus_path = os.path.join(out_dir, "mixed_media_corpus.parquet")
    n = 120 * rep
    embed_every = 4 if excerpt_tau is not None else None
    synthetic_mixed_media_corpus(
        spark, n, embed_every=embed_every
    ).repartition(8).write.mode("overwrite").parquet(corpus_path)
    media = spark.read.parquet(corpus_path)
    store = os.path.join(out_dir, "any_media_store")
    if os.path.isdir(store):
        shutil.rmtree(store)

    kwargs = {} if excerpt_tau is None else {"excerpt_tau": excerpt_tau}
    if excerpt_phases != 1:
        kwargs["excerpt_phases"] = excerpt_phases
    if image_plane != "grid":
        kwargs["excerpt_image_plane"] = image_plane
    if audio_plane != "window":
        kwargs["excerpt_audio_plane"] = audio_plane
    if auto_compact_files is not None:
        kwargs["auto_compact_files"] = auto_compact_files
        kwargs["auto_compact_target_files"] = 4
    times = []
    for b in range(n_batches):
        batch = media.filter(F.pmod(F.col("media_id"), F.lit(n_batches)) == b)
        t0 = time.perf_counter()
        ingest_any_media_batch(batch, store, **kwargs)
        times.append(round(time.perf_counter() - t0, 2))
        print(json.dumps({"tier": "streaming-any-media", "batch": b,
                          "sec": times[-1]}))
    docs = spark.read.parquet(os.path.join(store, "docs"))
    per_type = {r["media_type"]: r["n"] for r in
                docs.groupBy("media_type").agg(F.count("*").alias("n")).collect()}
    accounting = None
    if excerpt_tau is not None:
        from hridaya_steam_market_tracker_spark.streaming.corpus_ingest import (
            media_excerpt_rejects,
        )
        from hridaya_steam_market_tracker_spark.streaming.media_ingest import (
            _ANY_KEYS,
            _any_bands,
            media_admission_rejects,
            media_signatures,
            media_winnow_fps,
        )

        stored_bands = stored_wfps = None
        expected: set[int] = set()
        for b in range(n_batches):
            batch = media.filter(
                F.pmod(F.col("media_id"), F.lit(n_batches)) == b
            )
            bands = _any_bands(media_signatures(batch)).localCheckpoint(
                eager=True
            )
            wfps = media_winnow_fps(
                batch, phases=excerpt_phases,
                image_plane=image_plane, audio_plane=audio_plane,
            ).localCheckpoint(eager=True)
            rej = media_admission_rejects(
                stored_bands, bands, keys=_ANY_KEYS
            ).unionByName(
                media_excerpt_rejects(stored_wfps, wfps, excerpt_tau)
            ).distinct()
            rej_ids = {r["media_id"] for r in rej.collect()}
            acc_ids = {
                r["media_id"] for r in batch.select("media_id").collect()
            } - rej_ids
            expected |= acc_ids
            acc = spark.createDataFrame(
                [(i,) for i in sorted(acc_ids)], "media_id long"
            )
            nb = bands.join(acc, "media_id", "left_semi")
            nw = wfps.join(acc, "media_id", "left_semi")
            stored_bands = (
                nb if stored_bands is None
                else stored_bands.unionByName(nb)
            ).localCheckpoint(eager=True)
            stored_wfps = (
                nw if stored_wfps is None
                else stored_wfps.unionByName(nw)
            ).localCheckpoint(eager=True)
        got = {r["media_id"] for r in docs.select("media_id").collect()}
        accounting = {
            "reference_admitted": len(expected),
            "exact_id_match": got == expected,
        }
        wfps_store = spark.read.parquet(os.path.join(store, "wfps"))
        accounting["wfps_rows"] = wfps_store.count()
        accounting["wfps_planes"] = sorted(
            r["plane"] for r in wfps_store.select("plane").distinct().collect()
        )
    t0 = time.perf_counter()
    compact_any_media_store(spark, store, target_files=4)
    compact_sec = round(time.perf_counter() - t0, 2)
    batch = media.filter(
        F.pmod(F.col("media_id"), F.lit(n_batches)) == n_batches - 1
    )
    t0 = time.perf_counter()
    ingest_any_media_batch(batch, store, **kwargs)
    replay_sec = round(time.perf_counter() - t0, 2)
    print(json.dumps({
        "metric": "streaming_any_media_rehearsal", "rep": rep, "items": n,
        "excerpt_tau": excerpt_tau,
        "image_plane": image_plane, "audio_plane": audio_plane,
        "admitted_per_type": per_type,
        "admitted": sum(per_type.values()),
        "rejected": n - sum(per_type.values()),
        "accounting": accounting,
        "batch_sec": times,
        "first5_avg": round(sum(times[:5]) / max(len(times[:5]), 1), 2),
        "last5_avg": round(sum(times[-5:]) / max(len(times[-5:]), 1), 2),
        "compact_sec": compact_sec, "replayed_batch_sec": replay_sec,
    }))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rep", type=int, default=10)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/scale_sf1")
    ap.add_argument("--queries", default=",".join(DEFAULT_QUERIES))
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument(
        "--image-plane", default="grid",
        choices=("grid", "cdt", "hybrid"),
        help="round-12 content-defined image plane for the any-media "
             "excerpt rehearsal (constant index mass, no offset lattice)")
    ap.add_argument(
        "--audio-plane", default="window",
        choices=("window", "cdt", "hybrid"),
        help="round-12 content-defined audio plane (1-D twin); "
             "'hybrid' (round 13) adds the per-item low-entropy "
             "grid/window fallback on both planes")
    ap.add_argument(
        "--excerpt-phases", type=int, default=1,
        help="streaming-any-media: run the gate phase-aware (round 11) "
             "— the flat-cost re-verification with the ~phases^2-grown "
             "image tile index and phases-grown audio token docs")
    ap.add_argument(
        "--auto-compact-files", type=int, default=None,
        help="streaming tier: pass a part-file threshold through to "
             "ingest_batch so the round-11 in-batch compaction trigger "
             "fires mid-rehearsal (the bounded-growth evidence run)")
    ap.add_argument(
        "--excerpt-tau", type=float, default=None,
        help="streaming-any-media / streaming: run the gate "
        "excerpt-aware at this tau over a corpus that ALSO plants "
        "embedded duplicates (video subclips, audio excerpts, image "
        "crops; unique-vocab text excerpts for the text tier) and "
        "assert exact id-level admissions",
    )
    ap.add_argument(
        "--tier", default="text",
        choices=["text", "media", "streaming", "boilerplate",
                 "streaming-any-media"],
        help="text = scaled-fixture catalog queries (the original sf1 "
        "rehearsal); media = codec-tier mapInPandas ops with worker RSS "
        "sampling; streaming = corpus_ingest micro-batch cost curve; "
        "boilerplate = banner-injected corpus, span/containment heavies "
        "WITH vs WITHOUT strip_source_prefix in front; "
        "streaming-any-media = media_ingest micro-batch cost curve over "
        "a mixed image/video/audio corpus with one planted twin class "
        "per modality",
    )
    args = ap.parse_args()

    spark = get_spark("scale-rehearsal")
    if args.tier == "media":
        media_rehearsal(spark, args.rep, args.passes)
        return
    if args.tier == "streaming-any-media":
        streaming_any_media_rehearsal(
            spark, args.out, args.rep, excerpt_tau=args.excerpt_tau,
            excerpt_phases=args.excerpt_phases,
            image_plane=args.image_plane,
            audio_plane=args.audio_plane,
            auto_compact_files=args.auto_compact_files,
        )
        return
    generate(spark, args.sf_dir, args.out, args.rep)
    if args.tier == "streaming":
        streaming_rehearsal(
            spark, args.out, excerpt_tau=args.excerpt_tau,
            auto_compact_files=args.auto_compact_files,
        )
        return
    if args.tier == "boilerplate":
        boilerplate_rehearsal(spark, args.out, args.rep, args.passes)
        return
    registry = load_all()
    results = {}
    for name in args.queries.split(","):
        name = name.strip()
        if name not in registry:
            print(json.dumps({"query": name, "error": "not registered"}))
            continue
        best = None
        for _ in range(args.passes):
            spark.catalog.clearCache()
            df = registry[name].fn(spark, args.out)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.perf_counter() - t0, 2)
            best = dt if best is None else min(best, dt)
        results[name] = best
        print(json.dumps({"query": name, "best_sec": best, "rep": args.rep}))
    print(json.dumps({"metric": "scale_rehearsal_total", "rep": args.rep,
                      "value": round(sum(results.values()), 2), "unit": "sec",
                      "queries": results}))


if __name__ == "__main__":
    main()

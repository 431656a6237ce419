"""Streaming near-dup-gated corpus ingest — the CONTINUOUS twin of the
batch `dedup_incremental_delta` query (operators/dedup.py
`minhash_delta_near_duplicates`) — and the gate STORE PROTOCOL the
text gate here and the media gate (streaming/media_ingest.py) share.

Reference analog: the ingest plane's replay-safe delta insert
(src/SQLinserts.py:515-584 upsert discipline, re-expressed for a
document corpus); the dedup tier itself is brief-added scale surface
with no reference analog. The store-maintenance pass below mirrors the
reference's retention/compression policies (src/SQLinserts.py:270-297)
that keep the hot set small.

State layout under ``store_path`` (plain parquet, single-writer — the
same assumption streaming/ingest.py documents):

* ``docs/``  — accepted documents.
* ``bands/`` — their banded MinHash signature index
  (doc_id, band, bucket), HIVE-PARTITIONED BY ``band`` (16 static
  values): the WRITE-ONCE state the incremental dedup design
  documents. Each micro-batch equi-joins its own bands against this
  store on (band, bucket); partitioning by band keeps each band's
  postings physically clustered, so the join's scan never interleaves
  bands and a compaction pass can rewrite one band directory at a
  time. The corpus TEXT is only re-read for the (small) candidate set
  that actually collides, via a semi-join pushdown on doc_id.
* ``wfps/``  — (excerpt-aware stores only) winnowing content
  fingerprints (doc_id, fp; fp=NULL presence rows), the text twin of
  the media gate's excerpt tier: rejects batch docs whose
  fingerprint content is already stored (quotes, chunk re-uploads —
  the class whole-document MinHash is blind to). Governed by the
  ``_GATE_MODE`` store-lifetime marker.

The store protocol, written once here for both gates:

* existence is checked with ``os.path.isdir`` — NOT a broad except
  around the read — so a corrupted footer / permission error /
  transient FS failure fails the micro-batch loudly instead of being
  misread as "first batch: empty store" and silently admitting
  duplicates into the persistent state;
* a half-compacted store is refused (storage/layout.py
  `_check_partition_integrity`, the same check date partitions get);
* `set_gate_mode` / `_check_gate_mode` enforce the store-lifetime
  ``_GATE_MODE`` marker;
* `_repair_index` re-indexes docs/ rows a crash left missing from an
  index component;
* `compact_store` rewrites every component with the shared
  rename-aside swap (storage/layout.py `_rename_aside`);
* `_start_gate` wires a gate into ``foreachBatch``.

Admission policy per micro-batch: a document is REJECTED when it has
an exact-Jaccard-verified near-dup among stored docs, or among
lower-id docs of the same batch (leader-keeps: the smallest id of a
within-batch dup group is admitted; its satellites are not). Replay of
a micro-batch is a no-op: already-stored doc_ids are anti-joined away
before any work, mirroring idempotent_append.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hridaya_steam_market_tracker_spark.operators.dedup import (
    _spread,
    banded_buckets,
    shingles,
    signatures_from_sets,
    winnow_fingerprints,
)
from hridaya_steam_market_tracker_spark.storage.layout import (
    _check_partition_integrity,
    _rename_aside,
)

_BAND_COLS = ("doc_id", "band", "bucket")
_TEXT_WFP_COLS = ("doc_id", "fp")
# Hive partition columns of each store component — what `compact_store`
# needs to rewrite a component in place.
_TEXT_LAYOUT = {"docs": (), "bands": ("band",), "wfps": ()}

_GATE_MODE_MARKER = "_GATE_MODE"


def set_gate_mode(store_path: str, mode: str) -> None:
    """Deliberately (re)declare a gate store's admission mode — the
    explicit act `_check_gate_mode`'s refusal demands before a store
    may switch modes. ``mode`` is ``"plain"`` or ``"excerpt"`` for the
    text gate, a `media_ingest.media_gate_mode` string for the media
    gate. Switching an existing store to a DIFFERENT excerpt-aware mode
    drops wfps/ (re-keying the index is what switching means), and the
    next excerpt-aware batch's repair pass fingerprints every stored
    item once — a text re-read of docs/ for the text gate, one payload
    re-decode per stored row for the media gate. Without the drop,
    stored items would keep fingerprints of the old mode and an
    excerpt of an OLD item could still sail through."""
    os.makedirs(store_path, exist_ok=True)
    marker = os.path.join(store_path, _GATE_MODE_MARKER)
    old_mode = None
    if os.path.isfile(marker):
        with open(marker) as f:
            old_mode = f.read().strip()
    wfps_path = os.path.join(store_path, "wfps")
    if old_mode not in (None, mode) and mode != "plain" and os.path.isdir(wfps_path):
        shutil.rmtree(wfps_path)
    with open(marker, "w") as f:
        f.write(mode)


def _check_gate_mode(store_path: str, mode: str) -> None:
    """A store is EITHER plain OR excerpt-aware (in one excerpt mode)
    for its whole life. Mixed-mode ingest is refused loudly — plain
    batches into an excerpt store leave wfps/ stale AND stop rejecting
    excerpts; excerpt batches into a plain store silently pay a
    full-store re-fingerprint in repair. Marker-less stores are
    grandfathered by INFERENCE from the one durable fact on disk —
    wfps/ exists iff the store ever ingested excerpt-aware — then the
    marker is written so the inference happens once."""
    marker = os.path.join(store_path, _GATE_MODE_MARKER)
    stored_mode = None
    if os.path.isfile(marker):
        with open(marker) as f:
            stored_mode = f.read().strip()
    elif os.path.isdir(os.path.join(store_path, "docs")):
        wfps = os.path.isdir(os.path.join(store_path, "wfps"))
        stored_mode = "excerpt" if wfps else "plain"
    if stored_mode not in (None, mode):
        raise ValueError(
            f"store {store_path!r} was ingested in {stored_mode!r} mode "
            f"but this batch requests {mode!r}: mixed-mode ingest "
            "silently weakens the gate (stale wfps/, unrejected "
            "excerpts). Keep the excerpt settings consistent for the "
            "store's lifetime, or switch deliberately with "
            f"set_gate_mode({store_path!r}, {mode!r})."
        )
    if not os.path.isfile(marker):
        set_gate_mode(store_path, mode)


def _repair_index(
    spark: SparkSession,
    store_path: str,
    component: str,
    id_col: str,
    rebuild: Callable[[DataFrame], DataFrame],
    partition_cols: tuple[str, ...] = (),
    candidates: Column | None = None,
) -> int:
    """Re-index any docs/ rows missing from the ``component`` index —
    the crash state a failure between a gate batch's appends leaves
    behind (admitted rows permanently unindexed; replay anti-joins them
    away as already-stored, so their near-dups are admitted forever),
    and the one-time backfill after a `set_gate_mode` switch.
    ``candidates`` (a Column over docs/) narrows the rows that must be
    indexed; every candidate writes at least one index row (fp=NULL
    presence rows where there is nothing to fingerprint), so orphan
    detection is one id-column anti-join and only actual orphans are
    re-signed by ``rebuild``. Returns index rows written."""
    docs_path = os.path.join(store_path, "docs")
    index_path = os.path.join(store_path, component)
    if not os.path.isdir(docs_path):
        return 0
    docs = spark.read.parquet(docs_path)
    orphans = (docs if candidates is None else docs.filter(candidates)).select(id_col)
    if os.path.isdir(index_path):
        indexed = spark.read.parquet(index_path).select(id_col).distinct()
        orphans = orphans.join(indexed, id_col, "left_anti")
    # Cut lineage BEFORE the append refreshes index_path (the
    # ingest_batch localCheckpoint lesson — the orphan set reads it).
    orphans = orphans.localCheckpoint(eager=True)
    if orphans.isEmpty():
        return 0
    repaired = rebuild(docs.join(orphans, id_col, "left_semi")).localCheckpoint(
        eager=True
    )
    cnt = repaired.count()
    repaired.write.mode("append").partitionBy(*partition_cols).parquet(index_path)
    return cnt


def _text_bands(docs: DataFrame, num_hashes: int, bands: int, n: int) -> DataFrame:
    return banded_buckets(
        signatures_from_sets(
            _spread(docs, "doc_id").select(
                "doc_id", shingles(F.col("text"), n).alias("sh")
            ),
            num_hashes,
        ),
        num_hashes,
        bands,
    )


def repair_band_index(
    spark: SparkSession,
    store_path: str,
    num_hashes: int = 32,
    bands: int = 16,
    n: int = 3,
) -> int:
    """`_repair_index` for the text gate's bands/: every doc has band
    rows, so every docs/ row is a candidate. Signature params MUST
    match the ingest's, or the repaired rows land in a different bucket
    space. Returns band rows written."""
    return _repair_index(
        spark, store_path, "bands", "doc_id",
        lambda d: _text_bands(d, num_hashes, bands, n), ("band",),
    )


def repair_corpus_wfps_index(spark: SparkSession, store_path: str) -> int:
    """`_repair_index` for the text gate's wfps/ — also the one-time
    upgrade path after `set_gate_mode(store, "excerpt")`. Returns wfps
    rows written."""
    return _repair_index(spark, store_path, "wfps", "doc_id", corpus_winnow_fps)


def corpus_winnow_fps(docs: DataFrame, k: int = 3, w: int = 4) -> DataFrame:
    """(doc_id, fp) content fingerprints for the text containment
    plane: the SAME winnowing selection the oracled batch queries ride
    (`operators/dedup.py:winnow_fingerprints` — any shared run of
    >= k+w-1 words shares a selected fingerprint). EVERY batch doc
    gets at least one output row: docs whose text yields no
    fingerprint (empty/untokenizable) carry a single fp=NULL presence
    row, so the index distinguishes 'indexed, nothing to match' from
    'orphaned' — NULL never equi-joins, so presence rows can never
    evidence a rejection (the media plane's exact discipline)."""
    fps = winnow_fingerprints(docs, id_col="doc_id", k=k, w=w)
    return (
        docs.select("doc_id")
        .join(fps, "doc_id", "left")
        .select(*_TEXT_WFP_COLS)
    )


def media_excerpt_rejects(
    stored_wfps: DataFrame | None,
    batch_wfps: DataFrame,
    tau: float,
    max_df: int = 50,
) -> DataFrame:
    """Batch items to REJECT as stored-content excerpts: the fraction
    of a batch item's (media_id, plane, fp) fingerprints already
    present — in the store, or in lower-id items of the same batch
    (leader-keeps) — reaches ``tau``. The one excerpt decision both
    gates run: the media gate on its image/video/audio planes, the text
    gate through `corpus_excerpt_rejects` on plane='text', so the two
    cannot drift apart. Plane rides the join key; a shared fingerprint
    counts once however many stored items carry it (distinct before the
    count), so containment is a pure batch-side fraction.

    Same document-frequency cutoff as the oracled batch twin
    `winnow_containment_pairs` (operators/dedup.py): a fingerprint
    carried by > ``max_df`` items across store+batch is boilerplate —
    runs of silent audio windows, black frames — and cannot EVIDENCE
    a match (it stays in the ``n_fp`` denominator, exactly as the
    batch op keeps boilerplate in the min-side count), so
    common-content items are not falsely rejected and the gate's
    semantics track the oracle-checked batch path. The df prune also
    bounds join fan-out per fingerprint at 100 TB store sizes."""
    bf = batch_wfps.filter(F.col("fp").isNotNull())
    n = bf.groupBy("media_id").agg(F.count(F.lit(1)).alias("n_fp"))
    pop = bf.select("plane", "fp")
    if stored_wfps is not None:
        pop = pop.unionByName(
            stored_wfps.filter(F.col("fp").isNotNull()).select("plane", "fp")
        )
    rare = (
        pop.groupBy("plane", "fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("plane", "fp")
    )
    bf = bf.join(rare, ["plane", "fp"], "left_semi")
    b = bf.select(F.col("media_id").alias("j"), "plane", "fp")
    a = bf.select(F.col("media_id").alias("i"), "plane", "fp")
    matched = (
        a.join(b, ["plane", "fp"])
        .filter(F.col("i") < F.col("j"))
        .select("j", "fp")
    )
    if stored_wfps is not None:
        s = (
            stored_wfps.filter(F.col("fp").isNotNull())
            .join(rare, ["plane", "fp"], "left_semi")
            .select(F.col("media_id").alias("i"), "plane", "fp")
        )
        matched = matched.unionByName(
            s.join(b, ["plane", "fp"]).select("j", "fp")
        )
    shared = matched.distinct().groupBy("j").agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    return (
        shared.join(n.withColumnRenamed("media_id", "j"), "j")
        .filter(F.col("n_shared") / F.col("n_fp") >= tau)
        .select(F.col("j").alias("media_id"))
    )


def corpus_excerpt_rejects(
    stored_wfps: DataFrame | None,
    batch_wfps: DataFrame,
    tau: float,
    max_df: int = 50,
) -> DataFrame:
    """Batch docs to REJECT as stored-content excerpts (quotes,
    mirrored passages, chunk re-uploads): `media_excerpt_rejects` run
    on the text plane. Directional: a new doc CONTAINING a stored doc
    is admitted (most of its fingerprints are new)."""

    def as_media(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("doc_id").alias("media_id"),
            F.lit("text").alias("plane"),
            "fp",
        )

    out = media_excerpt_rejects(
        as_media(stored_wfps) if stored_wfps is not None else None,
        as_media(batch_wfps),
        tau,
        max_df,
    )
    return out.select(F.col("media_id").alias("doc_id"))


def _store_part_files(store_path: str) -> int:
    """Count parquet part files across the store's components — the
    quantity whose unbounded growth (one file set per micro-batch
    append) is what elevates late-batch cost, NOT store content (the
    round-6 and round-10 rehearsals both measured flat content cost
    with file-count-driven elevation). Pure os.walk: no Spark job, no
    listing RPC amplification beyond what every batch's read already
    pays."""
    total = 0
    for comp in ("docs", "bands", "wfps"):
        root = os.path.join(store_path, comp)
        for _, _, files in os.walk(root):
            total += sum(1 for f in files if f.endswith(".parquet"))
    return total


def _auto_compact(
    spark: SparkSession,
    store_path: str,
    max_files: int | None,
    target_files: int,
    layout: dict[str, tuple[str, ...]],
) -> None:
    """The self-enforcing bounded-growth trigger both gates run after
    their appends: past ``max_files`` part files (None disables),
    `compact_store` runs INSIDE the batch — safe, because foreachBatch
    callbacks are serial on the one writer."""
    if max_files is not None and _store_part_files(store_path) > max_files:
        compact_store(spark, store_path, target_files, layout)


def ingest_batch(
    batch_df: DataFrame,
    store_path: str,
    num_hashes: int = 32,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.5,
    excerpt_tau: float | None = None,
    excerpt_max_df: int = 50,
    auto_compact_files: int | None = 1024,
    auto_compact_target_files: int = 8,
) -> None:
    """Process ONE micro-batch: dedup against the store and within the
    batch, then append accepted docs + their bands. Designed for
    foreachBatch; calling it twice with the same batch is a no-op (and
    heals a crash-orphaned band index first — see repair_band_index).

    ``excerpt_tau`` (optional) additionally rejects a batch doc whose
    winnowing fingerprints are >= tau already stored — a quote,
    mirrored passage, or chunk re-upload of stored content, the class
    whole-document MinHash is structurally blind to (a short excerpt's
    Jaccard vs its long host is small) — maintaining a third store
    component wfps/, the text twin of the media gate's excerpt tier.
    Directional (a new host containing a stored doc is admitted); same
    df<=max_df boilerplate cap as the oracled batch containment query;
    the setting is a store-LIFETIME contract enforced by the
    ``_GATE_MODE`` marker with loud mixed-mode refusal; switch
    deliberately with ``set_gate_mode(store, "excerpt")``, after which
    the repair pass fingerprints stored docs once.

    ``auto_compact_files`` (round 11): after the batch's appends, if
    the store's parquet part-file count exceeds this threshold,
    `compact_store` runs INSIDE the batch, rewriting each component
    down to ``auto_compact_target_files`` per partition. This makes the
    documented bounded-growth claim SELF-ENFORCING: the round-10 text
    rehearsal showed late-batch cost elevation from append-file growth
    that only a manual compact_store reset; with the trigger, per-batch
    cost stays within the early-batch band with zero operator action
    (rep=10 rehearsal, tools/scale_rehearsal.py). 0 compacts after
    every batch that appends; None disables."""
    from pyspark import StorageLevel

    spark = batch_df.sparkSession
    docs_path = os.path.join(store_path, "docs")
    bands_path = os.path.join(store_path, "bands")
    wfps_path = os.path.join(store_path, "wfps")

    batch = batch_df.select("doc_id", "text").dropDuplicates(["doc_id"])
    _check_partition_integrity(store_path)
    _check_gate_mode(store_path, "plain" if excerpt_tau is None else "excerpt")
    repair_band_index(spark, store_path, num_hashes, bands, n)
    if excerpt_tau is not None:
        repair_corpus_wfps_index(spark, store_path)
    # isdir, not try/except around the read: a real read failure on an
    # existing store must fail the batch, never alias to "empty store".
    stored_docs = spark.read.parquet(docs_path) if os.path.isdir(docs_path) else None
    if stored_docs is not None:
        batch = batch.join(stored_docs.select("doc_id"), "doc_id", "left_anti")
    batch = batch.persist(StorageLevel.MEMORY_AND_DISK)
    sets = None
    batch_wfps = None
    try:
        if batch.isEmpty():
            return

        sets = (
            _spread(batch, "doc_id")
            .select(F.col("doc_id"), shingles(F.col("text"), n).alias("sh"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        b_bands = banded_buckets(signatures_from_sets(sets, num_hashes), num_hashes, bands)

        # Within-batch candidates (satellite j vs leader i, i < j) ...
        within = (
            b_bands.select(F.col("doc_id").alias("i"), "band", "bucket")
            .join(b_bands.select(F.col("doc_id").alias("j"), "band", "bucket"), ["band", "bucket"])
            .filter(F.col("i") < F.col("j"))
            .select("i", "j")
        )
        # ... plus store-vs-batch candidates from the persisted index
        # (band is the hive partition column of the store; selecting by
        # name restores the logical (doc_id, band, bucket) shape).
        if os.path.isdir(bands_path):
            s_bands = spark.read.parquet(bands_path).select(*_BAND_COLS)
            cross = (
                s_bands.select(F.col("doc_id").alias("i"), "band", "bucket")
                .join(b_bands.select(F.col("doc_id").alias("j"), "band", "bucket"), ["band", "bucket"])
                .select("i", "j")
            )
            cands = cross.unionByName(within).distinct()
        else:
            cands = within.distinct()

        # Verify with exact Jaccard. The left side may be a stored doc:
        # re-shingle ONLY the colliding corpus docs (semi-join pushdown
        # on doc_id), never the whole store.
        left_sets = sets.select(F.col("doc_id").alias("i"), F.col("sh").alias("sh_i"))
        if stored_docs is not None:
            matched_store = stored_docs.join(
                cands.select(F.col("i").alias("doc_id")).distinct(), "doc_id", "left_semi"
            )
            store_sets = _spread(matched_store, "doc_id").select(
                F.col("doc_id").alias("i"), shingles(F.col("text"), n).alias("sh_i")
            )
            left_sets = left_sets.unionByName(store_sets)
        right_sets = sets.select(F.col("doc_id").alias("j"), F.col("sh").alias("sh_j"))
        paired = cands.join(left_sets, "i").join(right_sets, "j")
        inter = F.size(F.array_intersect(F.col("sh_i"), F.col("sh_j")))
        union = F.size("sh_i") + F.size("sh_j") - inter
        rejected = (
            paired.filter((inter.cast("double") / union) >= threshold)
            .select(F.col("j").alias("doc_id"))
            .distinct()
        )
        if excerpt_tau is not None:
            batch_wfps = corpus_winnow_fps(batch).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            stored_wfps = (
                spark.read.parquet(wfps_path).select(*_TEXT_WFP_COLS)
                if os.path.isdir(wfps_path)
                else None
            )
            rejected = rejected.unionByName(
                corpus_excerpt_rejects(
                    stored_wfps, batch_wfps, excerpt_tau, excerpt_max_df
                )
            ).distinct()

        # localCheckpoint, not persist: appending to docs_path below runs
        # refreshByPath on it, which invalidates any CACHED plan whose
        # lineage reads that path (accepted's does, via the stored-ids
        # anti-join). A cache-invalidated `accepted` would silently
        # re-evaluate against the just-extended store — and admit
        # nothing into the bands index. The checkpoint materializes the
        # rows and CUTS the lineage, so both writes see the same set.
        accepted = batch.join(rejected, "doc_id", "left_anti").localCheckpoint(
            eager=True
        )
        if excerpt_tau is not None:
            accepted_wfps = batch_wfps.join(
                accepted.select("doc_id"), "doc_id", "left_semi"
            ).localCheckpoint(eager=True)
        accepted.write.mode("append").parquet(docs_path)
        (
            _text_bands(accepted, num_hashes, bands, n)
            .write.mode("append")
            .partitionBy("band")
            .parquet(bands_path)
        )
        if excerpt_tau is not None and not accepted_wfps.isEmpty():
            accepted_wfps.write.mode("append").parquet(wfps_path)
        _auto_compact(
            spark, store_path, auto_compact_files, auto_compact_target_files,
            _TEXT_LAYOUT,
        )
    finally:
        # In finally (not the try body): a failed parquet append must
        # not leak the persisted shingle frame into the long-lived
        # streaming session. `sets` is None on the early empty-return.
        if sets is not None:
            sets.unpersist()
        if batch_wfps is not None:
            batch_wfps.unpersist()
        batch.unpersist()


def compact_store(
    spark: SparkSession,
    store_path: str,
    target_files: int = 1,
    layout: dict[str, tuple[str, ...]] = _TEXT_LAYOUT,
) -> dict[str, int]:
    """Rewrite a gate store's append-only components down to a bounded
    part-file count. Admission decisions are a pure function of store
    CONTENT, so compaction is semantically invisible — it only removes
    the O(#micro-batches) file-listing and tiny-file scan cost from
    every subsequent batch's equi-join.

    ``layout`` maps each component (docs/, bands/, wfps/) to its hive
    partition columns — the text gate's by default, the media gate's
    from streaming/media_ingest.py. Rows shuffle on (partition columns,
    pmod(hash(row), target_files)), so each partition directory holds
    at most ``target_files`` files.

    Each rewrite goes to ``<component>.compact.tmp`` first and swaps in
    via storage/layout.py `_rename_aside`, so a live component is
    missing only between two atomic renames. A crash before the swap
    leaves the original store intact; a crash mid-swap leaves the tmp
    dir without a live one, which both the gates and this function
    refuse loudly (`_check_partition_integrity`) rather than re-admit
    duplicates or clobber the only surviving copy. Single-writer
    discipline applies: do not run concurrently with an active ingest
    query.

    Returns rows rewritten per component.
    """
    _check_partition_integrity(store_path, repair=True)
    rewritten: dict[str, int] = {}
    for comp, part_cols in layout.items():
        live = os.path.join(store_path, comp)
        if not os.path.isdir(live):
            continue
        df = spark.read.parquet(live)
        rewritten[comp] = df.count()
        spread = F.pmod(
            F.hash(*[c for c in df.columns if c not in part_cols]),
            F.lit(target_files),
        )
        tmp = live + ".compact.tmp"
        (
            df.repartition(*part_cols, spread)
            .write.mode("overwrite")
            .partitionBy(*part_cols)
            .parquet(tmp)
        )
        _rename_aside(tmp, live)
        spark.catalog.refreshByPath(live)
    return rewritten


def _start_gate(
    ingest: Callable[..., None],
    stream: DataFrame,
    store_path: str,
    checkpoint_path: str,
    available_now: bool,
    dedup_kwargs: dict,
):
    """Wire a streaming source into a gate via foreachBatch(ingest).
    Compaction rides the gate's own ``auto_compact_files`` trigger,
    which is safe because foreachBatch callbacks execute serially on
    the one writer. Returns the StreamingQuery."""
    writer = stream.writeStream.foreachBatch(
        lambda df, _epoch: ingest(df, store_path, **dedup_kwargs)
    ).option("checkpointLocation", checkpoint_path)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_dedup_ingest(
    stream_docs: DataFrame,
    store_path: str,
    checkpoint_path: str,
    available_now: bool = True,
    **dedup_kwargs,
):
    """Wire a streaming document source into the near-dup-gated store
    via foreachBatch(ingest_batch); ``dedup_kwargs`` go to every
    `ingest_batch` call. Returns the StreamingQuery."""
    return _start_gate(
        ingest_batch, stream_docs, store_path, checkpoint_path,
        available_now, dedup_kwargs,
    )

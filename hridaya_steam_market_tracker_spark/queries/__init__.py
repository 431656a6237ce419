"""The oracle-checked query catalog.

Every operator in SURVEY.md §2 that is batch-expressible registers here
as a named query over the driver fixture tables, paired with the ANSI
SQL a DuckDB oracle runs on the same parquet. The registry is what
``__spark_entry__.py`` exposes to the driver.

Registration contract (driver compares after sorting columns by name):
  * alias every computed column identically in Spark and SQL;
  * explicitly cast aggregate outputs (DuckDB SUM(int)->HUGEINT vs
    Spark -> LONG, DuckDB FLOOR -> DOUBLE vs Spark -> LONG, ...);
  * round floating aggregates on BOTH sides so cross-engine summation
    order can't flip the value hash;
  * derive any "now" from max(ts) in the data (deterministic), via a
    broadcast one-row join — never a driver-side collect.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None, doc: str = "") -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query to the catalog."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


# The driver's correctness gate samples the registry front-to-back (50
# queries per round). Names listed here are moved to the head of the registry
# in this exact order, regardless of module import order, so the sample spends
# every slot on the rows where a fresh check buys the most information.
# The head is capped at 50 = the driver's sample size; listing more would
# silently starve the tail (the round-5 list overflowed by two).
#
# NO LONGER HAND-CURATED: tools/sample_order.py derives the priority order
# from (a) queries whose implementation fingerprint (round 7: the TRANSITIVE
# in-package dependency closure at function granularity) changed in git since
# the round of their last driver-green CORRECTNESS row, or that were never
# driver-sampled at all, and (b) staleness of the last green row;
# tests/test_sample_order.py asserts this head EQUALS the derived order, so
# neither a rewrite nor a hand-reorder can ship un-resampled. Regenerate with
# `python tools/sample_order.py`.
# The head leads with the flagged queries (never-sampled first, then
# oldest green row), then the staleness rotation; WITHIN each tier the
# order is measured per-query cost, CHEAP FIRST (tools/query_costs.json),
# so a time-budgeted correctness run records as many rows as possible
# before any cutoff.
_SAMPLE_FIRST: tuple[str, ...] = (
    "ann_cosine_topk",
    "ann_pq_sign_topk",
    "ann_ivf_sign_topk",
    "hard_negative_mining",
    "knn_label_accuracy",
    "ann_ivf_recall_vs_brute",
    "ann_lsh_topk",
    "ann_lsh_multiprobe_topk",
    "multimodal_image_dhash_checked",
    "multimodal_dhash_near_pairs_checked",
    "corpus_excerpt_admission_twin",
    "media_ingest_admission_twin",
    "duplicate_span_pairs",
    "cdc_chunks_checked",
    "emb_cosine_near_dup",
    "clip_duplicate_spans_stats",
    "multimodal_audio_dedup_keep_list",
    "multimodal_image_dedup_keep_list",
    "cdc_dup_chunk_mass",
    "chargram_lang_id",
    "cdc_offset_dup_pairs",
    "semantic_dedup_keep_list",
    "multimodal_video_dedup_keep_list",
    "bpe_train_merges",
    "perceptron_quality_scores",
    "semantic_dedup_text_e2e",
    "media_phase_excerpt_admission_twin",
    "emb_near_dup_clusters",
    "bpe_doc_token_stats",
    "media_excerpt_admission_twin",
    "dedup_recall_audit",
    "any_media_ingest_admission_twin",
    "pretrain_pipeline_e2e",
    "dedup_keep_best_quality",
    "cluster_weighted_sample",
    "curation_pipeline_kept_docs",
    "dedup_clusters",
    "dedup_clusters_star",
    "multimodal_dhash_oriented_checked",
    "source_prefix_boilerplate",
    "strip_source_prefix_stats",
    "chunk_dedup_reassemble",
    "doc_repetition_stats",
    "multimodal_dhash_oriented_near_pairs_checked",
    "multimodal_whash_near_pairs",
    "multimodal_audio_excerpt_pairs",
    "multimodal_image_crop_pairs",
    "multimodal_image_offset_crop_pairs",
    "duplicate_span_stats",
    "multimodal_audio_cdt_excerpt_pairs",
)


def load_all() -> dict[str, Query]:
    """Import every query module (side-effect: registration) and return the registry.

    Registry order IS the driver's sample order; ``_SAMPLE_FIRST`` pins the
    driver-unverified queries to the head so one round's sample covers them.
    Everything else follows in module import order (all already green in
    CORRECTNESS_r01/r02).
    """
    from hridaya_steam_market_tracker_spark.queries import (  # noqa: F401
        bpe_q,
        tpch,
        timeseries,
        windows,
        vectors,
        sampling,
        sketches,
        tpch_deep,
        tpch_rest,
        curation_ext,
        events_ext,
        analytics_ext,
        behavior,
        indicators,
        docs,
        joins,
        media,
        parsers,
        rollups,
        selection,
        streaming_twins,
    )

    ordered: dict[str, Query] = {}
    for name in _SAMPLE_FIRST:
        if name in REGISTRY:
            ordered[name] = REGISTRY[name]
    for name, query in REGISTRY.items():
        ordered.setdefault(name, query)
    return ordered

"""Similarity-search queries over the `embeddings` fixture.

Brute-force cosine top-k is the exact baseline (oracle-checked); the
LSH-bucketed variant is the approximate scale path (rows-only check +
recall test in tests/test_similarity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hridaya_steam_market_tracker_spark.operators import similarity as S
from hridaya_steam_market_tracker_spark.queries import register
from hridaya_steam_market_tracker_spark.queries.oracle_sql import (
    components_sql,
    cosine_sql,
    lcg_planes_sql,
    top5_sql,
)
from hridaya_steam_market_tracker_spark.tables import table

# Cosine of a corpus vector `a` and a query vector `q`.
_COS = cosine_sql("CAST(a.embedding AS DOUBLE[])", "CAST(q.embedding AS DOUBLE[])")


_BRUTE_COS_ORACLE = f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, a.vec_id AS vec_id,
             round({_COS}, 6) AS cos_sim
      FROM embeddings a
      JOIN embeddings q ON q.vec_id < 10 AND a.vec_id <> q.vec_id
    ){top5_sql("cos_sim")}"""


@register(
    "ann_cosine_topk",
    oracle=_BRUTE_COS_ORACLE,
    doc=(
        "Brute-force cosine top-5 per query vector (queries = vec_id < 10, broadcast) — "
        "the exact ANN baseline; ranking on the rounded score so both engines order "
        "identically."
    ),
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = S.cosine_topk(emb, queries, k=5)
    return out.select("query_id", "vec_id", "cos_sim", F.col("rank").cast("int").alias("rank"))


# Exact rerank of the LSH candidates `cands(query_id, vec_id)`.
_RERANK_CANDS = f""",
    scored AS (
      SELECT c.query_id, c.vec_id, round({_COS}, 6) AS cos_sim
      FROM cands c
      JOIN embeddings a ON a.vec_id = c.vec_id
      JOIN embeddings q ON q.vec_id = c.query_id
    ){top5_sql("cos_sim")}"""


# The LSH hyperplanes come from a seeded LCG (operators/similarity.py:
# hyperplanes) — pure integer arithmetic plus one int->double division,
# both exactly reproducible in DuckDB (HUGEINT for the 126-bit product,
# CAST AS DOUBLE for the same round-to-nearest). The prototype check in
# round 3 confirmed all 8x4x64 plane components bit-identical, so the
# WHOLE approximate pipeline (buckets -> candidate join -> rerank) has a
# value oracle, not just a recall bound.
_LSH_ORACLE = f"""
    WITH RECURSIVE {lcg_planes_sql(8, 4, 64)},
    emb_buckets AS (
      SELECT e.vec_id, pl.t,
             CAST(sum(CASE WHEN list_inner_product(CAST(e.embedding AS DOUBLE[]), pl.plane) > 0
                           THEN (CAST(1 AS BIGINT) << pl.p) ELSE CAST(0 AS BIGINT) END)
                  AS BIGINT) AS bucket
      FROM embeddings e CROSS JOIN planes pl
      GROUP BY e.vec_id, pl.t
    ),
    cands AS (
      SELECT DISTINCT qb.vec_id AS query_id, eb.vec_id AS vec_id
      FROM emb_buckets eb
      JOIN (SELECT * FROM emb_buckets WHERE vec_id < 10) qb
        ON eb.t = qb.t AND eb.bucket = qb.bucket
      WHERE eb.vec_id <> qb.vec_id
    ){_RERANK_CANDS}"""


@register(
    "ann_lsh_topk",
    oracle=_LSH_ORACLE,
    doc=(
        "Multi-table LSH approximate top-5 (8 tables x 4 hyperplanes; bucket equi-join "
        "replaces the cross join). Deterministic end-to-end: the seeded-LCG hyperplanes "
        "are replicated bit-exactly in the DuckDB oracle (HUGEINT LCG + same double "
        "rounding), so the driver value-checks the full approximate pipeline. Recall "
        ">= 0.6 vs the exact baseline is additionally asserted in tests."
    ),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = S.lsh_topk(emb, queries, k=5)
    return out.select(
        "query_id", "vec_id", "cos_sim", F.col("rank").cast("int").alias("rank")
    )


@register(
    "ann_ivf_topk",
    oracle=None,  # approximate: recall vs brute force pinned in tests
    doc=(
        "IVF approximate top-5: kmeans-lite coarse quantizer (16 cells, 3 Lloyd "
        "rounds, deterministic seeding), n_probe=4 — candidates come from a cell "
        "equi-join, reading n_probe/n_cells of the corpus at scale. Rows-only driver "
        "check; recall asserted in tests/test_scale_operators.py."
    ),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return S.ivf_topk(emb, queries, k=5, n_cells=16, n_probe=4)


@register(
    "embedding_label_centroids",
    oracle="""
    WITH expl AS (
      SELECT label, i AS pos, embedding[i]::DOUBLE AS x
      FROM embeddings, generate_series(1, 64) AS g(i)
    ),
    means AS (
      SELECT label, pos, avg(x) AS mean_x FROM expl GROUP BY label, pos
    )
    SELECT label,
           round(sqrt(sum(mean_x * mean_x)), 6) AS centroid_norm,
           CAST((SELECT count(*) FROM embeddings e WHERE e.label = means.label) AS BIGINT) AS n_members
    FROM means GROUP BY label
    """,
    doc=(
        "Per-label centroid (IVF coarse-quantizer building block): element-wise mean via "
        "posexplode + two-level groupBy; emitted as the centroid L2 norm for "
        "cross-engine hashing."
    ),
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    centroids = S.label_centroids(emb)
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_members"))
    norm = F.sqrt(
        F.aggregate(
            F.col("centroid"), F.lit(0.0), lambda acc, x: acc + x * x
        )
    )
    return (
        centroids.join(counts, "label")
        .select("label", F.round(norm, 6).alias("centroid_norm"), "n_members")
    )


# Multi-probe extension of the same LCG tables: per table, probe the
# query's bucket plus the least-confident-bit flip (argmin |dot| — a
# deterministic function of bit-exact dots, so still oracle-checkable).
_LSH_MULTIPROBE_ORACLE = f"""
    WITH RECURSIVE {lcg_planes_sql(8, 4, 64)},
    dots AS (
      SELECT e.vec_id, pl.t, pl.p,
             list_inner_product(CAST(e.embedding AS DOUBLE[]), pl.plane) AS dt
      FROM embeddings e CROSS JOIN planes pl
    ),
    buckets AS (
      SELECT vec_id, t,
             CAST(sum(CASE WHEN dt > 0 THEN (CAST(1 AS BIGINT) << p)
                           ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket,
             CAST(list_position(list(abs(dt) ORDER BY p),
                                list_min(list(abs(dt) ORDER BY p))) - 1
                  AS INTEGER) AS flip
      FROM dots GROUP BY vec_id, t
    ),
    q_probes AS (
      SELECT vec_id AS query_id, t, bucket FROM buckets WHERE vec_id < 10
      UNION
      SELECT vec_id AS query_id, t,
             xor(bucket, CAST(1 AS BIGINT) << flip) AS bucket
      FROM buckets WHERE vec_id < 10
    ),
    cands AS (
      SELECT DISTINCT qp.query_id, eb.vec_id
      FROM buckets eb
      JOIN q_probes qp ON eb.t = qp.t AND eb.bucket = qp.bucket
      WHERE eb.vec_id <> qp.query_id
    ){_RERANK_CANDS}"""


@register(
    "ann_lsh_multiprobe_topk",
    oracle=_LSH_MULTIPROBE_ORACLE,
    doc=(
        "Multi-probe LSH top-5 (Lv et al. VLDB'07): per table, probe the "
        "query's bucket AND the least-confident-bit flip — recall 0.68 -> 0.90 "
        "vs single-probe at the same 8x4 tables, with the corpus still indexing "
        "ONE bucket per table (probing is query-side work; storage unchanged). "
        "Flip choice is a deterministic argmin over bit-exact dots, so the full "
        "probe pipeline is value-checked by the oracle."
    ),
)
def ann_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = S.lsh_multiprobe_topk(emb, queries, k=5)
    return out.select(
        "query_id", "vec_id", "cos_sim", F.col("rank").cast("int").alias("rank")
    )


# Offline SIGN-pattern quantizers: cells/codes are sign patterns against
# seeded-LCG hyperplanes (locality-sensitive, so geometrically coherent),
# centroids the rounded element-wise member means. Both ingredients are
# exactly reproducible in DuckDB (bit-exact LCG + the same round-to-6
# aggregate discipline), so these approximate searches are value-checked
# end-to-end — unlike Lloyd-trained quantizers, whose float feedback loop
# cannot be replicated cross-engine (those stay recall-bounded in tests).
_IVF_SIGN_ORACLE = f"""
    WITH RECURSIVE {lcg_planes_sql(1, 4, 64)},
    cells AS (
      SELECT e.vec_id,
             CAST(sum(CASE WHEN list_inner_product(CAST(e.embedding AS DOUBLE[]), pl.plane) > 0
                           THEN (CAST(1 AS BIGINT) << pl.p) ELSE CAST(0 AS BIGINT) END)
                  AS BIGINT) AS cell
      FROM embeddings e CROSS JOIN planes pl
      GROUP BY e.vec_id
    ),
    cent AS (
      SELECT cell, list(round(m, 6) ORDER BY pos) AS centroid
      FROM (
        SELECT c.cell, i AS pos, avg(e.embedding[i]::DOUBLE) AS m
        FROM embeddings e JOIN cells c ON e.vec_id = c.vec_id,
             generate_series(1, 64) AS g(i)
        GROUP BY c.cell, i
      ) GROUP BY cell
    ),
    q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 10
    ),
    qcell AS (
      SELECT query_id, qv, cell, round({cosine_sql("qv", "centroid")}, 6) AS sim
      FROM q CROSS JOIN cent
    ),
    probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, cell ASC) AS rn
        FROM qcell
      ) WHERE rn <= 6
    ),
    cands AS (
      SELECT p.query_id, p.qv, e.vec_id, CAST(e.embedding AS DOUBLE[]) AS ev
      FROM embeddings e
      JOIN cells ce ON e.vec_id = ce.vec_id
      JOIN probes p ON ce.cell = p.cell
      WHERE e.vec_id <> p.query_id
    ),
    scored AS (
      SELECT query_id, vec_id, round({cosine_sql("ev", "qv")}, 6) AS cos_sim
      FROM cands
    ){top5_sql("cos_sim")}"""


@register(
    "ann_ivf_sign_topk",
    oracle=_IVF_SIGN_ORACLE,
    doc=(
        "IVF top-5 with an OFFLINE sign-pattern coarse quantizer: 16 cells from "
        "the sign pattern against 4 seeded-LCG hyperplanes (locality-sensitive, "
        "geometry-aware), centroids the rounded member means, n_probe=6 — a probe "
        "reads ~6/16 of a cell-bucketed corpus. The production IVF posture "
        "(quantizer trained offline, corpus partitioned by cell on disk, probe = "
        "partition-pruned read), and the whole approximate search is value-checked "
        "by the oracle; the self-training kmeans variant (ann_ivf_topk) stays "
        "recall-bounded in tests."
    ),
)
def ann_ivf_sign_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    planes = S.hyperplanes(64, 4, seed=7)
    emb_cells = emb.withColumn("cell", S.lsh_bucket(F.col("embedding"), planes))
    centroids = S.cell_centroids(emb_cells)
    queries = emb.filter(F.col("vec_id") < 10)
    out = S.ivf_pretrained_topk(emb_cells, queries, centroids, k=5, n_probe=6)
    return out.select(
        "query_id", "vec_id", "cos_sim", F.col("rank").cast("int").alias("rank")
    )


_PQ_SIGN_ORACLE = f"""
    WITH RECURSIVE {lcg_planes_sql(16, 7, 4, seed=11, seed_step=13)},
    sub AS (
      SELECT vec_id, s AS subspace,
             CAST(embedding[s*4+1 : s*4+4] AS DOUBLE[]) AS subvec
      FROM embeddings, generate_series(0, 15) AS gs(s)
    ),
    bucketed AS (
      SELECT sub.vec_id, sub.subspace,
             CAST(sum(CASE WHEN list_inner_product(sub.subvec, pl.plane) > 0
                           THEN (CAST(1 AS BIGINT) << pl.p) ELSE CAST(0 AS BIGINT) END)
                  AS BIGINT) AS code
      FROM sub JOIN planes pl ON pl.t = sub.subspace
      GROUP BY sub.vec_id, sub.subspace
    ),
    cb AS (
      SELECT subspace, code, list(round(m, 6) ORDER BY j) AS centroid
      FROM (
        SELECT b.subspace AS subspace, b.code AS code, j, avg(s.subvec[j]) AS m
        FROM bucketed b
        JOIN sub s ON s.vec_id = b.vec_id AND s.subspace = b.subspace,
             generate_series(1, 4) AS gj(j)
        GROUP BY b.subspace, b.code, j
      ) GROUP BY subspace, code
    ),
    dists AS (
      SELECT sub.vec_id, sub.subspace, cb.code,
             CAST(round(list_inner_product(
                list_transform(list_zip(sub.subvec, cb.centroid), z -> z[1] - z[2]),
                list_transform(list_zip(sub.subvec, cb.centroid), z -> z[1] - z[2])
             ) * 1000000.0, 0) AS BIGINT) AS dmicro
      FROM sub JOIN cb ON sub.subspace = cb.subspace
    ),
    codes AS (
      SELECT vec_id, subspace, code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
                                     ORDER BY dmicro ASC, code ASC) AS rn
        FROM dists
      ) WHERE rn = 1
    ),
    dtab AS (
      SELECT vec_id AS query_id, subspace, code, dmicro
      FROM dists WHERE vec_id < 10
    ),
    scored AS (
      SELECT d.query_id, c.vec_id, CAST(sum(d.dmicro) AS BIGINT) AS adc_dist_micro
      FROM codes c JOIN dtab d ON c.subspace = d.subspace AND c.code = d.code
      WHERE c.vec_id <> d.query_id
      GROUP BY d.query_id, c.vec_id
    ){top5_sql("adc_dist_micro", "ASC")}"""


@register(
    "ann_pq_sign_topk",
    oracle=_PQ_SIGN_ORACLE,
    doc=(
        "PQ-ADC top-5 with an OFFLINE sign-pattern codebook (16 subspaces, codes "
        "= non-empty sign buckets against 7 per-subspace LCG hyperplanes, "
        "centroids the rounded bucket means) and INTEGER micro-unit distance "
        "tables: the ADC score is an exact BIGINT sum of 16 table lookups, "
        "immune to float summation order — so the compressed-scan search path is "
        "value-checked by the oracle (the self-training kmeans variant "
        "ann_pq_topk stays recall-bounded in tests). Integerized tables mirror "
        "the production SIMD ADC trick."
    ),
)
def ann_pq_sign_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    codebooks = S.sign_codebooks(emb, m=16, dim=64, planes_per_subspace=7)
    queries = emb.filter(F.col("vec_id") < 10)
    out = S.pq_pretrained_topk(emb, queries, codebooks, k=5, m=16, dim=64)
    return out.select(
        "query_id",
        "vec_id",
        "adc_dist_micro",
        F.col("rank").cast("int").alias("rank"),
    )


@register(
    "ann_pq_topk",
    oracle=None,
    doc=(
        "Product-quantization ADC top-5 (Jégou et al. 2011): 16 subspaces "
        "x 64 codes, per-query distance tables broadcast, corpus scanned "
        "as codes only and scored by table-lookup sums — the compressed "
        "ANN path (no per-pair FLOPs). Approximate: recall-bounded in "
        "tests against the exact L2 brute force, no value oracle."
    ),
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return S.pq_topk(emb, queries, k=5, m=16, ksub=64, dim=64)


# ---------------------------------------------------------------------------
# Recall@k as VALUE rows: the tuning metric a practitioner actually runs
# (approx top-k ∩ exact top-k / k), computed end-to-end in-Spark and
# value-checked by an oracle that replays BOTH pipelines. This is possible
# for the offline sign-pattern quantizers because every ingredient is
# bit-exactly replicable in SQL; the Lloyd-trained twins (ann_ivf_topk /
# ann_pq_topk) are NOT oracle-expressible — kmeans feeds float averages
# back into the next round's assignment, so cross-engine summation order
# can flip an assignment and cascade — and stay recall-bounded in pytest
# (documented in COVERAGE.md).
# ---------------------------------------------------------------------------


def _recall_vs(brute: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query recall@5: fraction of the exact top-5 the approximate
    search retrieved. Exact integer hit counts; n/5.0 is the identical
    IEEE division in both engines."""
    hit = brute.join(
        approx.withColumn("hit", F.lit(1)), ["query_id", "vec_id"], "left"
    )
    return hit.groupBy("query_id").agg(
        F.count("hit").alias("n_hits"),
        (F.count("hit") / F.lit(5.0)).alias("recall_at_5"),
    )


@register(
    "ann_ivf_recall_vs_brute",
    oracle=f"""
    WITH brute AS ({_BRUTE_COS_ORACLE}),
    ivf AS ({_IVF_SIGN_ORACLE})
    SELECT b.query_id, CAST(count(i.vec_id) AS BIGINT) AS n_hits,
           CAST(count(i.vec_id) AS DOUBLE) / 5.0 AS recall_at_5
    FROM brute b
    LEFT JOIN ivf i ON i.query_id = b.query_id AND i.vec_id = b.vec_id
    GROUP BY b.query_id
    """,
    doc=(
        "VALUE-CHECKED recall@5 of the offline sign-quantizer IVF search "
        "against the exact cosine brute tier, per query — the oracle "
        "replays both pipelines (bit-exact LCG hyperplanes, rounded "
        "centroids, integer hit counts) so the recall number itself "
        "hash-matches. The quality gate you rerun when tuning "
        "n_probe/n_cells, as a driver row instead of a pytest bound."
    ),
)
def ann_ivf_recall_vs_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    planes = S.hyperplanes(64, 4, seed=7)
    emb_cells = emb.withColumn("cell", S.lsh_bucket(F.col("embedding"), planes))
    centroids = S.cell_centroids(emb_cells)
    ivf = S.ivf_pretrained_topk(
        emb_cells, queries, centroids, k=5, n_probe=6
    ).select("query_id", "vec_id")
    brute = S.cosine_topk(emb, queries, k=5).select("query_id", "vec_id")
    return _recall_vs(brute, ivf)


# Exact L2 ground truth in the same integer micro-units the ADC scorer
# uses (round(l2sq * 1e6) as BIGINT) — ranking is integer, order-immune.
_BRUTE_L2_ORACLE = """
    WITH dists AS (
      SELECT q.vec_id AS query_id, a.vec_id AS vec_id,
             CAST(round(list_inner_product(
               list_transform(list_zip(CAST(a.embedding AS DOUBLE[]),
                                       CAST(q.embedding AS DOUBLE[])),
                              z -> z[1] - z[2]),
               list_transform(list_zip(CAST(a.embedding AS DOUBLE[]),
                                       CAST(q.embedding AS DOUBLE[])),
                              z -> z[1] - z[2])
             ) * 1000000.0, 0) AS BIGINT) AS dmicro
      FROM embeddings a
      JOIN embeddings q ON q.vec_id < 10 AND a.vec_id <> q.vec_id
    )
    SELECT query_id, vec_id FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY dmicro ASC, vec_id ASC) AS rank
      FROM dists
    ) WHERE rank <= 5
    """


@register(
    "ann_pq_recall_vs_brute",
    oracle=f"""
    WITH brute AS ({_BRUTE_L2_ORACLE}),
    pq AS ({_PQ_SIGN_ORACLE})
    SELECT b.query_id, CAST(count(p.vec_id) AS BIGINT) AS n_hits,
           CAST(count(p.vec_id) AS DOUBLE) / 5.0 AS recall_at_5
    FROM brute b
    LEFT JOIN pq p ON p.query_id = b.query_id AND p.vec_id = b.vec_id
    GROUP BY b.query_id
    """,
    doc=(
        "VALUE-CHECKED recall@5 of the offline sign-codebook PQ-ADC scan "
        "against the exact L2 brute tier (both ranked on BIGINT "
        "micro-unit distances, immune to float summation order), per "
        "query — the compressed-scan quality metric as a driver row. "
        "The Lloyd-trained ann_pq_topk stays recall-bounded in pytest "
        "(float-feedback loop not oracle-expressible)."
    ),
)
def ann_pq_recall_vs_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    codebooks = S.sign_codebooks(emb, m=16, dim=64, planes_per_subspace=7)
    pq = S.pq_pretrained_topk(emb, queries, codebooks, k=5, m=16, dim=64).select(
        "query_id", "vec_id"
    )
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
    dmicro = (
        F.round(S.l2sq(F.col("embedding"), F.col("q_vec")) * F.lit(1000000.0), 0)
        .cast("long")
        .alias("dmicro")
    )
    # _widen_small_scan (round 13): |emb| x |queries| per-row integer
    # distances serialized on the one-file fixture scan; value-safe
    # (integer dmicro per row, integer-ranked window).
    scored = (
        S._widen_small_scan(emb)
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", dmicro)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dmicro").asc(), F.col("vec_id").asc()
    )
    brute = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id")
    )
    return _recall_vs(brute, pq)


# Single-bank sign-quantizer cells for semantic dedup: seed 7, 8 planes
# x 64 dims, replicated bit-exactly like the multi-table LSH oracle above.
_SEMDEDUP_CELLS = f"""
    {lcg_planes_sql(1, 8, 64)},
    cells AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
             CAST(sum(CASE WHEN list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                                   pl.plane) > 0
                           THEN (CAST(1 AS BIGINT) << pl.p)
                           ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS cell
      FROM embeddings e CROSS JOIN planes pl
      GROUP BY e.vec_id, e.embedding
    )
"""


@register(
    "semantic_dedup_keep_list",
    oracle=f"""
    WITH RECURSIVE {_SEMDEDUP_CELLS},
    pairs AS (
      SELECT a.vec_id AS i, b.vec_id AS j
      FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {cosine_sql("a.v", "b.v")} >= 0.4
    ){components_sql("embeddings", "vec_id")}
    SELECT c.vec_id, CAST(cl.cell AS BIGINT) AS cell, c.component,
           c.component = c.vec_id AS kept
    FROM comp c JOIN cells cl USING (vec_id)
    """,
    doc=(
        "SemDeDup-style semantic dedup keep-list (Abbas et al. 2023): "
        "partition embeddings into deterministic sign-quantizer cells, "
        "verify exact cosine >= 0.4 within cells only, take connected "
        "components of the verified pair graph, keep min-id per "
        "component. The sub-quadratic cluster-then-compare tier of "
        "emb_near_dup_clusters — cell equi-join instead of the tiled "
        "full self-join; fully value-checked because the quantizer is "
        "the seeded-LCG sign family, not Lloyd k-means."
    ),
)
def semantic_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.components import (
        cluster_labels,
    )

    emb = table(spark, sf_dir, "embeddings")
    cells = S.sign_cells(emb, planes=8, dim=64, seed=7)
    pairs = S.semantic_dedup_pairs(emb, threshold=0.4, planes=8, dim=64, seed=7)
    return (
        cluster_labels(emb.select("vec_id"), pairs)
        .join(cells.select("vec_id", "cell"), "vec_id")
        .select(
            "vec_id",
            "cell",
            "component",
            (F.col("component") == F.col("vec_id")).alias("kept"),
        )
    )


@register(
    "knn_label_accuracy",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, q.label AS true_label,
             a.label AS nn_label, round({_COS}, 6) AS cos_sim,
             a.vec_id AS nn_id
      FROM embeddings a JOIN embeddings q ON a.vec_id <> q.vec_id
    ),
    nn AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, nn_id ASC) AS rn
      FROM scored
    )
    SELECT true_label AS label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(CASE WHEN nn_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(sum(CASE WHEN nn_label = true_label THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS accuracy
    FROM nn WHERE rn = 1 GROUP BY true_label
    """,
    doc=(
        "Embedding-space quality metric: leave-one-out 1-NN label "
        "accuracy per class — for every vector, does its cosine nearest "
        "neighbor carry the same label? The standard linear-probe-free "
        "eval a training pipeline runs after re-embedding a corpus. "
        "Exact pairwise tier via the tiled block self-join (both "
        "orientations), rank on the rounded score + id tie-break so "
        "both engines pick the same neighbor."
    ),
)
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    pairs = S.cosine_self_join(emb, threshold=-1.0, n_blocks=16)
    # Both orientations: each vector as the query side once.
    sym = pairs.select(
        F.col("i").alias("query_id"), F.col("j").alias("nn_id"), "cos_sim"
    ).unionByName(
        pairs.select(
            F.col("j").alias("query_id"), F.col("i").alias("nn_id"), "cos_sim"
        )
    )
    lab = emb.select("vec_id", "label")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("nn_id").asc()
    )
    nn = (
        sym.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(
            F.broadcast(lab.select(F.col("vec_id").alias("query_id"),
                                   F.col("label").alias("true_label"))),
            "query_id",
        )
        .join(
            F.broadcast(lab.select(F.col("vec_id").alias("nn_id"),
                                   F.col("label").alias("nn_label"))),
            "nn_id",
        )
    )
    hit = F.when(F.col("nn_label") == F.col("true_label"), 1).otherwise(0)
    return nn.groupBy(F.col("true_label").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(hit).cast("long").alias("n_correct"),
        F.round(F.sum(hit) / F.count(F.lit(1)).cast("double"), 6).alias("accuracy"),
    )


@register(
    "hard_negative_mining",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS anchor_id, q.label AS anchor_label,
             a.vec_id AS cand_id, a.label AS cand_label,
             round({_COS}, 6) AS cos_sim
      FROM embeddings a
      JOIN embeddings q ON q.vec_id < 10 AND a.vec_id <> q.vec_id
    ),
    pos AS (
      SELECT anchor_id, cand_id AS positive_id, cos_sim AS positive_sim,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY cos_sim DESC, cand_id ASC) AS rn
      FROM scored WHERE cand_label = anchor_label
    ),
    neg AS (
      SELECT anchor_id, cand_id AS negative_id, cos_sim AS negative_sim,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY cos_sim DESC, cand_id ASC) AS rn
      FROM scored WHERE cand_label <> anchor_label
    )
    SELECT p.anchor_id, p.positive_id, p.positive_sim,
           n.negative_id, n.negative_sim,
           p.positive_sim - n.negative_sim AS margin
    FROM pos p JOIN neg n USING (anchor_id)
    WHERE p.rn = 1 AND n.rn = 1
    """,
    doc=(
        "Contrastive-training triplet mining (anchor, hardest positive, "
        "hardest negative): for each anchor (vec_id < 10, broadcast), "
        "the most-similar same-label vector and the most-similar "
        "DIFFERENT-label vector — the in-batch hard-negative recipe "
        "every embedding-model trainer runs over its corpus. One "
        "broadcast scan + two per-anchor windows; margin < 0 flags "
        "anchors whose nearest neighbor crosses the class boundary."
    ),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("q_vec"),
    )
    scored = (
        emb.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "anchor_label",
            F.col("vec_id").alias("cand_id"),
            F.col("label").alias("cand_label"),
            F.round(S.cosine(F.col("embedding"), F.col("q_vec")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id").asc()
    )
    pos = (
        scored.filter(F.col("cand_label") == F.col("anchor_label"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "anchor_id",
            F.col("cand_id").alias("positive_id"),
            F.col("cos_sim").alias("positive_sim"),
        )
    )
    neg = (
        scored.filter(F.col("cand_label") != F.col("anchor_label"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "anchor_id",
            F.col("cand_id").alias("negative_id"),
            F.col("cos_sim").alias("negative_sim"),
        )
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "positive_id",
        "positive_sim",
        "negative_id",
        "negative_sim",
        (F.col("positive_sim") - F.col("negative_sim")).alias("margin"),
    )


_MMR_K, _MMR_POOL, _MMR_LAMBDA = 5, 20, 0.7


def _mmr_oracle(k: int = _MMR_K) -> str:
    """Unrolled greedy MMR rounds (same chained-CTE discipline as the
    perceptron oracle): sel{r} accumulates picks; each round scores the
    remaining pool 0.7*sim(q,d) - 0.3*max_{s in sel} sim(d,s) on the
    6dp-rounded sims, so the argmax is cross-engine deterministic."""
    rounds = []
    prev = "sel1"
    for r in range(2, k + 1):
        rounds.append(f"""
    s{r} AS (
      SELECT query_id, cand_id, {r} AS pick_order, mmr_score FROM (
        SELECT c.query_id, c.cand_id,
               round({_MMR_LAMBDA} * c.simq
                     - {round(1 - _MMR_LAMBDA, 10)} * coalesce(m.maxs, 0.0), 7)
                 AS mmr_score,
               row_number() OVER (PARTITION BY c.query_id ORDER BY
                 {_MMR_LAMBDA} * c.simq
                 - {round(1 - _MMR_LAMBDA, 10)} * coalesce(m.maxs, 0.0) DESC,
                 c.cand_id ASC) AS rn
        FROM cands c
        LEFT JOIN (
          SELECT p.query_id, p.a AS cand_id, max(p.sim) AS maxs
          FROM psim p JOIN {prev} s ON s.query_id = p.query_id AND s.cand_id = p.b
          GROUP BY 1, 2
        ) m ON m.query_id = c.query_id AND m.cand_id = c.cand_id
        WHERE NOT EXISTS (SELECT 1 FROM {prev} s
                          WHERE s.query_id = c.query_id AND s.cand_id = c.cand_id)
      ) WHERE rn = 1
    ),
    sel{r} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM s{r})""")
        prev = f"sel{r}"
    chain = ",".join(rounds)
    return f"""
    WITH ranked AS (
      SELECT q.vec_id AS query_id, a.vec_id AS cand_id,
             round({_COS}, 6) AS simq,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY round({_COS}, 6) DESC, a.vec_id ASC) AS rk
      FROM embeddings a
      JOIN embeddings q ON q.vec_id < 10 AND a.vec_id <> q.vec_id
    ),
    cands AS (SELECT query_id, cand_id, simq FROM ranked WHERE rk <= {_MMR_POOL}),
    psim AS (
      SELECT ca.query_id, ca.cand_id AS a, cb.cand_id AS b,
             round({cosine_sql("CAST(ea.embedding AS DOUBLE[])",
                               "CAST(eb.embedding AS DOUBLE[])")}, 6) AS sim
      FROM cands ca
      JOIN cands cb ON ca.query_id = cb.query_id AND ca.cand_id <> cb.cand_id
      JOIN embeddings ea ON ea.vec_id = ca.cand_id
      JOIN embeddings eb ON eb.vec_id = cb.cand_id
    ),
    s1pre AS (
      SELECT query_id, cand_id, 1 AS pick_order,
             round({_MMR_LAMBDA} * simq, 7) AS mmr_score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY simq DESC, cand_id ASC) AS rn
      FROM cands
    ),
    sel1 AS (SELECT query_id, cand_id, pick_order, mmr_score FROM s1pre WHERE rn = 1)
    {"," + chain if chain else ""}
    SELECT query_id, cand_id AS vec_id,
           CAST(pick_order AS INTEGER) AS pick_order, mmr_score
    FROM {prev}
    """


@register(
    "mmr_diverse_topk",
    oracle=_mmr_oracle(),
    doc=(
        "Maximal Marginal Relevance re-ranking (Carbonell & Goldstein "
        "1998): greedily pick 5 of the top-20 cosine candidates per "
        "query, trading relevance against redundancy (lambda = 0.7) — "
        "the diversity-aware retrieval step RAG/dedup pipelines run on "
        "top of ANN results. Per-query candidate pools are tiny by "
        "construction, so the greedy rounds are broadcast-joined "
        "argmaxes over a bounded set; sims are 6dp-rounded before "
        "scoring, making the whole greedy trajectory value-checkable "
        "against unrolled round CTEs."
    ),
)
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    # Checkpoint the candidate pools FIRST: psim's pair join references
    # the pool twice (a and b sides), so building it from the lazy
    # cosine_topk plan executed the brute-force cross-join + window
    # subtree twice inside the psim job and a third time for the cands
    # checkpoint itself. Deriving psim from the materialized pool makes
    # the expensive top-k run exactly once; the pair rows are identical
    # (same pool, deterministic top-k), so the greedy trajectory and the
    # oracle hashes are unchanged.
    cands = (
        S.cosine_topk(emb, queries, k=_MMR_POOL)
        .select("query_id", F.col("vec_id").alias("cand_id"), F.col("cos_sim").alias("simq"))
        .localCheckpoint(eager=True)
    )
    vecs = emb.select(F.col("vec_id").alias("cand_id"), "embedding")
    cv = cands.join(vecs, "cand_id")
    a = cv.select("query_id", F.col("cand_id").alias("a"), F.col("embedding").alias("va"))
    b = cv.select("query_id", F.col("cand_id").alias("b"), F.col("embedding").alias("vb"))
    psim = (
        a.join(b, "query_id")
        .filter(F.col("a") != F.col("b"))
        .select("query_id", "a", "b", F.round(S.cosine(F.col("va"), F.col("vb")), 6).alias("sim"))
        .localCheckpoint(eager=True)
    )

    w = Window.partitionBy("query_id")
    first = (
        cands.withColumn(
            "rn", F.row_number().over(w.orderBy(F.col("simq").desc(), F.col("cand_id").asc()))
        )
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            "cand_id",
            F.lit(1).alias("pick_order"),
            F.round(F.lit(_MMR_LAMBDA) * F.col("simq"), 7).alias("mmr_score"),
        )
    )
    selected = first.localCheckpoint(eager=True)
    for r in range(2, _MMR_K + 1):
        maxs = (
            psim.join(
                selected.select("query_id", F.col("cand_id").alias("b")),
                ["query_id", "b"],
            )
            .groupBy("query_id", F.col("a").alias("cand_id"))
            .agg(F.max("sim").alias("maxs"))
        )
        score = F.lit(_MMR_LAMBDA) * F.col("simq") - F.lit(
            round(1 - _MMR_LAMBDA, 10)
        ) * F.coalesce(F.col("maxs"), F.lit(0.0))
        pick = (
            cands.join(selected.select("query_id", "cand_id", F.lit(1).alias("__in")),
                       ["query_id", "cand_id"], "left")
            .filter(F.col("__in").isNull())
            .join(maxs, ["query_id", "cand_id"], "left")
            .withColumn("rn", F.row_number().over(
                w.orderBy(score.desc(), F.col("cand_id").asc())))
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                "cand_id",
                F.lit(r).alias("pick_order"),
                F.round(score, 7).alias("mmr_score"),
            )
        )
        selected = selected.unionByName(pick).localCheckpoint(eager=True)
    return selected.select(
        "query_id",
        F.col("cand_id").alias("vec_id"),
        F.col("pick_order").cast("int").alias("pick_order"),
        "mmr_score",
    )

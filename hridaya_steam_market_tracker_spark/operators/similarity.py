"""Embedding similarity search: brute-force cosine top-k (baseline) and
random-hyperplane LSH bucketing (scale path).

Scale design: brute force is exact and fine when the query set is small
(queries x corpus via broadcast of the query side — the corpus never
shuffles). For corpus-x-corpus at 100 TB, the LSH variant buckets
vectors by sign-pattern against fixed hyperplanes, so candidate
generation is a bucket-equi-join instead of a cross join; IVF
(centroid assignment) composes the same way via the kmeans-lite
centroids helper.

Dot products run as native higher-order functions (zip_with +
aggregate), JVM-side, on double precision — deterministic
sequential-fold order so the DuckDB oracle (list_inner_product on
DOUBLE[]) reproduces values exactly.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, GroupedData, Window
from pyspark.sql import functions as F

from hridaya_steam_market_tracker_spark.checkpoints import stage_checkpoint
from hridaya_steam_market_tracker_spark.operators.text import bind1


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm2(a: Column) -> Column:
    return _dot(a, a)


def _widen_small_scan(df: DataFrame) -> DataFrame:
    """Adaptive parallelism for compute-heavy per-row stages: when the
    input scan has far fewer partitions than the session has slots (the
    bench fixture's embeddings table is ONE ~800 KB parquet file = one
    row group = one task), repartition to defaultParallelism so the
    per-row bucket computation (tables x planes fused dot products)
    uses every core instead of serializing onto a single task.

    At real scale the scan already has >= slots partitions, the
    condition is false, and NO shuffle is inserted — the 100 TB plan is
    unchanged. Only the tiny-input case pays one ~MB round-robin
    exchange, which is exactly the trade a production engine makes
    (AQE coalesces the opposite direction for the same reason). The
    partition-count probe is driver-side plan analysis, no job runs."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # One .rdd conversion, read once at plan-build time (no job runs);
    # the micro-batch hot paths carry no .rdd at all (DataFrame.isEmpty
    # in streaming/corpus_ingest.py).
    n_parts = df.rdd.getNumPartitions()
    if n_parts * 4 <= target:
        return df.repartition(target)
    return df


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / F.sqrt(_norm2(a) * _norm2(b))


def l2sq(a: Column, b: Column) -> Column:
    """Squared euclidean distance (native fold, deterministic order)."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cand_cos_sim(vec_col: str) -> Column:
    """A candidate row's cosine against its query's ``q_vec``, rounded to
    6 and aliased ``cos_sim``, over the squared norms ``__nv`` / ``__nq``
    precomputed once per vector before the candidate join. Bit-identical
    to cosine(): the same folds, evaluated once per vector instead of
    once per candidate (each corpus vector meets many queries)."""
    return F.round(
        _dot(F.col(vec_col), F.col("q_vec")) / F.sqrt(F.col("__nv") * F.col("__nq")),
        6,
    ).alias("cos_sim")


def _top_k(scored: DataFrame, k: int, order: Column, id_col: str) -> DataFrame:
    """Each query's rows numbered by ``order`` then id as ``rank``, kept
    at rank <= k."""
    w = Window.partitionBy("query_id").orderBy(order, F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _argmin(scored: DataFrame, keys: list[str], *order: Column) -> DataFrame:
    """The first row of each ``keys`` group under ``order`` (the caller
    drops the ``__rn`` column)."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return scored.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query vector (brute force, query side
    broadcast). Output: (query_id, vec_id, cos_sim, rank)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm2(F.col(vec_col)).alias("__nq"),
    )
    # _widen_small_scan (round 13): the brute scan is |emb| x |queries|
    # per-row folds; a one-file fixture scan serialized it on one task.
    # Value-safe — every output is a per-row round(dot/sqrt), no
    # cross-row float aggregation, so partitioning cannot move a value.
    joined = (
        _widen_small_scan(embeddings)
        .withColumn("__nv", _norm2(F.col(vec_col)))
        .crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
    )
    scored = joined.select("query_id", F.col(id_col), _cand_cos_sim(vec_col))
    return _top_k(scored, k, F.col("cos_sim").desc(), id_col)


def cosine_self_join(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_blocks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT cosine similarity self-join (all pairs >= threshold) as a
    tiled block join — the scalable shape for exact pairwise work.

    An exact mid-threshold join over dense vectors is inherently
    O(n^2 * d) FLOPs (sign-LSH cannot prune losslessly at cos 0.4:
    per-hyperplane agreement is only 0.63 vs 0.50 for random pairs), so
    the win available is execution shape, not asymptotics: tile the pair
    matrix. Each side is replicated to its row/column of an upper-
    triangular B x B tile grid and the tiles meet in ONE equi-join on
    (bl, br) — B(B+1)/2 balanced keys, every task holds two n/B blocks,
    no CartesianProduct, no single-task nested loop, and AQE can split
    any straggler tile. Sub-quadratic variants live in lsh_topk /
    ivf_topk; this operator is the exact one.

    Output: (i, j, cos_sim) with i < j, cos_sim rounded to 6.
    """
    spark = embeddings.sparkSession
    grid = spark.createDataFrame(
        [(x, y) for x in range(n_blocks) for y in range(x, n_blocks)],
        "bl int, br int",
    )
    # Squared norms precomputed per vector BEFORE tiling: each vector is
    # replicated across a whole tile row/column and then meets n/B
    # counterparts, so folding _norm2 inside cosine() per pair row costs
    # 2 of every 3 folds for values that never change. dot/sqrt(na*nb)
    # is bit-identical to cosine() (same folds, evaluated earlier).
    a = embeddings.select(
        F.col(id_col).alias("ia"),
        F.col(vec_col).alias("va"),
        F.pmod(F.col(id_col), F.lit(n_blocks)).cast("int").alias("ba"),
        _norm2(F.col(vec_col)).alias("__na"),
    )
    b = embeddings.select(
        F.col(id_col).alias("ib"),
        F.col(vec_col).alias("vb"),
        F.pmod(F.col(id_col), F.lit(n_blocks)).cast("int").alias("bb"),
        _norm2(F.col(vec_col)).alias("__nb"),
    )
    # Replicate each row across its tile row/column (broadcast of the
    # tiny grid), then ONE shuffle joins matching tiles.
    a_tiles = a.join(F.broadcast(grid), a["ba"] == grid["bl"]).select(
        "ia", "va", "__na", "bl", "br"
    )
    b_tiles = b.join(F.broadcast(grid), b["bb"] == grid["br"]).select(
        "ib", "vb", "__nb", "bl", "br"
    )
    tiles = a_tiles.join(b_tiles, ["bl", "br"])
    # Off-diagonal tiles see each unordered pair once (a holds the lower
    # block id); diagonal tiles see both orientations -> keep ia < ib.
    pairs = tiles.filter(
        (F.col("bl") != F.col("br")) | (F.col("ia") < F.col("ib"))
    )
    c = _dot(F.col("va"), F.col("vb")) / F.sqrt(F.col("__na") * F.col("__nb"))
    return (
        pairs.filter(c >= threshold)
        .select(
            F.least("ia", "ib").alias("i"),
            F.greatest("ia", "ib").alias("j"),
            F.round(c, 6).alias("cos_sim"),
        )
    )


def hyperplanes(dim: int, planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG-based, no numpy
    state): reproducible across sessions and engines."""
    out = []
    state = seed
    for _ in range(planes):
        vec = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            vec.append((state / float(1 << 63)) * 2.0 - 1.0)
        out.append(vec)
    return out


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id: bit p = 1 iff dot(vec, plane_p) > 0."""
    bucket = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(x) for x in plane])
        bit = F.when(_dot(vec, plane_col) > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket.bitwiseOR(F.shiftleft(bit, p))
    return bucket


def _planes_hp_df(
    spark, tables: int, planes_per_table: int, dim: int, seed: int = 7, seed_step: int = 97
) -> DataFrame:
    """The LSH hyperplane bank as a ONE-ROW broadcast DataFrame
    (hp: array<array<array<double>>>, [table][plane][component]); table
    t's planes come from ``hyperplanes`` seeded ``seed + seed_step * t``.

    Shipping the planes as DATA instead of inlining tables x planes x
    dim scalar Literals keeps the expression tree (and the generated
    code) constant-size as the bank grows — the 8x4x64 multiprobe plan
    was ~1 MB of literal nodes and paid seconds of analysis/codegen
    per run; as a broadcast attribute it is one join input. Values are
    bit-identical (Python float -> DoubleType is exact), so the DuckDB
    oracle replication is untouched."""
    hp = [
        hyperplanes(dim, planes_per_table, seed=seed + seed_step * t)
        for t in range(tables)
    ]
    return spark.createDataFrame([(hp,)], "hp array<array<array<double>>>")


def _bucket_from_dots(dots: Column, planes_per_table: int) -> Column:
    """Sign-pattern bucket id from a per-table dot-product array."""
    return functools.reduce(
        lambda a, b: a + b,
        [
            F.when(
                F.element_at(dots, p + 1) > 0, F.lit(1 << p).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            for p in range(planes_per_table)
        ],
    )


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    tables: int = 8,
    planes_per_table: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k via MULTI-TABLE random-hyperplane LSH.

    A single sign-pattern table has vanishing recall in high dimension
    (P[all signs agree] ~ p^planes); L independent small tables give
    1-(1-p^r)^L — with 8 tables x 4 planes, a cos=0.5 neighbor
    (p ~= 2/3) is retrieved w.p. ~0.84. Candidates = union of bucket
    matches over tables (one equi-join on (table, bucket)), then exact
    cosine + rank within candidates only.
    """
    return _lsh_topk(
        embeddings, queries, k, tables, planes_per_table, id_col, vec_col, dim,
        probe_flips=False,
    )


def lsh_multiprobe_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    tables: int = 8,
    planes_per_table: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al., VLDB'07, public algorithm): in
    each table, probe the query's own bucket AND the bucket with the
    LEAST-CONFIDENT sign bit flipped (the plane whose |dot| is smallest
    — the bit most likely to differ for a true neighbor). Doubles
    per-table retrieval probability for ~2x probe cost, no extra
    tables: recall 0.68 -> 0.90 on the fixture at 8x4 planes.

    The flip choice is a deterministic argmin over bit-exact dot
    products, so the whole probe set — hence the result — remains
    value-checkable by a SQL oracle, like plain lsh_topk. The corpus
    side still indexes ONE bucket per table (storage unchanged); only
    the query side fans out, which is the property that matters at
    100 TB (probing is per-query work, bucketing is per-corpus work).
    """
    return _lsh_topk(
        embeddings, queries, k, tables, planes_per_table, id_col, vec_col, dim,
        probe_flips=True,
    )


def _lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    tables: int,
    planes_per_table: int,
    id_col: str,
    vec_col: str,
    dim: int,
    probe_flips: bool,
) -> DataFrame:
    """The body of lsh_topk (``probe_flips`` off: each query probes its
    own bucket per table) and lsh_multiprobe_topk (on: also the
    least-confident-bit flip)."""
    planes_df = _planes_hp_df(embeddings.sparkSession, tables, planes_per_table, dim)

    def bucket_structs(vec: Column, with_flips: bool) -> Column:
        # ONE lambda over the table indices instead of `tables` copies
        # of the probe/flip subtree (driver-side plan size — the same
        # analysis-cost class as the sign-codebook plane bank; values
        # and per-row work identical).
        def per_table(t: Column) -> Column:
            dots = F.transform(
                F.element_at(F.col("hp"), t + 1), lambda pl: _dot(vec, pl)
            )

            # bind1: every reference to `dots` below (one per plane for
            # the bucket, plus the |dot| argmin for the flip) would
            # otherwise re-run the whole per-table dot-product transform
            # — no CSE across repeated subtrees in interpreted HOF
            # expressions. Binding evaluates the fused dot products
            # exactly once per (row, table).
            def build(d: Column) -> Column:
                bucket = _bucket_from_dots(d, planes_per_table)
                own = F.struct(t.alias("tbl"), bucket.alias("bucket"))
                if not with_flips:
                    return F.array(own)
                absd = F.transform(d, lambda x: F.abs(x))
                flip = F.array_position(absd, F.array_min(absd)) - 1
                # .otherwise(0): a NaN embedding component makes every dot
                # NaN, array_min returns NULL, and flip matches no arm —
                # without a default the whole mask/bucket goes NULL and the
                # probe row silently drops. Re-probing the own bucket (xor 0)
                # degrades exactly like plain lsh_topk does on the same input.
                flip_mask = functools.reduce(
                    lambda a, b: a.when(*b),
                    [(flip == p, F.lit(1 << p).cast("long")) for p in range(1, planes_per_table)],
                    F.when(flip == 0, F.lit(1).cast("long")),
                ).otherwise(F.lit(0).cast("long"))
                return F.array(
                    own,
                    F.struct(
                        t.alias("tbl"),
                        bucket.bitwiseXOR(flip_mask).alias("bucket"),
                    ),
                )

            return bind1(dots, build)

        return F.flatten(
            F.transform(F.sequence(F.lit(0), F.lit(tables - 1)), per_table)
        )

    emb_b = (
        _widen_small_scan(embeddings)
        .crossJoin(F.broadcast(planes_df))
        .select(
            F.col(id_col),
            F.col(vec_col),
            _norm2(F.col(vec_col)).alias("__nv"),
            F.explode(bucket_structs(F.col(vec_col), with_flips=False)).alias("bb"),
        )
        .select(id_col, vec_col, "__nv", "bb.tbl", "bb.bucket")
    )
    q_b = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
        .crossJoin(F.broadcast(planes_df))
        .select(
            "query_id",
            "q_vec",
            _norm2(F.col("q_vec")).alias("__nq"),
            F.explode(bucket_structs(F.col("q_vec"), with_flips=probe_flips)).alias("bb"),
        )
        .select("query_id", "q_vec", "__nq", "bb.tbl", "bb.bucket")
    )
    # Score BEFORE deduplicating: cosine is deterministic, so a candidate
    # pair seen in several (table[, probe]) buckets scores identically
    # everywhere and any surviving duplicate row is interchangeable.
    # Scoring first means the dedup exchange moves (query_id, id, double)
    # — three narrow columns — instead of rows still carrying BOTH
    # dim-double vectors (2*dim*8 bytes/row). The re-scored duplicates
    # cost one extra fused dot product each (scan-stage, no shuffle) —
    # far cheaper than the wide exchange they replace.
    scored = (
        emb_b.join(F.broadcast(q_b), ["tbl", "bucket"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col), _cand_cos_sim(vec_col))
        .dropDuplicates(["query_id", id_col])
    )
    return _top_k(scored, k, F.col("cos_sim").desc(), id_col)


def _elementwise_mean(assigned: DataFrame, group_col: str, vec_col: str) -> DataFrame:
    exploded = assigned.select(
        F.col(group_col), F.posexplode(F.col(vec_col)).alias("pos", "x")
    )
    return (
        exploded.groupBy(group_col, "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("mean_x"))
        .groupBy(group_col)
        .agg(
            F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("mean_x")))).alias("pairs")
        )
        .select(group_col, F.transform(F.col("pairs"), lambda s: s["mean_x"]).alias("centroid"))
    )


def _seed_cells(embeddings: DataFrame, n: int, id_col: str, vec_col: str) -> DataFrame:
    """``n`` QUASI-RANDOM seed vectors as (cell, vec_col), cells 1..n in
    id order: order by a salted md5 of the id and take the first n.
    This compiles to TakeOrdered (distributed top-k) — never a global
    window sort, which would shuffle the whole dataset into one task —
    and hash order decorrelates the seeds from any id/label clustering,
    spreading them across the data's clusters (better Lloyd starts,
    stabler recall than first-k-ids seeding). The row_number window
    runs on the n-row seed set only."""
    seeds = embeddings.orderBy(
        F.md5(F.concat(F.lit("seed:"), F.col(id_col).cast("string"))), id_col
    ).limit(n)
    return seeds.select(
        F.row_number().over(Window.orderBy(id_col)).alias("cell"), F.col(vec_col)
    )


def kmeans_lite(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Deterministic mini k-means (IVF coarse quantizer): seed with k
    quasi-random vectors (``_seed_cells``), run `iters` assign/recompute
    rounds.

    Fully distributed: assignment is a broadcast cross join + argmin
    (k is small), recomputation is the posexplode element-wise mean —
    the standard Lloyd iteration as two Catalyst plans per round.
    Returns (cell, centroid).
    """
    centroids = _seed_cells(embeddings, k, id_col, vec_col).select(
        "cell",
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("centroid"),
    )
    for _ in range(iters):
        assigned = assign_cells(embeddings, centroids, id_col, vec_col, metric)
        # stage-checkpoint the k-row centroid frame each round: without it,
        # round N's assignment plan nests round N-1's whole centroid plan
        # (and pq_train multiplies that by m subspaces), so lineage depth
        # grows linearly and every round re-derives all prior rounds. The
        # checkpoint materializes k tiny rows and keeps plan depth constant.
        centroids = _elementwise_mean(
            assigned.select("cell", F.col(vec_col)), "cell", vec_col
        ).transform(stage_checkpoint)
    return centroids


def assign_cells(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Nearest-centroid cell per vector; broadcast argmin. ``metric`` is
    "cosine" (max similarity — IVF) or "l2" (min distance — PQ)."""
    if metric == "cosine":
        # norms once per vector / per centroid, not per (vector,
        # centroid) row (bit-identical to cosine(): same folds)
        score = _dot(F.col(vec_col), F.col("centroid")) / F.sqrt(
            F.col("__nv") * F.col("__nc")
        )
        order = F.col("__sim").desc()
        scored = (
            embeddings.withColumn("__nv", _norm2(F.col(vec_col)))
            .crossJoin(
                F.broadcast(centroids.withColumn("__nc", _norm2(F.col("centroid"))))
            )
            .withColumn("__sim", score)
            .drop("__nv", "__nc")
        )
    else:
        score = l2sq(F.col(vec_col), F.col("centroid"))
        order = F.col("__sim").asc()
        scored = embeddings.crossJoin(F.broadcast(centroids)).withColumn(
            "__sim", score
        )
    return _argmin(scored, [id_col], order, F.col("cell")).drop(
        "__rn", "__sim", "centroid"
    )


def _ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
    cell_col: str,
    round_probe_sim: bool,
) -> DataFrame:
    """IVF search over a quantized corpus: each query probes the
    ``n_probe`` cells whose centroid is most cosine-similar (cell breaks
    ties; the similarity rounded to 6 when ``round_probe_sim``), and
    only the vectors in those cells are scored and ranked.
    ``embeddings`` carries ``cell_col``; ``centroids`` is (cell_col,
    centroid)."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    sim = cosine(F.col("q_vec"), F.col("centroid"))
    q_cells = q.crossJoin(F.broadcast(centroids)).select(
        "query_id",
        "q_vec",
        F.col(cell_col),
        (F.round(sim, 6) if round_probe_sim else sim).alias("__sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col(cell_col).asc()
    )
    probes = (
        q_cells.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= n_probe)
        .select("query_id", "q_vec", cell_col)
    )
    cands = (
        embeddings.withColumn("__nv", _norm2(F.col(vec_col)))
        .join(F.broadcast(probes.withColumn("__nq", _norm2(F.col("q_vec")))), cell_col)
        .filter(F.col(id_col) != F.col("query_id"))
    )
    scored = cands.select("query_id", F.col(id_col), _cand_cos_sim(vec_col))
    return _top_k(scored, k, F.col("cos_sim").desc(), id_col)


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: search only the n_probe cells nearest to
    each query. Candidate generation is a (cell) equi-join against the
    inverted file — at 100 TB the corpus is bucketed by cell on disk
    and a probe reads n_probe/n_cells of the data."""
    centroids = kmeans_lite(embeddings, k=n_cells, id_col=id_col, vec_col=vec_col)
    inverted = assign_cells(embeddings, centroids, id_col, vec_col)
    return _ivf_topk(
        inverted, queries, centroids, k, n_probe, id_col, vec_col, "cell",
        round_probe_sim=False,
    )


def label_centroids(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid (IVF coarse quantizer building block):
    element-wise mean via posexplode + groupBy — fully distributed."""
    return _elementwise_mean(embeddings, label_col, vec_col)


def _dsub(dim: int, m: int) -> int:
    """The PQ subspace width dim // m. Raises when m does not divide dim:
    the trailing dimensions would silently drop from the codebooks and
    the ADC distances."""
    if dim % m:
        raise ValueError(
            f"dim={dim} not divisible by m={m}: trailing dimensions would "
            "silently drop from codebooks and ADC distances"
        )
    return dim // m


def pq_train(
    embeddings: DataFrame,
    m: int = 16,
    ksub: int = 64,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks (public Jégou et al. 2011): split
    the vector into ``m`` subspaces of dim/m and train an independent
    L2 kmeans-lite codebook of ``ksub`` centroids in each.

    Returns (subspace, code, centroid). Round 13: the m per-subspace
    Lloyd runs train JOINTLY — one (id, subspace, subvec) relation, one
    broadcast-argmin assignment and one (subspace, cell)-keyed
    element-wise mean per round — so a Lloyd round is ONE plan / ONE
    eager checkpoint job covering every codebook, instead of m
    thread-pooled per-subspace loops (m * iters driver-scheduled jobs;
    ~167 jobs at the fixture's 16x2). Seeds, cell numbering and the
    per-round argmin tie-breaks replicate the sequential variant
    exactly: the seed hash salts the id only, so every subspace seeded
    with the SAME k lowest-hash ids before and does now; the only
    permitted difference is float-mean summation order inside each
    (subspace, cell, pos) group, which the shuffle already made
    layout-dependent (both consumers are rows-only/recall-bounded —
    the value-oracled PQ tier trains offline via sign_codebooks).
    """
    dsub = _dsub(dim, m)
    sub_all = _subvectors(
        embeddings.select(F.col(id_col), F.col(vec_col)), [id_col], vec_col, m, dsub
    )
    seed_cells = _seed_cells(embeddings, ksub, id_col, vec_col)
    books = _subvectors(seed_cells, ["cell"], vec_col, m, dsub).select(
        "subspace",
        "cell",
        F.transform(F.col("subvec"), lambda x: x.cast("double")).alias("centroid"),
    )
    for _ in range(iters):
        scored = sub_all.join(F.broadcast(books), "subspace").withColumn(
            "__sim", l2sq(F.col("subvec"), F.col("centroid"))
        )
        assigned = _argmin(
            scored, [id_col, "subspace"], F.col("__sim").asc(), F.col("cell")
        ).select("subspace", "cell", F.col("subvec"))
        # eager checkpoint per round (the kmeans_lite discipline): keeps
        # plan depth constant; one tiny (m * ksub)-row materialization.
        books = (
            _elementwise_mean(
                assigned.select(
                    F.struct("subspace", "cell").alias("sc"), F.col("subvec")
                ),
                "sc",
                "subvec",
            )
            .select(
                F.col("sc.subspace").alias("subspace"),
                F.col("sc.cell").alias("cell"),
                "centroid",
            )
            .transform(stage_checkpoint)
        )
    return books.select("subspace", F.col("cell").alias("code"), "centroid")


def _subvectors(df: DataFrame, id_cols: list[str], vec_col: str, m: int, dsub: int):
    slices = F.array(
        *[F.slice(F.col(vec_col), s * dsub + 1, dsub) for s in range(m)]
    )
    return df.select(
        *id_cols, F.posexplode(slices).alias("subspace", "subvec")
    )


def pq_encode(
    embeddings: DataFrame,
    codebooks: DataFrame,
    m: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as its per-subspace nearest-code id:
    (id, subspace, code) — the compressed representation a 100 TB
    corpus stores instead of raw floats (m bytes/vector at ksub<=256).
    Broadcast argmin against the codebooks; one row-bounded window."""
    dsub = _dsub(dim, m)
    # NOT widened (round 13, measured): the encode fan-out runs inside
    # one codegen'd scan→explode→broadcast-join pipeline whose output
    # feeds a window exchange anyway; splitting the scan with a
    # round-robin exchange made the whole query ~40% SLOWER at fixture
    # scale (the parallelism gain is smaller than the extra exchange).
    sub = _subvectors(embeddings, [id_col], vec_col, m, dsub)
    scored = sub.join(F.broadcast(codebooks), "subspace").withColumn(
        "__d", l2sq(F.col("subvec"), F.col("centroid"))
    )
    return _argmin(
        scored, [id_col, "subspace"], F.col("__d").asc(), F.col("code")
    ).select(id_col, "subspace", "code")


def ivf_pretrained_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """IVF search against an OFFLINE-trained coarse quantizer.

    ``embeddings`` must already carry ``cell_col`` (its inverted-list
    assignment) and ``centroids`` is any (cell, centroid) table — the
    production IVF posture: the quantizer is trained once offline and
    the 100 TB corpus sits on disk bucketed/partitioned BY cell, so an
    n_probe search is a partition-pruned read of n_probe/n_cells of the
    data, not a scan. Contrast ivf_topk, which self-trains via
    kmeans_lite.

    Fully deterministic given deterministic centroids (rank on rounded
    cosine, cell/id tie-breaks), which is what makes the query catalog's
    label-quantizer variant value-checkable against a SQL oracle.
    Output: (query_id, vec_id, cos_sim, rank).
    """
    return _ivf_topk(
        embeddings, queries, centroids, k, n_probe, id_col, vec_col, cell_col,
        round_probe_sim=True,
    )


def cell_centroids(
    embeddings: DataFrame, cell_col: str = "cell", vec_col: str = "embedding"
) -> DataFrame:
    """Element-wise mean vector per cell, each component rounded to 6
    decimals so the trained quantizer is an exact cross-engine value
    (the rounding discipline every float-aggregate oracle in the query
    catalog uses). Returns (cell, centroid)."""
    means = _elementwise_mean(
        embeddings.select(F.col(cell_col).alias("cell"), F.col(vec_col)),
        "cell",
        vec_col,
    )
    return means.select(
        "cell", F.transform("centroid", lambda x: F.round(x, 6)).alias("centroid")
    )


def sign_codebooks(
    embeddings: DataFrame,
    m: int = 16,
    dim: int = 64,
    planes_per_subspace: int = 7,
    seed_base: int = 11,
    seed_step: int = 13,
    vec_col: str = "embedding",
) -> DataFrame:
    """Offline PQ codebooks WITHOUT iterative training: in each subspace,
    bucket the subvectors by their sign pattern against ``planes_per_
    subspace`` seeded-LCG hyperplanes (locality-sensitive by the random-
    hyperplane argument, so buckets group geometrically close subvectors),
    and emit each non-empty bucket's element-wise mean (rounded to 6) as a
    code centroid. One pass over the data, fully deterministic — the LCG
    planes and the rounded means are both exactly reproducible in a SQL
    oracle, unlike Lloyd-iterated codebooks whose float feedback loop
    cannot be replicated cross-engine. Returns (subspace, code, centroid).
    """
    dsub = _dsub(dim, m)
    sub = _subvectors(embeddings.select(F.col(vec_col)), [], vec_col, m, dsub)
    # One pass over the data with the per-subspace plane bank shipped as
    # a ONE-ROW broadcast (hp[subspace][plane][component]) — the former
    # m-branch chained-when inlined m x planes x dsub literal plane
    # constants and their HOF dot products into a single CaseWhen tree,
    # costing seconds of DRIVER-side analysis per call (the
    # _planes_hp_df lesson; measured round 13: ~4 s warm build for
    # ann_pq_sign_topk). element_at picks the row's own subspace's
    # planes; values are bit-identical (Python float -> DoubleType is
    # exact, same fused dot-product fold, and the disjoint-bit sum in
    # _bucket_from_dots equals lsh_bucket's shiftleft-OR).
    bank = _planes_hp_df(
        embeddings.sparkSession, m, planes_per_subspace, dsub, seed_base, seed_step
    )
    dots = F.transform(
        F.element_at(F.col("hp"), F.col("subspace") + 1),
        lambda pl: _dot(F.col("subvec"), pl),
    )
    # bind1: _bucket_from_dots references dots once per plane; inlined,
    # each reference would re-run every per-subspace dot product per row.
    coded = sub.crossJoin(F.broadcast(bank)).select(
        "subspace",
        bind1(dots, lambda d: _bucket_from_dots(d, planes_per_subspace)).alias(
            "code"
        ),
        "subvec",
    )
    means = _elementwise_mean(
        coded.select(F.struct("subspace", "code").alias("sc"), F.col("subvec")),
        "sc",
        "subvec",
    )
    return means.select(
        F.col("sc.subspace").alias("subspace"),
        F.col("sc.code").alias("code"),
        F.transform("centroid", lambda x: F.round(x, 6)).alias("centroid"),
    )


def _adc_groups(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    m: int,
    dsub: int,
    id_col: str,
    vec_col: str,
    dist: Callable[[Column, Column], Column],
) -> GroupedData:
    """Asymmetric distance computation: each query's (subspace, code) ->
    ``__d`` distance table (``dist`` of the query subvector and the code
    centroid) broadcast against the corpus ``codes``, grouped per
    (query_id, id) for the caller's sum."""
    q_sub = _subvectors(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
        ["query_id"],
        vec_col,
        m,
        dsub,
    )
    dtab = q_sub.join(F.broadcast(codebooks), "subspace").select(
        "query_id",
        "subspace",
        "code",
        dist(F.col("subvec"), F.col("centroid")).alias("__d"),
    )
    return (
        codes.join(F.broadcast(dtab), ["subspace", "code"])
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
    )


def pq_pretrained_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    m: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-ADC top-k against an OFFLINE-trained codebook, with INTEGER
    micro-unit distance tables: every subspace distance is converted to
    round(l2sq * 1e6) as a 64-bit integer before the ADC sum, so the
    per-pair score is an exact integer — independent of float summation
    order, hence identical across engines and shuffle layouts (and
    value-checkable by a SQL oracle). Integerized distance tables are
    also the production trick for SIMD/compressed ADC scans.

    Output: (query_id, vec_id, adc_dist_micro, rank). Contrast pq_topk,
    which self-trains its codebooks via kmeans_lite.
    """
    dsub = _dsub(dim, m)
    dist_micro = lambda a, b: F.round(l2sq(a, b) * F.lit(1000000.0), 0).cast("long")
    # NOT widened (round 13, measured — see pq_encode): widening this
    # encode fan-out regressed ann_pq_sign_topk 7.2 → 11.0 s.
    sub = _subvectors(embeddings, [id_col], vec_col, m, dsub)
    enc_scored = sub.join(F.broadcast(codebooks), "subspace").select(
        id_col, "subspace", "code", dist_micro(F.col("subvec"), F.col("centroid")).alias("__d")
    )
    codes = _argmin(
        enc_scored, [id_col, "subspace"], F.col("__d").asc(), F.col("code")
    ).select(id_col, "subspace", "code")
    scored = _adc_groups(
        codes, queries, codebooks, m, dsub, id_col, vec_col, dist_micro
    ).agg(F.sum("__d").alias("adc_dist_micro"))
    return _top_k(scored, k, F.col("adc_dist_micro").asc(), id_col)


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 16,
    ksub: int = 64,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC): the
    corpus is scanned as PQ codes only; each query precomputes a
    (subspace, code) -> distance table against the codebooks, and the
    approximate distance is the sum of m table lookups.

    Plan shape: the per-query distance tables (|queries| x m x ksub
    rows) broadcast; corpus codes equi-join them on (subspace, code)
    and the sum groups by (query, vec) — the corpus side never carries
    raw vectors past encoding, which is the entire point of PQ at
    100 TB (compressed scan + table lookups, no FLOPs per pair).
    """
    codebooks = pq_train(
        embeddings, m=m, ksub=ksub, dim=dim, id_col=id_col, vec_col=vec_col
    )
    codes = pq_encode(embeddings, codebooks, m=m, dim=dim, id_col=id_col, vec_col=vec_col)
    scored = _adc_groups(
        codes, queries, codebooks, m, _dsub(dim, m), id_col, vec_col, l2sq
    ).agg(F.round(F.sum("__d"), 6).alias("approx_dist"))
    return _top_k(scored, k, F.col("approx_dist").asc(), id_col)


def sign_cells(
    embeddings: DataFrame,
    planes: int = 8,
    dim: int = 64,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic sign-quantizer cell assignment: each vector's cell
    is its sign pattern against ``planes`` seeded-LCG hyperplanes
    (2^planes cells). The scan-stage partitioner for cluster-then-
    compare work (semantic dedup): downstream pairwise comparisons run
    WITHIN cells only, so the corpus never meets itself in a full
    self-join. Planes ship as one broadcast row (constant-size plan).

    Returns the input columns plus ``cell`` (long).
    """
    hp = hyperplanes(dim, planes, seed=seed)
    planes_df = embeddings.sparkSession.createDataFrame(
        [(hp,)], "hp array<array<double>>"
    )
    dots = F.transform(F.col("hp"), lambda pl: _dot(F.col(vec_col), pl))
    # bind1: _bucket_from_dots references dots once per plane; inlined,
    # each reference re-ran all `planes` fused dot products per row.
    return (
        embeddings.crossJoin(F.broadcast(planes_df))
        .withColumn("cell", bind1(dots, lambda d: _bucket_from_dots(d, planes)))
        .drop("hp")
    )


def semantic_dedup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    planes: int = 8,
    dim: int = 64,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style near-duplicate candidate mining (Abbas et al. 2023,
    arXiv:2303.09540): partition the corpus into quantizer cells, then
    verify exact cosine >= threshold for pairs WITHIN a cell only.

    The published recipe clusters with k-means and compares inside each
    cluster; this variant uses the deterministic sign quantizer
    (``sign_cells``) for the partitioning step so the whole pipeline is
    exactly reproducible cross-engine (Lloyd's float feedback loop is
    not). Same asymptotics: comparison cost is sum of per-cell
    quadratics instead of one corpus quadratic. At scale the cell join
    is a plain equi-join on ``cell`` — AQE skew-split handles a hot
    cell, and raising ``planes`` shrinks cells geometrically.

    Approximate by design: cross-cell near-dups are missed (recall of
    the sign partition); the exact tier is ``cosine_self_join``.

    Returns (cell, i, j, cos_sim) with i < j.
    """
    cells = sign_cells(embeddings, planes, dim, seed, id_col, vec_col)
    # Norms precomputed per vector before the cell join (bit-identical
    # to cosine(): same folds, once per vector instead of per pair).
    a = cells.select(
        F.col("cell"),
        F.col(id_col).alias("i"),
        F.col(vec_col).alias("va"),
        _norm2(F.col(vec_col)).alias("__na"),
    )
    b = cells.select(
        F.col("cell"),
        F.col(id_col).alias("j"),
        F.col(vec_col).alias("vb"),
        _norm2(F.col(vec_col)).alias("__nb"),
    )
    c = _dot(F.col("va"), F.col("vb")) / F.sqrt(F.col("__na") * F.col("__nb"))
    return (
        a.join(b, "cell")
        .filter(F.col("i") < F.col("j"))
        .filter(c >= threshold)
        .select("cell", "i", "j", F.round(c, 6).alias("cos_sim"))
    )

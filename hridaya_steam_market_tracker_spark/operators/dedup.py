"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the reason these exist — 100 TB corpora):

* exact: md5(normalized text) -> hash groupBy. One shuffle on the hash,
  perfectly balanced unless the corpus is one giant duplicate cluster.
* n-gram Jaccard: exact pairwise similarity via a shingle inverted
  index (explode -> self-join on shingle -> count). Quadratic in
  cluster size — correct but only viable as a VERIFIER or at small n.
* MinHash+LSH: the scale path. Per-doc k-minimum hashing (one explode +
  groupBy), banding, candidate pairs only from shared LSH buckets, then
  exact-Jaccard verification of candidates. Cost ~ O(docs x shingles) +
  O(candidates), no quadratic blowup.
* SimHash: 64-bit weighted-bit signature per doc; near-dups = small
  Hamming distance; blocking on signature bytes gives candidates.

All hashing is md5-derived (seeded by hash index), so signatures are
deterministic and reproducible in any engine — the DuckDB oracles
recompute them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hridaya_steam_market_tracker_spark.checkpoints import stage_checkpoint

from hridaya_steam_market_tracker_spark.operators.text import bind1, tokens

# 60-bit hash from a salted md5 — portable across engines:
# spark: conv(substr(md5(s),1,15),16,10) ; duckdb: ('0x'||substr(md5(s),1,15))::BIGINT
def _h60(col: Column, seed: int) -> Column:
    salted = F.concat(F.lit(f"{seed}:"), col)
    return F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("long")


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of the whitespace-tokenized text.

    Documents shorter than n tokens produce no shingles (Spark's
    sequence(1, 0) would count DOWN, so the short case is guarded).

    The token array is bound ONCE per row via ``bind1`` — inlining it
    into the per-position lambda re-tokenizes the document at every
    position (no CSE inside lambdas), which measured ~10x slower on the
    sf0.1 corpus. ``array_join(slice(...))`` emits the identical string
    as the previous per-token ``concat_ws`` (tokens are non-null)."""

    def build(toks: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
        grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
        return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
            F.array().cast("array<string>")
        )

    return bind1(tokens(F.lower(text)), build)


def _jaccard_raw(sh_a: Column, sh_b: Column) -> Column:
    """|A∩B| / |A∪B| with the intersection SIZE bound once per
    evaluation (bind1). Inlined, ``array_intersect`` appears twice in
    the formula (numerator + union denominator) and the verify pattern
    references the expression twice more (threshold filter +
    projection, which Catalyst collapses into the join condition and
    the output project) — four hash-set intersections per candidate
    pair where one bounded evaluation per reference suffices (round 13,
    read off the executed dedup_minhash_lsh plan)."""
    from hridaya_steam_market_tracker_spark.operators.text import bind1

    return bind1(
        F.size(F.array_intersect(sh_a, sh_b)).cast("long"),
        lambda it: it.cast("double") / (F.size(sh_a) + F.size(sh_b) - it),
    )


def _jaccard6(sh_a: Column, sh_b: Column) -> Column:
    """round(jaccard, 6) — round sits OUTSIDE the bind1, so the
    intersection is still evaluated once per reference (r13 ADVICE:
    the former duplicated _jaccard_raw body was equivalent)."""
    return F.round(_jaccard_raw(sh_a, sh_b), 6)


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: one survivor (min id) per group."""
    normalized = F.array_join(tokens(F.lower(F.col(text_col))), " ")
    hashed = df.select(F.col(id_col), F.md5(normalized).alias("content_hash"))
    return hashed.groupBy("content_hash").agg(
        F.min(id_col).alias("survivor_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )


def _spread(df: DataFrame, id_col: str) -> DataFrame:
    """Hash-repartition by doc id to the session's parallelism.

    Fixture parquet arrives as ONE partition; the hashing-heavy
    operators below would otherwise run on a single core. At 100 TB the
    input is already many splits and this is a near-no-op (same key, so
    downstream groupBy(doc_id) reuses the partitioning with no second
    shuffle).
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, F.col(id_col))


def shingle_index(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(doc_id, shingle) inverted index + per-doc shingle counts."""
    df = _spread(df, id_col)
    sh = df.select(F.col(id_col).alias("doc_id"), shingles(F.col(text_col), n).alias("sh"))
    sh = sh.withColumn("n_sh", F.size("sh"))
    return sh.select("doc_id", "n_sh", F.explode("sh").alias("shingle"))


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard >= threshold via inverted index.

    With ``max_shingle_df=None``: intersection(a,b) counted by joining
    postings on the shingle; union = |A| + |B| - intersection. A shingle
    shared by k docs fans out k^2 pair rows — a boilerplate shingle at
    corpus scale is a shuffle bomb, which is why this is the VERIFIER
    path (the scale path is minhash_near_duplicates).

    With ``max_shingle_df=c``: shingles appearing in more than c docs
    are excluded from CANDIDATE generation (bounding the self-join
    fan-out at c per posting list), and every candidate is then verified
    against the FULL shingle sets, so reported jaccard values are exact.
    Output equals the unguarded pair set whenever every qualifying pair
    shares at least one shingle with document frequency <= c — at
    threshold 0.5 a missed pair requires ALL of its shared shingles to
    sit in > c documents, i.e. a duplicate cluster wider than c, exactly
    the regime where the quadratic path is unrunnable anyway.
    """
    if max_shingle_df is None:
        idx = shingle_index(df, text_col, id_col, n)
        a = idx.select(
            F.col("doc_id").alias("i"), F.col("n_sh").alias("n_i"), "shingle"
        )
        b = idx.select(
            F.col("doc_id").alias("j"), F.col("n_sh").alias("n_j"), "shingle"
        )
        inter = (
            a.join(b, "shingle")
            .filter(F.col("i") < F.col("j"))
            .groupBy("i", "j", "n_i", "n_j")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        jac = F.col("inter") / (F.col("n_i") + F.col("n_j") - F.col("inter"))
        return (
            inter.withColumn("jaccard", F.round(jac, 6))
            .filter(F.col("jaccard") >= threshold)
            .select("i", "j", "jaccard")
        )

    sets = (
        _spread(df, id_col)
        .select(F.col(id_col).alias("doc_id"), shingles(F.col(text_col), n).alias("sh"))
        .cache()
    )
    idx = sets.select("doc_id", F.explode("sh").alias("shingle"))
    rare = idx.join(
        idx.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_shingle_df)
        .select("shingle"),
        "shingle",
    )
    cands = (
        rare.select(F.col("doc_id").alias("i"), "shingle")
        .join(rare.select(F.col("doc_id").alias("j"), "shingle"), "shingle")
        .filter(F.col("i") < F.col("j"))
        .select("i", "j")
        .distinct()
    )
    paired = cands.join(
        sets.select(F.col("doc_id").alias("i"), F.col("sh").alias("sh_i")), "i"
    ).join(sets.select(F.col("doc_id").alias("j"), F.col("sh").alias("sh_j")), "j")
    return (
        paired.withColumn("jaccard", _jaccard6(F.col("sh_i"), F.col("sh_j")))
        .filter(F.col("jaccard") >= threshold)
        .select("i", "j", "jaccard")
    )


# 2-universal MinHash family: two 31-bit md5-derived values per shingle
# (a, b), then h_s = (a + s*b) mod P — one md5 pair instead of
# `num_hashes` md5s per shingle (the classic affine construction from
# Carter-Wegman universal hashing).
MINHASH_P = (1 << 31) - 1  # Mersenne prime


def _h31(col: Column, salt: str) -> Column:
    return F.conv(F.substring(F.md5(F.concat(F.lit(salt), col)), 1, 8), 16, 10).cast(
        "long"
    ) % MINHASH_P


def signatures_from_sets(sets: DataFrame, num_hashes: int = 32) -> DataFrame:
    """MinHash signatures from a (doc_id, sh: array<string>) frame via
    higher-order functions: mh[s] = array_min(transform(pairs, affine_s)).

    ZERO shuffle and only TWO md5s per shingle — the affine family
    (a + s*b) mod P supplies all `num_hashes` permutations. The whole
    computation is a narrow map over the shingle array, so at 100 TB it
    rides inside the scan stage.

    Output: (doc_id, mh: array<long>), mh[s] = the s-th permutation's
    minimum (identical values to the former per-column mh_s layout).
    ONE nested-lambda expression instead of `num_hashes` independent
    trees: the per-column form cost ~2 s of DRIVER-side Catalyst
    analysis per call at num_hashes=64 (measured round 13 — plan size,
    not execution, guide §7.3), paid by every drive/test invocation.
    The (a, b) pair array is bind1-bound so the md5 work stays one
    evaluation per row regardless of consumer plan rewrites; the s-loop
    walks the bound array exactly as the old per-column expressions
    walked the shared `__ab` projection column.
    """
    from hridaya_steam_market_tracker_spark.operators.text import bind1

    ab_expr = F.transform(
        F.col("sh"),
        lambda x: F.struct(_h31(x, "a:").alias("a"), _h31(x, "b:").alias("b")),
    )

    def sig(ab: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda s: F.array_min(
                F.transform(ab, lambda p: (p["a"] + s * p["b"]) % MINHASH_P)
            ),
        )

    return sets.select("doc_id", bind1(ab_expr, sig).alias("mh"))


def banded_buckets(
    signatures: DataFrame, num_hashes: int = 32, bands: int = 16
) -> DataFrame:
    """Explode a signature frame into (doc_id, band, bucket) rows —
    the LSH index representation. rows_per_band = num_hashes // bands.
    This frame IS the persistable signature store for incremental
    dedup: write it once per corpus, bucket-join each day's delta
    against it (minhash_delta_near_duplicates)."""
    rows_per_band = num_hashes // bands
    # One lambda over the band indices instead of `bands` literal
    # structs (driver-side plan size; values identical — array_join of
    # the casted slice emits the same "_"-joined string the former
    # concat_ws built from the mh_i columns).
    bb = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.slice(F.col("mh"), b * rows_per_band + 1, rows_per_band),
                        lambda x: x.cast("string"),
                    ),
                    "_",
                )
            ).alias("bucket"),
        ),
    )
    return signatures.select(
        "doc_id", F.explode(bb).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")


def lsh_candidate_pairs(
    signatures: DataFrame, num_hashes: int = 32, bands: int = 16
) -> DataFrame:
    """Band the signature; docs sharing any band bucket become a
    candidate pair. rows_per_band = num_hashes // bands."""
    banded = banded_buckets(signatures, num_hashes, bands)
    left = banded.select(F.col("doc_id").alias("i"), "band", "bucket")
    right = banded.select(F.col("doc_id").alias("j"), "band", "bucket")
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("i") < F.col("j"))
        .select("i", "j")
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """LSH candidates verified by exact Jaccard (candidates only).

    With 16 bands x 2 rows the s-curve catches pairs at j=0.5 with
    p ~= 1-(1-0.25)^16 > 0.99; verification removes false positives, so
    the output equals the exact-threshold pair set w.h.p. (cross-checked
    against jaccard_pairs in tests and by the driver oracle).
    """
    # One materialization of the shingle sets feeds signatures, the
    # banded self-join AND verification — without it Spark recomputes
    # the md5-heavy subtree once per consumer (4x the work). Explicit
    # MEMORY_AND_DISK: at 100 TB the shingle sets exceed executor
    # memory and must spill, not evict-and-recompute (cache() happens
    # to default to the same level for DataFrames, but the choice is
    # load-bearing here, so it is stated). Lifecycle note: the result
    # is lazy, so unpersist can't happen inside this function; callers
    # holding a long-lived session should unpersist via
    # spark.catalog.clearCache() between corpus-scale runs.
    from pyspark import StorageLevel

    sets = (
        _spread(df, id_col)
        .select(F.col(id_col).alias("doc_id"), shingles(F.col(text_col), n).alias("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sigs = signatures_from_sets(sets, num_hashes)
    cands = lsh_candidate_pairs(sigs, num_hashes, bands)

    # Verify ONLY the candidate pairs: bring each side's shingle SET to
    # the pair row and intersect natively. This is the whole point of
    # LSH — the quadratic pair enumeration never happens; cost is
    # O(candidates x shingles-per-doc).
    a = sets.select(F.col("doc_id").alias("i"), F.col("sh").alias("sh_i"))
    b = sets.select(F.col("doc_id").alias("j"), F.col("sh").alias("sh_j"))
    paired = cands.join(a, "i").join(b, "j")
    return (
        paired.withColumn("jaccard", _jaccard6(F.col("sh_i"), F.col("sh_j")))
        .filter(F.col("jaccard") >= threshold)
        .select("i", "j", "jaccard")
    )


def minhash_delta_near_duplicates(
    corpus: DataFrame,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """INCREMENTAL near-dup detection: dedup an incoming batch against
    the standing corpus AND against itself, without ever re-deduping
    corpus x corpus. This is the daily-ingest shape at 100 TB: the
    corpus side's banded signature index (`banded_buckets`) is
    write-once state — in production you persist it and append each
    day's delta bands — so per-ingest cost is O(|delta| bands +
    matching buckets), independent of corpus size beyond the bucket
    equi-join, and the quadratic corpus pair space is never touched.

    Candidates: (corpus x delta) ∪ (delta x delta, i < j), verified by
    exact Jaccard on the candidate pairs only (same discipline as
    minhash_near_duplicates). Output: (i, j, jaccard) with j always a
    delta doc; i is the corpus doc for cross pairs, the smaller delta
    id for in-batch pairs. Assumes corpus and delta ids are disjoint.
    """
    from pyspark import StorageLevel

    def to_sets(df: DataFrame) -> DataFrame:
        return (
            _spread(df, id_col)
            .select(F.col(id_col).alias("doc_id"), shingles(F.col(text_col), n).alias("sh"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    c_sets, d_sets = to_sets(corpus), to_sets(delta)
    c_bands = banded_buckets(signatures_from_sets(c_sets, num_hashes), num_hashes, bands)
    d_bands = banded_buckets(signatures_from_sets(d_sets, num_hashes), num_hashes, bands)

    cross = (
        c_bands.select(F.col("doc_id").alias("i"), "band", "bucket")
        .join(d_bands.select(F.col("doc_id").alias("j"), "band", "bucket"), ["band", "bucket"])
        .select("i", "j")
    )
    within = (
        d_bands.select(F.col("doc_id").alias("i"), "band", "bucket")
        .join(d_bands.select(F.col("doc_id").alias("j"), "band", "bucket"), ["band", "bucket"])
        .filter(F.col("i") < F.col("j"))
        .select("i", "j")
    )
    cands = cross.unionByName(within).distinct()

    all_sets = c_sets.unionByName(d_sets)
    a = all_sets.select(F.col("doc_id").alias("i"), F.col("sh").alias("sh_i"))
    b = d_sets.select(F.col("doc_id").alias("j"), F.col("sh").alias("sh_j"))
    paired = cands.join(a, "i").join(b, "j")
    return (
        paired.withColumn("jaccard", _jaccard6(F.col("sh_i"), F.col("sh_j")))
        .filter(F.col("jaccard") >= threshold)
        .select("i", "j", "jaccard")
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 60) -> DataFrame:
    """60-bit SimHash: per-token 60-bit hash votes on each bit position;
    signature bit b is 1 iff the weighted vote is positive.

    One explode + one groupBy(doc) — all JVM-side; at 100 TB this is a
    single shuffle keyed by doc_id.

    The per-bit votes are BIT-PACKED: each token's hash expands to
    bits/3 longs of three 20-bit lanes, and one SUM per packed long
    accumulates three bit-counters at once. Lane width bounds document
    size at 2^20 tokens; the TOP lane must also keep the accumulating
    long below 2^63 under Spark 4 ANSI mode (where SUM overflow THROWS,
    not wraps): its counter tops out at 2^20 * 2^40 = 2^60 — four bits
    of signed-long headroom — whereas 16-bit lanes x4 would overflow
    the sign bit at only 2^15 tokens of a hot bit. That is bits/3
    aggregate columns instead of `bits` conditional sums; the sign vote
    2*S_b - N > 0 is then decoded from the lanes, bit-exact with the
    naive per-bit +-1 sum. Documents beyond 2^20 tokens are outside the
    operator's contract (shingle upstream).
    """
    lanes_per_long = 3
    lane_width = 20
    lane_mask = (1 << lane_width) - 1
    n_packed = (bits + lanes_per_long - 1) // lanes_per_long
    toks = _spread(df, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    hashed = toks.withColumn("h", _h60(F.col("tok"), 0))

    def packed(g: int) -> Column:
        term = None
        for k in range(lanes_per_long):
            b = g * lanes_per_long + k
            if b >= bits:
                break
            lane = F.shiftleft(
                F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1).cast("long")),
                lane_width * k,
            )
            term = lane if term is None else term + lane
        return term

    aggs = [F.sum(packed(g)).alias(f"p_{g}") for g in range(n_packed)] + [
        F.count(F.lit(1)).alias("n_tok")
    ]
    voted = hashed.groupBy("doc_id").agg(*aggs)
    sig = None
    for b in range(bits):
        g, k = b // lanes_per_long, b % lanes_per_long
        s_b = F.shiftright(F.col(f"p_{g}"), lane_width * k).bitwiseAND(
            F.lit(lane_mask).cast("long")
        )
        bit = F.when(2 * s_b > F.col("n_tok"), F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, b)
        sig = term if sig is None else sig.bitwiseOR(term)
    return voted.select("doc_id", sig.alias("simhash"))


def ngram_decontaminate(
    df: DataFrame,
    eval_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Train/eval decontamination by n-gram overlap (the public GPT-3 /
    PaLM decontamination recipe: flag training docs sharing long n-grams
    with an evaluation set; real pipelines use n=13, the word-soup
    fixture uses n=5 to be non-vacuous).

    Per training doc: ``overlap_frac`` = |distinct n-grams ∩ eval n-gram
    set| / |distinct n-grams|; ``contaminated`` when the 6dp-rounded
    fraction >= threshold.

    Scale shape: the eval n-gram set is DISTINCT and broadcast — eval
    suites are tiny next to a training corpus, so the corpus side never
    shuffles for the membership test; the single shuffle is the per-doc
    hit count, keyed on the doc id (no hot keys). The doc's gram total
    rides through the explode on each row, so totals need no second pass
    over the text and no join-back. At 100 TB the corpus is streamed
    once, map-side, against a broadcast hash set.
    """
    sh = df.select(
        F.col(id_col),
        eval_pred.alias("__is_eval"),
        shingles(F.col(text_col), n).alias("s"),
    ).filter(F.size("s") > 0)
    ev = (
        sh.filter(F.col("__is_eval"))
        .select(F.explode("s").alias("gram"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    exploded = sh.filter(~F.col("__is_eval")).select(
        F.col(id_col),
        F.size("s").cast("long").alias("n_grams"),
        F.explode("s").alias("gram"),
    )
    frac = F.round(F.col("n_hit") / F.col("n_grams").cast("double"), 6)
    return (
        exploded.join(F.broadcast(ev), "gram", "left")
        .groupBy(id_col, "n_grams")
        .agg(F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_hit"))
        .select(
            id_col,
            "n_grams",
            "n_hit",
            frac.alias("overlap_frac"),
            (frac >= threshold).alias("contaminated"),
        )
    )


def minhash_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 32,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """FUZZY train/eval decontamination — the near-duplicate complement
    of `ngram_decontaminate`: the exact n-gram rule (GPT-3 appendix C)
    misses paraphrase-level contamination where no single long gram
    survives but the documents are near-identical as SETS; here a
    training doc is contaminated when its shingle-set Jaccard against
    ANY eval doc reaches ``threshold``. Output one row per
    (contaminated train doc, matching eval doc):
    (doc_id, eval_doc_id, jaccard).

    Scale shape — the cross-relation LSH form: both sides MinHash-sign
    and band (`banded_buckets`), but the candidate join is
    train-bands x BROADCAST(eval-bands) — eval suites are tiny next to
    a training corpus, so the corpus side never shuffles to find
    candidates and the train x train pair space is never touched
    (unlike dedup, decontamination needs no within-train pairs). Exact
    Jaccard verifies candidates only, so the output equals the exact
    cross-threshold pair set w.h.p. (32 bands x 2 rows: p > 0.9999 at
    j = 0.5, rising to > 0.99999 by j = 0.55 — a deliberately tighter
    margin than `minhash_near_duplicates`' 16x2, because this op is
    value-checked against the EXACT pair-set oracle and a boundary
    pair missed by banding reads as a correctness flake, not a recall
    trade; the extra bands ride the already-broadcast eval side and
    one more map pass over train signatures)."""
    from pyspark import StorageLevel

    t_sets = (
        _spread(train, id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            shingles(F.col(text_col), n).alias("sh"),
        )
        .filter(F.size("sh") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e_sets = (
        eval_df.select(
            F.col(id_col).alias("doc_id"),
            shingles(F.col(text_col), n).alias("sh"),
        )
        .filter(F.size("sh") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    t_bands = banded_buckets(
        signatures_from_sets(t_sets, num_hashes), num_hashes, bands
    )
    e_bands = banded_buckets(
        signatures_from_sets(e_sets, num_hashes), num_hashes, bands
    )
    cands = (
        t_bands.join(F.broadcast(e_bands.withColumnRenamed(
            "doc_id", "eval_doc_id"
        )), ["band", "bucket"])
        .select("doc_id", "eval_doc_id")
        .distinct()
    )
    a = t_sets.select("doc_id", F.col("sh").alias("sh_t"))
    b = e_sets.select(
        F.col("doc_id").alias("eval_doc_id"), F.col("sh").alias("sh_e")
    )
    paired = cands.join(a, "doc_id").join(F.broadcast(b), "eval_doc_id")
    jac = _jaccard_raw(F.col("sh_t"), F.col("sh_e"))
    # Filter on the UNROUNDED jaccard — the exact-pair-set oracle joins
    # on the raw ratio, so rounding-before-filtering would admit a pair
    # sitting within 5e-7 below threshold that the oracle excludes
    # (round-12 ADVICE). Rounding happens only in the projection, where
    # both sides round identically.
    return (
        paired.filter(jac >= threshold)
        .select("doc_id", "eval_doc_id", F.round(jac, 6).alias("jaccard"))
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (public Schleimer/Wilkerson/Aiken
    SIGMOD'03 algorithm, word-gram variant): hash every k-word gram,
    slide a w-hash window, keep each window's minimum, dedup. Guarantees
    any shared run of >= k+w-1 words between two docs shares at least
    one selected fingerprint, at ~1/w the storage of all-gram sets.

    Output: (id, fp) exploded pairs — the joinable inverted-index form.

    Scale shape: selection is pure per-row array algebra in the scan
    stage (zero shuffles); fingerprints are 60-bit md5-derived (same
    portable recipe as MinHash: DuckDB recomputes them bit-for-bit).
    Docs shorter than k+w-1 words degrade to their single minimum hash,
    so every tokenizable doc fingerprints.
    """
    # Layered projections: materialize tokens -> gram hashes ONCE per
    # row before the window pass references them ~w times. Inlining `h`
    # into every slice() would re-run the md5-heavy transform per
    # window element — O(len * w) digests instead of O(len).
    from hridaya_steam_market_tracker_spark.operators.text import word_grams

    toks = F.col("__toks")
    h = F.col("__h")
    grams_nondistinct = word_grams(toks, k)
    windows = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(h) - (w - 1)),
            lambda i: F.array_min(F.slice(h, i, w)),
        )
    )
    fps = (
        F.when(F.size(toks) < k, F.array().cast("array<bigint>"))
        .when(F.size(h) < w, F.array(F.array_min(h)))
        .otherwise(windows)
    )
    return (
        df.withColumn("__toks", tokens(F.lower(F.col(text_col))))
        .withColumn(
            "__h",
            F.when(
                F.size(toks) >= k,
                F.transform(grams_nondistinct, lambda g: _h60(g, 0)),
            ).otherwise(F.array().cast("array<bigint>")),
        )
        .select(F.col(id_col), F.explode(fps).alias("fp"))
    )


def winnow_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    min_shared: int = 3,
    max_df: int = 50,
) -> DataFrame:
    """Near-dup pairs by shared winnowing fingerprints (the MOSS match
    step): inverted-index self-join on fp, pairs sharing >= min_shared.

    60-bit fingerprints collide only for genuinely shared k-grams, so a
    bucket's size is the number of docs sharing that text run — tiny
    except for boilerplate, which the document-frequency cutoff drops
    (same hot-key guard as jaccard_pairs: a fp in > max_df docs is
    boilerplate by definition and cannot evidence a pairwise near-dup
    anyway). Join fan-out is bounded by max_df^2 per fp.
    """
    fps = winnow_fingerprints(df, text_col, id_col, k, w)
    rare = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_df)
        .select("fp")
    )
    pruned = fps.join(rare, "fp", "left_semi")
    a = pruned.select(F.col("fp"), F.col(id_col).alias("i"))
    b = pruned.select(F.col("fp"), F.col(id_col).alias("j"))
    return (
        a.join(b, "fp")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_containment_pairs(
    fps: DataFrame,
    id_col: str = "doc_id",
    min_containment: float = 0.5,
    max_df: int = 50,
) -> DataFrame:
    """Directional containment over a winnowing fingerprint relation
    ((id, fp) as `winnow_fingerprints` emits): pairs whose shared
    fingerprint count covers >= min_containment of the SMALLER side's
    fingerprint set — the quote/excerpt/subclip-inclusion signal
    symmetric overlap counts miss (a 30-frame clip inside an 80-frame
    video shares most of ITS fingerprints but few of the host's).
    Works unchanged for text excerpts and for videos tokenized by
    `video_frame_token_text` (operators/multimodal.py). Same
    document-frequency cutoff as `winnow_near_pairs`: a fingerprint in
    > max_df ids is boilerplate and cannot evidence a pairwise
    relation. Output (i, j, n_shared, containment), i < j."""
    counts = fps.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    rare = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("fp")
    )
    pruned = fps.join(rare, "fp", "left_semi")
    a = pruned.select(F.col("fp"), F.col(id_col).alias("i"))
    b = pruned.select(F.col("fp"), F.col(id_col).alias("j"))
    shared = (
        a.join(b, "fp")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    ni = counts.select(F.col(id_col).alias("i"), F.col("n").alias("n_i"))
    nj = counts.select(F.col(id_col).alias("j"), F.col("n").alias("n_j"))
    return (
        shared.join(ni, "i")
        .join(nj, "j")
        .withColumn(
            "containment",
            F.round(
                F.col("n_shared") / F.least("n_i", "n_j").cast("double"), 6
            ),
        )
        .filter(F.col("containment") >= min_containment)
        .select("i", "j", "n_shared", "containment")
    )


def positional_grams(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 5
) -> DataFrame:
    """(doc_id, pos, gram): NON-distinct positional n-grams — unlike
    `shingles` this keeps every occurrence with its 0-based token
    position, which is what span-level (substring) dedup needs.
    Documents shorter than n tokens produce no rows. Scan-stage array
    algebra + one explode; no shuffle."""
    def entries(toks: Column) -> Column:
        es = F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.struct(
                (i - 1).cast("long").alias("pos"),
                F.array_join(F.slice(toks, i, n), " ").alias("gram"),
            ),
        )
        return F.when(F.size(toks) >= n, es).otherwise(
            F.array().cast("array<struct<pos:bigint,gram:string>>")
        )

    # bind1: tokenize ONCE per row — the inlined token expression was
    # re-evaluated per position inside the transform lambda (no CSE in
    # lambdas), making the explode O(len^2) per document.
    guarded = bind1(tokens(F.lower(F.col(text_col))), entries)
    return (
        _spread(df, id_col)
        .select(F.col(id_col).alias("doc_id"), F.explode(guarded).alias("e"))
        .select("doc_id", "e.pos", "e.gram")
    )


def duplicate_span_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 5
) -> DataFrame:
    """Per-document corpus-duplicated token-span mass — the cheap
    screening stat of substring-level dedup (Lee et al., 'Deduplicating
    Training Data Makes Language Models Better': duplicated spans are
    memorization fuel even when whole-document similarity is low).

    dup_grams counts this document's positions whose n-gram occurs in
    at least one OTHER document (document frequency >= 2 — repeats
    confined to one doc are `doc_repetition_stats`' artifact, not
    this one's); dup_frac = dup_grams / n_grams. Docs shorter than n
    tokens emit no row.

    Scale: one groupBy(gram) for the cross-doc table, one gram-keyed
    join back, one groupBy(doc_id) — all hash-partitioned scans, no
    all-pairs anything. The screen only needs the BOOLEAN df >= 2, so
    the gram table aggregates ``min(doc_id) != max(doc_id)`` instead
    of ``countDistinct`` — min/max combine map-side in one pass
    (shuffle volume: distinct grams per partition, vs the distinct
    (gram, doc) pairs plus extra aggregate level the count-distinct
    rewrite costs), and filtering to cross-doc grams BEFORE the join
    back shrinks the build side to the duplicated minority, which at
    corpus scale is the difference between a broadcastable dup-gram
    set and shuffling every singleton gram a second time."""
    pos = positional_grams(df, text_col, id_col, n)
    dup_grams = (
        pos.groupBy("gram")
        .agg((F.min("doc_id") != F.max("doc_id")).alias("cross_doc"))
        .filter(F.col("cross_doc"))
        .select("gram", F.lit(1).alias("_dup"))
    )
    return (
        pos.join(dup_grams, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_dup").alias("dup_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "dup_grams",
            F.round(
                F.col("dup_grams").cast("double") / F.col("n_grams"), 6
            ).alias("dup_frac"),
        )
    )


def duplicate_span_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_tokens: int = 8,
    max_gram_df: int = 8,
) -> DataFrame:
    """MAXIMAL shared token spans between document pairs — exact
    substring-level dedup at token granularity: a row (i, j, start_i,
    start_j, span_tokens) says docs i < j share span_tokens
    consecutive identical tokens starting at those 0-based positions.

    Plan: positional n-gram postings join on the gram (candidates),
    then the classic gaps-and-islands trick recovers maximal runs
    WITHOUT iteration — within (i, j, offset = pa - pb), consecutive
    positions share `pa - row_number()`, so one window + one groupBy
    turns k matching n-grams into one span of k + n - 1 tokens.

    The posting join only uses grams with 2 <= df <= ``max_gram_df``:
    df < 2 cannot witness a cross-doc span, and a boilerplate gram
    shared by thousands of docs is a k^2 shuffle bomb (same guard and
    same honesty note as jaccard_pairs' max_shingle_df — a span ALL of
    whose grams exceed the cap is reported split or not at all, which
    at corpus scale is exactly the boilerplate you'd handle with a
    dedicated boilerplate pass, not a pair join). Reported spans are
    exact: within the capped gram set the island algebra is lossless.

    The kept postings are MATERIALIZED (stage_checkpoint) before the
    self-join: ``keep`` feeds both sides, and without a stage boundary
    Catalyst re-derives the whole subtree per side — four positional
    explodes and two gram-df aggregations of the full corpus for one
    logical pass. The materialized relation is scale-safe where
    checkpointing ``pos`` would not be: it holds only grams with
    2 <= df <= ``max_gram_df`` (the boilerplate mass is already
    dropped), the same rows the pair join is about to shuffle anyway.
    """
    from pyspark.sql import Window

    pos = positional_grams(df, text_col, id_col, n)
    gdf = pos.groupBy("gram").agg(F.countDistinct("doc_id").alias("df"))
    keep = pos.join(
        gdf.filter((F.col("df") >= 2) & (F.col("df") <= max_gram_df)).select("gram"),
        "gram",
    ).transform(stage_checkpoint)
    a = keep.select(F.col("doc_id").alias("i"), F.col("pos").alias("pa"), "gram")
    b = keep.select(F.col("doc_id").alias("j"), F.col("pos").alias("pb"), "gram")
    cand = a.join(b, "gram").filter(F.col("i") < F.col("j"))
    off = (F.col("pa") - F.col("pb")).alias("d")
    w = Window.partitionBy("i", "j", F.col("pa") - F.col("pb")).orderBy("pa")
    isl = cand.withColumn("run", F.col("pa") - F.row_number().over(w))
    return (
        isl.groupBy("i", "j", off, "run")
        .agg(
            F.min("pa").alias("start_i"),
            F.min("pb").alias("start_j"),
            (F.count(F.lit(1)) + (n - 1)).alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= min_tokens)
        .select("i", "j", "start_i", "start_j", "span_tokens")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int = 64,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: containment(i in j) =
    |shingles(i) ∩ shingles(j)| / |shingles(i)| — the quote/subset
    signal Jaccard structurally misses (a 50-token doc fully quoted
    inside a 5,000-token doc has Jaccard ~0.01 but containment 1.0),
    which is exactly the shape of excerpt duplication in a training
    corpus. Output (i, j, containment) DIRECTED, i != j: i is the
    (mostly-)contained document, j the container; mutually-near-dup
    pairs appear in both orders.

    Physical shape mirrors jaccard_pairs' guarded path: candidates
    from the shingle inverted index restricted to shingles with
    df <= ``max_shingle_df`` (bounding the posting self-join fan-out),
    then exact verification against the FULL shingle sets — reported
    containment values are exact; a qualifying pair is missed only if
    ALL its shared shingles are boilerplate-hot, the same documented
    regime as the other guards."""
    sets = (
        _spread(df, id_col)
        .select(F.col(id_col).alias("doc_id"), shingles(F.col(text_col), n).alias("sh"))
        .cache()
    )
    idx = sets.select("doc_id", F.explode("sh").alias("shingle"))
    rare = idx.join(
        idx.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_shingle_df)
        .select("shingle"),
        "shingle",
    )
    cands = (
        rare.select(F.col("doc_id").alias("i"), "shingle")
        .join(rare.select(F.col("doc_id").alias("j"), "shingle"), "shingle")
        .filter(F.col("i") != F.col("j"))
        .select("i", "j")
        .distinct()
    )
    paired = cands.join(
        sets.select(F.col("doc_id").alias("i"), F.col("sh").alias("sh_i")), "i"
    ).join(sets.select(F.col("doc_id").alias("j"), F.col("sh").alias("sh_j")), "j")
    cont = (
        F.size(F.array_intersect(F.col("sh_i"), F.col("sh_j"))).cast("double")
        / F.size("sh_i")
    )
    return (
        paired.withColumn("containment", F.round(cont, 6))
        .filter(F.col("containment") >= threshold)
        .select("i", "j", "containment")
    )


def clip_duplicate_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The APPLY half of substring-level dedup: take
    `duplicate_span_pairs` output and remove each reported span from
    the HIGHER-id document (j) — keep-lowest-id, the same survivor
    rule as the whole-document dedup family. Overlapping spans on one
    doc are merged (interval union via gaps-and-islands: a new island
    starts where start > running max end) before clipping, so clipped
    regions never double-count.

    Output: (doc_id, n_tokens_before, n_tokens_after, clipped_tokens,
    text_clean) for EVERY document (unclipped docs pass through with
    clipped_tokens = 0).

    Plan: merge intervals with one window + one groupBy keyed on the
    clipped doc, collect each doc's merged intervals into one small
    array row, join back to the scan on doc_id, then the clip is
    scan-stage array algebra (F.filter with the positional lambda +
    F.exists over the interval array) — no token explode, no pair
    space."""
    from pyspark.sql import Window

    iv = spans.select(
        F.col("j").alias("doc_id"),
        F.col("start_j").alias("s"),
        (F.col("start_j") + F.col("span_tokens")).alias("e"),
    )
    w = Window.partitionBy("doc_id").orderBy("s", "e").rowsBetween(
        Window.unboundedPreceding, -1
    )
    flagged = iv.withColumn(
        "new_island",
        (F.col("s") > F.coalesce(F.max("e").over(w), F.lit(-1))).cast("int"),
    )
    w2 = Window.partitionBy("doc_id").orderBy("s", "e").rowsBetween(
        Window.unboundedPreceding, 0
    )
    merged = (
        flagged.withColumn("island", F.sum("new_island").over(w2))
        .groupBy("doc_id", "island")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("ivs"))
    )
    toks = tokens(F.lower(F.col(text_col)))
    joined = df.select(F.col(id_col).alias("doc_id"), toks.alias("w")).join(
        merged, "doc_id", "left"
    )
    ivs = F.coalesce("ivs", F.array().cast("array<struct<s:bigint,e:bigint>>"))
    keep = F.filter(
        "w",
        lambda x, i: ~F.exists(ivs, lambda v: (i >= v["s"]) & (i < v["e"])),
    )
    return joined.select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens_before"),
        F.size(keep).cast("long").alias("n_tokens_after"),
        (F.size("w") - F.size(keep)).cast("long").alias("clipped_tokens"),
        F.array_join(keep, " ").alias("text_clean"),
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (round 11): the OFFSET-INDEPENDENT byte-level
# member of the dedup family. Fixed-size chunking (chunk_dedup_reassemble)
# and grid tokenization (image tiles, audio windows) share an alignment
# contract — shift the content and every boundary moves. CDC anchors
# boundaries to CONTENT: a position ends a chunk when the rolling hash of
# the trailing `window` characters hits the divisor mask, so inserting a
# prefix shifts positions but not the boundary SET within unchanged
# content (the rsync/LBFS idea, public since Muthitacharoen et al. SOSP'01;
# FastCDC is the modern descendant). After the first re-synchronized
# boundary, a byte-shifted re-upload shares every chunk hash with its
# host — no phase lattice, no blind spot.
# ---------------------------------------------------------------------------

_CDC_PRIME = 31
_CDC_MOD = 1_000_000_007


def content_defined_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 16,
    divisor: int = 64,
) -> DataFrame:
    """(doc_id, chunk_idx, start_pos, chunk_len, chunk_hash): split each
    document into content-defined chunks. Position i (1-based) ends a
    chunk when the polynomial rolling hash of characters
    (i-window+1 .. i) — sum of code * PRIME^(window-1-k) mod MOD, codes
    from ``ascii`` — is divisible by ``divisor`` (expected chunk length
    ~= divisor characters); the final chunk always ends at the document
    end. Chunks TILE the document exactly (concat of chunks == text,
    asserted in tests); documents shorter than ``window`` (or with no
    mask hit) are a single whole-document chunk; empty documents are
    absent. chunk_hash is the shared 60-bit md5 recipe over the chunk
    substring, so a DuckDB oracle recomputes every boundary and every
    hash bit-for-bit.

    No minimum-chunk guard: adjacent mask hits yield short chunks. The
    guard would complicate the cross-engine algebra for no dedup
    benefit — tiny chunks only add a few extra (id, hash) rows.

    Scale shape: boundary detection is pure per-row array algebra in
    the scan stage (transform/filter/aggregate over the character
    array — O(len * window) integer ops, JVM-side, no Python); the
    only rows that leave the scan are the chunk rows themselves
    (~len/divisor per document). Downstream joins group on chunk_hash
    exactly like every other (id, fp) inverted-index consumer."""
    n = F.length(F.col(text_col)).cast("int")
    codes = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.ascii(F.col(text_col).substr(i, F.lit(1))).cast("long"),
    )
    powv = F.array(
        *[
            F.lit(pow(_CDC_PRIME, window - 1 - k, _CDC_MOD)).cast("long")
            for k in range(window)
        ]
    )

    def rolling(i):
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(window - 1)),
            F.lit(0).cast("long"),
            lambda acc, k: (
                acc
                + F.element_at(F.col("__codes"), (i - window + 1 + k).cast("int"))
                * F.element_at(F.col("__powv"), (k + 1).cast("int"))
            )
            % _CDC_MOD,
        )

    ends_raw = F.filter(
        F.transform(
            F.when(n >= window, F.sequence(F.lit(window), n)).otherwise(
                F.array().cast("array<int>")
            ),
            lambda i: F.struct(i.alias("i"), rolling(i).alias("h")),
        ),
        lambda s: s["h"] % divisor == 0,
    )
    ends = F.transform(ends_raw, lambda s: s["i"])

    # Nested bind1 (round-13): `all_ends` referenced `ends` three times
    # and the chunk transform referenced `all_ends` per chunk — each
    # reference re-ran the ENTIRE O(len * window) rolling-hash sweep,
    # making chunking O(len^2 / divisor) per document (measured 21 s at
    # sf0.01 for the checked query). Binding evaluates the sweep once
    # per row; boundaries and hashes are bit-identical.
    def chunk_structs(e: Column) -> Column:
        all_ends = F.when(
            (F.size(e) > 0) & (F.element_at(e, -1) == n), e
        ).otherwise(F.concat(e, F.array(n)))
        return bind1(
            all_ends,
            lambda ae: F.transform(
                F.sequence(F.lit(1), F.size(ae)),
                lambda m: F.struct(
                    (m - 1).cast("int").alias("chunk_idx"),
                    F.when(m == 1, F.lit(1))
                    .otherwise(F.element_at(ae, (m - 1).cast("int")) + 1)
                    .cast("int")
                    .alias("start_pos"),
                    F.element_at(ae, m.cast("int")).cast("int").alias("end_pos"),
                ),
            ),
        )

    chunks = bind1(ends, chunk_structs)
    exploded = (
        df.filter(n > 0)
        .withColumn("__codes", codes)
        .withColumn("__powv", powv)
        .select(F.col(id_col), F.col(text_col), F.explode(chunks).alias("c"))
    )
    chunk_len = (F.col("c.end_pos") - F.col("c.start_pos") + 1).cast("int")
    chunk_text = F.col(text_col).substr(
        F.col("c.start_pos"), F.col("c.end_pos") - F.col("c.start_pos") + 1
    )
    return exploded.select(
        F.col(id_col),
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.start_pos").alias("start_pos"),
        chunk_len.alias("chunk_len"),
        _h60(chunk_text, 0).alias("chunk_hash"),
    )


"""Curation extensions: repetition filtering and decontamination.

Two more first-class LLM-training-data operators over ``documents``:

* ``doc_repetition_stats`` — the Gopher repetition rules (public Rae et
  al. 2021 §A1.1 family): duplicate-token fraction, most-frequent-bigram
  character coverage, duplicate-trigram fraction, and the combined
  ``repetitive`` gate. Pure per-row array algebra — ZERO shuffles; at
  100 TB this is scan-stage map work like ``text_quality_stats``.
* ``decontaminate_train_test`` — the public GPT-3/PaLM decontamination
  recipe: flag training docs whose long-n-gram overlap with a held-out
  evaluation set clears a threshold. The eval n-gram set broadcasts
  (eval suites are tiny vs the corpus), so the corpus side is one
  map-side membership test + one doc-keyed count shuffle.

The oracles restate both relationally (explode + GROUP BY + window),
which doubles as the cross-engine proof that the per-row array forms
compute the same values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hridaya_steam_market_tracker_spark.operators import dedup as D
from hridaya_steam_market_tracker_spark.operators.text import bind1, with_repetition_stats
from hridaya_steam_market_tracker_spark.queries import register
from hridaya_steam_market_tracker_spark.queries.oracle_sql import (
    admission_sql,
    components_sql,
    cosine_sql,
)
from hridaya_steam_market_tracker_spark.tables import table

_TOKS_LOWER = "list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '')"

_EVAL_SOURCES = ("src18", "src19")


@register(
    "doc_repetition_stats",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS_LOWER} AS w FROM documents),
    g AS (
      SELECT doc_id, w,
             [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))] AS bg,
             [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)] AS tg
      FROM d WHERE len(w) >= 3
    ),
    bgx AS (
      SELECT doc_id, b AS gram, count(*) AS c
      FROM g, unnest(bg) AS t(b) GROUP BY 1, 2
    ),
    top AS (
      SELECT doc_id, gram, c,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY c DESC, gram DESC) AS rn
      FROM bgx
    )
    SELECT g.doc_id,
           CAST(len(g.w) AS BIGINT) AS n_tokens,
           round((len(g.w) - len(list_distinct(g.w)))
                 / CAST(len(g.w) AS DOUBLE), 6) AS dup_token_frac,
           round(t.c * length(t.gram)
                 / CAST(length(array_to_string(g.w, ' ')) AS DOUBLE), 6)
             AS top_bigram_char_frac,
           round((len(g.tg) - len(list_distinct(g.tg)))
                 / CAST(len(g.tg) AS DOUBLE), 6) AS dup_trigram_frac,
           (round(t.c * length(t.gram)
                  / CAST(length(array_to_string(g.w, ' ')) AS DOUBLE), 6) > 0.15
            OR round((len(g.tg) - len(list_distinct(g.tg)))
                     / CAST(len(g.tg) AS DOUBLE), 6) > 0.02) AS repetitive
    FROM g JOIN top t ON t.doc_id = g.doc_id AND t.rn = 1
    """,
    doc=(
        "Gopher-style repetition signals per document (duplicate-token "
        "fraction, top-bigram character coverage, duplicate-trigram "
        "fraction) and the combined repetitive gate — zero-shuffle "
        "per-row array algebra; the oracle recomputes the bigram mode "
        "relationally with the same c-DESC, gram-DESC tie-break."
    ),
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        with_repetition_stats(docs)
        .filter(F.col("n_tokens") >= 3)
        .select(
            "doc_id",
            "n_tokens",
            "dup_token_frac",
            "top_bigram_char_frac",
            "dup_trigram_frac",
            "repetitive",
        )
    )


@register(
    "decontaminate_train_test",
    oracle=f"""
    WITH d AS (SELECT doc_id, source, {_TOKS_LOWER} AS w FROM documents),
    sh AS (SELECT doc_id, source,
                  list_distinct([array_to_string(w[i:i+4], ' ')
                                 for i in range(1, len(w) - 3)]) AS s
           FROM d WHERE len(w) >= 5),
    ev AS (SELECT DISTINCT gr FROM sh, unnest(s) AS t(gr)
           WHERE source IN ('src18', 'src19')),
    tr AS (SELECT doc_id, len(s) AS n_grams, gr
           FROM sh, unnest(s) AS t(gr)
           WHERE source NOT IN ('src18', 'src19')),
    hits AS (SELECT doc_id, any_value(n_grams) AS n_grams,
                    count(CASE WHEN gr IN (SELECT gr FROM ev) THEN 1 END) AS n_hit
             FROM tr GROUP BY doc_id)
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_hit AS BIGINT) AS n_hit,
           round(n_hit / CAST(n_grams AS DOUBLE), 6) AS overlap_frac,
           round(n_hit / CAST(n_grams AS DOUBLE), 6) >= 0.5 AS contaminated
    FROM hits
    """,
    doc=(
        "GPT-3/PaLM-style decontamination: training docs (src0-17) whose "
        "distinct 5-gram overlap with the held-out sources (src18/19) "
        "clears 50%. Eval gram set broadcasts; corpus side is one "
        "map-side membership probe + one doc-keyed count shuffle."
    ),
)
def decontaminate_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return D.ngram_decontaminate(
        docs,
        eval_pred=F.col("source").isin(*_EVAL_SOURCES),
        n=5,
        threshold=0.5,
    )


@register(
    "fuzzy_decontaminate_pairs",
    oracle=f"""
    WITH d AS (SELECT doc_id, source, {_TOKS_LOWER} AS w FROM documents),
    sh AS (SELECT doc_id, source,
                  list_distinct([array_to_string(w[i:i+2], ' ')
                                 for i in range(1, len(w) - 1)]) AS s
           FROM d WHERE len(w) >= 3),
    tr AS (SELECT doc_id, s FROM sh
           WHERE source NOT IN ('src18', 'src19')),
    ev AS (SELECT doc_id AS eval_doc_id, s FROM sh
           WHERE source IN ('src18', 'src19'))
    SELECT tr.doc_id, ev.eval_doc_id,
           round(CAST(len(list_intersect(tr.s, ev.s)) AS DOUBLE)
                 / (len(tr.s) + len(ev.s)
                    - len(list_intersect(tr.s, ev.s))), 6) AS jaccard
    FROM tr JOIN ev
      ON CAST(len(list_intersect(tr.s, ev.s)) AS DOUBLE)
         / (len(tr.s) + len(ev.s) - len(list_intersect(tr.s, ev.s)))
         >= 0.5
    """,
    doc=(
        "FUZZY decontamination (round 12): training docs (src0-17) "
        "whose trigram-shingle Jaccard against ANY held-out doc "
        "(src18/19) reaches 0.5 — the near-duplicate complement of "
        "the exact 5-gram rule, catching paraphrase-level "
        "contamination where no long gram survives. Spark side is the "
        "cross-relation LSH shape (train bands x BROADCAST eval "
        "bands, exact-Jaccard verify on candidates only — the train "
        "corpus never self-joins and never shuffles to find "
        "candidates); the oracle is the exact cross-threshold pair "
        "set, which the 32x2 banding catches with p > 0.9999 at the "
        "threshold (tightened round 13 so a boundary pair can't read "
        "as a correctness flake)."
    ),
)
def fuzzy_decontaminate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return D.minhash_decontaminate(
        docs.filter(~F.col("source").isin(*_EVAL_SOURCES)),
        docs.filter(F.col("source").isin(*_EVAL_SOURCES)),
        threshold=0.5,
    )


# DuckDB twin of operators.dedup._h60(gram, seed=0): 60-bit md5 prefix.
_H60_SQL = "('0x' || substr(md5('0:' || {g}), 1, 15))::BIGINT"

_WINNOW_SQL = f"""
    WITH d AS (SELECT doc_id, {_TOKS_LOWER} AS w FROM documents),
    g AS (SELECT doc_id,
                 [{_H60_SQL.format(g="array_to_string(w[i:i+2], ' ')")}
                  for i in range(1, len(w) - 1)] AS h
          FROM d WHERE len(w) >= 3),
    win AS (SELECT doc_id,
                   CASE WHEN len(h) >= 4
                        THEN list_distinct([list_min(h[i:i+3])
                                            for i in range(1, len(h) - 2)])
                        ELSE [list_min(h)] END AS fps
            FROM g)
"""


@register(
    "winnow_fingerprints",
    oracle=_WINNOW_SQL
    + """
    SELECT doc_id, fp FROM win, unnest(fps) AS t(fp)
    """,
    doc=(
        "Winnowing fingerprints (Schleimer/Wilkerson/Aiken SIGMOD'03, "
        "3-word grams, window 4): per-window minimum of 60-bit gram "
        "hashes, deduped, exploded to the joinable (doc_id, fp) form. "
        "Selection is zero-shuffle per-row array algebra; the oracle "
        "recomputes every hash bit-for-bit."
    ),
)
def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return D.winnow_fingerprints(docs, k=3, w=4)


@register(
    "winnow_near_pairs",
    oracle=_WINNOW_SQL
    + """
    , fps AS (SELECT doc_id, fp FROM win, unnest(fps) AS t(fp)),
    rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50)
    SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS n_shared
    FROM fps a
    JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    WHERE a.fp IN (SELECT fp FROM rare)
    GROUP BY 1, 2
    HAVING count(*) >= 3
    """,
    doc=(
        "MOSS-style near-dup pairs: docs sharing >= 3 winnowing "
        "fingerprints, via the fp inverted index. Boilerplate "
        "fingerprints (document frequency > 50) are dropped before the "
        "self-join — the same hot-key guard as jaccard_pairs — so join "
        "fan-out per fp is bounded."
    ),
)
def winnow_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return D.winnow_near_pairs(docs, k=3, w=4, min_shared=3, max_df=50)


@register(
    "hash_split_assignment",
    oracle="""
    SELECT source, split, count(*) AS n_docs FROM (
      SELECT source,
             CASE WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
                                       1, 15))::BIGINT % 100 < 90
                  THEN 'train' ELSE 'val' END AS split
      FROM documents
    ) GROUP BY 1, 2
    """,
    doc=(
        "Deterministic 90/10 train/val split by salted 60-bit hash of "
        "the doc id — stable across runs, engines, and partitionings "
        "(the property random() cannot give a distributed pipeline). "
        "Grouped by source to show per-source balance; the assignment "
        "expression itself is the reusable operator."
    ),
)
def hash_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return (
        docs.withColumn(
            "split", F.when(h % 100 < 90, "train").otherwise("val")
        )
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "bm25_search_scores",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS_LOWER} AS w FROM documents),
    lens AS (SELECT doc_id, len(w) AS dl FROM d),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
              FROM lens),
    post AS (SELECT doc_id, len(w) AS dl, t AS term
             FROM d, unnest(w) AS u(t)
             WHERE t IN ('spark', 'join', 'table')),
    tf AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
           FROM post GROUP BY 1, 2, 3),
    dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1)
    SELECT doc_id,
           round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                     * tf * 2.2
                     / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS score
    FROM tf JOIN dfreq USING (term) CROSS JOIN stats
    GROUP BY doc_id
    """,
    doc=(
        "Okapi BM25(k1=1.2, b=0.75) scores for the query {spark, join, "
        "table} over all matching docs (Lucene idf variant). The "
        "exploded term stream filters to query terms before any "
        "aggregation (inverted-index pushdown); corpus stats and "
        "per-term document frequencies broadcast; doc length rides with "
        "the postings so there is no corpus-sized join-back."
    ),
)
def bm25_search_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.retrieval import bm25_scores

    docs = table(spark, sf_dir, "documents")
    return bm25_scores(docs, ["spark", "join", "table"], k1=1.2, b=0.75)


@register(
    "sequence_pack_assignment",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)),
                                  1, 15))::BIGINT % 8 AS INTEGER) AS bucket,
             len({_TOKS_LOWER}) AS n_tokens
      FROM documents
    ),
    s AS (
      SELECT *,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM d WHERE n_tokens > 0
    )
    SELECT doc_id, bucket, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_before // 512 AS BIGINT) AS chunk,
           CAST(cum_before % 512 AS BIGINT) AS chunk_offset,
           ((cum_before + n_tokens - 1) // 512) > (cum_before // 512)
             AS spans_boundary
    FROM s
    """,
    doc=(
        "Concat-and-chunk sequence packing (public GPT pretraining "
        "layout): where each doc's tokens land in 512-token context "
        "windows. Docs salt into 8 independent streams by a 60-bit id "
        "hash so the cumulative sum parallelizes per bucket instead of "
        "serializing into one global sort — n_buckets scales with the "
        "cluster at 100 TB."
    ),
)
def sequence_pack_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.packing import pack_sequences

    docs = table(spark, sf_dir, "documents")
    return pack_sequences(docs, budget=512, n_buckets=8)


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS_LOWER} AS w FROM documents),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM d),
    tf AS (SELECT doc_id, t AS term, CAST(count(*) AS DOUBLE) AS tf
           FROM d, unnest(w) AS u(t) GROUP BY 1, 2),
    dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * (ln((1 + n.n_docs) / (1 + dfreq.df)) + 1), 6)
               AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, rnk FROM (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
    doc=(
        "Document keyword extraction: top-3 terms per doc by smoothed "
        "TF-IDF (sklearn-style ln((1+N)/(1+df))+1). One postings "
        "explode feeds both the (doc, term) tf aggregate and the "
        "term-keyed document frequencies; ranking is a bounded per-doc "
        "window on the ROUNDED score so cross-engine ties cut "
        "identically."
    ),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    from hridaya_steam_market_tracker_spark.operators.text import tokens

    postings = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = postings.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * (F.log((1 + F.col("n_docs")) / (1 + F.col("df"))) + 1),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
    )


@register(
    "chunk_dedup_reassemble",
    oracle="""
    WITH chunks AS (
      SELECT doc_id, g.i AS idx,
             array_to_string(w[g.i*20+1 : g.i*20+20], ' ') AS chunk
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
      LATERAL (SELECT unnest(range(0, CAST(ceil(len(w)/20.0) AS BIGINT))) AS i) g
    ),
    kept AS (
      SELECT doc_id, idx, chunk,
             row_number() OVER (PARTITION BY md5(chunk)
                                ORDER BY doc_id, idx) AS rn
      FROM chunks
    )
    SELECT doc_id,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(string_agg(chunk, ' ' ORDER BY idx)
                    FILTER (WHERE rn = 1), '') AS dedup_text
    FROM kept GROUP BY doc_id
    """,
    doc=(
        "C4/CCNet-style sub-document dedup: split each document into "
        "20-token chunks, keep only the globally-FIRST occurrence of every "
        "distinct chunk (order: doc_id, then position), and reassemble the "
        "surviving chunks per document in original order. Two exchanges "
        "total at any scale: one on the 16-byte chunk digest (first-wins "
        "window), one on doc_id (reassembly) — no joins, no all-pairs "
        "anywhere; boilerplate chunks repeated across millions of docs "
        "collapse in the digest partition. Public recipe: C4 (Raffel et "
        "al. 2020 §2.2 three-sentence dedup) / CCNet paragraph hashing."
    ),
)
def chunk_dedup_reassemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")

    # bind1: split ONCE per row — the word array inlined into the
    # per-chunk lambda was re-split for every chunk (no CSE inside
    # lambdas), making the chunking O(len^2/chunk).
    def chunks_of(words: Column) -> Column:
        n_chunks = F.ceil(F.size(words) / F.lit(20.0)).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice(words, i * 20 + 1, 20), " "),
        )

    exploded = docs.select(
        "doc_id",
        F.posexplode(bind1(F.split("text", " "), chunks_of)).alias("idx", "chunk"),
    )
    w = Window.partitionBy(F.md5("chunk")).orderBy("doc_id", "idx")
    flagged = exploded.withColumn("rn", F.row_number().over(w))
    kept_structs = F.sort_array(
        F.collect_list(F.when(F.col("rn") == 1, F.struct("idx", "chunk")))
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.array_join(
            F.transform(kept_structs, lambda s: s.getField("chunk")), " "
        ).alias("dedup_text"),
    )


# PII scrub: the fixture corpus carries no organic PII, so the query
# injects deterministic synthetic PII into a doc_id-keyed slice (the
# same replayable-injection pattern dedup_exact uses) — both engines
# build the identical corpus, then redact and count independently.
_PII_INJECTED = """
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 7 = 0
                     THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                     ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
                     ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                     THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END AS text
      FROM documents
"""


@register(
    "pii_redaction_stats",
    oracle=f"""
    WITH injected AS ({_PII_INJECTED}),
    emails AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS INTEGER) AS n_email,
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g') AS t
      FROM injected
    ),
    ssns AS (
      SELECT doc_id, n_email,
             CAST(len(regexp_extract_all(t, '[0-9]{{3}}-[0-9]{{2}}-[0-9]{{4}}')) AS INTEGER) AS n_ssn,
             regexp_replace(t, '[0-9]{{3}}-[0-9]{{2}}-[0-9]{{4}}', '<SSN>', 'g') AS t2
      FROM emails
    ),
    ips AS (
      SELECT doc_id, n_email, n_ssn,
             CAST(len(regexp_extract_all(t2, '([0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}')) AS INTEGER) AS n_ipv4,
             regexp_replace(t2, '([0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}', '<IP>', 'g') AS redacted
      FROM ssns
    )
    SELECT doc_id, n_email, n_ssn, n_ipv4, sha256(redacted) AS redacted_sha256
    FROM ips
    """,
    doc=(
        "PII scrub (C4/Dolma-style pre-training pass): sequential regex "
        "masking of emails -> SSNs -> IPv4s with per-class counts and the "
        "SHA-256 of the redacted text, so the oracle value-checks the exact "
        "transformed bytes, not just the counts. Patterns live in the "
        "Java-regex ∩ RE2 common subset (operators/text.py:PII_PATTERNS); "
        "scan-stage regexp chain, zero shuffles, no Python."
    ),
)
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.text import (
        pii_counts,
        redact_pii,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(
                    F.lit(" ssn 123-45-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    counts = pii_counts(F.col("text"))
    return injected.select(
        "doc_id",
        counts["email"].cast("int").alias("n_email"),
        counts["ssn"].cast("int").alias("n_ssn"),
        counts["ipv4"].cast("int").alias("n_ipv4"),
        F.sha2(redact_pii(F.col("text")), 256).alias("redacted_sha256"),
    )


@register(
    "clean_text_stats",
    oracle="""
    WITH messy AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 5 = 0
                          THEN '  noisy' || chr(1) || 'ctl' || chr(9) || chr(9)
                               || 'tab  run ' || chr(11) || ' end '
                          ELSE '' END AS text
      FROM documents
    ),
    cleaned AS (
      SELECT doc_id, text,
             trim(regexp_replace(
               regexp_replace(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
               '\\s+', ' ', 'g')) AS clean
      FROM messy
    )
    SELECT doc_id,
           CAST(length(text) AS INTEGER) AS n_chars_raw,
           CAST(length(clean) AS INTEGER) AS n_chars_clean,
           sha256(clean) AS clean_sha256
    FROM cleaned
    """,
    doc=(
        "C4-style text normalization (operators/text.py:clean_text): strip "
        "ASCII control characters, collapse whitespace runs, trim — with the "
        "SHA-256 of the cleaned bytes so the oracle value-checks the exact "
        "transformation. Control chars (incl. \\x0B/\\x0C, where Java and RE2 "
        "\\s classes disagree) are stripped BEFORE the whitespace collapse, "
        "keeping the regex semantics inside the cross-engine-identical "
        "subset. Synthetic noise injected into a doc_id-keyed slice (fixture "
        "text is clean); scan-stage, zero shuffles."
    ),
)
def clean_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.text import clean_text

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    messy = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit("  noisy\x01ctl\t\ttab  run \x0b end "),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return messy.select(
        "doc_id",
        F.length("text").cast("int").alias("n_chars_raw"),
        F.length(clean_text(F.col("text"))).cast("int").alias("n_chars_clean"),
        F.sha2(clean_text(F.col("text")), 256).alias("clean_sha256"),
    )


@register(
    "url_domain_stats",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 3 = 0
                          THEN ' see https://ex' || CAST(doc_id % 7 AS VARCHAR)
                               || '.example.com/p/' || CAST(doc_id AS VARCHAR)
                               || ' and http://cdn.example.org/x '
                          ELSE '' END AS text
      FROM documents
    ),
    urls AS (
      SELECT doc_id,
             unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9.-]+[^ ]*')) AS url
      FROM seeded
    )
    SELECT regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1) AS domain,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM urls GROUP BY domain
    """,
    doc=(
        "Web-corpus domain statistics (the C4/RefinedWeb curation step that "
        "drives domain allow/deny lists and per-domain dedup budgets): "
        "extract URLs, group by registrable host, count mentions and "
        "documents. Regexes in the Java∩RE2 subset; deterministic URL "
        "injection into a doc_id-keyed slice keeps the fixture non-vacuous. "
        "Scan-stage extraction + one domain-keyed shuffle."
    ),
)
def url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" see https://ex"),
                    (F.col("doc_id") % 7).cast("string"),
                    F.lit(".example.com/p/"),
                    F.col("doc_id").cast("string"),
                    F.lit(" and http://cdn.example.org/x "),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    urls = seeded.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit("https?://[A-Za-z0-9.-]+[^ ]*"), 0)
        ).alias("url"),
    )
    return urls.select(
        "doc_id", F.regexp_extract("url", "https?://([A-Za-z0-9.-]+)", 1).alias("domain")
    ).groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


@register(
    "ngram_novelty_scores",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS_LOWER} AS w FROM documents),
    sh AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(generate_series(1, len(w) - 2),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
             )) AS shingle
      FROM d WHERE len(w) >= 3
    ),
    dfreq AS (
      SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY shingle
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           round(avg(CASE WHEN f.df = 1 THEN 1.0 ELSE 0.0 END), 6) AS novelty,
           round(avg(CAST(f.df AS DOUBLE)), 6) AS avg_df
    FROM sh s JOIN dfreq f ON s.shingle = f.shingle
    GROUP BY s.doc_id
    """,
    doc=(
        "Per-document n-gram novelty (curation signal: near-boilerplate docs "
        "score low, unique content scores high): fraction of a doc's distinct "
        "3-gram shingles that appear in NO other document, plus the mean "
        "document frequency. One shingle-keyed aggregate + one doc-keyed "
        "aggregate over the inverted index — the same index dedup uses, "
        "reused as a scoring signal."
    ),
)
def ngram_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    idx = D.shingle_index(docs).select("doc_id", "shingle")
    dfreq = idx.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        idx.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.round(F.avg(F.when(F.col("df") == 1, 1.0).otherwise(0.0)), 6).alias(
                "novelty"
            ),
            F.round(F.avg(F.col("df").cast("double")), 6).alias("avg_df"),
        )
    )


@register(
    "blob_decompress_stats_checked",
    oracle="""
    WITH m AS (SELECT i FROM generate_series(0, 53) g(i)),
    ok AS (
      SELECT i,
             ['zlib', 'gzip', 'bz2', 'xz', 'none'][i % 5 + 1] AS codec,
             'doc ' || CAST(i AS VARCHAR) || ' '
               || repeat('lorem ipsum dolor sit amet ', 3 + i % 5) AS text
      FROM m WHERE i % 9 <> 7
    )
    SELECT i AS doc_id, codec,
           CAST(length(text) AS INTEGER) AS n_bytes,
           sha256(text) AS sha256, text, TRUE AS decompress_ok
    FROM ok
    UNION ALL
    SELECT i,
           CASE WHEN i % 5 = 4 THEN 'zlib'
                ELSE ['zlib', 'gzip', 'bz2', 'xz', 'none'][i % 5 + 1] END,
           NULL, NULL, NULL, FALSE
    FROM m WHERE i % 9 = 7
    """,
    doc=(
        "VALUE-CHECKED blob decompression (the WARC/CommonCrawl "
        "ingestion step): documents compressed with rotating stdlib "
        "codecs (zlib/gzip/bz2/xz/none) are inflated in Arrow-batched "
        "mapInPandas; the oracle recomputes length, SHA-256, and the "
        "exact text of the DECOMPRESSED bytes from the closed-form "
        "plaintext — the compressed side is free to be "
        "nondeterministic, which is exactly why the check targets the "
        "inflated bytes. Corrupt streams value-check "
        "decompress_ok=false; per-row failure marking keeps one "
        "poisoned archive member from killing a 100 TB stage."
    ),
)
def blob_decompress_stats_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.compression import (
        decompress_blobs,
        synth_compressed_docs,
    )

    return decompress_blobs(synth_compressed_docs(spark, n=54))


@register(
    "warc_record_index_checked",
    oracle="""
    WITH m AS (SELECT i, 3 + i % 4 AS nr FROM generate_series(0, 11) g(i)),
    ok AS (
      SELECT m.i, j.j AS record_idx,
             ['response', 'request', 'metadata'][j.j % 3 + 1] AS warc_type,
             'http://example.com/' || m.i || '/' || j.j AS target_uri,
             'payload ' || m.i || ' ' || j.j || ' '
               || repeat('x', 10 + (m.i + j.j) % 20) AS body
      FROM m, LATERAL (SELECT unnest(range(0, m.nr)) AS j) j
      WHERE m.i % 7 <> 3
    )
    SELECT i AS blob_id, CAST(record_idx AS INTEGER) AS record_idx,
           warc_type, target_uri,
           CAST(length(body) AS INTEGER) AS content_length,
           sha256(body) AS payload_sha256, TRUE AS parse_ok
    FROM ok
    UNION ALL
    SELECT i, NULL, NULL, NULL, NULL, NULL, FALSE
    FROM m WHERE i % 7 = 3
    """,
    doc=(
        "VALUE-CHECKED WARC ingestion, composed end-to-end: synthetic "
        ".warc/.warc.gz blobs (gzip on even ids) run decompress_blobs "
        "then parse_warc_records — two Arrow stages splitting each "
        "archive into records with type, target URI, declared length, "
        "and payload SHA-256, all recomputed closed-form by the "
        "oracle. Corrupt archives (i % 7 == 3) value-check the "
        "parse_ok=false marking. The CommonCrawl ingestion front door "
        "for a 100 TB text pipeline."
    ),
)
def warc_record_index_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    import gzip as _gzip

    from hridaya_steam_market_tracker_spark.operators.compression import (
        decompress_blobs,
        parse_warc_records,
        synth_warc,
    )

    rows = []
    for i in range(12):
        raw = (
            b"this is not a warc file at all"
            if i % 7 == 3
            else synth_warc(seed=i, n_records=3 + i % 4)
        )
        codec = "gzip" if i % 2 == 0 else "none"
        payload = _gzip.compress(raw, mtime=0) if codec == "gzip" else raw
        rows.append((i, codec, bytearray(payload)))
    blobs = spark.createDataFrame(rows, "doc_id long, codec string, payload binary")
    inflated = (
        decompress_blobs(blobs)
        .filter(F.col("decompress_ok"))
        .select(
            F.col("doc_id").alias("blob_id"),
            F.encode(F.col("text"), "utf-8").alias("payload"),
        )
    )
    return parse_warc_records(inflated)


@register(
    "bigram_lm_doc_scores",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, list_prepend('<s>', ws) AS padded, len(ws) AS n
      FROM (SELECT doc_id, {_TOKS_LOWER} AS ws FROM documents)
      WHERE len(ws) > 0
    ),
    bi AS (
      SELECT doc_id, padded[k.k] AS w1, padded[k.k + 1] AS w2
      FROM d, LATERAL (SELECT unnest(range(1, n + 1)) AS k) k
    ),
    bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bi GROUP BY 1, 2),
    uc AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bi GROUP BY 1),
    vv AS (
      SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
      FROM (SELECT w1 AS w FROM bi UNION ALL SELECT w2 FROM bi)
    ),
    s AS (
      SELECT bi.doc_id,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(CAST(round(
               ln(CAST(bc.c12 + 1 AS DOUBLE) / CAST(uc.c1 + vv.v AS DOUBLE))
               * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS score_micro_nats
      FROM bi JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN vv
      GROUP BY bi.doc_id
    )
    SELECT doc_id, n_bigrams, score_micro_nats,
           round(CAST(score_micro_nats AS DOUBLE)
                 / (CAST(n_bigrams AS DOUBLE) * 1000000.0), 9) AS avg_logprob,
           round(exp(-(CAST(score_micro_nats AS DOUBLE)
                 / (CAST(n_bigrams AS DOUBLE) * 1000000.0))), 6) AS perplexity
    FROM s
    """,
    doc=(
        "CCNet-style LM quality filter, VALUE-CHECKED: an add-one "
        "bigram model trained on the corpus itself (two aggregations; "
        "the model tables broadcast back, vocabulary-sized), each doc "
        "scored by its BOS-padded bigram log-likelihood. Every "
        "log-probability integerizes to micro-nats BEFORE the per-doc "
        "sum (the PQ-ADC trick), so the BIGINT score is immune to float "
        "summation order and the oracle hash-matches the trained "
        "model's scores exactly; avg_logprob/perplexity derive from the "
        "exact integers."
    ),
)
def bigram_lm_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.lm import (
        bigram_lm_doc_scores as _score,
    )

    docs = table(spark, sf_dir, "documents")
    return _score(docs)


@register(
    "domain_mix_weights",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, list_prepend('<s>', ws) AS padded, len(ws) AS n
      FROM (SELECT doc_id, {_TOKS_LOWER} AS ws FROM documents)
      WHERE len(ws) > 0
    ),
    bi AS (
      SELECT doc_id, padded[k.k] AS w1, padded[k.k + 1] AS w2
      FROM d, LATERAL (SELECT unnest(range(1, n + 1)) AS k) k
    ),
    bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bi GROUP BY 1, 2),
    uc AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bi GROUP BY 1),
    vv AS (
      SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
      FROM (SELECT w1 AS w FROM bi UNION ALL SELECT w2 FROM bi)
    ),
    per_src AS (
      SELECT doc.source,
             CAST(count(DISTINCT bi.doc_id) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(CAST(round(
               ln(CAST(bc.c12 + 1 AS DOUBLE) / CAST(uc.c1 + vv.v AS DOUBLE))
               * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS score_micro
      FROM bi
      JOIN documents doc ON doc.doc_id = bi.doc_id
      JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN vv
      GROUP BY doc.source
    ),
    inv AS (
      SELECT source, n_docs, n_bigrams,
             CAST(round(exp(CAST(score_micro AS DOUBLE)
               / (CAST(n_bigrams AS DOUBLE) * 1000000.0)) * 1000000.0, 0)
               AS BIGINT) AS inv_ppl_micro
      FROM per_src
    )
    SELECT source, n_docs, n_bigrams, inv_ppl_micro,
           round(CAST(inv_ppl_micro AS DOUBLE)
                 / CAST((SELECT sum(inv_ppl_micro) FROM inv) AS DOUBLE), 9)
             AS mix_weight
    FROM inv
    """,
    doc=(
        "Training-mix planning (quality-weighted domain sampling, the "
        "DoReMi/CCNet-family recipe shape): per source domain, doc and "
        "bigram counts plus an LM-quality sampling weight — inverse "
        "perplexity under the corpus bigram model, normalized across "
        "domains. Determinism end to end: LM scores are exact BIGINT "
        "micro-nats, inverse perplexities integerize to micro-units "
        "before the cross-domain normalization sum, so the weights are "
        "identical doubles in both engines. One extra shuffle over the "
        "doc-level scoring: the per-source rollup."
    ),
)
def domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.lm import _doc_bigrams

    docs = table(spark, sf_dir, "documents")
    bi = _doc_bigrams(docs, "text", "doc_id")
    # Round 13 (same derivation as operators/lm.py): uc and vv derive
    # from the reduced bigram counts instead of re-aggregating the
    # corpus-sized explode three more times; the isnotnull filter is a
    # no-op that keeps the shared (w1, w2) subtree canonical across
    # consumers so its exchange is reused.
    bc = (
        bi.filter(F.col("w1").isNotNull() & F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
    )
    uc = bc.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    vv = (
        bc.select(F.col("w1").alias("w"))
        .union(bc.select(F.col("w2").alias("w")))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    )
    logp_micro = F.round(
        F.log(
            (F.col("c12") + 1).cast("double")
            / (F.col("c1") + F.col("v")).cast("double")
        )
        * F.lit(1000000.0),
        0,
    ).cast("long")
    # doc -> source is corpus-sized: no broadcast hint (AQE broadcasts it
    # at fixture scale on its own; at 100 TB it degrades to a keyed join).
    per_src = (
        bi.join(docs.select("doc_id", "source"), "doc_id")
        .join(bc, ["w1", "w2"])
        .join(uc, "w1")
        .crossJoin(F.broadcast(vv))
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(logp_micro).cast("long").alias("score_micro"),
        )
    )
    inv = per_src.select(
        "source",
        "n_docs",
        "n_bigrams",
        F.round(
            F.exp(
                F.col("score_micro").cast("double")
                / (F.col("n_bigrams").cast("double") * 1000000.0)
            )
            * 1000000.0,
            0,
        )
        .cast("long")
        .alias("inv_ppl_micro"),
    )
    denom = inv.agg(F.sum("inv_ppl_micro").cast("long").alias("denom"))
    return inv.crossJoin(F.broadcast(denom)).select(
        "source",
        "n_docs",
        "n_bigrams",
        "inv_ppl_micro",
        F.round(
            F.col("inv_ppl_micro").cast("double") / F.col("denom").cast("double"), 9
        ).alias("mix_weight"),
    )


# HTML wrapper injected around each document (both engines build the
# identical markup; the chain below must strip it back out).
_HTML_WRAP_SQL = """
      SELECT doc_id,
             '<html><head><script>var x = ' || CAST(doc_id AS VARCHAR)
             || ';</script><style>.c{color:red}</style></head><body>'
             || '<!-- boilerplate --><h1>Title ' || CAST(doc_id AS VARCHAR)
             || '</h1><p class="a">' || text || '</p>'
             || CASE WHEN doc_id % 3 = 0
                     THEN '<ul><li>alpha &amp; beta</li><li>x &lt; y</li></ul>'
                     ELSE '' END
             || '</body></html>' AS html
      FROM documents
"""


def _html_strip_chain_sql(expr: str) -> str:
    from hridaya_steam_market_tracker_spark.operators.text import (
        CONTROL_CHARS_RE,
        _HTML_STRIP_STEPS,
    )

    for pat, rep in _HTML_STRIP_STEPS:
        rep_sql = rep.replace("'", "''")
        expr = f"regexp_replace({expr}, '{pat}', '{rep_sql}', 'g')"
    return (
        f"trim(regexp_replace(regexp_replace({expr}, "
        f"'{CONTROL_CHARS_RE}', '', 'g'), '\\s+', ' ', 'g'))"
    )


@register(
    "html_text_extract_checked",
    oracle=f"""
    WITH wrapped AS ({_HTML_WRAP_SQL}),
    extracted AS (
      SELECT doc_id, {_html_strip_chain_sql("html")} AS extracted
      FROM wrapped
    )
    SELECT doc_id, CAST(length(extracted) AS INTEGER) AS n_chars,
           sha256(extracted) AS extracted_sha256
    FROM extracted
    """,
    doc=(
        "HTML -> text extraction (the WARC-payload step of a web-corpus "
        "pipeline), VALUE-CHECKED: deterministic markup (script/style/"
        "comment blocks, heading + paragraph tags, entity-bearing list "
        "items) wraps every document; operators/text.py:html_to_text "
        "strips it with a scan-stage Java∩RE2 regexp chain — blocks "
        "out, tags to spaces, six-entity decode with &amp; last, C4 "
        "whitespace cleanup — and the oracle runs the identical chain, "
        "hashing the extracted bytes. Zero Python, zero shuffles."
    ),
)
def html_text_extract_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.text import html_to_text

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    wrapped = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><script>var x = "),
            F.col("doc_id").cast("string"),
            F.lit(";</script><style>.c{color:red}</style></head><body>"),
            F.lit("<!-- boilerplate --><h1>Title "),
            F.col("doc_id").cast("string"),
            F.lit('</h1><p class="a">'),
            F.col("text"),
            F.lit("</p>"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("<ul><li>alpha &amp; beta</li><li>x &lt; y</li></ul>"),
            ).otherwise(F.lit("")),
            F.lit("</body></html>"),
        ).alias("html"),
    )
    extracted = html_to_text(F.col("html"))
    return wrapped.select(
        "doc_id",
        F.length(extracted).cast("int").alias("n_chars"),
        F.sha2(extracted, 256).alias("extracted_sha256"),
    )


@register(
    "ccnet_perplexity_buckets",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, list_prepend('<s>', ws) AS padded, len(ws) AS n
      FROM (SELECT doc_id, {_TOKS_LOWER} AS ws FROM documents)
      WHERE len(ws) > 0
    ),
    bi AS (
      SELECT doc_id, padded[k.k] AS w1, padded[k.k + 1] AS w2
      FROM d, LATERAL (SELECT unnest(range(1, n + 1)) AS k) k
    ),
    bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bi GROUP BY 1, 2),
    uc AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bi GROUP BY 1),
    vv AS (
      SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
      FROM (SELECT w1 AS w FROM bi UNION ALL SELECT w2 FROM bi)
    ),
    s AS (
      SELECT bi.doc_id,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(CAST(round(
               ln(CAST(bc.c12 + 1 AS DOUBLE) / CAST(uc.c1 + vv.v AS DOUBLE))
               * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS score_micro_nats
      FROM bi JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN vv
      GROUP BY bi.doc_id
    ),
    j AS (
      SELECT s.doc_id, doc.source,
             round(CAST(s.score_micro_nats AS DOUBLE)
                   / (CAST(s.n_bigrams AS DOUBLE) * 1000000.0), 9) AS avg_logprob,
             round(exp(-(CAST(s.score_micro_nats AS DOUBLE)
                   / (CAST(s.n_bigrams AS DOUBLE) * 1000000.0))), 6) AS perplexity
      FROM s JOIN documents doc USING (doc_id)
    ),
    b AS (
      SELECT *, ntile(3) OVER (PARTITION BY source
                               ORDER BY avg_logprob DESC, doc_id ASC) AS bucket
      FROM j
    )
    SELECT doc_id, source, avg_logprob, perplexity,
           CAST(bucket AS INTEGER) AS bucket,
           CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                       ELSE 'tail' END AS bucket_label,
           bucket <= 2 AS keep
    FROM b
    """,
    doc=(
        "CCNet head/middle/tail perplexity bucketing (Wenzek et al. "
        "2020): per-source terciles of the corpus-trained bigram-LM "
        "per-token log-likelihood, keep = head+middle (the published "
        "selection rule). Ordering is on the rounded exact-integer-"
        "derived avg_logprob with doc_id tie-break, so the assignment "
        "is cross-engine deterministic. The oracle states the rule as "
        "NTILE(3); the Spark side replicates NTILE's rank arithmetic "
        "EXACTLY from a per-(source, score) histogram instead of "
        "sorting each whole source in one window partition — the "
        "round-11 scale flag (see _ccnet_buckets_exact)."
    ),
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.lm import (
        bigram_lm_doc_scores as _score,
    )

    docs = table(spark, sf_dir, "documents")
    scores = _score(docs).select("doc_id", "avg_logprob", "perplexity")
    joined = scores.join(docs.select("doc_id", "source"), "doc_id")
    # Lazy stage boundary (the subclip-pairs lesson): the de-skewed
    # bucketing consumes the scored relation three ways (histogram,
    # boundary totals, assignment join) and the bigram-LM scoring
    # subtree is the expensive part — materialize it once.
    from hridaya_steam_market_tracker_spark.checkpoints import (
        stage_checkpoint,
    )

    return _ccnet_buckets_exact(stage_checkpoint(joined, eager=False))


def _ccnet_buckets_exact(joined: DataFrame) -> DataFrame:
    """Exact per-source tercile assignment WITHOUT a whole-source sort —
    the de-skewed replacement for `ntile(3) OVER (PARTITION BY source
    ORDER BY avg_logprob DESC, doc_id ASC)`, reproducing its output
    bit-for-bit (the DuckDB oracle still SAYS ntile; this is the same
    function computed scale-safely):

      rank(row)  = |rows of the source with higher avg_logprob|
                   + row_number within the (source, avg_logprob) tie
                     group ordered by doc_id
      bucket     = 1 + (rank > C1) + (rank > C2), where with n docs,
                   base = n div 3, rem = n mod 3 the NTILE boundaries
                   are C1 = base + (rem>=1), C2 = 2*base + (rem>=1)
                   + (rem>=2).

    Skew posture: the old plan sorted EVERY doc of a source inside one
    window task (sources are low-cardinality, so at 100x that task is
    a straggler/2-GB hazard). Here the docs relation is shuffled ONCE
    by (source, avg_logprob) — the tie-group row_number exchanges it,
    and the histogram aggregate AND the assignment join both sit
    above that same reused exchange — so the largest single sort is
    the largest TIE GROUP (equal rounded scores), not the largest
    source; the only per-source-partitioned work is two window sums
    over the (source, avg_logprob) HISTOGRAM (running count + total,
    one small exchange), whose width is the distinct rounded scores
    of the source (round(.,9) micro-nat-derived — far below doc
    count; still the documented bound of the exact tier). Corpus tier
    for unbounded sources:
    `ccnet_buckets_approx` (percentile_approx cutoffs — no per-source
    sort of ANY width, at the cost of the exact-size guarantee)."""
    from pyspark.sql import Window

    tie_w = Window.partitionBy("source", "avg_logprob").orderBy(
        F.col("doc_id").asc()
    )
    cum_w = (
        Window.partitionBy("source")
        .orderBy(F.col("avg_logprob").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # ONE full shuffle of the scored docs: the tie-group row_number
    # exchanges by (source, avg_logprob), and BOTH the histogram
    # aggregate and the assignment join are derived from that ranked
    # relation, so they sit above the same exchange (reused — the
    # expensive scoring subtree below it runs once) instead of each
    # re-shuffling the full relation.
    ranked = joined.select(
        "doc_id", "source", "avg_logprob", "perplexity",
        F.row_number().over(tie_w).alias("tie_rank"),
    )
    # The per-source total (hence the NTILE boundaries C1/C2) rides a
    # second window over the SAME histogram exchange (full frame, no
    # order) instead of a separate aggregate + broadcast join — the
    # boundary table IS the histogram row.
    full_w = Window.partitionBy("source").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    hist = (
        ranked.groupBy("source", "avg_logprob")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "source",
            "avg_logprob",
            (F.sum("c").over(cum_w) - F.col("c")).alias("before"),
            F.sum("c").over(full_w).alias("n"),
        )
        .select(
            "source",
            "avg_logprob",
            "before",
            (
                F.expr("n div 3")
                + (F.col("n") % 3 >= 1).cast("long")
            ).alias("c1"),
            (
                2 * F.expr("n div 3")
                + (F.col("n") % 3 >= 1).cast("long")
                + (F.col("n") % 3 >= 2).cast("long")
            ).alias("c2"),
        )
    )
    rank = (F.col("before") + F.col("tie_rank")).alias("rank")
    bucket = (
        F.lit(1)
        + (F.col("rank") > F.col("c1")).cast("int")
        + (F.col("rank") > F.col("c2")).cast("int")
    )
    return (
        ranked.join(hist, ["source", "avg_logprob"])
        .select("doc_id", "source", "avg_logprob", "perplexity",
                "c1", "c2", rank)
        .select(
            "doc_id",
            "source",
            "avg_logprob",
            "perplexity",
            bucket.cast("int").alias("bucket"),
            F.when(bucket == 1, "head")
            .when(bucket == 2, "middle")
            .otherwise("tail")
            .alias("bucket_label"),
            (bucket <= 2).alias("keep"),
        )
    )


def ccnet_buckets_approx(
    joined: DataFrame, accuracy: int = 10000
) -> DataFrame:
    """Corpus-scale tier of the CCNet bucketing: per-source tercile
    CUTOFF SCORES from `percentile_approx` (one mergeable sketch
    aggregate — no per-source sort of any width, no histogram), docs
    assigned by comparing avg_logprob against the broadcast cutoffs.
    Same output shape as the exact tier; the trade is the exact
    NTILE size guarantee — bucket POPULATIONS drift by the sketch
    error and TIES on a cutoff score all land in the better
    (lower-numbered) bucket together (no doc_id split), which is the
    honest semantics of a cutoff-comparison rule. Use when a single source's distinct-score
    histogram itself would skew (the exact tier's documented bound);
    `accuracy` is Spark's percentile_approx knob (error <= 1/accuracy
    of the source's doc count)."""
    cuts = joined.groupBy("source").agg(
        F.percentile_approx(
            "avg_logprob", [2.0 / 3.0, 1.0 / 3.0], accuracy
        ).alias("q")
    ).select(
        "source",
        F.col("q")[0].alias("q_head"),
        F.col("q")[1].alias("q_mid"),
    )
    bucket = (
        F.lit(1)
        + (F.col("avg_logprob") < F.col("q_head")).cast("int")
        + (F.col("avg_logprob") < F.col("q_mid")).cast("int")
    )
    return joined.join(F.broadcast(cuts), "source").select(
        "doc_id",
        "source",
        "avg_logprob",
        "perplexity",
        bucket.cast("int").alias("bucket"),
        F.when(bucket == 1, "head")
        .when(bucket == 2, "middle")
        .otherwise("tail")
        .alias("bucket_label"),
        (bucket <= 2).alias("keep"),
    )


@register(
    "ccnet_buckets_approx",
    # Rows-only by design (the approx_percentiles_per_stream class):
    # the cutoffs come from Spark's percentile_approx sketch, whose
    # rank-interpolation-free estimates are engine-specific — DuckDB
    # cannot reproduce them bit-for-bit. Value semantics are pinned in
    # pytest as an ERROR BOUND against the exact tier instead
    # (tests/test_scale_operators.py::test_ccnet_buckets_approx_tier_semantics).
    oracle=None,
    doc=(
        "Corpus-scale tier of the CCNet bucketing: per-source tercile "
        "CUTOFF SCORES via one mergeable percentile_approx sketch — "
        "no per-source sort of ANY width, no distinct-score histogram "
        "— with docs assigned by comparing avg_logprob to the "
        "broadcast cutoffs. This is the tier the exact query's "
        "docstring points 100-TB users to when a single source's "
        "distinct-score histogram itself would skew; the trade is the "
        "exact NTILE size guarantee (populations drift by sketch "
        "error; cutoff-score ties land together). Error-bounded vs "
        "the exact tier in pytest; rows-only at the driver."
    ),
)
def ccnet_buckets_approx_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.checkpoints import (
        stage_checkpoint,
    )
    from hridaya_steam_market_tracker_spark.operators.lm import (
        bigram_lm_doc_scores as _score,
    )

    docs = table(spark, sf_dir, "documents")
    scores = _score(docs).select("doc_id", "avg_logprob", "perplexity")
    joined = scores.join(docs.select("doc_id", "source"), "doc_id")
    # Same lazy stage boundary as the exact tier: the sketch aggregate
    # and the assignment join both consume the scored relation.
    return ccnet_buckets_approx(stage_checkpoint(joined, eager=False))


# The capstone: the full modern pretraining curation recipe as ONE
# Catalyst plan. Every stage's semantics (and its SQL fragment) is the
# already-oracle-checked standalone query; this registration proves the
# COMPOSITION — what an actual 100 TB ingest batch runs before export:
#   quality gate >= 0.7         (text_quality_stats)
#   Gopher repetition gate      (doc_repetition_stats)
#   5-gram decontamination      (decontaminate_train_test; eval slice dropped)
#   exact dedup keep-first      (dedup_exact fingerprints)
#   near-dup cluster canonical  (dedup_keep_best_quality: quality argmax)
#   DSIR sign-gate selection    (dsir_importance_weights; target = src18/19)
# -> per-source corpus summary (docs kept, token budget, avg quality).
from hridaya_steam_market_tracker_spark.queries.docs import (  # noqa: E402
    _SHINGLES as _SHINGLES3,
    _STOPLIST as _STOPLIST_E2E,
)


@register(
    "pretrain_pipeline_e2e",
    oracle=f"""
    WITH RECURSIVE d0 AS (
      SELECT doc_id, source, text, {_TOKS_LOWER} AS w FROM documents
      WHERE length(text) > 0
    ),
    q AS (
      SELECT doc_id, source, text, w,
             round(CASE WHEN len(w) BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.3 END * 0.4
                 + CASE WHEN CAST(len(list_filter(w, x -> list_contains({_STOPLIST_E2E}, x))) AS DOUBLE) / len(w) >= 0.05 THEN 1.0 ELSE 0.5 END * 0.4
                 + CASE WHEN CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) <= 0.2 THEN 1.0 ELSE 0.4 END * 0.2,
                 6) AS quality_score
      FROM d0 WHERE len(w) > 0
    ),
    g1 AS (SELECT * FROM q WHERE quality_score >= 0.7),
    gdoc AS (
      SELECT doc_id, w,
             [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))] AS bg,
             [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)] AS tg
      FROM g1
    ),
    bgx AS (SELECT doc_id, b AS gram, count(*) AS c
            FROM gdoc, unnest(bg) AS t(b) GROUP BY 1, 2),
    topbg AS (SELECT doc_id, gram, c,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY c DESC, gram DESC) AS rn
              FROM bgx),
    rep AS (
      SELECT g.doc_id,
             (round(t.c * length(t.gram)
                    / CAST(length(array_to_string(g.w, ' ')) AS DOUBLE), 6) > 0.15
              OR round((len(g.tg) - len(list_distinct(g.tg)))
                       / CAST(len(g.tg) AS DOUBLE), 6) > 0.02) AS repetitive
      FROM gdoc g JOIN topbg t ON t.doc_id = g.doc_id AND t.rn = 1
    ),
    g2 AS (SELECT g1.* FROM g1 JOIN rep USING (doc_id) WHERE NOT rep.repetitive),
    sh5 AS (
      SELECT doc_id, source,
             list_distinct([array_to_string(w[i:i+4], ' ')
                            for i in range(1, len(w) - 3)]) AS s
      FROM d0 WHERE len(w) >= 5
    ),
    ev AS (SELECT DISTINCT gr FROM sh5, unnest(s) AS t(gr)
           WHERE source IN ('src18', 'src19')),
    tr AS (SELECT doc_id, len(s) AS n_grams, gr FROM sh5, unnest(s) AS t(gr)
           WHERE source NOT IN ('src18', 'src19')),
    dec AS (
      SELECT doc_id,
             round(count(CASE WHEN gr IN (SELECT gr FROM ev) THEN 1 END)
                   / CAST(any_value(n_grams) AS DOUBLE), 6) >= 0.5 AS contaminated
      FROM tr GROUP BY doc_id
    ),
    g3 AS (
      SELECT g2.* FROM g2 JOIN dec USING (doc_id)
      WHERE g2.source NOT IN ('src18', 'src19') AND NOT dec.contaminated
    ),
    g4 AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY md5(array_to_string(w, ' ')) ORDER BY doc_id) AS fprn
        FROM g3
      ) WHERE fprn = 1
    ),
    sh3 AS (SELECT doc_id, {_SHINGLES3} AS s FROM g4),
    pairs AS (
      SELECT a.doc_id AS i, b.doc_id AS j
      FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
    ){components_sql("g4", "doc_id")},
    g5 AS (
      SELECT g4.* FROM g4 JOIN (
        SELECT c.doc_id, row_number() OVER (
          PARTITION BY c.component
          ORDER BY g.quality_score DESC, c.doc_id ASC) AS crn
        FROM comp c JOIN g4 g USING (doc_id)
      ) k USING (doc_id) WHERE k.crn = 1
    ),
    bi AS (
      SELECT doc_id, source, g
      FROM (SELECT doc_id, source,
                   [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))] AS gs
            FROM d0 WHERE len(w) >= 2) t,
      unnest(gs) AS u(g)
    ),
    b AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5('dsir:' || g), 1, 15))::BIGINT % 256
                  AS BIGINT) AS bucket
      FROM bi
    ),
    counts AS (
      SELECT bucket,
             CAST(sum(CASE WHEN source IN ('src18', 'src19') THEN 1 ELSE 0 END)
                  AS BIGINT) AS ct,
             CAST(sum(CASE WHEN source IN ('src18', 'src19') THEN 0 ELSE 1 END)
                  AS BIGINT) AS cr
      FROM b GROUP BY bucket
    ),
    tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr
            FROM counts),
    model AS (
      SELECT bucket,
             CAST(round((ln((ct + 1) / CAST(nt + 256 AS DOUBLE))
                       - ln((cr + 1) / CAST(nr + 256 AS DOUBLE))) * 1000000.0)
                  AS BIGINT) AS lr_micro
      FROM counts CROSS JOIN tot WHERE cr > 0
    ),
    docb AS (
      SELECT doc_id, bucket, count(*) AS c FROM b
      WHERE source NOT IN ('src18', 'src19') GROUP BY 1, 2
    ),
    dsir AS (
      SELECT doc_id, CAST(sum(c * lr_micro) AS BIGINT) > 0 AS selected
      FROM docb JOIN model USING (bucket) GROUP BY doc_id
    )
    SELECT g5.source,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(len(g5.w)) AS BIGINT) AS n_tokens,
           round(avg(g5.quality_score), 6) AS avg_quality
    FROM g5 JOIN dsir USING (doc_id)
    WHERE dsir.selected
    GROUP BY g5.source
    """,
    doc=(
        "CAPSTONE — the full modern pretraining curation recipe as ONE "
        "Catalyst plan: composite quality gate, Gopher repetition gate, "
        "5-gram eval decontamination, exact-fingerprint dedup, near-dup "
        "cluster canonicalization by quality argmax, and DSIR sign-gate "
        "selection, ending in the per-source corpus summary (docs kept, "
        "token budget, avg quality). Every stage is the already-oracle-"
        "checked standalone query; this row value-checks the "
        "COMPOSITION. Pair mining uses the MinHash+LSH scale path; the "
        "oracle restates it as exact Jaccard (equivalent at these "
        "banding parameters, cross-checked by dedup_clusters)."
    ),
)
def pretrain_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from hridaya_steam_market_tracker_spark.operators.components import (
        cluster_labels,
    )
    from hridaya_steam_market_tracker_spark.operators.dsir import (
        dsir_importance_weights,
    )
    from hridaya_steam_market_tracker_spark.operators.text import (
        fingerprint,
        with_text_stats,
    )

    docs = table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    base = with_text_stats(docs).select(
        "doc_id", "source", "text", "quality_score", "n_tokens"
    )
    g1 = base.filter(F.col("quality_score") >= 0.7)
    rep = (
        with_repetition_stats(docs)
        .filter(F.col("n_tokens") >= 3)
        .select("doc_id", "repetitive")
    )
    g2 = g1.join(rep, "doc_id").filter(~F.col("repetitive"))
    dec = D.ngram_decontaminate(
        docs, eval_pred=F.col("source").isin(*_EVAL_SOURCES), n=5, threshold=0.5
    ).select("doc_id", "contaminated")
    g3 = (
        g2.filter(~F.col("source").isin(*_EVAL_SOURCES))
        .join(dec, "doc_id")
        .filter(~F.col("contaminated"))
    )
    w_fp = Window.partitionBy("fp").orderBy(F.col("doc_id").asc())
    g4 = (
        g3.withColumn("fp", fingerprint(F.col("text")))
        .withColumn("fprn", F.row_number().over(w_fp))
        .filter(F.col("fprn") == 1)
        .drop("fp", "fprn")
    )
    g4_docs = docs.join(g4.select("doc_id"), "doc_id")
    pairs = D.minhash_near_duplicates(
        g4_docs, num_hashes=32, bands=16, threshold=0.5
    )
    comp = cluster_labels(g4.select("doc_id"), pairs)
    w_cl = Window.partitionBy("component").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    g5 = (
        g4.join(comp, "doc_id")
        .withColumn("crn", F.row_number().over(w_cl))
        .filter(F.col("crn") == 1)
    )
    dsir = dsir_importance_weights(docs, target_sources=_EVAL_SOURCES).select(
        "doc_id", "selected"
    )
    g6 = g5.join(dsir, "doc_id").filter(F.col("selected"))
    return g6.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.avg("quality_score"), 6).alias("avg_quality"),
    )


@register(
    "source_kl_divergence",
    oracle=f"""
    WITH tok AS (
      SELECT source, t
      FROM (SELECT source, {_TOKS_LOWER} AS w FROM documents), unnest(w) AS u(t)
    ),
    sc AS (SELECT source, t, CAST(count(*) AS BIGINT) AS cs
           FROM tok GROUP BY 1, 2),
    cc AS (SELECT t, CAST(count(*) AS BIGINT) AS ccnt FROM tok GROUP BY 1),
    st AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ts FROM sc GROUP BY 1),
    tot AS (SELECT CAST(sum(ccnt) AS BIGINT) AS tc FROM cc),
    terms AS (
      SELECT s.source, s.cs, st.ts,
             CAST(round(ln((s.cs * tot.tc) / CAST(c.ccnt * st.ts AS DOUBLE))
                        * 1000000.0) AS BIGINT) AS lr_micro
      FROM sc s JOIN cc c USING (t) JOIN st USING (source) CROSS JOIN tot
    )
    SELECT source,
           CAST(any_value(ts) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(cs * lr_micro) AS BIGINT) AS kl_micro_weighted,
           round(CAST(sum(cs * lr_micro) AS DOUBLE)
                 / (any_value(ts) * 1000000.0), 9) AS kl_nats
    FROM terms GROUP BY source
    """,
    doc=(
        "Domain-shift diagnostic: KL(source || corpus) over unigram "
        "distributions, per source — the curation signal for spotting "
        "outlier domains whose token mix diverges from the training "
        "blend (cf. the domain-reweighting literature the mix-weights "
        "query implements). Log-ratios integerize to micro-nats from "
        "exact integer counts (same discipline as the LM scorer), so "
        "the weighted BIGINT sum is immune to float summation order; "
        "kl_nats derives from the exact integers. Two aggregations + "
        "one broadcast totals join."
    ),
)
def source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != "")
    tok = docs.select("source", F.explode(toks).alias("t"))
    sc = tok.groupBy("source", "t").agg(F.count(F.lit(1)).cast("long").alias("cs"))
    cc = tok.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("ccnt"))
    st = sc.groupBy("source").agg(F.sum("cs").cast("long").alias("ts"))
    tot = cc.agg(F.sum("ccnt").cast("long").alias("tc"))
    lr_micro = F.round(
        F.log(
            (F.col("cs") * F.col("tc")) / (F.col("ccnt") * F.col("ts")).cast("double")
        )
        * F.lit(1000000.0),
        0,
    ).cast("long")
    terms = (
        sc.join(cc, "t")
        .join(F.broadcast(st), "source")
        .crossJoin(F.broadcast(tot))
        .select("source", "cs", "ts", lr_micro.alias("lr_micro"))
    )
    return terms.groupBy("source").agg(
        F.first("ts").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum(F.col("cs") * F.col("lr_micro")).cast("long").alias("kl_micro_weighted"),
        F.round(
            F.sum(F.col("cs") * F.col("lr_micro")).cast("double")
            / (F.first("ts") * F.lit(1000000.0)),
            9,
        ).alias("kl_nats"),
    )


_TR_ROUNDS, _TR_TOPK = 8, 3


def _textrank_oracle(rounds: int = _TR_ROUNDS) -> str:
    """Chained PageRank rounds in FIXED-POINT micro-units: the float
    recurrence s' = 0.15 + 0.85 * sum(s(u)/deg(u)) is order-dependent
    under IEEE summation, so both engines instead compute
    contribution = s(u) // deg(u) (integer floor, micro-units) and
    s' = 150000 + (850 * sum) // 1000 — BIGINT sums are associative,
    making the whole per-document trajectory bit-exact."""
    rounds_sql = []
    for r in range(1, rounds + 1):
        rounds_sql.append(
            f"""s{r} AS (
      SELECT e.doc_id, e.u AS token,
             CAST(150000 + (850 * sum(s.score // d.deg)) // 1000 AS BIGINT)
               AS score
      FROM edges e
      JOIN s{r-1} s ON s.doc_id = e.doc_id AND s.token = e.v
      JOIN deg d ON d.doc_id = e.doc_id AND d.token = e.v
      GROUP BY e.doc_id, e.u
    )"""
        )
    chain = ",\n    ".join(rounds_sql)
    return f"""
    WITH d0 AS (
      SELECT doc_id,
             list_filter({_TOKS_LOWER}, t -> length(t) >= 4) AS w
      FROM documents
    ),
    adj AS (
      SELECT DISTINCT doc_id, w[i] AS u, w[i+1] AS v
      FROM d0, LATERAL (SELECT unnest(range(1, len(w))) AS i) g
      WHERE w[i] <> w[i+1]
    ),
    edges AS (SELECT doc_id, u, v FROM adj
              UNION SELECT doc_id, v, u FROM adj),
    deg AS (SELECT doc_id, u AS token, CAST(count(*) AS BIGINT) AS deg
            FROM edges GROUP BY 1, 2),
    s0 AS (SELECT doc_id, token, CAST(1000000 AS BIGINT) AS score FROM deg),
    {chain},
    ranked AS (
      SELECT doc_id, token, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, token ASC) AS rank
      FROM s{rounds}
    )
    SELECT doc_id, token, score AS score_micro, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= {_TR_TOPK}
    """


@register(
    "textrank_keywords",
    oracle=_textrank_oracle(),
    doc=(
        "TextRank keyword extraction (Mihalcea & Tarau 2004): per-"
        "document word co-occurrence graph (window 2 over >=4-char "
        "tokens), 8 PageRank rounds, top-3 words per doc. MODEL-"
        "PARALLEL: every document's graph iterates simultaneously — "
        "each round is ONE (doc, token)-keyed join+aggregation over the "
        "pooled edge list, so 500 (or 500 M) graphs cost the same plan "
        "shape. Rounds run in fixed-point micro-units (floor division, "
        "integer sums) because the float recurrence is summation-order-"
        "dependent — the same determinism discipline as the LM/DSIR "
        "scorers, making the full trajectory value-checkable."
    ),
)
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    toks = F.filter(
        F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""),
        lambda t: F.length(t) >= 4,
    )
    seq = docs.select("doc_id", toks.alias("w"))
    pairs = F.expr(
        "transform(sequence(1, size(w) - 1), "
        "i -> struct(element_at(w, i) AS u, element_at(w, i + 1) AS v))"
    )
    adj = (
        seq.filter(F.size("w") >= 2)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", "p.u", "p.v")
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    edges = adj.unionByName(
        adj.select("doc_id", F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct().localCheckpoint(eager=True)
    deg = edges.groupBy("doc_id", F.col("u").alias("token")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    # The source degree is STATIC across rounds, so it rides the edge
    # list: one (doc, v)-keyed join at setup instead of a second
    # corpus-token-sized join in EVERY round (round 13 — the
    # connected-components one-join-per-round lesson; contributions are
    # identical, the two inner equi-joins on the same key associate).
    edges_w = edges.join(
        deg.select("doc_id", F.col("token").alias("v"), "deg"), ["doc_id", "v"]
    ).localCheckpoint(eager=True)
    scores = deg.select(
        "doc_id", "token", F.lit(1000000).cast("long").alias("score")
    ).localCheckpoint(eager=True)
    for _ in range(_TR_ROUNDS):
        contrib = (
            edges_w.join(
                scores.select("doc_id", F.col("token").alias("v"), "score"),
                ["doc_id", "v"],
            )
            .select("doc_id", F.col("u").alias("token"), F.expr("score div deg").alias("c"))
        )
        scores = (
            contrib.groupBy("doc_id", "token")
            .agg(
                (F.lit(150000) + F.expr("850 * sum(c) div 1000"))
                .cast("long")
                .alias("score")
            )
            .localCheckpoint(eager=True)
        )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("token").asc())
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TR_TOPK)
        .select(
            "doc_id",
            "token",
            F.col("score").alias("score_micro"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


@register(
    "vocab_growth_curve",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, t
      FROM (SELECT doc_id, source, {_TOKS_LOWER} AS w FROM documents),
      unnest(w) AS u(t)
    ),
    per_doc AS (
      SELECT source, doc_id, CAST(count(*) AS BIGINT) AS n_tok
      FROM tok GROUP BY 1, 2
    ),
    first_seen AS (
      SELECT source, t, min(doc_id) AS first_doc FROM tok GROUP BY 1, 2
    ),
    new_types AS (
      SELECT source, first_doc AS doc_id, CAST(count(*) AS BIGINT) AS n_new
      FROM first_seen GROUP BY 1, 2
    )
    SELECT p.source, p.doc_id,
           CAST(sum(p.n_tok) OVER (PARTITION BY p.source ORDER BY p.doc_id)
                AS BIGINT) AS cum_tokens,
           CAST(sum(coalesce(n.n_new, 0)) OVER (PARTITION BY p.source
                                                ORDER BY p.doc_id) AS BIGINT)
             AS cum_vocab
    FROM per_doc p LEFT JOIN new_types n ON n.source = p.source
                                        AND n.doc_id = p.doc_id
    """,
    doc=(
        "Heaps'-law vocabulary growth curve: cumulative corpus token "
        "count vs cumulative distinct-type count in doc_id ingestion "
        "order — the diagnostic that tells a corpus builder whether new "
        "data still contributes novel vocabulary or has saturated "
        "(V ~ k*N^b flattening), PER SOURCE. Computed without any "
        "per-prefix rescan: each type attributes to its FIRST document "
        "(min-aggregate), then the running sums are a BLOCKED prefix "
        "sum (round-12 de-skew, the sequence-packing bucketed-cumsum "
        "shape): per-(source, doc_id-block) partials, a per-source "
        "window over BLOCK rollup rows only (doc_count/4096 rows), "
        "and within-block windows bounded by the 4096-doc block — no "
        "whole source's docs ever sort in one window task. The oracle "
        "states the same function as a plain windowed running sum."
    ),
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != "")
    tok = docs.select("source", "doc_id", F.explode(toks).alias("t"))
    per_doc = tok.groupBy("source", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok")
    )
    new_types = (
        tok.groupBy("source", "t")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("source", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    rolled = per_doc.join(new_types, ["source", "doc_id"], "left").select(
        "source",
        "doc_id",
        F.expr("doc_id div 4096").alias("blk"),
        "n_tok",
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    # Blocked prefix sum: exclusive per-source offsets over the BLOCK
    # rollup (tiny relation), inclusive within-block running sums
    # (partitions bounded by the block size), summed back. Identical
    # values to a whole-source running sum — without its single-task
    # sort of every doc of the largest source.
    blk_tot = rolled.groupBy("source", "blk").agg(
        F.sum("n_tok").alias("t_tok"), F.sum("n_new").alias("t_new")
    )
    off_w = (
        Window.partitionBy("source")
        .orderBy("blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    blk_off = blk_tot.select(
        "source",
        "blk",
        F.coalesce(F.sum("t_tok").over(off_w), F.lit(0)).alias("off_tok"),
        F.coalesce(F.sum("t_new").over(off_w), F.lit(0)).alias("off_new"),
    )
    in_w = (
        Window.partitionBy("source", "blk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return rolled.join(blk_off, ["source", "blk"]).select(
        "source",
        "doc_id",
        (F.col("off_tok") + F.sum("n_tok").over(in_w))
        .cast("long")
        .alias("cum_tokens"),
        (F.col("off_new") + F.sum("n_new").over(in_w))
        .cast("long")
        .alias("cum_vocab"),
    )


@register(
    "stupid_backoff_eval_scores",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, list_prepend('<s>', ws) AS padded, len(ws) AS n
      FROM (SELECT doc_id, source, {_TOKS_LOWER} AS ws FROM documents)
      WHERE len(ws) > 0
    ),
    bi AS (
      SELECT doc_id, source, padded[k.k] AS w1, padded[k.k + 1] AS w2
      FROM d, LATERAL (SELECT unnest(range(1, n + 1)) AS k) k
    ),
    tb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bi
           WHERE source IN ('src18', 'src19') GROUP BY 1, 2),
    tu AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bi
           WHERE source IN ('src18', 'src19') GROUP BY 1),
    tw AS (SELECT w2 AS w, CAST(count(*) AS BIGINT) AS c2 FROM bi
           WHERE source IN ('src18', 'src19') GROUP BY 1),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bi
           WHERE source IN ('src18', 'src19')),
    scored AS (
      SELECT b.doc_id,
             CASE WHEN coalesce(tb.c12, 0) > 0 THEN 0 ELSE 1 END AS backoff,
             CAST(round(CASE
               WHEN coalesce(tb.c12, 0) > 0
                 THEN ln(tb.c12 / CAST(tu.c1 AS DOUBLE))
               WHEN coalesce(tw.c2, 0) > 0
                 THEN ln(0.4) + ln(tw.c2 / CAST(nn.n AS DOUBLE))
               ELSE ln(0.4) + ln(1 / CAST(nn.n AS DOUBLE))
             END * 1000000.0) AS BIGINT) AS lp_micro
      FROM bi b
      LEFT JOIN tb ON tb.w1 = b.w1 AND tb.w2 = b.w2
      LEFT JOIN tu ON tu.w1 = b.w1
      LEFT JOIN tw ON tw.w = b.w2
      CROSS JOIN nn
      WHERE b.source NOT IN ('src18', 'src19')
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(backoff) AS BIGINT) AS n_backoff,
           CAST(sum(lp_micro) AS BIGINT) AS score_micro_nats,
           -- exact integer average (nano-nats, floor on the positive
           -- magnitude): score/(n*1e6) lands on tie-prone rational grid
           -- points where the engines' double rounding disagrees
           CAST(-(((-sum(lp_micro)) * 1000) // count(*)) AS BIGINT)
             AS avg_nano_nats
    FROM scored GROUP BY doc_id
    """,
    doc=(
        "Stupid-backoff LM scoring (Brants et al. 2007 — the canonical "
        "MapReduce-scale LM): a bigram model trained on the curated "
        "slice (src18/19) scores every raw document, backing off to "
        "0.4 * unigram MLE for unseen bigrams and to a 0.4/N floor for "
        "OOV words — the regime where backoff actually fires, unlike "
        "self-scoring. Train counts broadcast (curated slice is small "
        "vs the corpus); per-bigram log-scores integerize to micro-nats "
        "before the per-doc BIGINT sum (the repo's LM determinism "
        "discipline), so scores AND backoff counts are value-checked."
    ),
)
def stupid_backoff_eval_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.lm import _doc_bigrams

    docs = table(spark, sf_dir, "documents")
    bi = _doc_bigrams(docs, "text", "doc_id").join(
        docs.select("doc_id", "source"), "doc_id"
    )
    is_train = F.col("source").isin(*_EVAL_SOURCES)
    train = bi.filter(is_train)
    # Round 13: the unigram/continuation/total tables all derive from
    # the reduced bigram counts — before, each re-ran the corpus-sized
    # bigram explode PLUS its doc->source join (four passes; now one).
    tb = (
        train.filter(F.col("w1").isNotNull() & F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
    )
    tu = tb.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    tw = tb.groupBy(F.col("w2").alias("w")).agg(
        F.sum("c12").cast("long").alias("c2")
    )
    nn = tb.agg(F.sum("c12").cast("long").alias("n"))
    lp = F.when(
        F.coalesce(F.col("c12"), F.lit(0)) > 0,
        F.log(F.col("c12") / F.col("c1").cast("double")),
    ).otherwise(
        F.log(F.lit(0.4))
        + F.when(
            F.coalesce(F.col("c2"), F.lit(0)) > 0,
            F.log(F.col("c2") / F.col("n").cast("double")),
        ).otherwise(F.log(F.lit(1) / F.col("n").cast("double")))
    )
    lp_micro = F.round(lp * F.lit(1000000.0), 0).cast("long")
    backoff = F.when(F.coalesce(F.col("c12"), F.lit(0)) > 0, 0).otherwise(1)
    scored = (
        bi.filter(~is_train)
        .join(F.broadcast(tb), ["w1", "w2"], "left")
        .join(F.broadcast(tu), "w1", "left")
        .join(F.broadcast(tw), bi["w2"] == tw["w"], "left")
        .crossJoin(F.broadcast(nn))
        .select("doc_id", backoff.alias("backoff"), lp_micro.alias("lp_micro"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("backoff").cast("long").alias("n_backoff"),
            F.sum("lp_micro").cast("long").alias("score_micro_nats"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_backoff",
            "score_micro_nats",
            # positive-magnitude floor div == DuckDB // on positives
            F.expr("-(((-score_micro_nats) * 1000) div n_bigrams)")
            .cast("long")
            .alias("avg_nano_nats"),
        )
    )


@register(
    "source_overlap_matrix",
    oracle=f"""
    WITH d AS (SELECT doc_id, source, {_TOKS_LOWER} AS w FROM documents),
    g AS (
      SELECT DISTINCT source,
             array_to_string(w[i.i:i.i+4], ' ') AS gram
      FROM d, LATERAL (SELECT unnest(range(1, len(w) - 3)) AS i) i
      WHERE len(w) >= 5
    ),
    tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY 1),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM g a JOIN g b USING (gram)
      GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b, i.n_shared,
           ta.n_grams AS n_grams_a,
           round(i.n_shared / CAST(ta.n_grams AS DOUBLE), 6) AS containment
    FROM inter i JOIN tot ta ON ta.source = i.src_a
    """,
    doc=(
        "Cross-source contamination matrix: directional 5-gram "
        "containment |grams(a) ∩ grams(b)| / |grams(a)| for every "
        "source pair — the provenance diagnostic that shows which "
        "domains duplicate which (mirror sites, syndication, scraped "
        "re-posts) before dedup budgets are set per domain. One "
        "gram-keyed self-join whose fan-out is bounded by the SOURCE "
        "count per gram (<= 20 here), not document count — the "
        "aggregation to distinct (source, gram) happens first, so no "
        "posting-list blowup."
    ),
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != "")
    grams5 = F.expr(
        "transform(sequence(1, size(w) - 4), "
        "i -> concat_ws(' ', slice(w, i, 5)))"
    )
    g = (
        docs.select("source", toks.alias("w"))
        .filter(F.size("w") >= 5)
        .select("source", F.explode(grams5).alias("gram"))
        .distinct()
    )
    tot = g.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_grams"))
    a = g.select(F.col("source").alias("src_a"), "gram")
    b = g.select(F.col("source").alias("src_b"), "gram")
    inter = a.join(b, "gram").groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared")
    )
    return inter.join(
        F.broadcast(tot.select(F.col("source").alias("src_a"), "n_grams")), "src_a"
    ).select(
        "src_a",
        "src_b",
        "n_shared",
        F.col("n_grams").alias("n_grams_a"),
        F.round(F.col("n_shared") / F.col("n_grams").cast("double"), 6).alias(
            "containment"
        ),
    )


# Public test card numbers (reserved for testing by the card networks,
# printed in every payment-API doc): one Luhn-valid, one off-by-one.
_CC_VALID, _CC_INVALID = "4111111111111111", "4111111111111112"


@register(
    "cc_luhn_detection_stats",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 5 = 1 THEN ' card {_CC_VALID} on file'
                          WHEN doc_id % 5 = 3 THEN ' ref {_CC_INVALID} code'
                          ELSE '' END AS text
      FROM documents
    ),
    cands AS (
      SELECT doc_id, c AS cand
      FROM (SELECT doc_id,
                   regexp_extract_all(text, '[0-9]{{13,19}}') AS cs
            FROM seeded) t,
      unnest(cs) AS u(c)
    ),
    checked AS (
      SELECT doc_id, cand,
             (list_sum(list_transform(generate_series(1, length(cand)),
                i -> CASE WHEN i % 2 = 0 THEN
                       CASE WHEN CAST(reverse(cand)[i] AS INTEGER) >= 5
                            THEN CAST(reverse(cand)[i] AS INTEGER) * 2 - 9
                            ELSE CAST(reverse(cand)[i] AS INTEGER) * 2 END
                     ELSE CAST(reverse(cand)[i] AS INTEGER) END))
              % 10 = 0) AS valid
      FROM cands
    ),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_candidates,
             CAST(sum(CASE WHEN valid THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
      FROM checked GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(a.n_candidates, 0) AS n_candidates,
           coalesce(a.n_valid, 0) AS n_valid,
           coalesce(a.n_valid, 0) > 0 AS has_card
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
    doc=(
        "Luhn-validated card-number detection — the PII hard case: a "
        "13-19-digit regex over-matches (order ids, timestamps, EANs), "
        "so every candidate is checksum-verified with the Luhn fold as "
        "native integer expressions before it counts as PII. "
        "Deterministic injection of the public test numbers (one valid, "
        "one off-by-one) keeps the fixture non-vacuous and value-checks "
        "BOTH branches of the validator. Scan-stage candidates + one "
        "doc-keyed aggregate."
    ),
)
def cc_luhn_detection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.text import luhn_valid

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 1, F.lit(f" card {_CC_VALID} on file"))
            .when(F.col("doc_id") % 5 == 3, F.lit(f" ref {_CC_INVALID} code"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    cands = seeded.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit("[0-9]{13,19}"), 0)
        ).alias("cand"),
    )
    agg = (
        cands.withColumn("valid", luhn_valid(F.col("cand")))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum(F.when(F.col("valid"), 1).otherwise(0)).cast("long").alias("n_valid"),
        )
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_candidates", F.lit(0).cast("long")).alias("n_candidates"),
            F.coalesce("n_valid", F.lit(0).cast("long")).alias("n_valid"),
            (F.coalesce("n_valid", F.lit(0).cast("long")) > 0).alias("has_card"),
        )
    )


@register(
    "corpus_excerpt_admission_twin",
    oracle=_WINNOW_SQL
    + """
    , allf AS (SELECT doc_id, 'text' AS plane, fp
               FROM win, unnest(fps) AS t(fp))"""
    + admission_sql(
        "allf",
        "doc_id",
        "SELECT doc_id FROM documents WHERE doc_id % 4 = 0",
        "SELECT doc_id FROM documents WHERE doc_id % 4 <> 0",
    ),
    doc=(
        "The TEXT excerpt-admission DECISION, value-checked end to "
        "end: the streaming gate's literal decision path "
        "(streaming/corpus_ingest.py:corpus_excerpt_rejects, which "
        "runs the SAME media_excerpt_rejects function the media twin "
        "oracles — df-capped evidence, unpruned denominator, distinct "
        "shared fps, stored + lower-id leader-keeps, >= tau) over the "
        "real documents table split stored/batch by doc_id % 4, with "
        "DuckDB recomputing every winnowing fingerprint (the "
        "winnow_fingerprints CTE) and the whole decision. Docs too "
        "short to fingerprint are admitted (presence rows cannot "
        "evidence a rejection). Completes the streaming-gate oracle "
        "story across all four content planes: text here, "
        "video/audio/image in media_excerpt_admission_twin."
    ),
)
def corpus_excerpt_admission_twin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hridaya_steam_market_tracker_spark.streaming.corpus_ingest import (
        corpus_excerpt_rejects,
        corpus_winnow_fps,
    )

    docs = table(spark, sf_dir, "documents")
    stored = docs.filter(F.col("doc_id") % 4 == 0)
    batch = docs.filter(F.col("doc_id") % 4 != 0)
    # Lazy checkpoints at the fps boundary: the decision fans each
    # relation out several ways (population df, evidence join,
    # denominator) — in the STREAMING gate batch fps are persisted and
    # stored fps are a parquet read, so only this recomputing twin
    # needs the cut (the subclip tier's measured pattern).
    rejects = corpus_excerpt_rejects(
        corpus_winnow_fps(stored).localCheckpoint(eager=False),
        corpus_winnow_fps(batch).localCheckpoint(eager=False),
        0.8,
        50,
    )
    return (
        batch.select("doc_id")
        .join(rejects.withColumn("rej", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(~F.col("rej"), F.lit(True)).alias("admitted"),
        )
    )


_BM25_CTE = f"""
    d AS (SELECT doc_id, {_TOKS_LOWER} AS w FROM documents),
    lens AS (SELECT doc_id, len(w) AS dl FROM d),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
              FROM lens),
    post AS (SELECT doc_id, len(w) AS dl, t AS term
             FROM d, unnest(w) AS u(t)
             WHERE t IN ('spark', 'join', 'table')),
    tf AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
           FROM post GROUP BY 1, 2, 3),
    dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
    bm AS (
      SELECT doc_id,
             round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                       * tf * 2.2
                       / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6)
               AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN stats
      GROUP BY doc_id
    )
"""

@register(
    "hybrid_rrf_search",
    oracle="WITH " + _BM25_CTE + f"""
    , lexr AS (
      SELECT doc_id, CAST(rn AS INTEGER) AS rank_lex FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rn
        FROM bm
      ) WHERE rn <= 50
    ),
    cosr AS (
      SELECT vec_id AS doc_id, CAST(rn AS INTEGER) AS rank_vec FROM (
        SELECT a.vec_id,
               row_number() OVER (
                 ORDER BY round({cosine_sql("CAST(a.embedding AS DOUBLE[])",
                                            "CAST(q.embedding AS DOUBLE[])")}, 6) DESC,
                          a.vec_id) AS rn
        FROM embeddings a JOIN embeddings q
          ON q.vec_id = 0 AND a.vec_id <> 0
      ) WHERE rn <= 50
    ),
    fused AS (
      SELECT coalesce(l.doc_id, c.doc_id) AS doc_id,
             l.rank_lex, c.rank_vec,
             round(coalesce(1.0 / (60 + l.rank_lex), 0)
                   + coalesce(1.0 / (60 + c.rank_vec), 0), 9) AS rrf_score
      FROM lexr l FULL JOIN cosr c ON c.doc_id = l.doc_id
    )
    SELECT * FROM (
      SELECT doc_id, rank_lex, rank_vec, rrf_score,
             CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id)
                  AS INTEGER) AS rank_hybrid
      FROM fused
    ) WHERE rank_hybrid <= 20
    """,
    doc=(
        "HYBRID retrieval via Reciprocal Rank Fusion (Cormack/Clarke/"
        "Buettcher SIGIR'09, k=60) — the standard lexical+vector "
        "combiner for retrieval-based curation and RAG corpus "
        "assembly: the BM25 arm ranks documents for the query {spark, "
        "join, table} (top-50), the vector arm ranks embeddings by "
        "cosine against query vector vec_id 0 (top-50, brute-force "
        "exact; the fixture aligns vec_id with doc_id), and each "
        "document's fused score is the sum of 1/(60+rank) over the "
        "arms that ranked it. Rank-based fusion needs no score "
        "calibration across incomparable scales; both arms rank on "
        "round-6 scores with doc-id tie-breaks so every rank — and "
        "therefore every fused score — is cross-engine exact. The "
        "fusion join runs on O(arms x 50) rows; the data-sized work "
        "stays in the arms (inverted-index pushdown, broadcast query "
        "vector)."
    ),
)
def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from hridaya_steam_market_tracker_spark.operators.retrieval import (
        bm25_scores,
        rrf_fuse,
    )
    from hridaya_steam_market_tracker_spark.operators.similarity import (
        cosine_topk,
    )

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    lex = bm25_scores(docs, ["spark", "join", "table"])
    lexr = (
        lex.withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("score").desc(), F.col("doc_id"))
            ),
        )
        .filter(F.col("rank") <= 50)
        .select("doc_id", "rank")
    )
    vecr = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=50).select(
        F.col("vec_id").alias("doc_id"), "rank"
    )
    return rrf_fuse({"lex": lexr, "vec": vecr}, topn=20)

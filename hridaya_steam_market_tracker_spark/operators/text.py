"""Text-analysis operators for document pipelines.

Language-ID (stopword heuristic), quality scoring, token counting, and
document fingerprinting — all native column expressions, designed to
ride inside the parquet scan stage at 100 TB (no Python in the hot
path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hridaya_steam_market_tracker_spark.checkpoints import stage_checkpoint
from hridaya_steam_market_tracker_spark.functions.bind import bind1

# Small, deterministic English stopword set (public knowledge).
EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "from", "this", "that", "be",
]

# Whitespace tokenizer + a BPE-ish regex splitting off punctuation runs
# and digit runs (public GPT-2-style pre-tokenization family, simplified).
WS_SPLIT_RE = "\\s+"
BPE_ISH_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"

# PII masking patterns (C4/Dolma-style pre-training scrub). Restricted
# to the Java-regex ∩ RE2 common subset (no lookarounds, no backrefs)
# so Spark and the DuckDB oracle transform text identically. ORDER
# MATTERS and is part of the contract — each pattern runs on the
# output of the previous: emails first, so a digit-dotted local part
# ("a.1.2.3.4@x.com") is consumed whole as <EMAIL> instead of the IP
# masker splitting it and breaking the address match; then SSNs; then
# bare IPv4s (which also catch non-email forms like "admin@10.0.0.1",
# whose digit TLD the email pattern correctly rejects).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", "[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
    ("ipv4", "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
)


# Text normalization for pre-training corpora (C4-style cleanup),
# again in the Java∩RE2 subset. Order: strip ASCII control characters
# (except \t \n \r, which the whitespace collapse then folds), collapse
# all whitespace runs to single spaces, trim.
CONTROL_CHARS_RE = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"


def clean_text(text: Column) -> Column:
    """Deterministic scan-stage normalization: control-char strip ->
    whitespace collapse -> trim. Idempotent (clean(clean(x)) == clean(x))."""
    stripped = F.regexp_replace(text, CONTROL_CHARS_RE, "")
    collapsed = F.regexp_replace(stripped, "\\s+", " ")
    return F.trim(collapsed)


def redact_pii(text: Column) -> Column:
    """Sequentially mask each PII class (scan-stage regexp_replace
    chain, no Python). The replacement tokens are single vocabulary
    items so downstream token statistics stay meaningful."""
    out = text
    for _name, pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-class match counts, each measured on the text AFTER the
    previous classes were redacted (so an address inside an email is
    attributed to the email, mirroring redact_pii's sequential order)."""
    counts: dict[str, Column] = {}
    staged = text
    for name, pattern, token in PII_PATTERNS:
        counts[name] = F.regexp_count(staged, F.lit(pattern))
        staged = F.regexp_replace(staged, pattern, token)
    return counts


# HTML -> text extraction (the WARC-payload step of a web-corpus
# pipeline), as a scan-stage regexp chain in the Java∩RE2 subset —
# no lookarounds, inline (?is) flags, lazy quantifiers only where both
# engines support them. Heuristic by design (tags containing '>'
# inside quoted attributes are out of scope, like every regex-based
# extractor); entity decoding handles the six universal entities with
# &amp; LAST so '&amp;lt;' decodes once, not twice.
_HTML_STRIP_STEPS: tuple[tuple[str, str], ...] = (
    (r"(?is)<script[^>]*>.*?</script>", " "),
    (r"(?is)<style[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"(?s)<[^>]*>", " "),
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", "\""),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def html_to_text(html: Column) -> Column:
    """Strip markup to visible text: script/style/comment blocks out,
    every remaining tag becomes a space (so adjacent block elements
    don't fuse words), common entities decoded, whitespace normalized
    via clean_text. Pure native expressions — zero Python, zero
    shuffles; at 100 TB this runs inside the scan stage right after
    WARC payload extraction."""
    out = html
    for pattern, rep in _HTML_STRIP_STEPS:
        out = F.regexp_replace(out, pattern, rep)
    return clean_text(out)


def tokens(text: Column) -> Column:
    """Whitespace tokens (empty strings filtered)."""
    return F.filter(F.split(F.trim(text), WS_SPLIT_RE), lambda t: t != "")


def token_count_ws(text: Column) -> Column:
    return F.size(tokens(text))


def token_count_bpe_ish(text: Column) -> Column:
    """Count of BPE-ish pre-tokens (letter runs / digit runs / punct runs).

    regexp_count instead of size(regexp_extract_all): the same match
    count without materializing an array of every match string."""
    return F.regexp_count(text, F.lit(BPE_ISH_RE))


def stopword_ratio(text: Column) -> Column:
    toks = tokens(F.lower(text))
    stops = F.filter(toks, lambda t: t.isin(EN_STOPWORDS))
    return F.when(F.size(toks) > 0, F.size(stops) / F.size(toks)).otherwise(F.lit(0.0))


def avg_token_len(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    n_punct = F.length(F.regexp_replace(text, "[A-Za-z0-9\\s]", ""))
    return F.when(F.length(text) > 0, n_punct / F.length(text)).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite quality in [0,1]: length sweet-spot, stopword presence,
    low punctuation density (the standard web-corpus heuristics family,
    cf. public C4/Gopher filtering rules)."""
    n = token_count_ws(text)
    length_ok = F.when((n >= 10) & (n <= 1000), 1.0).otherwise(0.3)
    stop_ok = F.when(stopword_ratio(text) >= 0.05, 1.0).otherwise(0.5)
    punct_ok = F.when(punct_ratio(text) <= 0.2, 1.0).otherwise(0.4)
    return F.round((length_ok * 0.4 + stop_ok * 0.4 + punct_ok * 0.2), 6)


def chargram_lang_scores(
    df: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 200,
) -> DataFrame:
    """Character-n-gram language ID, Cavnar & Trenkle 1994 ('N-Gram-
    Based Text Categorization'): per language, the profile is its top
    ``k`` character n-grams ranked by frequency; a document is scored
    against each profile by the OUT-OF-PLACE distance — sum over the
    document's own top-``k`` grams of |doc_rank - profile_rank|, with
    a flat ``k`` penalty for grams absent from the profile — and
    classified to the argmin. Self-trained on the labeled corpus
    (``label_col``), like the perceptron/DSIR tiers; every quantity is
    an integer count or rank with explicit (count DESC, gram ASC) /
    (dist ASC, lang ASC) tie-breaks, so a DuckDB oracle reproduces the
    prediction bit-for-bit. Output: (doc_id, lang, pred_lang,
    oop_dist), one row per document with >= 1 n-gram.

    Scale shape (round 13): the DOCUMENT side never shuffles at all.
    Per-doc gram counts and the top-``k`` (count DESC, gram ASC) ranks
    are computed scan-stage with array algebra (sort -> run-length
    runs -> natural struct sort on (-count, gram) -> slice), replacing
    the former corpus-wide
    (doc, gram) count exchange + doc-keyed rank window. Training
    aggregates the ALREADY-REDUCED per-doc run-length counts into the
    vocabulary-bounded (lang, gram) relation (distinct char n-grams <=
    |alphabet|^n, corpus-size-independent); the <= n_langs * k profile
    rows collapse into one broadcast row of per-language gram->rank
    maps, and scoring + argmin (out-of-place distance, (dist, lang)
    tie-break via struct array_min) run inside the document scan. Every
    quantity stays an integer with the same explicit tie-breaks, so
    values are bit-identical to the windowed form."""
    from pyspark.sql import Window

    from hridaya_steam_market_tracker_spark.operators.similarity import (
        _widen_small_scan,
    )

    norm = F.array_join(tokens(F.lower(F.col(text_col))), " ")
    # The per-row gram algebra below replaced the old corpus-wide
    # shuffles, so on a tiny single-file scan it would serialize onto
    # one task — widen (no-op at real scale, like the DSIR explode).
    base = (
        _widen_small_scan(df)
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(label_col).alias("lang"),
            norm.alias("t"),
        )
        .filter(F.length("t") >= n)
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.length("t") - (n - 1)),
        lambda i: F.col("t").substr(i.cast("int"), F.lit(n)),
    )

    def _run_counts(g: Column) -> Column:
        # (c, gram) per DISTINCT gram of one document: sort the gram
        # array, mark run starts, difference consecutive run starts.
        # O(len log len) per row, no shuffle, no per-element re-eval
        # (both the sorted array and the run starts are bind1-bound).
        # F.get (0-based, null past the end) keeps every lookup
        # ANSI-safe: element_at would throw on index 0 / overflow.
        # sort_array, not array_sort-with-comparator: the natural-order
        # sort is a native expression; a lambda comparator is evaluated
        # interpreted per COMPARISON (measured 3x slower end-to-end).
        return bind1(
            F.sort_array(g),
            lambda s: bind1(
                F.filter(
                    F.sequence(F.lit(1), F.size(s)),
                    lambda i: (i == F.lit(1))
                    | (F.get(s, i - 1) != F.get(s, i - 2)),
                ),
                lambda st: F.transform(
                    F.sequence(F.lit(1), F.size(st)),
                    lambda j: F.struct(
                        (
                            F.coalesce(F.get(st, j), F.size(s) + 1)
                            - F.get(st, j - 1)
                        ).cast("long").alias("c"),
                        F.element_at(s, F.get(st, j - 1)).alias("gram"),
                    ),
                ),
            ),
        )

    def _topk(counts: Column) -> Column:
        # Positions in this slice ARE the doc ranks: natural ascending
        # struct order on (-c, gram) is exactly the old window's ORDER
        # BY c DESC, gram ASC (grams are distinct after the run-length
        # pass, so the order is total), and sort_array needs no
        # interpreted comparator lambda.
        return F.slice(
            F.sort_array(
                F.transform(
                    counts,
                    lambda x: F.struct(
                        (-x["c"]).alias("negc"), x["gram"].alias("gram")
                    ),
                )
            ),
            1,
            k,
        )

    lc = (
        base.select("lang", F.explode(_run_counts(grams)).alias("cg"))
        .groupBy("lang", F.col("cg.gram").alias("gram"))
        .agg(F.sum("cg.c").alias("c"))
    )
    wl = Window.partitionBy("lang").orderBy(F.col("c").desc(), "gram")
    # The profile IS the trained model (<= n_langs * k rows):
    # materialize it once so the scoring plan doesn't re-derive the
    # corpus-sized counts — train one pass, score one pass.
    profile = (
        lc.withColumn("r_lang", F.row_number().over(wl))
        .filter(F.col("r_lang") <= k)
        .select(F.col("lang").alias("cand_lang"), "gram", "r_lang")
    ).transform(stage_checkpoint)
    # One broadcast row: [(cand_lang, gram->rank map), ...]. array_min
    # over (oop_dist, cand_lang) structs is commutative, so collect
    # order doesn't matter.
    model = (
        profile.groupBy("cand_lang")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("gram", "r_lang"))
            ).alias("gmap")
        )
        .agg(F.collect_list(F.struct("cand_lang", "gmap")).alias("model"))
    )
    k_long = F.lit(k).cast("long")
    best = bind1(
        _topk(_run_counts(grams)),
        lambda top: F.array_min(
            F.transform(
                F.col("model"),
                lambda m: F.struct(
                    F.aggregate(
                        F.sequence(F.lit(1), F.size(top)),
                        F.lit(0).cast("long"),
                        lambda acc, i: acc
                        + F.coalesce(
                            F.abs(
                                i.cast("long")
                                - F.try_element_at(
                                    m["gmap"], F.element_at(top, i)["gram"]
                                ).cast("long")
                            ),
                            k_long,
                        ),
                    ).alias("oop_dist"),
                    m["cand_lang"].alias("cand_lang"),
                ),
            )
        ),
    )
    return base.crossJoin(F.broadcast(model)).select(
        "doc_id",
        "lang",
        best["cand_lang"].alias("pred_lang"),
        best["oop_dist"].alias("oop_dist"),
    )


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 over the
    whitespace-normalized, lowercased text (rolling-hash family)."""
    normalized = F.array_join(tokens(F.lower(text)), " ")
    return F.md5(normalized)


def word_grams(toks: Column, n: int) -> Column:
    """Overlapping word n-grams, NOT deduplicated — repetition metrics
    need occurrence counts, unlike ``dedup.shingles`` which dedups for
    set semantics. Short arrays (< n tokens) yield an empty array (the
    descending-``sequence`` guard, same as shingles)."""
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + k).cast("int")) for k in range(n)]
        ),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def with_repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-family repetition signals (public Rae et al. 2021 rules,
    adapted to single-line docs), as pure per-row expressions:

    * ``dup_token_frac`` — fraction of token occurrences that are
      repeats of an earlier token.
    * ``top_bigram_char_frac`` — fraction of (normalized) characters
      covered by occurrences of the single most frequent bigram.
    * ``dup_trigram_frac`` — fraction of trigram occurrences that are
      duplicates.
    * ``repetitive`` — the gate: top-bigram coverage > 0.15 or
      duplicated trigrams > 0.02 (thresholds compared on the 6dp-rounded
      values so the flag is engine-portable).

    Zero shuffles: everything is map-side array algebra in the scan
    stage. The per-row bigram mode is O(distinct² ) comparisons, bounded
    by document length — the classic time/space trade vs an
    explode+groupBy, which would shuffle the whole corpus; at 100 TB the
    shuffle loses. Ties on the mode count break to the lexicographically
    greatest bigram (struct max), mirroring the oracle's
    ``ORDER BY c DESC, gram DESC``.

    Every stat is a SELF-CONTAINED ``bind1`` tree (round 13): the
    earlier ``withColumns`` layering (``__toksl``/``__bg``/``__top``
    helper columns) was undone by predicate-pushdown alias substitution
    the moment a consumer filtered or joined this relation — the
    substituted ``__bg`` landed INSIDE the bigram-mode lambda, so the
    whole tokenize+gram pipeline re-ran once per distinct bigram,
    O(len²·tokenize) per row (measured: a plain doc_id join over this
    relation went 0.8 s → 113 s at sf0.01, 52 ``split(`` calls in the
    composed plan). Bound lambda variables cannot be substituted
    through, so each stat now costs one bounded evaluation no matter
    how the consumer plan rewrites around it; values are bit-identical.
    """
    t = F.col(text_col)

    def _toksl(body: "object") -> Column:
        return bind1(tokens(F.lower(t)), body)

    def _top(bg: Column) -> Column:
        return F.array_max(
            F.transform(
                F.array_distinct(bg),
                lambda g: F.struct(
                    F.size(F.filter(bg, lambda x: x == g)).alias("c"),
                    g.alias("g"),
                ),
            )
        )

    # Every denominator is when-guarded: docs with < n tokens have empty
    # gram arrays (and empty docs have no tokens at all), and this
    # session runs Spark 4 ANSI mode where 0/0 THROWS rather than
    # nulling — a short doc must yield 0.0 stats, not kill the job.
    dup_tok = _toksl(
        lambda tk: F.when(
            F.size(tk) > 0,
            F.round(
                (F.size(tk) - F.size(F.array_distinct(tk)))
                / F.size(tk).cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0))
    )
    dup_tri = _toksl(
        lambda tk: bind1(
            word_grams(tk, 3),
            lambda tg: F.when(
                F.size(tg) > 0,
                F.round(
                    (F.size(tg) - F.size(F.array_distinct(tg)))
                    / F.size(tg).cast("double"),
                    6,
                ),
            ).otherwise(F.lit(0.0)),
        )
    )
    top_bg = _toksl(
        lambda tk: bind1(
            word_grams(tk, 2),
            lambda bg: bind1(
                _top(bg),
                lambda top: F.when(
                    F.size(bg) > 0,
                    F.round(
                        top["c"]
                        * F.length(top["g"])
                        / F.length(F.array_join(tk, " ")).cast("double"),
                        6,
                    ),
                ).otherwise(F.lit(0.0)),
            ),
        )
    )
    return (
        df.withColumns(
            {
                "n_tokens": _toksl(lambda tk: F.size(tk)).cast("long"),
                "dup_token_frac": dup_tok,
                "top_bigram_char_frac": top_bg,
                "dup_trigram_frac": dup_tri,
            }
        )
        .withColumn(
            "repetitive",
            (F.col("top_bigram_char_frac") > 0.15)
            | (F.col("dup_trigram_frac") > 0.02),
        )
    )


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """All eight stats from a single tokenization pass.

    Layered projections: (1) materialize the token arrays once, (2) reduce
    them to scalars, (3) derive ratios/scores from the scalars. Catalyst's
    CollapseProject keeps the layers separate (the array-producing
    expressions are non-cheap and multiply referenced), so ``split`` /
    ``filter`` run once per row instead of once per stat — this operator is
    pure per-row map work riding in the scan stage, so per-row CPU is the
    whole cost at corpus scale.
    """
    t = F.col(text_col)
    toks, toksl = F.col("__toks"), F.col("__toksl")
    n, n_stops = F.col("n_tokens"), F.col("__n_stops")
    sw_ratio = F.when(n > 0, n_stops / n).otherwise(F.lit(0.0))
    p_ratio = F.when(F.length(t) > 0, F.col("__n_punct") / F.length(t)).otherwise(
        F.lit(0.0)
    )
    length_ok = F.when((n >= 10) & (n <= 1000), 1.0).otherwise(0.3)
    stop_ok = F.when(sw_ratio >= 0.05, 1.0).otherwise(0.5)
    punct_ok = F.when(p_ratio <= 0.2, 1.0).otherwise(0.4)
    return (
        df.withColumns({"__toks": tokens(t), "__toksl": tokens(F.lower(t))})
        .withColumns(
            {
                "n_tokens": F.size(toks),
                "n_tokens_bpe": token_count_bpe_ish(t),
                "__n_stops": F.size(F.filter(toksl, lambda x: x.isin(EN_STOPWORDS))),
                "__tok_len_sum": F.aggregate(
                    toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
                ),
                "__n_punct": F.length(F.regexp_replace(t, "[A-Za-z0-9\\s]", "")),
                "fingerprint": F.md5(F.array_join(toksl, " ")),
            }
        )
        .withColumns(
            {
                "avg_token_len": F.round(
                    F.when(n > 0, F.col("__tok_len_sum") / n).otherwise(F.lit(0.0)), 6
                ),
                "stopword_ratio": F.round(sw_ratio, 6),
                "punct_ratio": F.round(p_ratio, 6),
                "quality_score": F.round(
                    length_ok * 0.4 + stop_ok * 0.4 + punct_ok * 0.2, 6
                ),
                "lang_pred": F.when(sw_ratio >= 0.02, "en").otherwise("und"),
            }
        )
        .drop("__toks", "__toksl", "__n_stops", "__tok_len_sum", "__n_punct")
    )


def luhn_valid(digits: Column) -> Column:
    """Luhn checksum over a digit-string column, as native expressions:
    from the rightmost digit, double every second digit and fold >9
    back by subtracting 9; valid iff the sum is divisible by 10. The
    validation step that separates real card numbers from arbitrary
    digit runs a bare regex would flag — integer-exact, so PII
    detection stats stay oracle-checkable."""
    rev = F.reverse(digits)
    idx = F.sequence(F.lit(1), F.length(rev))
    per_digit = F.transform(
        idx,
        lambda i: F.when(
            i % 2 == 0,
            # doubled position: 2d - 9 when 2d > 9, i.e. d >= 5
            F.when(
                F.substring(rev, i.cast("int"), 1).cast("int") >= 5,
                F.substring(rev, i.cast("int"), 1).cast("int") * 2 - 9,
            ).otherwise(F.substring(rev, i.cast("int"), 1).cast("int") * 2),
        ).otherwise(F.substring(rev, i.cast("int"), 1).cast("int")),
    )
    total = F.aggregate(per_digit, F.lit(0), lambda acc, d: acc + d)
    return total % 10 == 0


def token_entropy_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document unigram diversity: type-token ratio and Shannon
    entropy of the token distribution — the standard cheap gibberish /
    keyword-stuffing / template detectors (near-zero entropy = one
    token repeated; entropy ~ log(n) with TTR ~ 1 = every token unique,
    the signature of random-string spam).

    Entropy via the integer-count identity H = ln(n) - sum(c*ln(c))/n
    (c = per-token count, n = total tokens), so the only floats are the
    final ln/divide on exact integers — rounded to 6dp on both engines,
    like the other log-based oracles (ccnet, bigram LM). Docs with zero
    tokens emit no row. Plan: explode + (doc, token) count + doc
    rollup — two key-local shuffles, no pair space."""
    toks = tokens(F.lower(F.col(text_col)))
    counts = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))).alias(
            "sclogc"
        ),
    )
    n = F.col("n_tokens").cast("double")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.round(F.col("n_types").cast("double") / n, 6).alias("ttr"),
        F.round(F.log(n) - F.col("sclogc") / n, 6).alias("entropy"),
    )


def source_prefix_boilerplate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    max_len: int = 8,
    min_support: float = 0.2,
) -> DataFrame:
    """Boilerplate HEADER recovery per source: the longest token prefix
    shared by at least ``min_support`` of a source's documents — the
    detection half of the header/footer stripping stage every crawl
    pipeline runs (C4/CCNet strip per-site banners before any quality
    scoring, else the boilerplate dominates n-gram statistics).

    One row per source that has a qualifying prefix: (source,
    prefix_len, prefix, support); longest length wins, lexicographic
    min prefix breaks ties deterministically. Plan: explode each doc's
    1..max_len leading prefixes (scan-stage array algebra), count per
    (source, len, prefix), join the tiny per-source doc totals, window
    top-1 per source — shuffles keyed on source(+prefix), no pair
    space, boilerplate-proof by construction (the hot prefix IS the
    signal here, not a shuffle bomb: at most max_len rows per doc)."""
    from pyspark.sql import Window

    # bind1: tokenize ONCE per row — the inlined token expression was
    # re-evaluated for every prefix length inside the transform lambda
    # (no CSE in lambdas), re-splitting each document up to max_len
    # times.
    def entries(toks: Column) -> Column:
        es = F.transform(
            F.sequence(F.lit(1), F.least(F.lit(max_len), F.size(toks))),
            lambda L: F.struct(
                L.cast("int").alias("L"),
                F.array_join(F.slice(toks, 1, L), " ").alias("prefix"),
            ),
        )
        return F.when(F.size(toks) >= 1, es).otherwise(
            F.array().cast("array<struct<L:int,prefix:string>>")
        )

    pre = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        F.explode(bind1(tokens(F.lower(F.col(text_col))), entries)).alias("e"),
    ).select("doc_id", "source", "e.L", "e.prefix")
    counts = pre.groupBy("source", "L", "prefix").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    totals = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("docs")
    )
    sup = (
        counts.join(F.broadcast(totals), "source")
        .withColumn(
            "support",
            F.round(F.col("cnt").cast("double") / F.col("docs"), 6),
        )
        .filter(F.col("cnt").cast("double") / F.col("docs") >= min_support)
    )
    w = Window.partitionBy("source").orderBy(F.desc("L"), F.asc("prefix"))
    return (
        sup.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", F.col("L").alias("prefix_len"), "prefix", "support")
    )


def strip_source_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    max_len: int = 8,
    min_support: float = 0.2,
) -> DataFrame:
    """The APPLY half of per-source boilerplate removal (the strip stage
    C4/CCNet run before quality scoring): detect each source's dominant
    header with `source_prefix_boilerplate`, then remove that token
    prefix from every document of the source whose leading tokens match
    it exactly. Documents of sources with no qualifying prefix, and
    documents that don't start with their source's prefix, pass through
    unchanged.

    Output: (doc_id, source, stripped, n_tokens_before, n_tokens_after,
    text_clean) — text_clean is the space-rejoined lowercase token
    stream (tokenization-normalized on BOTH engines, so the value is
    oracle-checkable with md5).

    Plan: the detected prefix table is one tiny row per source —
    broadcast-joined back to the scan; the strip itself is scan-stage
    array algebra (slice + array_join). No new shuffle beyond
    detection's own."""
    prefixes = source_prefix_boilerplate(
        df, text_col, id_col, source_col, max_len, min_support
    ).select("source", "prefix_len", "prefix")
    toks = tokens(F.lower(F.col(text_col)))
    joined = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        toks.alias("w"),
    ).join(F.broadcast(prefixes), "source", "left")
    matches = F.col("prefix").isNotNull() & (
        F.array_join(F.slice("w", F.lit(1), F.coalesce("prefix_len", F.lit(0))), " ")
        == F.col("prefix")
    )
    clean = F.when(
        matches,
        F.slice(
            "w",
            F.col("prefix_len") + 1,
            F.greatest(F.size("w") - F.col("prefix_len"), F.lit(0)),
        ),
    ).otherwise(F.col("w"))
    return joined.select(
        "doc_id",
        "source",
        matches.alias("stripped"),
        F.size("w").cast("long").alias("n_tokens_before"),
        F.size(clean).cast("long").alias("n_tokens_after"),
        F.array_join(clean, " ").alias("text_clean"),
    )

"""Training-data curation operators, round 4: corpus-level quality and
mixture signals — cross-doc boilerplate fraction, temperature-based
language rebalancing, unigram-LM quality scoring, and SemDeDup
(k-means-cell + cosine) semantic near-dup pairs.

Each oracled query is a (Spark builder, DuckDB oracle) pair over
``documents``/``embeddings``; ``semdedup_pairs`` composes the trained
k-means quantizer with a within-cell cosine join (iterative training,
hence rows-only — pinned by tests/test_curationops.py invariants).

Cross-engine determinism: decimal-exact log-prob sums (per-term log
rounded to 9 dp then summed as DECIMAL — order-independent, so Spark's
shuffled partial aggregation and DuckDB's sequential scan agree
bit-for-bit), integer md5-bucket sampling thresholds (no RNG), and
round(x, 6) on every emitted double.

The reference never curates its corpus (SURVEY §2d — it OCRs every url
it is given, duplicates included); these are the LLM-pipeline
capabilities layered on the same engine.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.mixture import group_top_k, split_label, temperature_keep
from ..operators.quality import (
    doc_term_counts,
    dup_bigram_frac,
    lm_quality_stats,
    unigram_scores,
    weighted_decimal_sum,
)
from ..operators.spans import keep_first_segments, span_coverage
from ..operators.tokens import WS_TOKENS, ngrams
from .queries import _t, register
from .textops2 import (
    _DUCK_BIGRAMS,
    _DUCK_SW,
    _DUCK_TOKENS2,
    _STOPWORDS,
    _duck_bucket,
)

# --------------------------------------------------------------------------
# cross-doc boilerplate: fraction of a doc's 5-grams shared corpus-wide
# --------------------------------------------------------------------------
# The CCNet/RefinedWeb-style signal behind "remove boilerplate spans":
# a 5-gram appearing in >= _CNG_MIN_DOCS distinct docs is template
# text, not content. The synthetic corpus contains dup/near-dup docs,
# so the gate provably fires. Scale shape: the gram explode is linear
# in tokens; gram document-frequency is one partial+final aggregation;
# the join back is gram-hash partitioned — nothing is all-pairs.

_CNG_MIN_DOCS = 3
_DUCK_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"


@register(
    "common_ngram_fraction",
    f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS t FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 4),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                         t[i+3] || ' ' || t[i+4])) AS g
      FROM toks WHERE len(t) >= 5
    ),
    gdf AS (SELECT g, count(DISTINCT doc_id) AS ndocs FROM grams GROUP BY g)
    SELECT doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN ndocs >= {_CNG_MIN_DOCS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_common,
           round(sum(CASE WHEN ndocs >= {_CNG_MIN_DOCS} THEN 1 ELSE 0 END)
                 / count(*), 6) AS common_frac
    FROM grams JOIN gdf USING (g)
    GROUP BY doc_id
    """,
)
def common_ngram_fraction(spark, sf_dir):
    """Per-doc fraction of distinct 5-grams that appear in >= K docs.
    Token arrays staged once per row (the gopher lesson); grams
    de-duplicated per doc BEFORE the document-frequency aggregation so
    a within-doc repeat doesn't inflate ndocs."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    s1 = d.select(
        "doc_id", F.expr(WS_TOKENS).alias("t")
    ).filter(F.size("t") >= 5)
    grams = s1.select("doc_id", F.explode(ngrams(5)).alias("g")).distinct()
    # grams are (doc_id, g)-distinct, so the per-gram doc frequency is
    # a plain count over the g window — annotated in place so the
    # corpus-sized explode+distinct executes ONCE instead of feeding
    # both a groupBy subtree and a join subtree (round-7; the window
    # buffers each gram group in Spark's spillable row array)
    ndocs = F.count("*").over(Window.partitionBy("g"))
    common = F.sum(
        F.when(F.col("ndocs") >= _CNG_MIN_DOCS, 1).otherwise(0)
    )
    return (
        grams.withColumn("ndocs", ndocs)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            common.cast("long").alias("n_common"),
            F.round(common / F.count("*"), 6).alias("common_frac"),
        )
    )


# --------------------------------------------------------------------------
# cross-doc repeated-span REMOVAL (boilerplate strip, not just signal)
# --------------------------------------------------------------------------
# The act-on-it form of common_ngram_fraction — the RefinedWeb/Lee
# et al. "remove duplicated substrings" step, over token 5-grams
# instead of suffix arrays: every token position covered by ANY
# occurrence of a >=K-doc 5-gram is dropped, and the survivors are
# reassembled in order. Scale shape: token and gram explodes are
# linear; gram document-frequency is one aggregation; coverage
# expansion is a bounded 5x explode of MATCHED grams only; reassembly
# is one per-doc aggregation (array_sort on unique positions makes
# the collect order deterministic). Nothing is pairwise.

_SPAN_MIN_DOCS = 3
_SPAN_N = 5


@register(
    "remove_common_spans",
    f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS t FROM documents
    ),
    tokpos AS (
      SELECT doc_id,
             unnest(generate_series(1, len(t))) AS pos,
             unnest(t) AS tok
      FROM toks
    ),
    grams AS (
      SELECT doc_id,
             unnest(generate_series(1, len(t) - 4)) AS s,
             unnest(list_transform(generate_series(1, len(t) - 4),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                         t[i+3] || ' ' || t[i+4])) AS g
      FROM toks WHERE len(t) >= {_SPAN_N}
    ),
    common AS (
      SELECT g FROM (
        SELECT g, count(DISTINCT doc_id) AS cd FROM grams GROUP BY g
      ) WHERE cd >= {_SPAN_MIN_DOCS}
    ),
    covered AS (
      SELECT DISTINCT gr.doc_id, gr.s + d.d AS pos
      FROM grams gr JOIN common c USING (g)
      CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4]) AS d) d
    )
    SELECT tp.doc_id,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN c.pos IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_removed,
           coalesce(string_agg(CASE WHEN c.pos IS NULL THEN tp.tok END,
                               ' ' ORDER BY tp.pos), '') AS cleaned_text
    FROM tokpos tp LEFT JOIN covered c
      ON tp.doc_id = c.doc_id AND tp.pos = c.pos
    GROUP BY tp.doc_id
    """,
)
def remove_common_spans(spark, sf_dir):
    """The covered positions are operators.spans.span_coverage, the
    kernel the curation chain's span-removal stage also runs;
    reassembly is doc-level: keep_pos = array_except(1..n, cov) (hash
    set, linear), kept = transform(keep_pos, p -> t[p]), so the token
    stream never crosses a shuffle."""
    d = _t(spark, sf_dir, "documents")
    staged = d.select("doc_id", F.expr(WS_TOKENS).alias("t"))
    # a 0-token doc yields no tokpos rows in the oracle formulation,
    # so it must not appear here either (and sequence(1, 0) would
    # count DOWN)
    joined = span_coverage(
        staged, "doc_id", _SPAN_MIN_DOCS, _SPAN_N
    ).filter(F.size("t") > 0)
    cov_arr = F.coalesce(F.col("cov"), F.array())
    keep_pos = F.array_except(F.sequence(F.lit(1), F.size("t")), cov_arr)
    kept = F.transform(keep_pos, lambda p: F.element_at("t", p))
    return joined.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.size(cov_arr).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("cleaned_text"),
    )


# --------------------------------------------------------------------------
# temperature-based language rebalancing (XLM-R style alpha sampling)
# --------------------------------------------------------------------------
# Multilingual mixture smoothing: sampling share per language
# q_l ∝ p_l^alpha with alpha < 1 boosts low-resource languages. The
# acceptance rate normalizes so the SMALLEST language keeps 100%:
# r_l = (n_l / n_min)^(alpha-1) <= 1. Selection is the engine's
# standard md5-bucket filter — stateless per row, no RNG, identical
# keep-set on rerun/resume, and the integer threshold (rate * 10^6,
# rounded) keeps the cross-engine comparison exact. The per-lang
# counts are a tiny bounded aggregate (one row per language), safe to
# broadcast at any corpus size.

_TEMP_ALPHA = 0.3
_DUCK_BUCKET1M = _duck_bucket(1_000_000)


@register(
    "temperature_sampled_corpus",
    f"""
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    m AS (SELECT min(n) AS n_min FROM c),
    r AS (
      SELECT lang,
             CAST(round(pow(n / n_min, {_TEMP_ALPHA} - 1) * 1000000, 0)
                  AS BIGINT) AS keep_thresh
      FROM c, m
    )
    SELECT d.doc_id, d.lang, r.keep_thresh
    FROM documents d JOIN r USING (lang)
    WHERE {_DUCK_BUCKET1M} < r.keep_thresh
    """,
)
def temperature_sampled_corpus(spark, sf_dir):
    """operators.mixture.temperature_keep keyed on doc_id — the kernel
    the curation chain's temperature-sampling stage also runs."""
    d = _t(spark, sf_dir, "documents")
    return temperature_keep(d, "doc_id", _TEMP_ALPHA).select(
        "doc_id", "lang", "keep_thresh"
    )


# --------------------------------------------------------------------------
# unigram LM quality score (CCNet-style perplexity proxy)
# --------------------------------------------------------------------------
# Average per-token log-probability under the corpus's own unigram
# model — the cheap stand-in for CCNet's KenLM perplexity filter.
# Determinism: sum(double) is order-dependent, so each term's log-prob
# is rounded to 9 dp and summed as DECIMAL(20,9) (exact, associative);
# only the final per-doc average is re-rounded to 6 dp. The model side
# (term -> ctf) is the same bounded-vocabulary shape as TF-IDF's df.
#
# The Spark side is operators/quality.py (one token explode staged as
# (doc_id, term, cnt), shared with the curation chain's lm_quality
# stage); the plan pin (<= 1 executed explode) lives in
# tests/test_curationops.py.


@register(
    "unigram_logprob_score",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents
    ),
    tf AS (SELECT term, count(*) AS ctf FROM toks GROUP BY term),
    tot AS (SELECT count(*) AS n_total FROM toks),
    lp AS (
      SELECT term,
             CAST(round(ln(ctf / n_total), 9) AS DECIMAL(20,9)) AS logp
      FROM tf, tot
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           round(CAST(sum(logp) AS DOUBLE) / count(*), 6) AS avg_logprob
    FROM toks JOIN lp USING (term)
    GROUP BY doc_id
    """,
)
def unigram_logprob_score(spark, sf_dir):
    return unigram_scores(_t(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "n_tokens", F.col("score").alias("avg_logprob")
    )


# --------------------------------------------------------------------------
# composite quality gate: keep/drop verdict with ordered reasons
# --------------------------------------------------------------------------
# The decision surface a real curation pipeline runs: combine the
# individual signals (length bounds, Gopher repetition, stopword
# poverty) into one keep flag plus an audit-trail reason string —
# per-row built-ins only, so at 10^12 docs this is a scan-stage
# filter with zero shuffles. Cut values are tuned to the synthetic
# corpus's distributions so EVERY reason fires at test sf (a verdict
# column that never rejects is not evidence). Reasons are joined in a
# fixed order, so the string is deterministic and the driver's
# canonicalizer can hash it.

_QG_MIN_CHARS = 100
_QG_MAX_CHARS = 450
_QG_DUP_BG_MAX = 0.025
_QG_SW_MIN = 0.02


@register(
    "quality_gate_verdict",
    f"""
    WITH t AS (
      SELECT doc_id, text, length(text) AS n_chars,
             {_DUCK_TOKENS2} AS toks, {_DUCK_BIGRAMS} AS bg
      FROM documents
    ),
    sig AS (
      SELECT doc_id, n_chars,
             CASE WHEN len(bg) > 0 THEN
               1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
             ELSE 0.0 END AS dup_bg,
             CASE WHEN len(toks) > 0 THEN
               CAST(len(list_filter(toks, x -> list_contains({_DUCK_SW}, x)))
                    AS DOUBLE) / len(toks)
             ELSE 0.0 END AS sw_frac
      FROM t
    )
    SELECT doc_id, n_chars,
           concat_ws(',',
             CASE WHEN n_chars < {_QG_MIN_CHARS} THEN 'too_short' END,
             CASE WHEN n_chars > {_QG_MAX_CHARS} THEN 'too_long' END,
             CASE WHEN dup_bg > {_QG_DUP_BG_MAX} THEN 'repetitive' END,
             CASE WHEN sw_frac < {_QG_SW_MIN} THEN 'low_stopword' END
           ) AS reasons,
           (n_chars >= {_QG_MIN_CHARS} AND n_chars <= {_QG_MAX_CHARS}
            AND dup_bg <= {_QG_DUP_BG_MAX}
            AND sw_frac >= {_QG_SW_MIN}) AS keep
    FROM sig
    """,
)
def quality_gate_verdict(spark, sf_dir):
    """The repetition signal is operators.quality.dup_bigram_frac, the
    Arrow-batched kernel the curation chain's quality gate also runs;
    tokens are staged once per row (the gopher lesson: CollapseProject
    keeps non-cheap aliases referenced more than once, SPARK-36718)."""
    d = _t(spark, sf_dir, "documents")
    s1 = d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.expr(WS_TOKENS).alias("toks"),
        dup_bigram_frac(F.col("text")).alias("dup_bg"),
    )
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    sw_frac = F.when(
        F.size("toks") > 0,
        F.size(F.filter("toks", lambda x: F.array_contains(sw, x)))
        .cast("double") / F.size("toks"),
    ).otherwise(F.lit(0.0))
    s3 = s1.select("doc_id", "n_chars", "dup_bg", sw_frac.alias("sw_frac"))
    reason = F.concat_ws(
        ",",
        F.when(F.col("n_chars") < _QG_MIN_CHARS, F.lit("too_short")),
        F.when(F.col("n_chars") > _QG_MAX_CHARS, F.lit("too_long")),
        F.when(F.col("dup_bg") > _QG_DUP_BG_MAX, F.lit("repetitive")),
        F.when(F.col("sw_frac") < _QG_SW_MIN, F.lit("low_stopword")),
    )
    return s3.select(
        "doc_id", "n_chars",
        reason.alias("reasons"),
        (
            (F.col("n_chars") >= _QG_MIN_CHARS)
            & (F.col("n_chars") <= _QG_MAX_CHARS)
            & (F.col("dup_bg") <= _QG_DUP_BG_MAX)
            & (F.col("sw_frac") >= _QG_SW_MIN)
        ).alias("keep"),
    )


# --------------------------------------------------------------------------
# approximate distinct counting (HyperLogLog sketch)
# --------------------------------------------------------------------------
# The sketch path for cardinality at 10^12 rows: partial HLL sketches
# merge associatively across partitions (constant memory per task —
# countDistinct would shuffle every distinct key). Spark's HLL++ and
# DuckDB's approx sketch differ, so this is rows-only; the pytest
# invariant bounds relative error against the exact count (HLL++ at
# default rsd=5% stays well inside 10% on these cardinalities) and
# pins run-to-run determinism (the sketch is seed-free).

@register("approx_distinct_users", None)
def approx_distinct_users(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.count("*").alias("n_events"),
        )
    )


# --------------------------------------------------------------------------
# DSIR importance weights (data selection for language models)
# --------------------------------------------------------------------------
# Xie et al. 2023: score each raw doc by how much more likely its
# tokens are under a TARGET distribution than under the raw-source
# distribution — importance = sum over tokens of
# log(p_target(t) / p_source(t)), add-1 smoothed so source-only terms
# stay finite. The target here is the deterministic doc_id % 50 == 0
# slice (the same "benchmark" slice decontamination uses), making the
# gate provably discriminative: docs sharing vocabulary with the slice
# score higher. Scale shape: both unigram models are bounded-
# vocabulary aggregates; scoring is one hash join on term + a
# decimal-exact per-doc sum — the identical machinery as
# unigram_logprob_score, so the determinism argument carries over.

@register(
    "dsir_importance_weight",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents
    ),
    vocab AS (SELECT count(DISTINCT term) AS v FROM toks),
    tgt AS (
      SELECT term, count(*) AS ct FROM toks WHERE doc_id % 50 = 0
      GROUP BY term
    ),
    tgt_n AS (SELECT count(*) AS nt FROM toks WHERE doc_id % 50 = 0),
    src AS (SELECT term, count(*) AS cs FROM toks GROUP BY term),
    src_n AS (SELECT count(*) AS ns FROM toks),
    ratio AS (
      SELECT s.term,
             CAST(round(ln(((COALESCE(t.ct, 0) + 1) / (nt + v))
                           / ((s.cs + 1) / (ns + v))), 9)
                  AS DECIMAL(20,9)) AS logr
      FROM src s LEFT JOIN tgt t USING (term), tgt_n, src_n, vocab
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           round(CAST(sum(logr) AS DOUBLE), 6) AS importance
    FROM toks JOIN ratio USING (term)
    GROUP BY doc_id
    """,
)
def dsir_importance_weight(spark, sf_dir):
    # ONE token explode (round-6): target counts, source counts, the
    # smoothing constants AND the per-doc score all derive from the
    # staged (doc_id, term, cnt) frame — the old plan ran the
    # corpus-sized explode four times (tgt, src, consts, scoring).
    # Both model sides collapse to vocab-sized aggregates of dtf.
    d = _t(spark, sf_dir, "documents")
    dtf = doc_term_counts(d, "doc_id")
    tv = dtf.groupBy("term").agg(
        F.sum("cnt").alias("cs"),
        F.sum(F.when(F.col("doc_id") % 50 == 0, F.col("cnt"))
              .otherwise(0)).alias("ct"),
    )
    consts = tv.agg(
        F.sum("cs").alias("ns"),
        F.count("*").alias("v"),  # rows of tv == distinct terms
        F.sum("ct").alias("nt"),
    )
    ratio = (
        tv.crossJoin(F.broadcast(consts))
        .select(
            "term",
            F.round(
                F.log(
                    ((F.col("ct") + 1) / (F.col("nt") + F.col("v")))
                    / ((F.col("cs") + 1) / (F.col("ns") + F.col("v")))
                ),
                9,
            ).cast("decimal(20,9)").alias("logr"),
        )
    )
    n_tok = F.sum("cnt")
    return (
        dtf.join(ratio, "term")
        .groupBy("doc_id")
        .agg(
            n_tok.cast("long").alias("n_tokens"),
            F.round(
                weighted_decimal_sum("cnt", "logr").cast("double"), 6
            ).alias("importance"),
        )
    )


# --------------------------------------------------------------------------
# training-mixture token-budget planning
# --------------------------------------------------------------------------
# Given per-language token inventories, allocate a total training
# budget with temperature-smoothed shares (q_l ∝ tokens^alpha) capped
# at a max epoch count per language — the planning step between
# corpus stats and the sampling filters. One tiny aggregation (rows =
# languages) at any corpus size; the doubles go through the same
# pow+round discipline as temperature_sampled_corpus.

_MIX_BUDGET = 100_000
_MIX_ALPHA = 0.3
_MIX_MAX_EPOCHS = 3.0


@register(
    "mixture_token_budget",
    f"""
    WITH lt AS (
      SELECT lang, count(*) AS n_docs,
             CAST(sum(len({_DUCK_TOKS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    w AS (
      SELECT lang, n_docs, n_tokens,
             CAST(round(pow(n_tokens, {_MIX_ALPHA}), 9)
                  AS DECIMAL(20,9)) AS wt
      FROM lt
    ),
    tot AS (SELECT CAST(sum(wt) AS DOUBLE) AS wsum FROM w)
    SELECT lang, n_docs, n_tokens,
           CAST(round(least({_MIX_BUDGET} * CAST(wt AS DOUBLE) / wsum,
                            {_MIX_MAX_EPOCHS} * n_tokens), 0) AS BIGINT)
             AS alloc_tokens,
           round(least({_MIX_BUDGET} * CAST(wt AS DOUBLE) / wsum,
                       {_MIX_MAX_EPOCHS} * n_tokens) / n_tokens, 6)
             AS epochs
    FROM w, tot
    """,
)
def mixture_token_budget(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    lt = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.expr(WS_TOKENS))).alias("n_tokens"),
    )
    # decimal-sum discipline (CLAUDE.md): the per-lang weight is
    # rounded to 9 dp and summed as DECIMAL so wsum is exact and
    # order-independent; the ratio arithmetic then runs in double on
    # both engines
    w = lt.withColumn(
        "wt",
        F.round(F.pow(F.col("n_tokens"), _MIX_ALPHA), 9)
        .cast("decimal(20,9)"),
    )
    tot = w.agg(F.sum("wt").cast("double").alias("wsum"))
    alloc = F.least(
        _MIX_BUDGET * F.col("wt").cast("double") / F.col("wsum"),
        _MIX_MAX_EPOCHS * F.col("n_tokens"),
    )
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "lang", "n_docs", "n_tokens",
            F.round(alloc, 0).cast("long").alias("alloc_tokens"),
            F.round(alloc / F.col("n_tokens"), 6).alias("epochs"),
        )
    )


# --------------------------------------------------------------------------
# data profiling (Deequ-style column quality stats)
# --------------------------------------------------------------------------
# The pre-flight check a pipeline runs before trusting a new corpus
# drop: per column, null fraction, distinct count, and average length.
# One aggregation per profiled column, unioned — each is a
# partial+final agg. The oracle pair below keeps EXACT distinct counts
# (DuckDB must reproduce them bit-for-bit); the default profiling
# surface (operators/profile.profile_frame, exposed as the rows-only
# profile_documents_sketch) uses the HLL++ sketch so the text column's
# values never cross a shuffle (round-4 verdict item 3).


@register(
    "profile_documents",
    """
    SELECT 'text' AS column_name, count(*) AS n_rows,
           CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           count(DISTINCT text) AS n_distinct,
           round(avg(length(CAST(text AS VARCHAR))), 6) AS avg_len
    FROM documents
    UNION ALL
    SELECT 'lang', count(*),
           CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT lang),
           round(avg(length(CAST(lang AS VARCHAR))), 6)
    FROM documents
    UNION ALL
    SELECT 'source', count(*),
           CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT source),
           round(avg(length(CAST(source AS VARCHAR))), 6)
    FROM documents
    """,
)
def profile_documents(spark, sf_dir):
    from ..operators.profile import profile_frame

    d = _t(spark, sf_dir, "documents")
    return profile_frame(d, ["text", "lang", "source"], exact=True)


@register("profile_documents_sketch", None)  # HLL != DuckDB's sketch
def profile_documents_sketch(spark, sf_dir):
    """The profiling surface a 100-TB user actually runs: distinct
    counts via HLL++ partial sketches, so no column's VALUES (least of
    all full document text) ever cross a shuffle. Rows-only for the
    driver (Spark's HLL++ and DuckDB's approx sketch differ); the
    pytest invariant bounds relative error against the exact profile
    and pins the no-text-exchange plan shape."""
    from ..operators.profile import profile_frame

    d = _t(spark, sf_dir, "documents")
    return profile_frame(d, ["text", "lang", "source"], exact=False)


# --------------------------------------------------------------------------
# funnel analysis: ordered click -> view -> purchase progression
# --------------------------------------------------------------------------
# Classic event-sequence analytics (the MATCH_RECOGNIZE shape, done
# with joins both engines share): earliest click, earliest view
# strictly after it, earliest purchase strictly after that — greedy
# matching, deterministic because each step is a min over timestamps.
# Scale shape: three user-keyed aggregations + user-keyed joins; the
# per-type frames are filtered at the scan.

@register(
    "funnel_stages",
    """
    WITH u AS (SELECT DISTINCT user_id FROM events),
    c AS (
      SELECT user_id, min(ts) AS first_click_ts
      FROM events WHERE event_type = 'click' AND ts IS NOT NULL
      GROUP BY user_id
    ),
    v AS (
      SELECT e.user_id, min(e.ts) AS first_view_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'view' AND e.ts > c.first_click_ts
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS first_purchase_ts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.first_view_ts
      GROUP BY e.user_id
    )
    SELECT u.user_id,
           CASE WHEN p.user_id IS NOT NULL THEN 3
                WHEN v.user_id IS NOT NULL THEN 2
                WHEN c.user_id IS NOT NULL THEN 1
                ELSE 0 END AS funnel_stage,
           c.first_click_ts, v.first_view_ts, p.first_purchase_ts
    FROM u
    LEFT JOIN c ON u.user_id = c.user_id
    LEFT JOIN v ON u.user_id = v.user_id
    LEFT JOIN p ON u.user_id = p.user_id
    """,
)
def funnel_stages(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    u = ev.select("user_id").distinct()
    # NULL-ts click exclusion keeps both engines on the same stage
    # verdict: an unordered event can't anchor a funnel (a NULL min
    # would read as stage 1 in the SQL's user_id-presence CASE but
    # stage 0 in the Spark ts-presence form)
    c = (
        ev.filter(
            (F.col("event_type") == "click") & F.col("ts").isNotNull()
        )
        .groupBy("user_id").agg(F.min("ts").alias("first_click_ts"))
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("first_click_ts"))
        .groupBy("user_id").agg(F.min("ts").alias("first_view_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("first_view_ts"))
        .groupBy("user_id").agg(F.min("ts").alias("first_purchase_ts"))
    )
    stage = (
        F.when(F.col("first_purchase_ts").isNotNull(), 3)
        .when(F.col("first_view_ts").isNotNull(), 2)
        .when(F.col("first_click_ts").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        u.join(c, "user_id", "left")
        .join(v, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id", stage.cast("int").alias("funnel_stage"),
            "first_click_ts", "first_view_ts", "first_purchase_ts",
        )
    )


# --------------------------------------------------------------------------
# RANGE-frame rolling aggregate: 7-day moving average of daily counts
# --------------------------------------------------------------------------
# The interval-frame window family (RANGE BETWEEN n PRECEDING), which
# the hopping/tumbling queries don't exercise: the frame is defined
# by VALUE distance, so gap days shrink the window instead of
# sliding over a fixed row count. Spark expresses it as
# rangeBetween(-6, 0) over an epoch-day ordinal — value-based frames
# need a numeric ordering column. Determinism: the average is an
# exact long sum divided once, both engines. The final unpartitioned
# window runs over the DAILY aggregate (rows = distinct days — a few
# thousand even at decade scale), so the single-task window is fine;
# the heavy per-event aggregation below it is fully distributed.

@register(
    "rolling_daily_avg",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS n
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    )
    SELECT day, n,
           round(avg(n) OVER (ORDER BY day
                              RANGE BETWEEN INTERVAL 6 DAY PRECEDING
                              AND CURRENT ROW), 6) AS avg_7d
    FROM daily
    """,
)
def rolling_daily_avg(spark, sf_dir):
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").alias("n")
    )
    day_num = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
    w = (
        Window.orderBy(day_num.cast("long"))
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "day", "n", F.round(F.avg("n").over(w), 6).alias("avg_7d")
    )


# --------------------------------------------------------------------------
# weekly retention cohorts
# --------------------------------------------------------------------------
# Cohort analytics: bucket each user by their first active epoch-week,
# then count distinct users per (cohort, week-offset) — the standard
# retention triangle. Two user-keyed aggregations plus one grouped
# count; epoch-week arithmetic is integer on both engines, so the
# result is exact.

@register(
    "weekly_retention_cohorts",
    """
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts) / 604800) AS BIGINT) AS wk
      FROM events WHERE ts IS NOT NULL
    ),
    fw AS (SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY user_id)
    SELECT f.cohort_wk, u.wk - f.cohort_wk AS week_offset,
           CAST(count(DISTINCT u.user_id) AS BIGINT) AS n_users
    FROM uw u JOIN fw f ON u.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def weekly_retention_cohorts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    uw = ev.select(
        "user_id",
        F.floor(
            F.unix_timestamp(F.col("ts").cast("timestamp")) / 604800
        ).alias("wk"),
    ).distinct()
    fw = uw.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        uw.join(fw, "user_id")
        .groupBy(
            "cohort_wk",
            (F.col("wk") - F.col("cohort_wk")).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# --------------------------------------------------------------------------
# SCD type-2: event stream -> validity intervals
# --------------------------------------------------------------------------
# The slowly-changing-dimension build every warehouse runs: each
# event opens an interval that the user's NEXT event closes
# (lead(ts)); the latest event stays open (is_current). One window
# per user key; NULL-ts events are unorderable and excluded (the
# sessionize contract).

@register(
    "scd2_user_intervals",
    """
    SELECT user_id, event_id,
           round(CAST(value AS DOUBLE), 6) AS val,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             IS NULL AS is_current
    FROM events WHERE ts IS NOT NULL
    """,
)
def scd2_user_intervals(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id", "event_id",
            F.round(F.col("value").cast("double"), 6).alias("val"),
            F.col("ts").alias("valid_from"),
            nxt.alias("valid_to"),
            nxt.isNull().alias("is_current"),
        )
    )


# --------------------------------------------------------------------------
# SemDeDup: semantic near-dup pairs via k-means cells + cosine
# --------------------------------------------------------------------------
# Abbas et al. (2023): cluster embeddings with k-means, compare pairs
# only WITHIN a cell, flag pairs above a cosine threshold. The trained
# quantizer is the same cached distributed-Lloyd's model the IVF ANN
# path uses (operators/kmeans.py — deterministic, sampled-input
# training), so this query costs one assignment pass plus
# within-cell joins: sum over cells of c^2, never corpus^2 — the same
# sub-quadratic structure as the MinHash band join. Iterative
# training => rows-only for the driver; tests/test_curationops.py pins
# determinism, cell locality, exact-numpy cosine agreement and
# within-cell completeness.

_SEMDEDUP_TAU = 0.3  # fixture vectors are near-orthogonal (max pair
# cos ~0.45); a production-ish 0.9 would be a gate that never fires —
# same rationale as embedding_near_dup's threshold.

# kernel + k-policy live in operators/semdedup.py (round-6: shared
# with the curation pipeline's drop-survivors stage); re-exported here
# so the historical import path keeps working
from ..operators.semdedup import (  # noqa: E402
    _SEMDEDUP_K_MAX,
    _SEMDEDUP_K_MIN,
    semdedup_cell_pairs,
    semdedup_k,
)


@register("semdedup_pairs", None)
def semdedup_pairs(spark, sf_dir):
    """SemDeDup candidate pairs over the embeddings table. The heavy
    lifting — k ~ sqrt(N) trained quantizer, block-chunked within-cell
    float64 cosine matmul (one vectorized matmul per cell beats a
    Catalyst per-pair fold ~5x, measured 4.2 s vs 0.6 s at sf0.1),
    round-6 mega-cell sub-split — is operators.semdedup."""
    from ..operators.kmeans import kmeans_train
    from .vectorops import (
        _TRAINED_CENTROIDS,
        _emb_fingerprint,
        _model_cache_get,
        _spark_dvec,
        ivf_cell_udf,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", _spark_dvec(F.col("embedding")).alias("v")
    )
    # corpus-sized quantizer (k ~ sqrt(N)); the count is one
    # column-pruned parquet scan, and k joins the cache key so the
    # ANN paths' fixed-k models are not clobbered
    n = emb.count()
    k = semdedup_k(n)
    cents = _model_cache_get(
        _TRAINED_CENTROIDS,
        (_emb_fingerprint(sf_dir), "semdedup", k),
        lambda: kmeans_train(emb, k=k, iters=3),
    )
    assigned = emb.select(
        F.col("vec_id").alias("_id"), "v"
    ).withColumn("cell", ivf_cell_udf(cents)(F.col("v")))
    return semdedup_cell_pairs(assigned, _SEMDEDUP_TAU, n, id_type="long")


# --------------------------------------------------------------------------
# per-domain document caps (anti-spam quota, round 5)
# --------------------------------------------------------------------------
# The C4/RefinedWeb-style "no domain dominates the corpus" rule: keep
# at most K docs per source (the corpus's domain analogue), preferring
# the longest ones with a doc_id tie-break so the survivor set is
# deterministic. Scale shape: a rank<=K predicate over a per-source
# window becomes WindowGroupLimit in the physical plan — Spark keeps a
# per-PARTITION top-K heap BEFORE the shuffle, so a hot domain with
# millions of pages ships at most K rows per map task instead of all
# of them (pinned by tests/test_curationops.py plan assertion).

_DOMAIN_CAP = 15


@register(
    "domain_cap_survivors",
    f"""
    SELECT doc_id, source, n_chars
    FROM documents
    QUALIFY row_number() OVER (PARTITION BY source
                               ORDER BY n_chars DESC, doc_id) <= {_DOMAIN_CAP}
    """,
)
def domain_cap_survivors(spark, sf_dir):
    """operators.mixture.group_top_k per source — the kernel the
    curation chain's per-host domain cap also runs."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return group_top_k(
        d, "source", [F.col("n_chars").desc(), "doc_id"], _DOMAIN_CAP
    )


# --------------------------------------------------------------------------
# CCNet-style LM-quality buckets (head / middle / tail, round 5)
# --------------------------------------------------------------------------
# CCNet splits each language's corpus into perplexity terciles and
# trains mostly on the "head". The literal ntile(3) formulation is a
# corpus-sized single-task sort per language — exactly the skew class
# the round-4 verdict flagged for packing — so this uses the SCALABLE
# equivalent: z-score buckets against per-lang mean/stddev of the
# unigram log-prob score, a window over the language partition;
# bucketing is then a CASE over the window. Cross-engine determinism:
# the score is the bit-exact unigram_logprob_score value; mean/std come
# from decimal-exact sums of (score, score^2) rounded to fixed scales,
# cast to double only for the final identical-in-both-engines
# arithmetic.

_ZB_HI = 0.5  # z > +0.5 -> head; z < -0.5 -> tail


@register(
    "lm_quality_zbuckets",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents
    ),
    tf AS (SELECT term, count(*) AS ctf FROM toks GROUP BY term),
    tot AS (SELECT count(*) AS n_total FROM toks),
    lp AS (
      SELECT term,
             CAST(round(ln(ctf / n_total), 9) AS DECIMAL(20,9)) AS logp
      FROM tf, tot
    ),
    score AS (
      SELECT doc_id,
             round(CAST(sum(logp) AS DOUBLE) / count(*), 6) AS s
      FROM toks JOIN lp USING (term)
      GROUP BY doc_id
    ),
    sl AS (
      SELECT d.doc_id, d.lang, s.s FROM documents d JOIN score s USING (doc_id)
    ),
    stats AS (
      SELECT lang, count(*) AS n,
             CAST(sum(CAST(round(s, 6) AS DECIMAL(20,6))) AS DOUBLE)
               AS sum_s,
             CAST(sum(CAST(round(s * s, 9) AS DECIMAL(25,9))) AS DOUBLE)
               AS sum_s2
      FROM sl GROUP BY lang
    ),
    b AS (
      SELECT lang,
             sum_s / n AS mu,
             sqrt(greatest((sum_s2 - sum_s * sum_s / n) / n, 0)) AS sigma
      FROM stats
    )
    SELECT sl.doc_id, sl.lang, sl.s AS avg_logprob,
           CASE WHEN sl.s > b.mu + {_ZB_HI} * b.sigma THEN 'head'
                WHEN sl.s < b.mu - {_ZB_HI} * b.sigma THEN 'tail'
                ELSE 'middle' END AS bucket
    FROM sl JOIN b USING (lang)
    """,
)
def lm_quality_zbuckets(spark, sf_dir):
    """Scores and per-language stats are operators.quality.
    lm_quality_stats keyed on doc_id — the kernel the curation chain's
    lm_quality tail drop also runs."""
    d = _t(spark, sf_dir, "documents")
    scored, mu, sigma = lm_quality_stats(d, "doc_id")
    bucket = (
        F.when(F.col("score") > mu + _ZB_HI * sigma, "head")
        .when(F.col("score") < mu - _ZB_HI * sigma, "tail")
        .otherwise("middle")
    )
    return scored.select(
        "doc_id", "lang", F.col("score").alias("avg_logprob"),
        bucket.alias("bucket"),
    )


# --------------------------------------------------------------------------
# approximate quantile sketch (Greenwald-Khanna percentile_approx)
# --------------------------------------------------------------------------
# The sketch path for distribution stats at 10^12 rows, completing the
# sketch family (HLL distinct counts above): percentile_approx merges
# bounded Greenwald-Khanna summaries associatively across partitions —
# constant memory per task, one partial+final agg — where the exact
# form (value_quantiles_by_type's median) must see every value per
# group. Spark's GK sketch and DuckDB's approx_quantile differ, so
# rows-only; the pytest invariant bounds the rank error against exact
# percentiles and pins determinism (GK is seed-free, and accuracy=
# 10000 fixes the summary resolution).

_PCTL_ACCURACY = 10_000


@register("doc_length_quantiles_sketch", None)
def doc_length_quantiles_sketch(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.percentile_approx(
                "n_chars", [0.25, 0.5, 0.75, 0.99], _PCTL_ACCURACY
            ).alias("q"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .select(
            "lang", "n_docs",
            F.element_at("q", 1).alias("p25"),
            F.element_at("q", 2).alias("p50"),
            F.element_at("q", 3).alias("p75"),
            F.element_at("q", 4).alias("p99"),
            "min_chars", "max_chars",
        )
    )


# --------------------------------------------------------------------------
# deterministic train/val/test split (round 5)
# --------------------------------------------------------------------------
# The last hop before training: assign every doc to train/val/test by
# its md5 bucket — stateless per row (scan-stage, zero shuffles at any
# corpus size), rerun-stable, and GROWTH-stable: a document's split
# never changes when the corpus grows, which is the property that
# keeps eval sets uncontaminated across corpus refreshes (a
# rank/ntile split reshuffles membership on every ingest). Within-lang
# proportions hold by hash uniformity — pinned by a tolerance test,
# not assumed.

_SPLIT_TRAIN = 800_000  # buckets [0, 800k) of 1M -> 80% train
_SPLIT_VAL = 900_000    # [800k, 900k) -> 10% val; rest -> 10% test


@register(
    "train_val_test_split",
    f"""
    SELECT doc_id, lang,
           CASE WHEN {_duck_bucket(1_000_000, "split:")} < {_SPLIT_TRAIN}
                  THEN 'train'
                WHEN {_duck_bucket(1_000_000, "split:")} < {_SPLIT_VAL}
                  THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def train_val_test_split(spark, sf_dir):
    """operators.mixture.split_label keyed on doc_id — the stamp the
    curation chain's split stage also applies."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        split_label("doc_id", _SPLIT_TRAIN, _SPLIT_VAL).alias("split"),
    )


# --------------------------------------------------------------------------
# LM-quality tail drop (round 6: the act-on-it form of the z-buckets)
# --------------------------------------------------------------------------
# The decision surface the composed pipeline's lm_quality stage runs:
# KEEP the head and middle of each language's quality distribution,
# drop the tail — same per-lang decimal-exact z-score machinery as
# lm_quality_zbuckets (never a per-lang single-task ntile sort), with
# the keep verdict applied instead of labeled. Precedent:
# common_ngram_fraction (signal) vs remove_common_spans (act-on-it).


@register(
    "lm_quality_tail_drop",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents
    ),
    tf AS (SELECT term, count(*) AS ctf FROM toks GROUP BY term),
    tot AS (SELECT count(*) AS n_total FROM toks),
    lp AS (
      SELECT term,
             CAST(round(ln(ctf / n_total), 9) AS DECIMAL(20,9)) AS logp
      FROM tf, tot
    ),
    score AS (
      SELECT doc_id,
             round(CAST(sum(logp) AS DOUBLE) / count(*), 6) AS s
      FROM toks JOIN lp USING (term)
      GROUP BY doc_id
    ),
    sl AS (
      SELECT d.doc_id, d.lang, s.s FROM documents d JOIN score s USING (doc_id)
    ),
    stats AS (
      SELECT lang, count(*) AS n,
             CAST(sum(CAST(round(s, 6) AS DECIMAL(20,6))) AS DOUBLE)
               AS sum_s,
             CAST(sum(CAST(round(s * s, 9) AS DECIMAL(25,9))) AS DOUBLE)
               AS sum_s2
      FROM sl GROUP BY lang
    ),
    b AS (
      SELECT lang,
             sum_s / n AS mu,
             sqrt(greatest((sum_s2 - sum_s * sum_s / n) / n, 0)) AS sigma
      FROM stats
    )
    SELECT sl.doc_id, sl.lang, sl.s AS avg_logprob
    FROM sl JOIN b USING (lang)
    WHERE sl.s >= b.mu - {_ZB_HI} * b.sigma
    """,
)
def lm_quality_tail_drop(spark, sf_dir):
    """Survivors = every doc not in its language's quality tail; built
    by filtering the z-buckets (one dataflow, keep semantics applied).
    The composed curation stage (curation.lm_quality_survivors) calls
    the same kernel, operators.quality.lm_quality_stats, url-keyed
    with a configurable z."""
    return (
        lm_quality_zbuckets(spark, sf_dir)
        .filter(F.col("bucket") != "tail")
        .select("doc_id", "lang", "avg_logprob")
    )


# --------------------------------------------------------------------------
# SemDeDup survivors (round 6: the drop form of semdedup_pairs)
# --------------------------------------------------------------------------
# Pairs -> connected components -> min-vec_id representative per
# semantic cluster over operators/semdedup.py, the kernel the
# composed pipeline's semdedup stage (curation.semdedup_prune) also
# runs. Rows-only like
# semdedup_pairs (iterative k-means training has no SQL oracle);
# tests/test_curationops.py pins survivors == a union-find over the
# pair set, determinism, and that the gate actually drops rows.


@register("semdedup_survivors_min_rep", None)
def semdedup_survivors_min_rep(spark, sf_dir):
    from ..operators.components import connected_components

    ids = _t(spark, sf_dir, "embeddings").select("vec_id")
    pairs = semdedup_pairs(spark, sf_dir)
    labels = connected_components(
        ids, pairs, vertex_col="vec_id", src="a_id", dst="b_id"
    )
    return (
        labels.filter(F.col("id") == F.col("component"))
        .select(F.col("id").alias("vec_id"))
    )


# --------------------------------------------------------------------------
# keep-FIRST global segment dedup (C4/CCNet paragraph-dedup analogue)
# --------------------------------------------------------------------------
# The other half of substring dedup: remove_common_spans drops EVERY
# occurrence of a >=K-doc span (RefinedWeb boilerplate strip), while
# the C4 "three-sentence span" / CCNet paragraph rule KEEPS the first
# occurrence and drops the rest. The corpus has no paragraph breaks,
# so the segmentation unit is a non-overlapping _SEG_N-token tile
# (the same convention chunk_documents uses); "first" is the globally
# deterministic min (doc_id, s) occurrence.
#
# Scale shape: the tile explode is linear; the winner per distinct
# segment is ONE segment-keyed aggregation of min(struct(doc_id, s))
# — partially aggregatable, so a web-scale boilerplate segment that
# appears in 10^9 docs collapses map-side instead of sorting one
# mega-group in a row_number window; reassembly is a per-doc
# collect + array_sort (bounded by the doc's own tiles) and one
# doc-keyed join for the totals. The segment text crosses the shuffle
# once — unavoidable, the winner must carry it for reassembly.

_SEG_N = 8


@register(
    "dedup_segments_keep_first",
    f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS t FROM documents
    ),
    seg AS (
      SELECT doc_id,
             unnest(generate_series(1, len(t), {_SEG_N})) AS s,
             unnest(list_transform(generate_series(1, len(t), {_SEG_N}),
                    i -> array_to_string(
                           t[i:least(i + {_SEG_N} - 1, len(t))], ' ')))
               AS seg
      FROM toks WHERE len(t) > 0
    ),
    ranked AS (
      SELECT doc_id, s, seg,
             row_number() OVER (PARTITION BY seg
                                ORDER BY doc_id, s) AS rn
      FROM seg
    )
    SELECT doc_id,
           count(*) AS n_segments,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           coalesce(string_agg(CASE WHEN rn = 1 THEN seg END,
                               ' ' ORDER BY s), '') AS deduped_text
    FROM ranked
    GROUP BY doc_id
    """,
)
def dedup_segments_keep_first(spark, sf_dir):
    """The surviving tiles are operators.spans.keep_first_segments, the
    kernel the curation chain's segment-dedup stage also runs."""
    d = _t(spark, sf_dir, "documents")
    staged = (
        d.select("doc_id", F.expr(WS_TOKENS).alias("t"))
        .filter(F.size("t") > 0)
    )
    # n_segments is arithmetic — ceil(n_tokens / n) — so the totals
    # side never re-runs the corpus-sized tokenize+tile explode
    totals = staged.select(
        "doc_id",
        F.expr(f"(size(t) + {_SEG_N - 1}) div {_SEG_N}")
        .alias("n_segments"),
    )
    kept = keep_first_segments(staged, "doc_id", _SEG_N)
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_segments",
        (F.col("n_segments") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_dropped"),
        F.coalesce("text", F.lit("")).alias("deduped_text"),
    )


# --------------------------------------------------------------------------
# cluster-balanced sampling (D4-style semantic diversification)
# --------------------------------------------------------------------------
# Temperature-flatten the corpus across k ~ sqrt(N) TRAINED embedding
# cells — the semantic analogue of temperature_sampled_corpus's
# per-language rebalancing: dominant semantic clusters (template
# farms, one-topic crawls) downsample toward the uniform per-cell
# share t = N/k at rate min(1, (t/n_c)^(1-alpha)); cells at or below
# the share keep 100%. Rows-only like semdedup_pairs (the
# iterative k-means train has no SQL oracle); determinism, the
# smallest-cell-keeps-all rule and the flattening property are pinned
# by tests/test_curationops.py invariants. Scale shape: embed scan +
# bounded-sample train + assignment scan + ONE k-sized aggregate +
# broadcast md5-bucket acceptance — nothing pairwise.


@register("cluster_balanced_sample", None)
def cluster_balanced_sample(spark, sf_dir):
    from ..operators.diversify import cluster_balanced_keep

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    kept = cluster_balanced_keep(
        d, alpha=0.5, id_col="doc_id", text_col="text"
    )
    return kept.select("doc_id", "cell", "lang")

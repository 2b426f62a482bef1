"""Training-data curation operators, round 3: Unicode NFC text
normalization and TF-IDF term scoring — each a (Spark builder, DuckDB
oracle) pair over ``documents``.

Cross-engine determinism: NFC is the Unicode standard algorithm
(Python ``unicodedata`` and DuckDB ``nfc_normalize`` agree byte-for-
byte — asserted in tests); TF-IDF ranks by the ROUNDED score plus a
term tie-break so last-ulp ``ln`` differences cannot reorder the
top-k across engines.
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.mixture import split_label
from ..operators.tokens import WS_TOKENS, ngrams
from .queries import _t, register
from .textops2 import _duck_bucket

# --------------------------------------------------------------------------
# Unicode NFC normalization
# --------------------------------------------------------------------------
# The synthetic corpus is pure ASCII (NFC would be the identity — a
# gate that never fires is not evidence), so the query first injects
# deterministic combining sequences per doc; the normalizer itself is
# the reusable operator surface. chr(769) = combining acute, chr(778)
# = combining ring above: both compose under NFC.

_ACUTE = chr(769)
_RING = chr(778)


@register(
    "normalize_text_nfc",
    f"""
    WITH injected AS (
      SELECT doc_id,
             substring(text, 1, 40) || ' cafe' || chr(769) ||
             ' A' || chr(778) || 'ngstro' || chr(769) || 'm' AS raw
      FROM documents
    )
    SELECT doc_id,
           CAST(length(raw) AS BIGINT) AS n_raw_chars,
           CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_nfc_chars,
           nfc_normalize(raw) AS normalized,
           nfc_normalize(raw) <> raw AS changed
    FROM injected
    """,
)
def normalize_text_nfc(spark, sf_dir):
    """NFC composition as an Arrow-batched pandas UDF (CPython's
    unicodedata.normalize is C-implemented; the Unicode algorithm is
    engine-independent, which is what makes this oracle-gatable). At
    10^12 docs this is a scan-stage map, zero shuffles — the standard
    first step before hashing/dedup so that byte-different but
    canonically-equal texts collide."""

    @F.pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        return s.map(lambda x: unicodedata.normalize("NFC", x)
                     if x is not None else None)

    raw = F.concat(
        F.substring("text", 1, 40),
        F.lit(" cafe" + _ACUTE + " A" + _RING + "ngstro" + _ACUTE + "m"),
    )
    d = _t(spark, sf_dir, "documents").select("doc_id", raw.alias("raw"))
    d = d.withColumn("normalized", nfc("raw"))
    return d.select(
        "doc_id",
        F.length("raw").cast("long").alias("n_raw_chars"),
        F.length("normalized").cast("long").alias("n_nfc_chars"),
        "normalized",
        (F.col("normalized") != F.col("raw")).alias("changed"),
    )


# --------------------------------------------------------------------------
# TF-IDF top terms per document
# --------------------------------------------------------------------------

_TOPK_TERMS = 3
_DUCK_TOKENS3 = "list_filter(string_split(text, ' '), x -> x <> '')"


@register(
    "tfidf_top_terms",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKENS3}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, term, tf,
             round(tf * ln((SELECT n_docs FROM n) / df), 6) AS tfidf
      FROM tf JOIN df USING (term)
    )
    SELECT doc_id, term, tf, tfidf FROM scored
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) <= {_TOPK_TERMS}
    """,
)
def tfidf_top_terms(spark, sf_dir):
    """Distributed TF-IDF, the classic two-aggregation formulation:
    term frequencies and document frequencies are partial-aggregated
    shuffles on (doc_id, term) / (term); the corpus size joins in as a
    single-row broadcast (bounded cardinality — allowed a static
    hint). Ranking windows over the ROUNDED score + term tie-break so
    engine libm ulp differences cannot flip the top-k."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", " "), lambda x: x != "")
        ).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = toks.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "term", "tf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), "term"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOPK_TERMS)
        .drop("rn")
    )


# --------------------------------------------------------------------------
# URL canonicalization
# --------------------------------------------------------------------------
# The oracle tables carry no url column, so a deterministically messy
# url is constructed per doc on BOTH engines (uppercase scheme/host,
# default port, dot-segments, unsorted query, fragment); the
# canonicalizer is the reusable operator surface. Dot-segment
# resolution is bounded (two passes — enough for one "/./" and one
# "/../" level; real crawl frontiers iterate to fixpoint outside SQL).

_RAW_URL_DUCK = (
    "'HTTPS://WWW.' || source || '.Example.COM:443/a/./b/../c/page' || "
    "CAST(doc_id % 7 AS VARCHAR) || '?z=2&a=1&m=' || "
    "CAST(doc_id % 3 AS VARCHAR) || '#frag' || CAST(doc_id AS VARCHAR)"
)


@register(
    "canonicalize_urls",
    f"""
    WITH raw AS (SELECT doc_id, {_RAW_URL_DUCK} AS url_raw FROM documents),
    s1 AS (
      SELECT doc_id, url_raw,
             regexp_replace(url_raw, '#.*$', '') AS nofrag
      FROM raw
    ),
    s2 AS (
      SELECT doc_id, url_raw,
             lower(regexp_extract(nofrag, '^([A-Za-z]+)://', 1)) AS scheme,
             lower(regexp_extract(nofrag, '^[A-Za-z]+://([^/?]+)', 1))
               AS hostport,
             regexp_extract(nofrag, '^[A-Za-z]+://[^/?]*([^?]*)', 1) AS path,
             regexp_extract(nofrag, '\\?(.*)$', 1) AS query
      FROM s1
    ),
    s3 AS (
      SELECT doc_id, url_raw, scheme,
             CASE WHEN (scheme = 'https' AND hostport LIKE '%:443')
                    OR (scheme = 'http' AND hostport LIKE '%:80')
                  THEN regexp_replace(hostport, ':[0-9]+$', '')
                  ELSE hostport END AS host,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(path, '/\\./', '/'), '/\\./', '/'),
                 '/[^/]+/\\.\\./', '/'), '/[^/]+/\\.\\./', '/') AS cpath,
             CASE WHEN query = '' THEN ''
                  ELSE '?' || array_to_string(
                         list_sort(string_split(query, '&')), '&') END AS cq
      FROM s2
    )
    SELECT doc_id, url_raw,
           scheme || '://' || host || cpath || cq AS url_canonical,
           host
    FROM s3
    """,
)
def canonicalize_urls(spark, sf_dir):
    """Scan-stage string ops only (zero shuffles at any scale): strip
    fragment, lowercase scheme+host, drop default ports, resolve
    ./ and ../ segments (bounded), sort query parameters. The step
    before url-keyed dedup/resume so byte-different spellings of one
    resource collide. The staged logic lives in operators/urlcanon.py
    (shared with run_curation's opt-in canonicalize stage — this
    oracle pins it; round-6 one-copy rule)."""
    from ..operators.urlcanon import (
        canonical_host,
        canonical_parts,
        canonical_path,
        canonical_query,
    )

    d = _t(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("HTTPS://WWW."), F.col("source"),
        F.lit(".Example.COM:443/a/./b/../c/page"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("?z=2&a=1&m="), (F.col("doc_id") % 3).cast("string"),
        F.lit("#frag"), F.col("doc_id").cast("string"),
    )
    s1 = d.select("doc_id", raw.alias("url_raw"))
    scheme, hostport, path, query = canonical_parts(F.col("url_raw"))
    s2 = s1.select(
        "doc_id", "url_raw",
        scheme.alias("scheme"), hostport.alias("hostport"),
        path.alias("path"), query.alias("query"),
    )
    s3 = s2.select(
        "doc_id", "url_raw", "scheme",
        canonical_host(F.col("scheme"), F.col("hostport")).alias("host"),
        canonical_path(F.col("path")).alias("cpath"),
        canonical_query(F.col("query")).alias("cq"),
    )
    return s3.select(
        "doc_id", "url_raw",
        F.concat(F.col("scheme"), F.lit("://"), F.col("host"),
                 F.col("cpath"), F.col("cq")).alias("url_canonical"),
        "host",
    )


# --------------------------------------------------------------------------
# compression-ratio quality signal (rows-only: no SQL compressor)
# --------------------------------------------------------------------------

_COMPRESS_REPETITIVE_CUT = 0.45  # ~15th pct of the synthetic corpus
# (min 0.39, median 0.50) so both branches provably fire at test sf


@register("quality_compression_ratio", None)  # sql=None: zlib has no
# DuckDB twin; pinned by tests/test_textops3.py (known-string values,
# Spark == pure-Python equality, both branches firing).
def quality_compression_ratio(spark, sf_dir):
    """Compression ratio as a quality/repetition signal (the CCNet/
    Gopher-family heuristic): highly repetitive or boilerplate text
    compresses far below natural prose. zlib level 6 on utf-8 bytes;
    per-row Arrow-batched map, zero shuffles at any scale."""
    import pandas as pd
    import zlib

    @F.pandas_udf("long")
    def n_compressed(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: len(zlib.compress(x.encode("utf-8"), 6))
            if x else 0
        )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = d.withColumn("n_compressed", n_compressed("text")).filter(
        F.length("text") > 0
    )
    ratio = F.col("n_compressed") / F.length("text")
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        "n_compressed",
        F.round(ratio, 6).alias("compression_ratio"),
        (ratio < _COMPRESS_REPETITIVE_CUT).alias("is_repetitive"),
    )


# --------------------------------------------------------------------------
# document chunking (fixed-size character windows with overlap)
# --------------------------------------------------------------------------

_CHUNK_SZ = 200
_CHUNK_STRIDE = 180  # 20-char overlap between consecutive chunks


@register(
    "chunk_documents",
    f"""
    WITH c AS (
      SELECT doc_id,
             unnest(generate_series(0,
               CAST(floor(greatest(length(text) - 1, 0) /
                    {_CHUNK_STRIDE}) AS BIGINT))) AS chunk_idx
      FROM documents WHERE length(text) > 0
    )
    SELECT doc_id, chunk_idx,
           substring(text,
                     CAST(chunk_idx * {_CHUNK_STRIDE} + 1 AS BIGINT),
                     {_CHUNK_SZ}) AS chunk,
           CAST(length(substring(text,
                     CAST(chunk_idx * {_CHUNK_STRIDE} + 1 AS BIGINT),
                     {_CHUNK_SZ})) AS BIGINT) AS n_chars
    FROM c JOIN documents USING (doc_id)
    """,
)
def chunk_documents(spark, sf_dir):
    """Training-window chunking: fixed-size character chunks with
    overlap (the pre-tokenizer form of sequence slicing). Pure per-row
    explode — row inflation is len/stride (bounded, linear), no
    shuffle; at 10^12 docs this runs in the scan stage and feeds the
    packer below."""
    d = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    idx = F.explode(
        F.sequence(
            F.lit(0),
            F.floor(
                F.greatest(F.length("text") - 1, F.lit(0)) / _CHUNK_STRIDE
            ).cast("int"),
        )
    )
    c = d.select("doc_id", "text", idx.alias("chunk_idx"))
    chunk = F.expr(
        f"substring(text, chunk_idx * {_CHUNK_STRIDE} + 1, {_CHUNK_SZ})"
    )
    # n_chars arithmetically (== length(chunk), same value the oracle
    # computes): a size-only consumer prunes the chunk bytes instead
    # of re-materializing every substring to measure it
    n_chars = F.least(
        F.lit(_CHUNK_SZ),
        F.length("text") - F.col("chunk_idx") * _CHUNK_STRIDE,
    )
    return c.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        chunk.alias("chunk"),
        n_chars.cast("long").alias("n_chars"),
    )


# --------------------------------------------------------------------------
# greedy sequence packing (cumulative-length binning)
# --------------------------------------------------------------------------

_PACK_TARGET = 4096  # chars per packed training sequence


@register(
    "pack_docs_greedy",
    f"""
    SELECT lang, doc_id, n_chars,
           CAST(floor((sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) - n_chars)
                / {_PACK_TARGET}) AS BIGINT) AS bin_id
    FROM documents
    """,
)
def pack_docs_greedy(spark, sf_dir):
    """Sequence packing: assign docs to fixed-budget training bins by
    cumulative length in a DETERMINISTIC order (doc_id) per language —
    bin = floor(preceding_cum / target). The order-by-key form is what
    makes packing reproducible across reruns/resumes (an RNG- or
    arrival-order packer is not). A doc larger than the budget still
    lands in exactly one bin (oversize bins are the documented greedy
    behavior, split upstream by chunk_documents).

    Physical plan (round-5 rewrite): the naive single
    Window-per-lang serializes a whole language into one task's sort;
    this runs operators.packing.greedy_pack_bins — an exact two-phase
    prefix sum over monotone doc_id-range buckets, byte-identical
    under this oracle (the regression gate) but with
    langs x n_buckets -way parallelism. The bucket is
    floor((doc_id - min) / span): monotone in doc_id by construction,
    balanced when ids are near-dense (crawl-counter ids are); the
    per-lang (min, max) stats are a languages-sized aggregate, safe
    to broadcast at any corpus size."""
    from ..operators.packing import N_PACK_BUCKETS, greedy_pack_bins

    d = _t(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    stats = d.groupBy("lang").agg(
        F.min("doc_id").alias("_mn"), F.max("doc_id").alias("_mx")
    )
    span = F.greatest(
        F.ceil((F.col("_mx") - F.col("_mn") + 1) / N_PACK_BUCKETS),
        F.lit(1),
    )
    bucketed = (
        d.join(F.broadcast(stats), "lang")
        .withColumn(
            "_bkt",
            F.floor((F.col("doc_id") - F.col("_mn")) / span).cast("int"),
        )
        .drop("_mn", "_mx")
    )
    return greedy_pack_bins(
        bucketed, _PACK_TARGET, "_bkt", ["doc_id"]
    ).select("lang", "doc_id", "n_chars", "bin_id")


# --------------------------------------------------------------------------
# actionable exact dedup: the SURVIVING corpus (keep one per content)
# --------------------------------------------------------------------------

_DEDUP_CLONE_OFFSET = 10_000_000


@register(
    "dedup_keep_representative",
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_DEDUP_CLONE_OFFSET} AS doc_id, text
      FROM documents WHERE doc_id % 20 = 0
    )
    SELECT doc_id, md5(text) AS content_hash
    FROM corpus
    QUALIFY row_number() OVER (PARTITION BY md5(text)
                               ORDER BY doc_id) = 1
    """,
)
def dedup_keep_representative(spark, sf_dir):
    """The actionable form of exact dedup: not the pair/group listing
    (dedup_exact_text) but the corpus that SURVIVES — min doc_id per
    content hash wins (deterministic representative; first-crawled
    wins under monotonic ids). The testdata has no organic exact dups,
    so clones are injected (every 20th doc) and every one of them must
    be dropped — pinned in tests. One hash-partitioned window, no
    pairwise work."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    clones = d.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + _DEDUP_CLONE_OFFSET).alias("doc_id"), "text"
    )
    corpus = d.unionByName(clones).select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("content_hash")
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        corpus.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# --------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap with an eval set)
# --------------------------------------------------------------------------
# The GPT-3/Llama-style decontamination pass: drop training docs that
# share any N-gram with the evaluation benchmark. Here the "benchmark"
# is a deterministic slice of the corpus (every 50th doc) so the gate
# provably fires (the corpus's dup-of-earlier docs collide with it).

_DECON_N = 5  # overlap gram width
_DUCK_TOKS_DECON = "list_filter(string_split(text, ' '), x -> x <> '')"


@register(
    "decontaminate_ngram_overlap",
    f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS_DECON} AS t FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 4),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                         t[i+3] || ' ' || t[i+4])) AS g
      FROM toks WHERE len(t) >= {_DECON_N}
    ),
    eval_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
    train AS (SELECT * FROM grams WHERE doc_id % 50 <> 0)
    SELECT doc_id,
           CAST(count(DISTINCT CASE WHEN e.g IS NOT NULL THEN t.g END)
                AS BIGINT) AS n_overlapping_grams,
           count(DISTINCT t.g) AS n_grams,
           count(DISTINCT CASE WHEN e.g IS NOT NULL THEN t.g END) > 0
             AS is_contaminated
    FROM train t LEFT JOIN eval_grams e USING (g)
    GROUP BY doc_id
    """,
)
def decontaminate_ngram_overlap(spark, sf_dir):
    """Train docs sharing any 5-gram with the eval slice are flagged.
    Scale shape: gram explode is linear (one row per token, near
    enough); the eval-gram side is a bounded benchmark vocabulary at
    any corpus size, so AQE broadcasts it and the expensive side never
    re-shuffles; per-doc aggregation is partial+final. Token arrays
    are staged once per row (the gopher lesson); the n-grams are
    operators.tokens.ngrams, the definition the curation chain's
    decontamination stage (which drops docs against an EXTERNAL eval
    set) also uses."""
    d = _t(spark, sf_dir, "documents")
    s1 = d.select(
        "doc_id", F.expr(WS_TOKENS).alias("t")
    ).filter(F.size("t") >= _DECON_N)
    grams = s1.select("doc_id", F.explode(ngrams(_DECON_N)).alias("g"))
    eval_g = (
        grams.filter(F.col("doc_id") % 50 == 0)
        .select("g").distinct()
        .withColumn("_hit", F.lit(1))
    )
    train = grams.filter(F.col("doc_id") % 50 != 0)
    joined = train.join(eval_g, "g", "left")
    overlap = F.countDistinct(
        F.when(F.col("_hit").isNotNull(), F.col("g"))
    )
    return joined.groupBy("doc_id").agg(
        overlap.cast("long").alias("n_overlapping_grams"),
        F.countDistinct("g").alias("n_grams"),
        (overlap > 0).alias("is_contaminated"),
    )


# --------------------------------------------------------------------------
# split-pure greedy packing (round 6: the packer the split stage uses)
# --------------------------------------------------------------------------
# The composed curation pipeline packs per (lang, split) when the
# train/val/test stamp is enabled — a training bin must never mix
# splits. This is the oracle-gated form of that generalized packer:
# the deterministic md5-bucket split joins the partition key and the
# two-phase prefix sum (operators/packing.greedy_pack_bins with a
# composite part_col) must stay byte-identical to the naive
# single-window-per-(lang, split) plan the oracle encodes. Scale
# shape: identical to pack_docs_greedy — the split key only narrows
# each partition, it never concentrates one.

_PACK_SPLIT_TRAIN = 800_000  # of 1M md5 buckets -> 80% train
_PACK_SPLIT_VAL = 900_000    # next 10% val; rest test
_DUCK_SPLIT_BUCKET = _duck_bucket(1_000_000, "split:")


@register(
    "pack_docs_greedy_split",
    f"""
    WITH s AS (
      SELECT lang, doc_id, n_chars,
             CASE WHEN {_DUCK_SPLIT_BUCKET} < {_PACK_SPLIT_TRAIN} THEN 'train'
                  WHEN {_DUCK_SPLIT_BUCKET} < {_PACK_SPLIT_VAL} THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT lang, split, doc_id, n_chars,
           CAST(floor((sum(n_chars) OVER (PARTITION BY lang, split
                 ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_chars)
                / {_PACK_TARGET}) AS BIGINT) AS bin_id
    FROM s
    """,
)
def pack_docs_greedy_split(spark, sf_dir):
    """Two-phase exact prefix sum per (lang, split): same doc_id-range
    bucketing as pack_docs_greedy (a per-lang bucket stays monotone
    within every (lang, split) sub-partition), composite partition
    key via greedy_pack_bins(part_col=["lang", "split"])."""
    from ..operators.packing import N_PACK_BUCKETS, greedy_pack_bins

    # the split_label stamp train_val_test_split applies, so both
    # queries agree on every doc's split
    d = _t(spark, sf_dir, "documents").select(
        "lang", "doc_id", "n_chars",
        split_label("doc_id", _PACK_SPLIT_TRAIN, _PACK_SPLIT_VAL)
        .alias("split"),
    )
    stats = d.groupBy("lang").agg(
        F.min("doc_id").alias("_mn"), F.max("doc_id").alias("_mx")
    )
    span = F.greatest(
        F.ceil((F.col("_mx") - F.col("_mn") + 1) / N_PACK_BUCKETS),
        F.lit(1),
    )
    bucketed = (
        d.join(F.broadcast(stats), "lang")
        .withColumn(
            "_bkt",
            F.floor((F.col("doc_id") - F.col("_mn")) / span).cast("int"),
        )
        .drop("_mn", "_mx")
    )
    return greedy_pack_bins(
        bucketed, _PACK_TARGET, "_bkt", ["doc_id"],
        part_col=["lang", "split"],
    ).select("lang", "split", "doc_id", "n_chars", "bin_id")


# --------------------------------------------------------------------------
# URL / domain blocklist filter (C4- / RefinedWeb-style)
# --------------------------------------------------------------------------
# The oracle tables carry no url column, so a deterministic url is
# constructed per doc on BOTH engines (same device as
# canonicalize_urls); the blocklist matcher is the reusable operator
# surface (operators/urlfilter.py). The fixture list exercises every
# match mode: "src1.example.com" hits www.src1.example.com via the
# subdomain suffix but must NOT hit www.src10..19.example.com
# (label boundary); "www.src7.example.com" is an exact-host hit;
# "ample.com" must hit nothing (no '.ample.com' boundary exists).

_BLOCKED_DOMAINS = ["src1.example.com", "www.src7.example.com", "ample.com"]


@register(
    "url_host_blocklist",
    """
    WITH d AS (
      SELECT doc_id, lang,
             'www.' || source || '.example.com' AS host
      FROM documents
    )
    SELECT doc_id, lang, host
    FROM d
    WHERE NOT (host = 'src1.example.com'
               OR host LIKE '%.src1.example.com'
               OR host = 'www.src7.example.com'
               OR host LIKE '%.www.src7.example.com'
               OR host = 'ample.com'
               OR host LIKE '%.ample.com')
    """,
)
def url_host_blocklist(spark, sf_dir):
    """Scan-stage literal-blocklist path: label-suffix array vs a
    literal domain array via arrays_overlap — zero shuffles, zero
    joins, fully codegen'd (the DataFrame-blocklist anti-join scale
    path is exercised by pytest against this same fixture)."""
    from ..operators.urlfilter import filter_blocked_domains, host_of

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.concat(
            F.lit("https://www."), F.col("source"),
            F.lit(".example.com/page"), F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    return (
        filter_blocked_domains(d, _BLOCKED_DOMAINS)
        .select(
            "doc_id", "lang", host_of(F.col("url")).alias("host")
        )
    )


# --------------------------------------------------------------------------
# cross-split n-gram leakage audit (round 6)
# --------------------------------------------------------------------------
# The eval-integrity counterpart of decontaminate_ngram_overlap:
# there the eval set is a bounded benchmark slice (broadcast); here
# the val/test splits of the corpus ITSELF are audited against
# the train split — the check a training run performs before trusting
# its held-out numbers, since a hash split is growth-stable but not
# content-aware (near-duplicate docs can straddle the boundary).
# Scale shape: the gram explode is linear in tokens and stages the
# token array once; the join is a hash equi-join on the gram string
# with the TRAIN gram vocabulary on one side — corpus-scale, so no
# static broadcast (AQE decides at runtime); at 100 TB you would join
# on xxhash64(g) to shrink shuffle bytes (collision-tolerant for a
# fraction estimate) — kept as the exact string here for oracle
# byte-parity. Per-doc aggregation is partial+final.


@register(
    "split_leakage_ngram",
    f"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN {_DUCK_SPLIT_BUCKET} < {_PACK_SPLIT_TRAIN} THEN 'train'
                  WHEN {_DUCK_SPLIT_BUCKET} < {_PACK_SPLIT_VAL} THEN 'val'
                  ELSE 'test' END AS split,
             {_DUCK_TOKS_DECON} AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, split,
             unnest(list_transform(generate_series(1, len(t) - 4),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                         t[i+3] || ' ' || t[i+4])) AS g
      FROM toks WHERE len(t) >= {_DECON_N}
    ),
    train_g AS (SELECT DISTINCT g FROM grams WHERE split = 'train'),
    ev AS (SELECT doc_id, split, g FROM grams WHERE split <> 'train')
    SELECT e.doc_id, e.split,
           CAST(count(DISTINCT CASE WHEN t.g IS NOT NULL THEN e.g END)
                AS BIGINT) AS n_overlapping_grams,
           count(DISTINCT e.g) AS n_grams,
           round(count(DISTINCT CASE WHEN t.g IS NOT NULL THEN e.g END)
                 / count(DISTINCT e.g), 6) AS overlap_frac,
           count(DISTINCT CASE WHEN t.g IS NOT NULL THEN e.g END) > 0
             AS is_leaked
    FROM ev e LEFT JOIN train_g t USING (g)
    GROUP BY 1, 2
    """,
)
def split_leakage_ngram(spark, sf_dir):
    """Per val/test doc: how many of its distinct 5-grams appear in
    ANY train-split doc (the split_label stamp train_val_test_split
    applies, so the stamp agrees across queries)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        split_label("doc_id", _PACK_SPLIT_TRAIN, _PACK_SPLIT_VAL)
        .alias("split"),
        F.expr(WS_TOKENS).alias("t"),
    ).filter(F.size("t") >= _DECON_N)
    grams = d.select("doc_id", "split", F.explode(ngrams(_DECON_N)).alias("g"))
    # round-7: annotate "appears in ANY train doc" with one window max
    # over the gram partition instead of a distinct + join back — the
    # corpus-sized tokenize+gram explode executes ONCE, not twice
    # (train_g and ev were separate subtrees over grams); _hit is
    # non-null iff the gram group contains a train row, exactly the
    # left-join hit the oracle encodes
    from pyspark.sql import Window

    hit = F.max(F.when(F.col("split") == "train", 1)).over(
        Window.partitionBy("g")
    )
    joined = grams.withColumn("_hit", hit).filter(
        F.col("split") != "train"
    )
    overlap = F.countDistinct(
        F.when(F.col("_hit").isNotNull(), F.col("g"))
    )
    return joined.groupBy("doc_id", "split").agg(
        overlap.cast("long").alias("n_overlapping_grams"),
        F.countDistinct("g").alias("n_grams"),
        F.round(overlap / F.countDistinct("g"), 6).alias("overlap_frac"),
        (overlap > 0).alias("is_leaked"),
    )

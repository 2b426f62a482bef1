"""Training-data curation pipeline: the corpus-level stage AFTER
extraction.

    docs(url, text, lang)
      --[opt-in URL canonicalization: spelling twins collapse]-->
      --[opt-in quality gate: length bounds + repetition cut]-->
      --[opt-in per-url-host domain cap (C4-style quota)]-->
      --[opt-in cross-doc boilerplate span removal]-->
      --exact dedup (content-hash window, min-url representative)-->
      --near-dup prune (MinHash/LSH pairs -> connected components ->
        min-url representative per cluster)-->
      --[opt-in SemDeDup semantic prune (k~sqrt(N) cells + cosine)]-->
      --[opt-in n-gram decontamination vs an eval corpus]-->
      --[opt-in CCNet-style LM-quality tail drop]-->
      --[opt-in temperature-based language rebalancing]-->
      --[opt-in deterministic train/val/test split stamp]-->
      --chunk (fixed-size char windows, overlap)-->
      --greedy sequence packing (two-phase exact prefix sum over
        per-(lang[, split]) hash buckets; split-pure bins)-->
    out_dir/curated/run_id=<rid>/{survivors,packed}/  + lineage + snapshot

Round-3 verdict item 4: these operators existed only as standalone
registry builders; a real training-data user runs them as ONE
resumable job with lineage — the analogue of the reference manager
chaining its whole fixed dataflow (Manager.java:326-348 -> 250-293)
rather than exposing each hop.

Resume semantics (corpus-level, unlike the per-url extraction resume):
near-dup clustering is a GLOBAL property — one new document can change
a cluster's representative — so curation is deterministic batch over
an input snapshot, and the checkpoint records the input's content
fingerprint. Re-running over an unchanged corpus is a no-op (the
completion barrier, reference O9); a changed corpus re-curates into a
new atomic snapshot. Replaying an already-committed run_id is rejected
(same rule as run_pipeline).

Scale shape: exact dedup is one hash-partitioned window; near-dup is
the banded LSH join (sub-quadratic, measured flat per-doc throughput
at 1M docs — BENCH/BASELINE.md); components iterate join+agg on
cluster-sized data only; chunking is a bounded per-row explode in the
scan stage; packing is an exact two-phase prefix sum — local cumsums
per (lang, hash-bucket) plus broadcast per-bucket offsets
(operators/packing.py), so no single task ever sorts a whole
language. Payload text crosses a shuffle only where content must meet
content (the dedup window and the band join) — never for chunk/pack
or the span-removal rebuild, which run in the scan stage.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.minhash import BAND_SIZE, N_HASHES, TOKEN_HASH_VERSION
from .operators.components import _free_ckpt, connected_components
from .operators.neardup import minhash_lsh_pairs_scale
from .operators.packing import greedy_pack_bins, monotone_hash_bucket
from .operators.resume import _atomic_write
from .operators.urlcanon import URL_CANON_VERSION, canonicalize_docs
from .operators.diversify import CLUSTER_BALANCE_VERSION
from .operators.mixture import group_top_k, split_label, temperature_keep
from .operators.quality import dup_bigram_frac, lm_quality_stats
from .operators.semdedup import SEMDEDUP_EMBED_VERSION
from .operators.spans import keep_first_segments, span_coverage
from .operators.tokens import WS_TOKENS, ngrams
from .operators.urlfilter import URL_FILTER_VERSION, filter_blocked_domains

_CKPT = "_checkpoint"

# Version of the curation DATAFLOW itself: bump whenever any stage's
# algorithm changes its output for the same input + config, so a code
# upgrade re-curates instead of falsely no-op-resuming over an output
# directory produced by the old algorithm (the fingerprint-completeness
# rule; round-4 advice: the minhash token-hash swap was exactly such a
# silent upgrade). v2: pack order became hash-bucket-major for the
# two-phase prefix sum. v3: monotone_hash_bucket became exact integer
# shiftright (round-6 advice — boundary keys could float-round into
# the adjacent bucket, shifting pack order). v4: the split stamp's
# bucket gained the "split:" salt (stacked decisions on one unsalted
# bucket correlate — val/test were drawn only from strata whose
# sampling keep-threshold exceeded the train fraction). v5: the
# SemDeDup stage restricts an EXTERNAL embedding table to the docs
# actually reaching the stage (a foreign id pairing with a survivor
# and sorting lower became the cluster label and deleted the
# survivor), changing the survivor set of any committed run that
# passed semdedup_embeddings.
CURATION_DATAFLOW_VERSION = 5


def _ckpt(out_dir: str) -> str:
    return os.path.join(out_dir, _CKPT)


def load_curation_snapshot(out_dir: str) -> dict | None:
    latest = os.path.join(_ckpt(out_dir), "LATEST")
    if not os.path.exists(latest):
        return None
    with open(latest) as f:
        name = f.read().strip()
    with open(os.path.join(_ckpt(out_dir), name)) as f:
        return json.load(f)


def _committed_run_history(out_dir: str, n: int) -> list[str]:
    """Chronological committed-run order, reconstructed from the
    snapshot log (snapshot-0..n): each snapshot's latest_run in file
    order. The ``runs`` list alone cannot serve — it is kept SORTED,
    which loses commit order for uuid run_ids.

    Missing or unreadable historical snapshot files are SKIPPED
    (round-6 advice): one manually-deleted or partially-copied
    snapshot-i.json must not block retention forever — commit order is
    still recoverable from the surviving sequence, and the current
    snapshot's ``runs`` set bounds what vacuum may keep anyway."""
    hist: list[str] = []
    for i in range(n + 1):
        try:
            with open(
                os.path.join(_ckpt(out_dir), f"snapshot-{i}.json")
            ) as f:
                s = json.load(f)
            lr = s.get("latest_run", s["runs"][-1])
        except (OSError, ValueError, KeyError, IndexError):
            continue
        if lr not in hist:
            hist.append(lr)
    return hist


_INFLIGHT_PREFIX = "INFLIGHT-"
# an in-flight sentinel older than this is crash debris (run_curation
# removes its sentinel on EVERY exit, including exceptions — only a
# hard process kill leaves one), but a LIVE pid always wins over age
_INFLIGHT_STALE_SEC = 6 * 3600


def _inflight_path(out_dir: str, run_id: str) -> str:
    return os.path.join(_ckpt(out_dir), f"{_INFLIGHT_PREFIX}{run_id}")


def _pid_start(pid: int) -> int | None:
    """Kernel start time (clock ticks since boot) of ``pid`` from
    /proc — the recycling-proof identity of a process: a reused pid
    gets a different start time. None where /proc is unavailable
    (non-Linux) or unreadable."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
        # field 22, counted after the comm field's closing paren
        # (comm itself may contain spaces/parens)
        return int(stat.rsplit(b")", 1)[1].split()[19])
    except (OSError, ValueError, IndexError):
        return None


def _live_inflight_runs(out_dir: str) -> list[str]:
    """Sentinels of curation runs that look alive: pid still running,
    or (pid unreadable/foreign) younger than the staleness bound.
    Stale sentinels are swept so a hard-killed run cannot block
    vacuuming forever."""
    ck = _ckpt(out_dir)
    if not os.path.isdir(ck):
        return []
    live = []
    import time

    for name in os.listdir(ck):
        if not name.startswith(_INFLIGHT_PREFIX):
            continue
        path = os.path.join(ck, name)
        start_rec = None
        try:
            with open(path) as f:
                raw = f.read().strip()
            if ":" in raw:
                p, s = raw.split(":", 1)
                pid, start_rec = int(p or 0), int(s)
            else:
                pid = int(raw or 0)
        except (OSError, ValueError):
            pid = 0
        alive = False
        if pid > 0:
            try:
                os.kill(pid, 0)
                alive = True
            except ProcessLookupError:
                alive = False
            except PermissionError:
                alive = True  # exists, owned by someone else
            if alive and start_rec is not None:
                # pid-recycling guard (round-6 advice): a live pid
                # only counts when its kernel start time matches the
                # one recorded at sentinel creation — a hard-killed
                # run whose pid was reused by an unrelated long-lived
                # process must not block vacuum/compact forever
                cur = _pid_start(pid)
                if cur is not None and cur != start_rec:
                    alive = False
        try:
            fresh = (time.time() - os.path.getmtime(path)
                     ) < _INFLIGHT_STALE_SEC
        except OSError:
            fresh = False
        if alive or (pid == 0 and fresh):
            live.append(name[len(_INFLIGHT_PREFIX):])
        elif not alive:
            try:
                os.remove(path)  # dead pid: crash debris, sweep it
            except OSError:
                pass
    return live


def vacuum_curation(out_dir: str, keep_last: int = 1) -> dict:
    """Retention maintenance for the curation snapshot layer (the
    curation twin of the extraction pipeline's ``compact``, reference
    O16 cleanup): physically remove all but the most recent
    ``keep_last`` committed runs, plus any uncommitted debris dirs
    left by crashed runs. Returns the new snapshot.

    Guarantees:
    - a LIVE concurrent curation run fails the vacuum loudly (its
      in-flight sentinel is checked) instead of silently losing the
      run's staging data to the debris sweep (round-6 advice; stale
      sentinels from hard-killed runs are swept, not honored);
    - the to-remove path list is computed BEFORE the commit and is
      part of the persisted snapshot, so the on-disk snapshot-N.json
      and the returned/CLI-printed snapshot are identical (round-6
      advice);
    - the snapshot log commits FIRST (atomic), data deletion second —
      a crash mid-vacuum can orphan directories (cleaned by the next
      vacuum) but can never leave a committed run whose data is gone;
    - vacuumed run_ids stay in the replay guard (``vacuumed_runs``):
      reusing one is still rejected, so lineage rows and export paths
      stay unambiguous forever;
    - the input fingerprint carries over, so an unchanged corpus
      still no-op-resumes after a vacuum.
    """
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    snap = load_curation_snapshot(out_dir)
    if not snap:
        raise FileNotFoundError(f"no committed curation under {out_dir}")
    live = _live_inflight_runs(out_dir)
    if live:
        raise RuntimeError(
            f"curation run(s) {live} appear to be in flight under "
            f"{out_dir}; vacuuming now would delete their staging "
            "data — wait for them or remove the stale INFLIGHT-* "
            "sentinel if you are sure"
        )
    hist = _committed_run_history(out_dir, snap["n"])
    hist = [r for r in hist if r in set(snap["runs"])]
    keep = set(hist[-keep_last:])
    # ancestor closure: an incremental run's cumulative view reads
    # every parent in its chain, so vacuuming a kept run's ancestor
    # would break it — retain the transitive parents too
    rp = snap.get("run_parents", {})
    for r in list(keep):
        cur = rp.get(r)
        while cur is not None and cur not in keep:
            keep.add(cur)
            cur = rp.get(cur)
    drop = sorted(set(snap["runs"]) - keep)

    # enumerate removals BEFORE the commit so the persisted snapshot
    # already carries removed_paths (no divergence between disk and
    # the returned object); deletion itself still happens after
    to_remove: list[str] = []
    for sub in ("curated", "lineage"):
        root = os.path.join(out_dir, sub)
        if not os.path.isdir(root):
            continue
        for entry in os.listdir(root):
            if not entry.startswith("run_id="):
                continue
            rid = entry.split("=", 1)[1]
            if rid not in keep:
                to_remove.append(f"{sub}/{entry}")
    to_remove.sort()

    n = snap["n"] + 1
    new_snap = {
        "n": n,
        "runs": sorted(keep),
        "vacuumed_runs": sorted(
            set(snap.get("vacuumed_runs", [])) | set(drop)
        ),
        "input_fingerprint": snap.get("input_fingerprint"),
        "latest_run": snap.get("latest_run", hist[-1]),
        "removed_paths": to_remove,
        # pruned to kept runs (ancestors of kept runs are themselves
        # kept by the closure above)
        "run_parents": {r: p for r, p in rp.items() if r in keep},
    }
    name = f"snapshot-{n}.json"
    _atomic_write(os.path.join(_ckpt(out_dir), name), json.dumps(new_snap))
    _atomic_write(os.path.join(_ckpt(out_dir), "LATEST"), name)

    # data deletion AFTER the commit, exactly the committed list
    for rel in to_remove:
        shutil.rmtree(os.path.join(out_dir, rel), ignore_errors=True)
    return new_snap


# lazy: Column construction needs an active SparkContext (building it
# at import time breaks Spark-less imports of the package)
def _nonblank():
    return F.col("text").isNotNull() & (F.length("text") > 0)


def _fingerprint_and_raw(raw: DataFrame) -> tuple[dict, int]:
    """ONE aggregation job over the raw frame: raw row count (for the
    lineage 'input' stage), non-blank row count, and decimal sum of
    xxhash64(url, text, lang) over non-blank rows (decimal so a
    10^12-row sum cannot overflow under ANSI; lang is hashed because
    it drives packing bins and survivor metadata — a re-labelled
    corpus must re-curate)."""
    nb = _nonblank()
    row = raw.agg(
        F.count("*").alias("n_raw"),
        F.count(F.when(nb, 1)).alias("n"),
        F.sum(
            F.when(
                nb,
                F.xxhash64(F.col("url"), F.col("text"), F.col("lang")),
            ).cast("decimal(38,0)")
        ).alias("h"),
    ).collect()[0]
    fp = {"n_docs": row["n"], "content_sum": str(row["h"])}
    return fp, row["n_raw"]


def input_fingerprint(docs: DataFrame) -> dict:
    """Order-independent content identity of a (non-blank) corpus."""
    return _fingerprint_and_raw(docs)[0]


def quality_gate(
    docs: DataFrame,
    min_chars: int = 100,
    max_chars: int | None = None,
    dup_bigram_max: float = 0.05,
) -> DataFrame:
    """Scan-stage quality filter over (url, text, ...): length bounds
    plus the Gopher duplicate-bigram repetition cut. The repetition
    signal is ``operators.quality.dup_bigram_frac``, the kernel the
    oracle-gated ``quality_gate_verdict`` query also calls; zero
    shuffles at any corpus size."""
    n_chars = F.length("text")
    ok = n_chars >= min_chars
    if max_chars is not None:
        ok = ok & (n_chars <= max_chars)
    return docs.filter(ok & (dup_bigram_frac(F.col("text")) <= dup_bigram_max))


def remove_boilerplate_spans(
    docs: DataFrame, min_docs: int = 3, n: int = 5
) -> DataFrame:
    """Cross-doc repeated-span removal: every token position covered by
    any occurrence of an n-gram appearing in >= ``min_docs`` distinct
    docs is dropped and the survivors reassembled in order, with
    single spaces between tokens. The coverage is
    ``operators.spans.span_coverage``, shared with the oracle-gated
    ``remove_common_spans`` query; this stage keys it on url and emits
    the (url, text, lang) doc schema so it chains ahead of dedup.
    ``docs`` must be url-unique (the extraction output's contract)."""
    staged = docs.select("url", "lang", F.expr(WS_TOKENS).alias("t"))
    keep_pos = F.when(
        F.size("t") > 0,
        F.array_except(
            F.sequence(F.lit(1), F.size("t")),
            F.coalesce(F.col("cov"), F.array()),
        ),
    ).otherwise(F.array())  # sequence(1, 0) would count DOWN;
    # whitespace-only docs keep an empty (nonblank-filtered later) text
    kept = F.transform(keep_pos, lambda p: F.element_at("t", p))
    return span_coverage(staged, "url", min_docs, n).select(
        "url", F.array_join(kept, " ").alias("text"), "lang"
    )


def dedup_segments_first(docs: DataFrame, n: int = 8) -> DataFrame:
    """Keep-FIRST global segment dedup (C4/CCNet rule) over
    non-overlapping ``n``-token tiles: ``operators.spans.
    keep_first_segments``, shared with the oracle-gated
    ``dedup_segments_keep_first`` query, keyed on url and emitting the
    (url, text, lang) doc schema so it chains ahead of exact dedup. A
    doc reduced to previously-seen boilerplate keeps an empty text,
    which the stage wrapper's nonblank filter drops. Complements span
    removal: that stage drops EVERY occurrence of a >= K-doc n-gram,
    this one keeps the first. ``docs`` must be url-unique."""
    staged = docs.select("url", "lang", F.expr(WS_TOKENS).alias("t"))
    return (
        staged.select("url", "lang")
        .join(keep_first_segments(staged, "url", n), "url", "left")
        .select("url", F.coalesce("text", F.lit("")).alias("text"), "lang")
    )


def decontaminate_against(
    docs: DataFrame, eval_docs: DataFrame, n: int = 5
) -> DataFrame:
    """Drop every doc sharing ANY token n-gram with the eval corpus —
    the GPT-3/Llama decontamination rule. ``eval_docs`` needs a
    ``text`` column. The n-grams are ``operators.tokens.ngrams``, the
    definition the ``decontaminate_ngram_overlap`` query (which counts
    per-doc overlap against an in-corpus slice instead) also uses.
    Scale shape: the eval-gram side is a bounded benchmark vocabulary
    at any corpus size (AQE broadcasts it from measured size);
    contaminated urls form a url-level semi-join result, and the
    anti-join back runs on url. Document text stays out of the
    shuffle as long as AQE broadcasts the contaminated-url set (the
    typical case — it is bounded by the eval suite's actual overlap);
    a pathological eval set that contaminates a large fraction of the
    corpus falls back to a url-keyed exchange of the doc rows."""
    toks = F.expr(WS_TOKENS)
    doc_grams = (
        docs.select("url", toks.alias("t"))
        .filter(F.size("t") >= n)
        .select("url", F.explode(ngrams(n)).alias("g"))
    )
    eval_grams = (
        eval_docs.select(toks.alias("t"))
        .filter(F.size("t") >= n)
        .select(F.explode(ngrams(n)).alias("g"))
        .distinct()
    )
    contaminated = doc_grams.join(eval_grams, "g", "left_semi").select(
        "url"
    ).distinct()
    return docs.join(contaminated, "url", "left_anti")


def temperature_sample(docs: DataFrame, alpha: float) -> DataFrame:
    """Temperature-based language rebalancing (XLM-R style): the
    smallest language keeps 100% and dominant languages downsample
    toward a flatter mixture. ``operators.mixture.temperature_keep``
    keyed on url, shared with the oracle-gated
    ``temperature_sampled_corpus`` query."""
    return temperature_keep(docs, "url", alpha).select("url", "text", "lang")


def _url_host():
    return F.coalesce(F.expr("parse_url(url, 'HOST')"), F.lit(""))


def _longest_first():
    return [F.length("text").desc(), "url"]


def domain_cap_docs(docs: DataFrame, cap: int) -> DataFrame:
    """Per-domain document quota (C4/RefinedWeb anti-spam rule): keep
    at most ``cap`` docs per url host, preferring the longest texts
    with a url tie-break — ``operators.mixture.group_top_k``, shared
    with the oracle-gated ``domain_cap_survivors`` query (which groups
    by the documents table's source column). The executed plan uses
    WindowGroupLimit (pinned in tests/test_curation.py)."""
    return group_top_k(
        docs.withColumn("_host", _url_host()), "_host", _longest_first(), cap
    ).drop("_host")


def domain_cap_docs_incremental(
    new_docs: DataFrame, base: DataFrame, cap: int
) -> DataFrame:
    """Incremental form of the per-host quota: committed base
    survivors already consumed part of each host's budget, so new
    docs only fill the REMAINING headroom (longest-texts-win, url
    tie-break — same order as the full form). Exact keep-first
    semantics: a host at or over quota admits nothing. The base
    per-host counts are a hosts-sized aggregate (thin, but unbounded
    cardinality — never statically broadcast; AQE decides)."""
    base_counts = (
        base.withColumn("_host", _url_host())
        .groupBy("_host")
        .agg(F.count("*").alias("_base_n"))
    )
    return group_top_k(
        new_docs.withColumn("_host", _url_host()).join(
            base_counts, "_host", "left"
        ),
        "_host",
        _longest_first(),
        F.lit(cap) - F.coalesce(F.col("_base_n"), F.lit(0)),
    ).drop("_host", "_base_n")


def lm_quality_survivors(docs: DataFrame, drop_z: float) -> DataFrame:
    """CCNet-style LM-quality tail drop: score each doc by its average
    unigram log-probability under the corpus's own model, then drop
    docs scoring below mu_lang - drop_z * sigma_lang — keep the head
    and middle of each language's quality distribution. The scores
    and stats are ``operators.quality.lm_quality_stats`` keyed on url,
    shared with the oracle-gated ``lm_quality_zbuckets`` query. Docs
    with zero whitespace tokens cannot be scored and drop here (they
    cannot train either)."""
    scored, mu, sigma = lm_quality_stats(docs, "url")
    keep = (
        scored.withColumn("_keep", F.col("score") >= mu - drop_z * sigma)
        .filter(F.col("_keep"))
        .select("url")
    )
    return docs.join(keep, "url", "left_semi")


def cluster_balance_docs(docs: DataFrame, alpha: float) -> DataFrame:
    """Cluster-balanced sampling stage (D4-style diversification):
    temperature-flatten the survivors across k ~ sqrt(N) trained
    embedding cells — the semantic analogue of
    ``temperature_sample``'s per-language rule, sharing the versioned
    feature-hash featurization with the SemDeDup stage. Its acceptance
    bucket is "cluster_balance:"-salted so the decision is INDEPENDENT
    of the downstream temperature-sampling and split-stamp buckets
    (stacked rate filters on one bucket compose as min, not product). The
    kernel is ``operators.diversify.cluster_balanced_keep``, shared
    with the rows-only ``cluster_balanced_sample`` registry query."""
    from .operators.diversify import cluster_balanced_keep

    return cluster_balanced_keep(docs, alpha).select(
        "url", "text", "lang"
    )


def stamp_split(
    docs: DataFrame, train_frac: float, val_frac: float
) -> DataFrame:
    """Append the deterministic train/val/test ``split`` column:
    ``operators.mixture.split_label`` keyed on url, shared with the
    oracle-gated ``train_val_test_split`` query."""
    t1 = int(round(train_frac * 1_000_000))
    t2 = t1 + int(round(val_frac * 1_000_000))
    return docs.withColumn("split", split_label("url", t1, t2))


def exact_dedup_survivors(docs: DataFrame) -> DataFrame:
    """Keep one doc per exact text: min url wins (deterministic
    representative). One hash-partitioned window, no pairwise work."""
    w = Window.partitionBy("content_hash").orderBy("url")
    return (
        docs.withColumn(
            "content_hash", F.md5(F.col("text").cast("binary"))
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "content_hash")
    )


def neardup_survivors(docs: DataFrame) -> DataFrame:
    """Drop near-duplicates: LSH candidate pairs -> connected
    components -> keep the min-url representative of each cluster
    (component label IS the min reachable url)."""
    pairs = minhash_lsh_pairs_scale(docs, id_col="url", text_col="text")
    labels = connected_components(
        docs.select("url"), pairs, vertex_col="url", src="a_id", dst="b_id"
    )
    keep = labels.filter(F.col("id") == F.col("component")).select(
        F.col("id").alias("url")
    )
    return docs.join(keep, "url", "left_semi")


_BANDS_META = "_band_meta.json"


def _band_meta() -> dict:
    """Identity of the persisted band layout: an increment may reuse a
    run's stored bands only if the minhash algorithm that would
    recompute them is unchanged."""
    return {
        "token_hash_version": TOKEN_HASH_VERSION,
        "n_hashes": N_HASHES,
        "band_size": BAND_SIZE,
    }


def _write_survivor_bands(survivors: DataFrame, run_dir: str) -> None:
    """Persist the survivors' LSH band values AND content hashes
    beside the survivors — 16+1 thin rows per doc — so a future
    increment band-joins / hash-anti-joins against them directly
    instead of re-reading the whole committed corpus's text (the
    difference between O(new) and O(corpus) per increment)."""
    from .operators.neardup import minhash_bands

    minhash_bands(
        survivors.select("url", "text"), id_col="url", text_col="text"
    ).write.mode("overwrite").parquet(os.path.join(run_dir, "bands"))
    survivors.select(
        "url", F.md5(F.col("text").cast("binary")).alias("content_hash")
    ).write.mode("overwrite").parquet(os.path.join(run_dir, "hashes"))
    _atomic_write(
        os.path.join(run_dir, _BANDS_META), json.dumps(_band_meta())
    )


def _chain_hashes(
    spark: SparkSession, out_dir: str, chain: list[str]
) -> DataFrame:
    """(content_hash) rows of every committed survivor in the chain:
    stored hash manifests where present, recomputed from survivor
    text otherwise (md5 has no version knob — only presence is
    checked)."""
    parts = []
    for rid in chain:
        p = os.path.join(out_dir, "curated", f"run_id={rid}", "hashes")
        parts.append(
            spark.read.parquet(p).select("content_hash")
            if os.path.isdir(p)
            else spark.read.parquet(
                _survivors_path(out_dir, rid)
            ).select(
                F.md5(F.col("text").cast("binary")).alias("content_hash")
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def _chain_bands(
    spark: SparkSession, out_dir: str, chain: list[str]
) -> DataFrame:
    """Band rows for every committed survivor in the chain: stored
    bands where present AND algorithm-compatible, recomputed from
    survivor text otherwise (runs committed before band persistence,
    or across a minhash version bump)."""
    from .operators.neardup import minhash_bands

    parts = []
    for rid in chain:
        run_dir = os.path.join(out_dir, "curated", f"run_id={rid}")
        meta_path = os.path.join(run_dir, _BANDS_META)
        bands_path = os.path.join(run_dir, "bands")
        reusable = False
        if os.path.isdir(bands_path) and os.path.exists(meta_path):
            try:
                with open(meta_path) as f:
                    reusable = json.load(f) == _band_meta()
            except (OSError, ValueError):
                reusable = False
        parts.append(
            spark.read.parquet(bands_path) if reusable
            else minhash_bands(
                spark.read.parquet(
                    _survivors_path(out_dir, rid)
                ).select("url", "text"),
                id_col="url", text_col="text",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def exact_dedup_survivors_incremental(
    new_docs: DataFrame,
    base: DataFrame,
    base_hashes: DataFrame | None = None,
    bloom_prefilter: bool = False,
) -> DataFrame:
    """Keep-first exact dedup for an increment: among the new batch
    the min-url doc per exact text wins (same rule as the full form),
    and any new doc whose text matches a COMMITTED base survivor
    drops — committed survivors are never revoked. One hash window
    over the new batch + one hash anti-join against the base;
    ``base_hashes`` (the per-run stored manifests, `_chain_hashes`)
    keeps the anti-join off the base TEXT entirely — without it the
    hashes are recomputed from survivor text (one linear pass).

    ``bloom_prefilter``: summarize the NEW batch's hashes in a bloom
    and prune the corpus-sized base manifest in its scan stage, so
    its non-matching bulk never shuffles into the anti-join (the
    base:batch ratio is unbounded at 10^12 docs — without this every
    increment sort-merge-shuffles the whole manifest). Output is
    IDENTICAL either way: false negatives are impossible, false
    positives fall through to the exact anti-join. Best with a
    materialized ``new_docs`` (the composed chain's stage inputs are
    checkpointed) — the bloom build re-reads it once."""
    from .functions.bloom import bloom_semi_reduce

    h = F.md5(F.col("text").cast("binary"))
    if base_hashes is None:
        base_hashes = base.select(h.alias("content_hash")).distinct()
    if bloom_prefilter:
        base_hashes = bloom_semi_reduce(
            new_docs.select(h.alias("content_hash")), base_hashes,
            "content_hash", expected=new_docs.count(),
        )
    w = Window.partitionBy("content_hash").orderBy("url")
    return (
        new_docs.withColumn("content_hash", h)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .join(base_hashes, "content_hash", "left_anti")
        .drop("_rn", "content_hash")
    )


def neardup_survivors_incremental(
    new_docs: DataFrame,
    base: DataFrame,
    base_bands: DataFrame | None = None,
    bloom_prefilter: bool = False,
) -> DataFrame:
    """Keep-first near-dup pruning for an increment: band-join the
    new batch's signatures against (base ∪ new) bands; a new doc in
    any component touching a committed survivor drops (even when it
    BRIDGES two base clusters a full re-curate would merge — revoking
    committed docs is exactly what incremental mode promises not to
    do), and new-only components keep their min-url representative,
    identical to the full form.

    Scale shape: O(new), not O(corpus) — ``base_bands`` (persisted
    beside each run's survivors, `_write_survivor_bands`) means the
    committed corpus is never re-minhashed, and the pair join keeps
    the NEW batch on one side, so base-base bucket pairs (already
    resolved when those runs committed) are never generated. Without
    ``base_bands`` the base signatures are recomputed from survivor
    text (one linear pass — the pre-persistence fallback). Components
    iterate on pair-touched vertices only, so the untouched bulk of
    the base exits the loop immediately.

    ``bloom_prefilter``: summarize the new batch's (band_idx,
    band_val) keys in a bloom and prune the corpus-sized band
    manifest in its scan stage — non-colliding base bands (the vast
    bulk) never shuffle into the pair join. Output IDENTICAL (no
    false negatives; false positives only add join input); the new
    bands are checkpointed once so the batch is minhashed once, not
    once per consumer."""
    from .functions.bloom import bloom_semi_reduce
    from .operators.neardup import minhash_bands

    new_bands = minhash_bands(new_docs, id_col="url", text_col="text")
    if bloom_prefilter:
        # materialize: the bloom build, the pair join's probe side and
        # the union below would each re-run the minhash UDF otherwise
        new_bands = new_bands.localCheckpoint()
    if base_bands is None:
        base_bands = minhash_bands(base, id_col="url", text_col="text")
    if bloom_prefilter:
        base_bands = bloom_semi_reduce(
            new_bands, base_bands, ("band_idx", "band_val"),
            expected=new_bands.count(),
        )
    all_bands = new_bands.unionByName(base_bands)
    # pairs touching at least one NEW doc; canonical (min, max) order
    # so the same pair found from both sides dedupes in the distinct
    a, b = new_bands.alias("a"), all_bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.least("a.id", "b.id").alias("a_id"),
            F.greatest("a.id", "b.id").alias("b_id"),
        )
        .distinct()
    )
    # vertices: pair-touched ids + the new batch — a committed doc in
    # no candidate pair can't share a component with a new doc, so
    # the label computation is O(pairs + new), not O(corpus)
    vertices = (
        pairs.select(F.col("a_id").alias("url"))
        .unionByName(pairs.select(F.col("b_id").alias("url")))
        .unionByName(new_docs.select("url"))
        .distinct()
    )
    labels = connected_components(
        vertices, pairs,
        vertex_col="url", src="a_id", dst="b_id",
    )
    # new_bands' checkpoint blocks are NOT freed eagerly here: unlike
    # semdedup_survivors (whose vertex set comes straight from docs),
    # this vertex set derives from the pair pipeline, so the returned
    # frame still references new_bands lazily — an early release
    # throws CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on collect. The blocks
    # are new-batch-sized; the ContextCleaner reclaims them on GC.
    base_ids = base.select(F.col("url").alias("id"))
    # components containing ANY committed survivor: everything new in
    # them is a near-dup of committed work
    base_components = (
        labels.join(base_ids, "id", "left_semi")
        .select("component").distinct()
    )
    keep = (
        labels.join(base_ids, "id", "left_anti")
        .join(base_components, "component", "left_anti")
        .filter(F.col("id") == F.col("component"))
        .select(F.col("id").alias("url"))
    )
    return new_docs.join(keep, "url", "left_semi")


def semdedup_prune(
    docs: DataFrame,
    tau: float,
    embeddings: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup semantic near-dup pruning stage: embed (versioned
    feature-hash default, or an external ``embeddings(url, v)``
    frame), quantize with a corpus-sized trained k-means, pair within
    cells at cosine >= tau, keep the min-url representative per
    connected cluster — the drop-survivors form of the rows-only
    ``semdedup_pairs`` registry query (operators/semdedup.py holds
    the shared scale-hardened kernel)."""
    from .operators.semdedup import semdedup_survivors

    return semdedup_survivors(
        docs, tau, embeddings=embeddings, id_col="url", text_col="text"
    )


def chunk_docs(
    docs: DataFrame,
    chunk_size: int,
    chunk_stride: int,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Fixed-size character chunks with overlap (same operator family
    as the oracle-gated chunk_documents; bounded per-row explode, runs
    in the scan stage). ``extra_cols`` carry per-doc metadata (e.g.
    the train/val/test split) onto every chunk."""
    idx = F.explode(
        F.sequence(
            F.lit(0),
            F.floor(
                F.greatest(F.length("text") - 1, F.lit(0)) / chunk_stride
            ).cast("int"),
        )
    )
    c = docs.filter(F.length("text") > 0).select(
        "url", "lang", *extra_cols, "text", idx.alias("chunk_idx")
    )
    chunk = F.expr(
        f"substring(text, chunk_idx * {int(chunk_stride)} + 1, "
        f"{int(chunk_size)})"
    )
    # n_chars arithmetically, NOT length(substring(...)): equivalent
    # (== length(chunk), pinned in tests), but lets a consumer that
    # only needs sizes — the two-phase packer's per-bucket totals
    # branch — prune the chunk bytes instead of re-materializing every
    # substring just to measure it (one full text scan saved per pack)
    n_chars = F.least(
        F.lit(int(chunk_size)),
        F.length("text") - F.col("chunk_idx") * int(chunk_stride),
    )
    return c.select(
        "url",
        "lang",
        *extra_cols,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        chunk.alias("chunk"),
        n_chars.cast("long").alias("n_chars"),
    )


def pack_chunks_greedy(
    chunks: DataFrame,
    pack_target: int,
    part_cols: tuple[str, ...] = ("lang",),
) -> DataFrame:
    """Assign chunks to fixed-budget training bins by cumulative length
    in a DETERMINISTIC order per language — the order-by-key form is
    what makes packing reproducible across reruns/resumes.

    v2 order: (hash_bucket(url), url, chunk_idx). The bucket is a
    monotone uniform function of url (operators.packing), which lets
    the bin assignment run as an exact two-phase prefix sum with
    langs x n_buckets -way parallelism instead of ONE task sorting a
    whole language (the round-4 scale-killer: ~half of Common Crawl is
    one language). A url's chunks stay contiguous (the bucket depends
    on url only), and the hash-major order additionally decorrelates
    same-domain pages across bins — a mixing win for training data.
    Order change vs v1 (url-lexicographic) is covered by
    CURATION_DATAFLOW_VERSION.

    ``part_cols`` extends the bin-partition key — e.g. ("lang",
    "split") keeps every training bin split-pure when the split stage
    is enabled; bin_ids stay contiguous per key tuple."""
    bucketed = chunks.withColumn("_bkt", monotone_hash_bucket("url"))
    return greedy_pack_bins(
        bucketed, pack_target, "_bkt", ["url", "chunk_idx"],
        part_col=list(part_cols),
    ).drop("_bkt")


def _eval_fingerprint(eval_docs: DataFrame) -> dict:
    """Order-independent content identity of a decontamination eval
    corpus (text column only — that is all decontamination reads)."""
    row = eval_docs.agg(
        F.count("text").alias("n"),
        F.sum(F.xxhash64(F.col("text")).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return {"n_docs": row["n"], "content_sum": str(row["h"])}


def _embeddings_fingerprint(emb: DataFrame) -> dict:
    """Order-independent content identity of an external SemDeDup
    embeddings frame (url, v): a changed embedding model changes which
    docs are semantic near-dups, so it must re-curate. The vector
    hashes through its canonical string form (stable Spark double
    formatting) — xxhash64 over array columns is version-sensitive."""
    row = emb.agg(
        F.count("*").alias("n"),
        F.sum(
            F.xxhash64(F.col("url"), F.col("v").cast("string"))
            .cast("decimal(38,0)")
        ).alias("h"),
    ).collect()[0]
    return {"n_vecs": row["n"], "content_sum": str(row["h"])}


def _blocklist_fingerprint(blocked: DataFrame) -> dict:
    """Order-independent content identity of a DataFrame blocklist
    (first column = domain), hashed over the NORMALIZED domain (the
    form the filter matches on), so spelling-only edits that cannot
    change the output don't force a re-curate."""
    dom = F.lower(F.regexp_replace(F.col(blocked.columns[0]), r"^\.", ""))
    row = blocked.select(dom.alias("d")).distinct().agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(F.col("d")).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return {"n_domains": row["n"], "content_sum": str(row["h"])}


def run_curation(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    chunk_size: int = 2048,
    chunk_stride: int = 1792,
    pack_target: int = 8192,
    canonicalize_urls: bool = False,
    blocked_domains: list | DataFrame | None = None,
    quality_min_chars: int | None = None,
    quality_max_chars: int | None = None,
    quality_dup_bigram_max: float = 0.05,
    domain_cap: int | None = None,
    remove_spans_min_docs: int | None = None,
    span_ngram: int = 5,
    segment_dedup_n: int | None = None,
    semdedup_tau: float | None = None,
    semdedup_embeddings: DataFrame | None = None,
    decon_eval: DataFrame | None = None,
    decon_ngram: int = 5,
    lm_quality_drop_z: float | None = None,
    cluster_alpha: float | None = None,
    sample_alpha: float | None = None,
    split_fracs: tuple[float, float] | None = None,
    incremental: bool = False,
) -> dict:
    """Run (or no-op-resume) the curation job; returns summary counts
    and paths. ``docs`` must have (url, text, lang) — typically
    ``read_extracted(spark, extraction_out_dir)``.

    ``incremental=True`` (use the ``run_curation_increment`` wrapper)
    treats ``docs`` as a NEW batch appended to the committed corpus:
    already-processed urls resume-drop, dedup runs keep-first against
    the committed survivor chain, and corpus-global stages are
    rejected — see the wrapper's docstring for the full contract.

    Opt-in stages (each fingerprinted, so toggling or reconfiguring
    any of them re-curates rather than falsely no-op-resuming —
    round-3/4/5 lesson, now covering the round-5 additions too):

    - ``blocked_domains``: C4/RefinedWeb-style URL blocklist as the
      FIRST cut — a doc from a blocked domain (or any subdomain,
      label-boundary matched) drops before any text is read; a
      ``list[str]`` runs as a scan-stage literal filter, a DataFrame
      blocklist anti-joins at scale (its normalized CONTENT enters
      the fingerprint);
    - ``quality_min_chars``: length bounds + Gopher repetition cut
      ahead of dedup;
    - ``domain_cap``: C4-style per-url-host quota right after the
      gate (longest-texts-win, url tie-break);
    - ``remove_spans_min_docs``: cross-doc boilerplate span removal
      (rewrites text BEFORE dedup, so de-boilerplated twins collapse;
      docs emptied by the removal drop here);
    - ``segment_dedup_n``: keep-first global segment dedup (C4/CCNet
      rule): later occurrences of any ``n``-token tile drop corpus-
      wide, first occurrence survives; docs emptied by it drop here;
    - ``semdedup_tau``: SemDeDup semantic near-dup pruning of the
      syntactic (MinHash) survivors — k ~ sqrt(N) trained quantizer +
      within-cell cosine pairs + min-url representative
      (operators/semdedup.py); embeds via the versioned feature-hash
      featurization unless ``semdedup_embeddings`` (url, v) supplies
      model vectors, whose CONTENT then enters the fingerprint;
    - ``decon_eval``: n-gram decontamination of the dedup survivors
      against an eval corpus (its CONTENT enters the fingerprint — a
      new eval suite must re-curate);
    - ``lm_quality_drop_z``: CCNet-style LM-quality tail drop (keep
      docs scoring >= mu_lang - z * sigma_lang);
    - ``cluster_alpha``: cluster-balanced sampling (D4-style
      diversification) — temperature-flatten the survivors across
      k ~ sqrt(N) trained embedding cells (built-in versioned
      feature-hash featurization) toward the uniform per-cell share;
      cells at or below the share keep 100%;
    - ``sample_alpha``: temperature-based language rebalancing as the
      final doc-level selection before chunking;
    - ``split_fracs`` (train, val): stamp the deterministic
      growth-stable train/val/test ``split`` on survivors, chunks and
      packed bins — bins are split-pure (pack partitions by
      (lang, split)).

    Full order: url blocklist -> gate -> domain cap -> span removal ->
    segment dedup -> exact dedup -> near-dup prune -> semdedup ->
    decontaminate -> lm quality -> cluster balance ->
    temperature sample -> split stamp -> chunk -> pack."""
    run_id = run_id or uuid.uuid4().hex[:12]
    prev = load_curation_snapshot(out_dir)
    committed = set(prev["runs"]) if prev else set()
    # vacuumed run_ids stay guarded: their data is gone but reusing
    # the id would make old lineage/export paths ambiguous
    replay_guard = committed | (
        set(prev.get("vacuumed_runs", [])) if prev else set()
    )
    if run_id in replay_guard:
        raise ValueError(
            f"run_id {run_id!r} is already committed in {out_dir}; "
            "rerun with a fresh run_id"
        )
    if chunk_size <= 0 or chunk_stride <= 0 or pack_target <= 0:
        raise ValueError(
            "chunk_size, chunk_stride and pack_target must be positive"
        )
    if chunk_stride > chunk_size:
        raise ValueError(
            "chunk_stride > chunk_size would leave uncovered gaps "
            "between chunks"
        )
    if domain_cap is not None and domain_cap < 1:
        raise ValueError("domain_cap must be >= 1")
    if segment_dedup_n is not None and segment_dedup_n < 1:
        raise ValueError("segment_dedup_n must be >= 1")
    if semdedup_tau is not None and not (0.0 < semdedup_tau <= 1.0):
        raise ValueError("semdedup_tau must be in (0, 1]")
    if semdedup_embeddings is not None and semdedup_tau is None:
        raise ValueError(
            "semdedup_embeddings has no effect without semdedup_tau "
            "(the stage switch)"
        )
    if lm_quality_drop_z is not None and lm_quality_drop_z < 0:
        raise ValueError("lm_quality_drop_z must be >= 0")
    if cluster_alpha is not None and not (0.0 <= cluster_alpha <= 1.0):
        raise ValueError(
            "cluster_alpha must be in [0, 1] (0 = flatten fully to "
            "the uniform cell share, 1 = keep everything)"
        )
    if split_fracs is not None:
        tr, va = split_fracs
        if not (tr > 0 and va > 0 and tr + va < 1):
            raise ValueError(
                "split_fracs must be (train, val) with train > 0, "
                "val > 0 and train + val < 1 (test takes the rest)"
            )
    base = parent_run = processed = None
    if incremental:
        # corpus-global stages compute statistics over the WHOLE
        # corpus (span/tile frequencies, embedding cells, per-lang
        # quality stats, language/cell shares): running them over one
        # batch silently changes their semantics, so they demand a
        # full re-curate instead
        for knob, nm in (
            (remove_spans_min_docs, "remove_spans_min_docs"),
            (segment_dedup_n, "segment_dedup_n"),
            (semdedup_tau, "semdedup_tau"),
            (lm_quality_drop_z, "lm_quality_drop_z"),
            (cluster_alpha, "cluster_alpha"),
            (sample_alpha, "sample_alpha"),
        ):
            if knob is not None:
                raise ValueError(
                    f"{nm} is a corpus-global stage — its statistics "
                    "are properties of the whole corpus, so it needs "
                    "a full re-curate, not an increment"
                )
        if prev is None:
            raise FileNotFoundError(
                f"no committed curation under {out_dir} to increment "
                "— run a full run_curation first"
            )
        parent_run = prev.get("latest_run", prev["runs"][-1])
        chain = _run_chain(prev, parent_run)
        base = read_curated(
            spark, out_dir, run_id=parent_run, cumulative=True
        ).select("url", "text", "lang")
        # stored survivor bands + content hashes (recomputed per run
        # only when absent or algorithm-incompatible): on the happy
        # path the increment never re-reads the committed corpus's
        # TEXT at all — resume/cap touch urls, exact dedup touches
        # stored hashes, near-dup touches stored bands
        base_bands = _chain_bands(spark, out_dir, chain)
        base_hashes = _chain_hashes(spark, out_dir, chain)
        # every url EVALUATED by the chain (processed manifests; runs
        # committed before the manifest existed fall back to their
        # survivor urls — a url those runs dropped would be
        # re-evaluated, and dedup-vs-base re-drops it)
        parts = []
        for rid in chain:
            p = os.path.join(
                out_dir, "curated", f"run_id={rid}", "processed"
            )
            parts.append(
                spark.read.parquet(p) if os.path.isdir(p)
                else spark.read.parquet(
                    _survivors_path(out_dir, rid)
                ).select("url")
            )
        processed = parts[0]
        for p in parts[1:]:
            processed = processed.unionByName(p)
        processed = processed.distinct()
    # blank rows can't train and would all collide on one content
    # hash; drop them up front, counted in the lineage 'input' stage
    # (raw -> non-blank), mirroring the extraction pipeline's O2
    # filter. The raw count and the fingerprint come from ONE
    # aggregation job over the raw frame.
    docs = docs.select("url", "text", "lang")
    fp, n_raw = _fingerprint_and_raw(docs)
    docs = docs.filter(_nonblank())
    # every knob that changes the output is part of the dataflow
    # identity: the same corpus under a different chunk/pack or gate
    # config must re-curate, not falsely no-op-resume — and so are the
    # ALGORITHM versions of the stages (round-4 advice: a token-hash
    # upgrade changes near-dup survivors; without these a code upgrade
    # false no-op-resumes and reports the stale old-algorithm snapshot)
    fp["algo"] = [
        CURATION_DATAFLOW_VERSION, TOKEN_HASH_VERSION, N_HASHES, BAND_SIZE,
    ]
    fp["config"] = [chunk_size, chunk_stride, pack_target]
    if canonicalize_urls:
        # a changed canonicalization changes url identity, hence every
        # url-keyed decision downstream
        fp["url_canon"] = URL_CANON_VERSION
    if blocked_domains is not None:
        if isinstance(blocked_domains, DataFrame):
            # the blocklist's CONTENT is an input: a grown list must
            # re-curate, not falsely no-op-resume
            fp["url_blocklist"] = [
                URL_FILTER_VERSION,
                ["external", _blocklist_fingerprint(blocked_domains)],
            ]
        else:
            doms = sorted(
                {d.lower().lstrip(".") for d in blocked_domains if d}
            )
            # an empty list blocks nothing: disable the stage so it
            # doesn't enter the fingerprint (same output either way)
            blocked_domains = doms or None
            if doms:
                fp["url_blocklist"] = [URL_FILTER_VERSION, doms]
    if quality_min_chars is not None:
        fp["quality_gate"] = [
            quality_min_chars, quality_max_chars, quality_dup_bigram_max,
        ]
    if domain_cap is not None:
        fp["domain_cap"] = domain_cap
    if remove_spans_min_docs is not None:
        fp["span_removal"] = [remove_spans_min_docs, span_ngram]
    if segment_dedup_n is not None:
        fp["segment_dedup"] = segment_dedup_n
    if semdedup_tau is not None:
        # the embedding provider is part of the dataflow identity: the
        # versioned built-in featurization, or the CONTENT of an
        # externally supplied embeddings frame (a new embedding model
        # changes which docs are semantic near-dups)
        provider = (
            ["feature_hash", SEMDEDUP_EMBED_VERSION]
            if semdedup_embeddings is None
            else ["external", _embeddings_fingerprint(semdedup_embeddings)]
        )
        fp["semdedup"] = [semdedup_tau, provider]
    if decon_eval is not None:
        # the EVAL corpus's content is an input: a changed eval suite
        # changes which docs survive, so it must re-curate
        fp["decon"] = [decon_ngram, _eval_fingerprint(decon_eval)]
    if lm_quality_drop_z is not None:
        fp["lm_quality"] = lm_quality_drop_z
    if cluster_alpha is not None:
        # the featurization and dataflow versions are part of the
        # identity: a changed embed or train/acceptance rule changes
        # which docs survive
        fp["cluster_balance"] = [
            cluster_alpha, CLUSTER_BALANCE_VERSION, SEMDEDUP_EMBED_VERSION,
        ]
    if sample_alpha is not None:
        fp["sample_alpha"] = sample_alpha
    if split_fracs is not None:
        fp["split"] = [split_fracs[0], split_fracs[1]]
    if incremental:
        # mode flag, not the parent id: a resubmission of the SAME
        # batch right after its own commit must compare equal to that
        # commit's fingerprint and no-op (the parent id would change
        # with every commit and defeat the barrier); any OTHER commit
        # in between changes the latest fingerprint and correctly
        # forces a re-evaluation (which then resume-drops everything
        # already processed)
        fp["incremental"] = True
    if prev and prev.get("input_fingerprint") == fp:
        # completion barrier: same corpus already curated — rerunning
        # the whole dataflow would reproduce byte-identical output
        return {
            "run_id": run_id,
            "snapshot": prev,
            "skipped_noop": True,
            **{k: None for k in ("survivors_path", "packed_path",
                                 "lineage_path")},
        }

    run_dir = os.path.join(out_dir, "curated", f"run_id={run_id}")
    survivors_path = os.path.join(run_dir, "survivors")
    packed_path = os.path.join(run_dir, "packed")
    lineage_path = os.path.join(out_dir, "lineage", f"run_id={run_id}")

    n_input = fp["n_docs"]
    # the composed doc-level dataflow, in fixed order; fn=None means
    # the opt-in stage is disabled and passes its input through (its
    # lineage row records n_in == n_out)
    stage_defs: list[tuple[str, object]] = [
        (
            "url_canonicalize",
            # identity first: spelling twins must collapse BEFORE any
            # url-keyed decision (resume, dedup tie-breaks, host
            # quotas, packing keys) — one hash window, scan-stage
            # string ops otherwise (operators/urlcanon.py)
            canonicalize_docs if canonicalize_urls else None,
        ),
        (
            "url_blocklist",
            # first cut: provenance-only, reads no text — at 100 TB
            # every downstream stage's input shrinks by the block rate
            (lambda df: filter_blocked_domains(df, blocked_domains))
            if blocked_domains is not None else None,
        ),
        (
            "quality_gate",
            (lambda df: quality_gate(
                df,
                min_chars=quality_min_chars,
                max_chars=quality_max_chars,
                dup_bigram_max=quality_dup_bigram_max,
            )) if quality_min_chars is not None else None,
        ),
        (
            "domain_cap",
            (lambda df: domain_cap_docs(df, domain_cap))
            if domain_cap is not None else None,
        ),
        (
            "span_removal",
            # rewrites text BEFORE dedup (de-boilerplated twins
            # collapse); docs emptied by the removal drop here — they
            # cannot train and would all collide on one content hash
            (lambda df: remove_boilerplate_spans(
                df, min_docs=remove_spans_min_docs, n=span_ngram
            ).filter(_nonblank()))
            if remove_spans_min_docs is not None else None,
        ),
        (
            "segment_dedup",
            # keep-first tile dedup rewrites text BEFORE exact dedup
            # (docs reduced to previously-seen boilerplate empty here)
            (lambda df: dedup_segments_first(
                df, n=segment_dedup_n
            ).filter(_nonblank()))
            if segment_dedup_n is not None else None,
        ),
        ("exact_dedup", exact_dedup_survivors),
        ("neardup_prune", neardup_survivors),
        (
            "semdedup",
            (lambda df: semdedup_prune(
                df, semdedup_tau, embeddings=semdedup_embeddings
            )) if semdedup_tau is not None else None,
        ),
        (
            "decontaminate",
            (lambda df: decontaminate_against(
                df, decon_eval, n=decon_ngram
            )) if decon_eval is not None else None,
        ),
        (
            "lm_quality",
            (lambda df: lm_quality_survivors(df, lm_quality_drop_z))
            if lm_quality_drop_z is not None else None,
        ),
        (
            "cluster_balance",
            (lambda df: cluster_balance_docs(df, cluster_alpha))
            if cluster_alpha is not None else None,
        ),
        (
            "temperature_sample",
            (lambda df: temperature_sample(df, sample_alpha))
            if sample_alpha is not None else None,
        ),
    ]
    if incremental:
        # the increment's dataflow: resume first (already-evaluated
        # urls are not new work), the per-doc stages unchanged, both
        # dedup stages in their keep-first against-the-chain form;
        # corpus-global stages were rejected above
        by_name = dict(stage_defs)
        from .functions.bloom import bloom_semi_reduce

        # the committed chain's url identity and the batch's must
        # agree: a canonicalized batch over a raw-url base (or the
        # reverse) silently misses every resume/dedup collision
        base_canon = "url_canon" in (prev.get("input_fingerprint") or {})
        if canonicalize_urls != base_canon:
            raise ValueError(
                "canonicalize_urls must match the committed chain "
                f"(base {'did' if base_canon else 'did not'} "
                "canonicalize; this increment "
                f"{'does' if canonicalize_urls else 'does not'}) — "
                "url identity drives resume and keep-first dedup"
            )
        stage_defs = [
            (
                "url_canonicalize",
                by_name["url_canonicalize"],
            ),
            (
                "resume_anti_join",
                # bloom semi-reduction: the processed manifest is
                # corpus-sized and the batch is small — prune the
                # manifest in its scan stage (no false negatives, so
                # the exact anti-join still drops every processed
                # url; false positives only add join input)
                lambda df: df.join(
                    bloom_semi_reduce(
                        df.select("url"), processed, "url",
                        expected=n_input,
                    ),
                    "url", "left_anti",
                ),
            ),
            ("url_blocklist", by_name["url_blocklist"]),
            ("quality_gate", by_name["quality_gate"]),
            (
                "domain_cap",
                (lambda df: domain_cap_docs_incremental(
                    df, base, domain_cap
                )) if domain_cap is not None else None,
            ),
            (
                "exact_dedup",
                lambda df: exact_dedup_survivors_incremental(
                    df, base, base_hashes=base_hashes,
                    bloom_prefilter=True,
                ),
            ),
            (
                "neardup_prune",
                lambda df: neardup_survivors_incremental(
                    df, base, base_bands=base_bands,
                    bloom_prefilter=True,
                ),
            ),
            ("decontaminate", by_name["decontaminate"]),
        ]

    # every materialized frame releases on ANY exit (round-4 advice:
    # an exception between materialize and the early release leaked
    # the blocks for the life of the session); early releases inside
    # the chain still free memory as soon as a successor materializes
    # — releasing twice is a harmless no-op
    materialized: list[DataFrame] = []

    def _materialize(df: DataFrame, prev: DataFrame | None):
        """Eagerly localCheckpoint + count a stage output; release the
        predecessor's blocks once the successor is materialized.

        Checkpoint, not persist (round-6): persist caches the DATA but
        keeps the full logical plan, and several stages reference
        their input more than once (segment dedup joins winners back,
        semdedup/decon anti-join their own survivors), so the analyzed
        tree — and the plan-description string the SQL listener builds
        per execution — MULTIPLIES through the chain; with every stage
        enabled it OOM'd an 8g driver before the survivors write. The
        checkpoint truncates lineage at each stage boundary, so every
        stage plans against a flat LogicalRDD. Cost: within-run
        recompute-on-executor-loss is gone at stage boundaries — at
        cluster scale a lost block fails the run, which then re-runs
        idempotently under the snapshot barrier (recomputing a 12-stage
        chain from the scan was never a real recovery path at 100 TB)."""
        # lazy + count: the first action materializes AND checkpoints
        # in ONE job (eager=True would run a materialize job, then
        # count() would re-scan all the stored blocks a second time)
        df = df.localCheckpoint(eager=False)
        materialized.append(df)
        n = df.count()
        if prev is not None:
            _free_ckpt(prev)
        return df, n

    # in-flight sentinel (round-6 advice): makes a concurrent vacuum
    # fail loudly instead of sweeping this run's staging dirs as
    # debris; removed on EVERY exit, so only a hard process kill
    # leaves one (and those go stale — see _live_inflight_runs)
    ck = _ckpt(out_dir)
    os.makedirs(ck, exist_ok=True)
    sentinel = _inflight_path(out_dir, run_id)
    with open(sentinel, "w") as f:
        # pid + kernel start time: recycling-proof liveness identity
        _st = _pid_start(os.getpid())
        f.write(f"{os.getpid()}:{_st}" if _st is not None
                else str(os.getpid()))
    try:
        import time as _time

        measured: dict[str, int] = {}
        # per-stage wall seconds (diagnostic only — lineage counts are
        # the contract; this feeds OPTIMIZATION round measurements)
        stage_sec: dict[str, float] = {}
        enabled = [(nm, fn) for nm, fn in stage_defs if fn is not None]
        last_enabled = enabled[-1][0]
        processed_written = False
        try:
            cur, prev_cached = docs, None
            for nm, fn in enabled:
                _t0 = _time.monotonic()
                cur = fn(cur)
                if nm != last_enabled:
                    # checkpoint + count intermediates: each enabled
                    # stage's output feeds both its lineage row and
                    # the successor's (often multi-pass) dataflow
                    cur, measured[nm] = _materialize(cur, prev_cached)
                    prev_cached = cur
                    stage_sec[nm] = round(_time.monotonic() - _t0, 3)
                    if nm == "resume_anti_join" or (
                        nm == "url_canonicalize" and not incremental
                    ):
                        # processed manifest: every url this run
                        # EVALUATED — what a later increment
                        # resume-anti-joins against. Written HERE,
                        # while the checkpoint's blocks are still
                        # alive (_materialize frees each stage once
                        # its successor lands). For a canonicalizing
                        # FULL run the manifest must carry the
                        # POST-canonicalization urls (the identity the
                        # increment's resume compares against — the
                        # raw-url manifest missed every respelled
                        # committed url; round-6 advice item 1).
                        cur.select("url").write.mode(
                            "overwrite"
                        ).parquet(os.path.join(run_dir, "processed"))
                        processed_written = True
            _t0 = _time.monotonic()
            if split_fracs is not None:
                # count-preserving: stamps the deterministic split on
                # the final survivor set just before the write
                cur = stamp_split(cur, split_fracs[0], split_fracs[1])
            cur.write.mode("overwrite").parquet(survivors_path)
            stage_sec[last_enabled] = round(_time.monotonic() - _t0, 3)
            if not processed_written:
                # full run: every non-blank input url was evaluated —
                # a thin url-only projection straight off the scan.
                # (A canonicalizing chain writes its manifest from the
                # canonicalize stage output above; when canonicalize
                # is the LAST enabled stage the survivors carry the
                # canonical urls, so read them back instead.)
                src = (
                    spark.read.parquet(survivors_path)
                    if canonicalize_urls and not incremental
                    else docs
                )
                src.select("url").write.mode("overwrite").parquet(
                    os.path.join(run_dir, "processed")
                )
        finally:
            for p in materialized:
                _free_ckpt(p)

        survivors = spark.read.parquet(survivors_path)
        n_survivors = survivors.count()
        measured[last_enabled] = n_survivors

        # survivor bands: what a future increment band-joins against
        # instead of re-minhashing this run's survivors (O(new) vs
        # O(corpus) per increment); survivors-sized, thin
        _t0 = _time.monotonic()
        _write_survivor_bands(survivors, run_dir)
        stage_sec["_survivor_bands"] = round(_time.monotonic() - _t0, 3)

        # per-stage lineage counts: disabled stages pass through
        stage_out: dict[str, int] = {}
        n_prev = n_input
        for nm, _fn in stage_defs:
            stage_out[nm] = measured.get(nm, n_prev)
            n_prev = stage_out[nm]

        split_extra = ("split",) if split_fracs is not None else ()
        _t0 = _time.monotonic()
        packed = pack_chunks_greedy(
            chunk_docs(
                survivors, chunk_size, chunk_stride,
                extra_cols=split_extra,
            ),
            pack_target,
            part_cols=("lang", *split_extra),
        )
        # when the split stage is on, partition the packed layout by
        # split: a training reader of split=train then PRUNES the
        # val/test files at the directory level (PartitionFilters in
        # the scan) instead of scanning and filtering 100% of the
        # chunk bytes — the read-side win the stamp exists for
        writer = packed.write.mode("overwrite")
        # partition only when there are rows: a zero-survivor run
        # (e.g. a fully-resumed increment) partitionBy-writes ONLY
        # _SUCCESS — no schema file — and every later schema-less
        # read of the committed dir (read_packed, cumulative unions)
        # would throw UNABLE_TO_INFER_SCHEMA; the non-partitioned
        # empty write keeps a schema file, and a split filter on it
        # is a no-op over zero rows
        if split_fracs is not None and n_survivors > 0:
            writer = writer.partitionBy("split")
        writer.parquet(packed_path)
        packed_back = spark.read.schema(packed.schema).parquet(packed_path)
        n_chunks = packed_back.count()
        n_bins = packed_back.select(
            "lang", *split_extra, "bin_id"
        ).distinct().count()
        stage_sec["_chunk_pack"] = round(_time.monotonic() - _t0, 3)

        stages = [("input", n_raw, n_input)]  # raw -> non-blank (O2)
        n_prev = n_input
        for nm, _fn in stage_defs:
            stages.append((nm, n_prev, stage_out[nm]))
            n_prev = stage_out[nm]
        stages += [
            ("split_stamp", n_survivors, n_survivors),
            ("chunk", n_survivors, n_chunks),
            ("pack", n_chunks, n_bins),
        ]
        lineage = spark.createDataFrame(
            [
                (run_id, i, stage, n_in, n_out, n_in - n_out)
                for i, (stage, n_in, n_out) in enumerate(stages)
            ],
            "run_id string, stage_idx int, stage string, n_in long, "
            "n_out long, n_dropped long",
        )
        lineage.write.mode("overwrite").parquet(lineage_path)

        n = (prev["n"] + 1) if prev else 0
        snap = {
            "n": n,
            "runs": sorted(committed | {run_id}),
            "input_fingerprint": fp,
            "latest_run": run_id,
            # which run each committed run extended (None for full
            # runs): drives cumulative reads and vacuum's
            # ancestor-retention closure
            "run_parents": {
                **(prev.get("run_parents", {}) if prev else {}),
                run_id: parent_run,
            },
        }
        if prev and prev.get("vacuumed_runs"):
            snap["vacuumed_runs"] = prev["vacuumed_runs"]
        name = f"snapshot-{n}.json"
        _atomic_write(os.path.join(ck, name), json.dumps(snap))
        _atomic_write(os.path.join(ck, "LATEST"), name)  # atomic commit
    finally:
        try:
            os.remove(sentinel)
        except OSError:
            pass

    return {
        "run_id": run_id,
        "snapshot": snap,
        "n_raw_input": n_raw,
        "n_input": n_input,
        # .get: an incremental run's stage set omits the
        # corpus-global stages (and a full run has no resume stage)
        "n_after_resume": stage_out.get("resume_anti_join"),
        "n_after_url_blocklist": stage_out.get("url_blocklist"),
        "n_after_quality_gate": stage_out.get("quality_gate"),
        "n_after_domain_cap": stage_out.get("domain_cap"),
        "n_after_span_removal": stage_out.get("span_removal"),
        "n_after_segment_dedup": stage_out.get("segment_dedup"),
        "n_after_exact_dedup": stage_out.get("exact_dedup"),
        "n_after_neardup": stage_out.get("neardup_prune"),
        "n_after_semdedup": stage_out.get("semdedup"),
        "n_after_decon": stage_out.get("decontaminate"),
        "n_after_lm_quality": stage_out.get("lm_quality"),
        "n_after_cluster_balance": stage_out.get("cluster_balance"),
        "n_survivors": n_survivors,
        "n_chunks": n_chunks,
        "n_bins": n_bins,
        "stage_sec": stage_sec,
        "survivors_path": survivors_path,
        "packed_path": packed_path,
        "lineage_path": lineage_path,
    }


def run_curation_increment(
    spark: SparkSession,
    new_docs: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    **kwargs,
) -> dict:
    """Append a new crawl batch to a committed curation WITHOUT
    re-curating the corpus — the 100-TB operating mode: a monthly
    snapshot lands and only the new documents flow through the chain,
    deduped keep-first against everything already committed.

    Contract:
    - requires a committed base (``run_curation``) in ``out_dir``;
      the increment chains onto the LATEST committed run;
    - already-evaluated urls resume-drop (processed manifests union'd
      over the parent chain), mirroring the extraction pipeline's
      per-url resume;
    - committed survivors are never revoked: a new doc drops if it
      exact- or near-duplicates any committed survivor; the domain
      cap fills only each host's remaining headroom;
    - per-doc stages (``blocked_domains``, quality gate,
      ``decon_eval``, ``split_fracs``, chunk/pack config) behave
      exactly as in a full run; corpus-global stages
      (``remove_spans_min_docs``, ``segment_dedup_n``,
      ``semdedup_tau``, ``lm_quality_drop_z``, ``cluster_alpha``,
      ``sample_alpha``) raise — their statistics are properties of
      the whole corpus and need a full re-curate;
    - the increment commits as its own run (survivors/packed/lineage
      + processed manifest) with a ``run_parents`` pointer; read the
      combined corpus with ``read_curated(..., cumulative=True)``;
      an identical batch resubmitted against the same chain head
      no-op-resumes (completion barrier), and ``vacuum_curation``
      retains every ancestor of a kept run.

    Equivalence: when representative choice cannot differ (base urls
    sort before increment urls), base-then-increment produces the
    same cumulative survivor set as one full curation over the union
    — pinned by tests/test_curation_incremental.py. Where it CAN
    differ (a new doc bridging two committed near-dup clusters, or a
    smaller new url that a full run would have elected representative)
    keep-first preserves the committed side by design."""
    return run_curation(
        spark, new_docs, out_dir, run_id=run_id, incremental=True,
        **kwargs,
    )


def read_packed(
    spark: SparkSession,
    out_dir: str,
    split: str | None = None,
    cumulative: bool = False,
) -> DataFrame:
    """Packed chunks of the latest committed curation snapshot. With
    ``split`` (and a run curated with ``split_fracs``), the filter
    lands on the split-partitioned directory layout, so a training
    reader of split=train never opens val/test files (partition
    pruning, not a post-scan filter).

    ``cumulative=True`` unions the latest run's packed bins with
    every incremental ancestor's — the full training handoff for a
    base + increments chain. A ``run_id`` column disambiguates bins:
    each run numbers its bins from 0 per (lang[, split]), so the bin
    key over a chain is (run_id, lang[, split], bin_id). Requesting a
    ``split`` fails loudly if any chain run was not split-stamped
    (silently dropping a whole run's rows would be worse)."""
    snap = load_curation_snapshot(out_dir)
    if not snap:
        raise FileNotFoundError(f"no committed curation under {out_dir}")
    rid = snap.get("latest_run", snap["runs"][-1])
    chain = _run_chain(snap, rid) if cumulative else [rid]
    frames, unstamped = [], []
    for r in chain:
        df = spark.read.parquet(
            os.path.join(out_dir, "curated", f"run_id={r}", "packed")
        )
        if cumulative:
            df = df.withColumn("run_id", F.lit(r))
        if split is not None and "split" not in df.columns:
            unstamped.append(r)
        frames.append(df)
    if split is not None and unstamped:
        raise ValueError(
            f"run(s) {unstamped} were not split-stamped (run with "
            "split_fracs to enable train/val/test reads)"
        )
    out = frames[0]
    for df in frames[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    if split is not None:
        out = out.filter(F.col("split") == split)
    return out


def export_packed_jsonl(
    spark: SparkSession, out_dir: str, dest: str,
    cumulative: bool = False,
) -> int:
    """Write the latest packed chunks (or, ``cumulative=True``, the
    whole base + increments chain's) as JSONL — the handoff format
    training loaders consume. One file per bin-partition would be the
    cluster shape; here the write mirrors the parquet layout (files
    per task). Returns the chunk count (from the written data, so the
    number reported is what is actually on disk)."""
    packed = read_packed(spark, out_dir, cumulative=cumulative)
    packed.write.mode("overwrite").json(dest)
    # explicit schema on the read-back: a legitimately-empty packed
    # set writes only _SUCCESS, and schema inference over zero JSON
    # files raises instead of returning 0
    return spark.read.schema(packed.schema).json(dest).count()


def _run_chain(snap: dict, run_id: str) -> list[str]:
    """run_id plus its incremental ancestors, newest first: walk the
    snapshot's ``run_parents`` map (runs committed before incremental
    mode existed have no entry — chain of one)."""
    rp = snap.get("run_parents", {})
    chain: list[str] = []
    cur: str | None = run_id
    while cur is not None and cur not in chain:
        chain.append(cur)
        cur = rp.get(cur)
    return chain


def _survivors_path(out_dir: str, run_id: str) -> str:
    return os.path.join(
        out_dir, "curated", f"run_id={run_id}", "survivors"
    )


def read_curated(
    spark: SparkSession,
    out_dir: str,
    run_id: str | None = None,
    cumulative: bool = False,
) -> DataFrame:
    """Survivors of the latest committed curation snapshot — or, with
    ``run_id``, time-travel to any COMMITTED earlier run (the snapshot
    log keeps every committed run_id; uncommitted/crashed runs are
    not readable, same rule as the extraction snapshot layer).

    ``cumulative=True`` returns the run's FULL corpus view: its own
    survivors unioned with every incremental ancestor's (the training
    handoff for a base + increments chain). Schemas are aligned by
    name with missing columns as NULL, so a split-stamped increment
    unions cleanly over a splitless base."""
    snap = load_curation_snapshot(out_dir)
    if not snap:
        raise FileNotFoundError(f"no committed curation under {out_dir}")
    if run_id is None:
        run_id = snap.get("latest_run", snap["runs"][-1])
    elif run_id not in snap["runs"]:
        raise FileNotFoundError(
            f"run_id {run_id!r} is not committed in {out_dir} "
            f"(committed: {snap['runs']})"
        )
    if not cumulative:
        return spark.read.parquet(_survivors_path(out_dir, run_id))
    out = None
    for rid in _run_chain(snap, run_id):
        df = spark.read.parquet(_survivors_path(out_dir, rid))
        out = df if out is None else out.unionByName(
            df, allowMissingColumns=True
        )
    return out


def compact_curation(
    spark: SparkSession,
    out_dir: str,
    run_id: str | None = None,
) -> dict:
    """Rewrite the latest incremental chain (base + N increments) as
    ONE committed run, so ``vacuum_curation`` can reclaim the chain —
    the curation twin of a table format's rewrite-data-files
    maintenance, and the missing third leg of the append story:
    increments keep chains O(months) long, cumulative reads union
    O(months) directories, and vacuum must retain every ancestor of
    the head forever. Compaction collapses all of that back to a
    chain of one.

    Physical rewrite only — NO stage recomputation and NO text
    re-tokenization on the happy path: the cumulative survivors,
    packed bins (renumbered into one contiguous bin space per
    partition key, chunk rows byte-identical), the processed-url
    manifest, and the increment-serving band/hash manifests all carry
    over from the chain's stored artifacts. A later increment against
    the compacted run therefore produces the SAME survivor set as it
    would against the uncompacted chain (pinned by
    tests/test_curation_compact.py).

    Contract (mirrors run_curation's snapshot discipline):
    - commits as a new run under the atomic snapshot log;
      ``run_parents[new] = None`` (a compacted run IS a base), and
      ``latest_run`` moves to it; the chain's runs stay committed —
      reclaim them with ``vacuum_curation(keep_last=1)``;
    - the parent chain's ``input_fingerprint`` carries over, so
      resubmitting the head's batch still no-op-resumes;
    - replayed/vacuumed run_ids are rejected; a live concurrent run's
      sentinel fails the compaction loudly; the compaction holds its
      own sentinel so a concurrent vacuum fails loudly;
    - a chain of one is a documented no-op;
    - a MIXED chain (some runs split-stamped, some not) raises:
      merging them would turn read_packed's loud unstamped-run error
      into silently dropping the unstamped rows from split reads.

    Bin renumbering: each run numbers bins 0..n-1 per (lang[, split]);
    the compacted run offsets each run's bins by the cumulative bin
    count of the runs before it (oldest first), so bin membership is
    preserved exactly and bin_ids stay contiguous per key. The offset
    table is runs x languages x splits — metadata-sized, broadcast.
    """
    snap = load_curation_snapshot(out_dir)
    if not snap:
        raise FileNotFoundError(f"no committed curation under {out_dir}")
    live = _live_inflight_runs(out_dir)
    if live:
        raise RuntimeError(
            f"curation run(s) {live} appear to be in flight under "
            f"{out_dir}; compacting now would race their commit — "
            "wait for them or remove the stale INFLIGHT-* sentinel "
            "if you are sure"
        )
    head = snap.get("latest_run", snap["runs"][-1])
    chain = _run_chain(snap, head)
    # replay guard BEFORE the chain-of-one no-op: an explicitly passed
    # committed/vacuumed run_id is a caller error and must fail loudly
    # even when there is nothing to compact
    run_id = run_id or "compact-" + uuid.uuid4().hex[:12]
    replay_guard = set(snap["runs"]) | set(snap.get("vacuumed_runs", []))
    if run_id in replay_guard:
        raise ValueError(
            f"run_id {run_id!r} is already committed (or was vacuumed) "
            f"in {out_dir}; compacted runs need a fresh run_id"
        )
    if len(chain) == 1:
        return {"run_id": head, "snapshot": snap, "skipped_noop": True}

    oldest_first = list(reversed(chain))
    packed_frames = {
        rid: spark.read.parquet(
            os.path.join(out_dir, "curated", f"run_id={rid}", "packed")
        )
        for rid in oldest_first
    }
    stamped = ["split" in df.columns for df in packed_frames.values()]
    if any(stamped) and not all(stamped):
        unstamped = [
            rid for rid, s in zip(oldest_first, stamped) if not s
        ]
        raise ValueError(
            f"run(s) {unstamped} in the chain were not split-stamped; "
            "compacting a mixed chain would silently drop their rows "
            "from split reads — re-curate with split_fracs instead"
        )
    key = ["lang", "split"] if all(stamped) else ["lang"]

    run_dir = os.path.join(out_dir, "curated", f"run_id={run_id}")
    survivors_path = os.path.join(run_dir, "survivors")
    packed_path = os.path.join(run_dir, "packed")
    lineage_path = os.path.join(out_dir, "lineage", f"run_id={run_id}")
    ck = _ckpt(out_dir)
    sentinel = _inflight_path(out_dir, run_id)
    with open(sentinel, "w") as f:
        # pid + kernel start time: recycling-proof liveness identity
        _st = _pid_start(os.getpid())
        f.write(f"{os.getpid()}:{_st}" if _st is not None
                else str(os.getpid()))
    try:
        # survivors: the cumulative corpus, one directory
        surv = None
        for rid in oldest_first:
            df = spark.read.parquet(_survivors_path(out_dir, rid))
            surv = df if surv is None else surv.unionByName(
                df, allowMissingColumns=True
            )
        surv.write.mode("overwrite").parquet(survivors_path)
        survivors = spark.read.parquet(survivors_path)
        n_survivors = survivors.count()

        # packed: per-run bins shifted into one contiguous space per
        # partition key. Offsets come from each run's max bin_id per
        # key (bins are contiguous from 0 per run) — runs x keys rows,
        # collected driver-side and broadcast back.
        next_off: dict[tuple, int] = {}
        off_rows: list[tuple] = []
        for rid in oldest_first:
            mx = packed_frames[rid].groupBy(*key).agg(
                F.max("bin_id").alias("_mx")
            ).collect()
            for r in mx:
                k = tuple(r[c] for c in key)
                off_rows.append((rid, *k, next_off.get(k, 0)))
                next_off[k] = next_off.get(k, 0) + int(r["_mx"]) + 1
        allp = None
        for rid in oldest_first:
            f_ = packed_frames[rid].withColumn("_src", F.lit(rid))
            allp = f_ if allp is None else allp.unionByName(f_)
        off_schema = "_src string, " + ", ".join(
            f"{c} string" for c in key
        ) + ", _off long"
        off_df = spark.createDataFrame(off_rows, off_schema)
        packed = (
            allp.join(F.broadcast(off_df), ["_src", *key], "left")
            .withColumn(
                "bin_id",
                F.col("bin_id") + F.coalesce(F.col("_off"), F.lit(0)),
            )
            .drop("_src", "_off")
        )
        writer = packed.write.mode("overwrite")
        # same empty-write rule as run_curation: a zero-row
        # partitionBy leaves no schema file
        if all(stamped) and n_survivors > 0:
            writer = writer.partitionBy("split")
        writer.parquet(packed_path)
        packed_back = spark.read.schema(packed.schema).parquet(packed_path)
        n_chunks = packed_back.count()
        n_bins = packed_back.select(*key, "bin_id").distinct().count()

        # processed manifest: everything the chain ever evaluated
        # (survivor-url fallback for runs committed before the
        # manifest existed — same rule as the increment path)
        parts = []
        for rid in chain:
            p = os.path.join(
                out_dir, "curated", f"run_id={rid}", "processed"
            )
            parts.append(
                spark.read.parquet(p) if os.path.isdir(p)
                else spark.read.parquet(
                    _survivors_path(out_dir, rid)
                ).select("url")
            )
        processed = parts[0]
        for p in parts[1:]:
            processed = processed.unionByName(p)
        processed.distinct().write.mode("overwrite").parquet(
            os.path.join(run_dir, "processed")
        )

        # increment-serving manifests: stored artifacts where present
        # and algorithm-compatible (no corpus re-minhash), recomputed
        # from survivor text otherwise — _chain_bands' own rule
        _chain_bands(spark, out_dir, chain).write.mode(
            "overwrite"
        ).parquet(os.path.join(run_dir, "bands"))
        _atomic_write(
            os.path.join(run_dir, _BANDS_META), json.dumps(_band_meta())
        )
        _chain_url_hashes(spark, out_dir, chain).write.mode(
            "overwrite"
        ).parquet(os.path.join(run_dir, "hashes"))

        # lineage: one row — compaction drops nothing by construction
        spark.createDataFrame(
            [(run_id, 0, "compact", n_survivors, n_survivors, 0)],
            "run_id string, stage_idx int, stage string, n_in long, "
            "n_out long, n_dropped long",
        ).write.mode("overwrite").parquet(lineage_path)

        n = snap["n"] + 1
        new_snap = {
            "n": n,
            "runs": sorted(set(snap["runs"]) | {run_id}),
            "input_fingerprint": snap.get("input_fingerprint"),
            "latest_run": run_id,
            # a compacted run IS a base: no parent, chain of one —
            # vacuum's ancestor closure then retains nothing extra
            "run_parents": {
                **snap.get("run_parents", {}), run_id: None,
            },
        }
        if snap.get("vacuumed_runs"):
            new_snap["vacuumed_runs"] = snap["vacuumed_runs"]
        name = f"snapshot-{n}.json"
        _atomic_write(os.path.join(ck, name), json.dumps(new_snap))
        _atomic_write(os.path.join(ck, "LATEST"), name)
    finally:
        try:
            os.remove(sentinel)
        except OSError:
            pass

    return {
        "run_id": run_id,
        "snapshot": new_snap,
        "compacted_runs": oldest_first,
        "n_survivors": n_survivors,
        "n_chunks": n_chunks,
        "n_bins": n_bins,
        "survivors_path": survivors_path,
        "packed_path": packed_path,
        "lineage_path": lineage_path,
    }


def _chain_url_hashes(
    spark: SparkSession, out_dir: str, chain: list[str]
) -> DataFrame:
    """(url, content_hash) of every committed survivor in the chain:
    stored per-run hash manifests where present, recomputed from
    survivor text otherwise (the keyed twin of `_chain_hashes`, which
    serves the increment anti-join and needs no url)."""
    parts = []
    for rid in chain:
        p = os.path.join(out_dir, "curated", f"run_id={rid}", "hashes")
        parts.append(
            spark.read.parquet(p) if os.path.isdir(p)
            else spark.read.parquet(
                _survivors_path(out_dir, rid)
            ).select(
                "url",
                F.md5(F.col("text").cast("binary")).alias("content_hash"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def dedup_invariant_violations(
    hashes: DataFrame, bands: DataFrame
) -> DataFrame:
    """Pairs of committed survivors that violate the dedup
    invariants, from the THIN manifests alone (no text):

    - ``exact_dup``: two survivors share a content hash — exact dedup
      should have kept one;
    - ``neardup_candidate``: two survivors share an LSH band value —
      the exact candidate criterion the near-dup stage pruned on, so
      a healthy corpus has none (within a run, two surviving
      representatives of different components never share a band;
      across runs, increments drop new docs colliding with committed
      bands).

    Inputs: ``hashes`` (url, content_hash), ``bands``
    (id, band_idx, band_val). Returns (kind, a_id, b_id) with
    a_id < b_id, distinct. Scale shape: one groupBy on the hash
    manifest + the standard band-bucket self-join on 16 thin
    rows/doc — both linear-shuffle over metadata, never text."""
    w = Window.partitionBy("content_hash")
    exact = (
        hashes.withColumn("_a", F.min("url").over(w))
        .filter(F.col("url") != F.col("_a"))
        .select(
            F.lit("exact_dup").alias("kind"),
            F.col("_a").alias("a_id"),
            F.col("url").alias("b_id"),
        )
    )
    b2 = bands.select(
        F.col("id").alias("_bid"),
        "band_idx", "band_val",
    )
    near = (
        bands.join(b2, ["band_idx", "band_val"])
        .filter(F.col("id") < F.col("_bid"))
        .select(
            F.lit("neardup_candidate").alias("kind"),
            F.col("id").alias("a_id"),
            F.col("_bid").alias("b_id"),
        )
        .distinct()
    )
    return exact.distinct().unionByName(near)


def audit_curation_chain(spark: SparkSession, out_dir: str) -> DataFrame:
    """Integrity audit of the latest committed chain's dedup
    invariants WITHOUT re-reading corpus text — the cheap post-hoc
    check a long-lived base + increments deployment runs after each
    append/compact/vacuum cycle (the curation twin of a table
    format's verify-snapshot maintenance).

    Returns the violations frame of `dedup_invariant_violations` over
    the chain's stored hash/band manifests — EMPTY on a healthy
    chain. Non-empty output means either artifact corruption (a
    survivors/manifest file edited or restored out of band) or an
    algorithm drift: `_chain_bands` recomputes version-incompatible
    stored bands with the CURRENT minhash, so survivors committed
    under an older algorithm that collide under today's surface here
    — the signal that the corpus needs a full re-curate even though
    every individual run committed cleanly."""
    snap = load_curation_snapshot(out_dir)
    if not snap:
        raise FileNotFoundError(f"no committed curation under {out_dir}")
    head = snap.get("latest_run", snap["runs"][-1])
    chain = _run_chain(snap, head)
    return dedup_invariant_violations(
        _chain_url_hashes(spark, out_dir, chain),
        _chain_bands(spark, out_dir, chain),
    )

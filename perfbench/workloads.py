"""The benchmark's workloads.

Each workload is a closed loop with one caller: it issues one public
call, waits for its result, checks it, and only then issues the next.
``prepare`` builds the inputs from the seed (repeated to time set-up),
``warm`` finishes lazy set-up, ``cycle`` is the timed unit, and
``traced_cycle`` runs the same calls with layer probes installed.

- ``extract``: one cycle submits a Common-Crawl-shaped page list to a
  fresh output directory (cold extraction), resubmits it with 10% new
  pages (resume: processed-url anti-join, then commit and manifest over
  the full input), then resubmits the same list again (nothing new:
  ``skipped_empty_run``).
- ``curate``: one cycle runs the full curation chain with every stage
  on over extracted text, then the registry twin of every chain kernel
  that has one.

Both workloads time the first cycle of a fresh session, as a batch
submission sees it: ``warm`` only computes the checks' expectations.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from distributed_system___ocr_spark import curation, pipeline
from distributed_system___ocr_spark.corpus import page_row, pages_df
from distributed_system___ocr_spark.extractor.core import extract_payload
from distributed_system___ocr_spark.functions.minhash import minhash_signatures
from distributed_system___ocr_spark.operators.extract import extract_stage
from distributed_system___ocr_spark.pipeline import read_extracted, run_pipeline

from . import trace
from .trace import Tracer, tree_cpu_s

clock = time.perf_counter


@dataclass
class Cycle:
    """One timed cycle: wall and process-tree CPU seconds, and the
    outcome of every call in it (True = returned and passed its check)."""

    wall_s: float
    cpu_s: float
    calls: list[bool]
    info: dict = field(default_factory=dict)


def _url_index():
    return F.regexp_extract("url", r"/page-(\d+)$", 1).cast("long")


def _sample_payload_check(rows, seed: int) -> list[str]:
    """Committed (url, text, status) rows vs a direct extract_payload of
    the same page's payload."""
    bad = []
    for r in rows:
        idx = int(r["url"].rsplit("-", 1)[1])
        want = extract_payload(page_row(idx, seed)["html"])
        if (r["text"], r["status"]) != (want.text, want.status):
            bad.append(r["url"])
    return bad


class Workload:
    name = ""
    setup_reps = 2

    def __init__(self, spark, work: str, seed: int, cores: int, log):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cores = cores
        self.log = log

    def prepare(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        raise NotImplementedError

    def cycle(self, i: int) -> Cycle:
        raise NotImplementedError

    def traced_cycle(self, i: int, tracer: Tracer) -> tuple[Cycle, dict]:
        raise NotImplementedError

    def _timed(self, calls) -> tuple[float, float, list]:
        """Run zero-argument callables back to back; returns wall,
        process-tree CPU and the results. A call that raises is logged
        and yields None, so it counts as failed and the loop goes on."""
        pid = os.getpid()
        c0, t0 = tree_cpu_s(pid), clock()
        out = []
        for fn in calls:
            try:
                out.append(fn())
            except Exception:
                self.log(f"call failed:\n{traceback.format_exc()}")
                out.append(None)
        return clock() - t0, tree_cpu_s(pid) - c0, out


# ---------------------------------------------------------------------------
# extraction: cold submit, resubmit with new pages, resubmit unchanged
# ---------------------------------------------------------------------------

GOLDEN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "tests", "golden_corpus_sha256.json")

PIPELINE_PROBES = [
    # (module, attribute, layer, sticky)
    (pipeline, "processed_urls", "resume.processed_urls", True),
    (pipeline, "pending", "resume.pending", True),
    (pipeline, "extract_stage", "extract_stage", True),
    (pipeline, "commit_run", "resume.commit_run", True),
    (pipeline, "lineage_from_extracted", "lineage", True),
    (pipeline, "build_manifest", "manifest.build", True),
]
COLD_ORDER = ["resume.processed_urls", "resume.pending", "extract_stage",
              "resume.commit_run", "lineage", "manifest.build"]
NOOP_ORDER = ["resume.processed_urls", "resume.pending"]


class Extract(Workload):
    name = "extract"
    n_pages = 4000
    new_frac = 0.10
    sample_every = 250  # url index stride of the extract_payload sample

    def prepare(self) -> None:
        n_total = int(self.n_pages * (1 + self.new_frac))
        self.pages_path = os.path.join(self.work, "pages.parquet")
        pages_df(self.spark, n_total, seed=self.seed, partitions=self.cores).write.mode(
            "overwrite").parquet(self.pages_path)

    def warm(self) -> None:
        pages = self.spark.read.parquet(self.pages_path)
        self.full = pages
        self.base = pages.filter(_url_index() < self.n_pages)
        counts = pages.agg(
            F.countDistinct("url").alias("full"),
            F.countDistinct(F.when(_url_index() < self.n_pages, F.col("url"))).alias("base"),
        ).first()
        self.n_full, self.n_base = counts["full"], counts["base"]

    def _calls(self, out: str, i: int):
        return [
            lambda: run_pipeline(self.spark, self.base, out, run_id=f"cold{i}"),
            lambda: run_pipeline(self.spark, self.full, out, run_id=f"resume{i}"),
            lambda: run_pipeline(self.spark, self.full, out, run_id=f"noop{i}"),
        ]

    def _check(self, out: str, results: list[dict | None]) -> list[bool]:
        if None in results:
            # the committed state cannot be verified: no call counts
            return [False] * len(results)
        cold, res, noop = results
        ok = [
            cold["n_extracted_this_run"] == self.n_base,
            res["n_extracted_this_run"] == self.n_full - self.n_base,
            bool(noop.get("skipped_empty_run")),
        ]
        committed = read_extracted(self.spark, out)
        agg = committed.agg(F.count("*").alias("n"),
                            F.countDistinct("url").alias("d")).first()
        once = agg["n"] == agg["d"] == self.n_full
        sample = committed.filter(_url_index() % self.sample_every == 7).select(
            "url", "text", "status").collect()
        bad = _sample_payload_check(sample, self.seed)
        golden_ok = True
        if self.seed == 42:
            with open(GOLDEN) as f:
                gold = json.load(f)["urls"]
            got = {r["url"]: r for r in committed.filter(F.col("url").isin(list(gold)))
                   .select("url", "text", "status").collect()}
            golden_ok = len(got) == len(gold) and all(
                hashlib.sha256(got[u]["text"].encode()).hexdigest() == g["sha256"]
                and got[u]["status"] == g["status"] for u, g in gold.items())
        if not (once and sample and not bad and golden_ok):
            self.log(f"extract check failed: once={once} sample={len(sample)} "
                     f"bad={bad[:3]} golden={golden_ok}")
            ok = [False] * len(ok)
        return ok

    def cycle(self, i: int) -> Cycle:
        out = os.path.join(self.work, f"out{i}")
        wall, cpu, results = self._timed(self._calls(out, i))
        ok = self._check(out, results)
        shutil.rmtree(out, ignore_errors=True)
        return Cycle(wall, cpu, ok, {"n_extracted": _extracted(results)})

    def traced_cycle(self, i: int, tracer: Tracer) -> tuple[Cycle, dict]:
        out = os.path.join(self.work, f"out{i}")
        rows_out = [0]
        orig_pending = pipeline.pending

        def pending_counted(*args, **kwargs):
            todo = orig_pending(*args, **kwargs)
            with tracer.span("trace.count"):
                rows_out[0] += todo.count()
            return todo

        pipeline.pending = pending_counted
        try:
            with tracer.probes(PIPELINE_PROBES):
                def rooted(fn):
                    def call():
                        with tracer.root("pipeline"):
                            return fn()
                    return call
                wall, cpu, results = self._timed([rooted(c) for c in self._calls(out, i)])
        finally:
            pipeline.pending = orig_pending
        ok = self._check(out, results)
        shutil.rmtree(out, ignore_errors=True)
        order = tracer.segment_order("pipeline")
        counted = wall - tracer.nested_times("pipeline").get("trace.count", 0.0)
        return Cycle(counted, cpu, ok, {
            "n_extracted": _extracted(results),
            "segment_order": order,
            "order_ok": order == COLD_ORDER * 2 + NOOP_ORDER,
        }), {"resume.pending_rows_out": rows_out[0]}


def _extracted(results: list[dict | None]) -> list[int | None]:
    return [r and r["n_extracted_this_run"] for r in results]


def extract_layers(tracer: Tracer, ev: dict, extra: dict) -> dict[str, float]:
    seg = tracer.segment_self_times("pipeline")
    g = ev.get("extract_stage", trace.GroupMetrics())
    mb = ev.get("manifest.build", trace.GroupMetrics())
    return {
        "extract_stage.s": g.python_stage_s,
        "extract_stage.cpu_s": g.python_stage_cpu_s,
        "extract_stage.arrow_bytes_in": g.arrow_bytes_in,
        "extract_stage.arrow_bytes_out": g.arrow_bytes_out,
        "resume.processed_urls_s": seg.get("resume.processed_urls", 0.0),
        "resume.pending_s": seg.get("resume.pending", 0.0),
        "resume.pending_rows_out": extra["resume.pending_rows_out"],
        "resume.commit_run_s": seg.get("resume.commit_run", 0.0),
        "manifest.dedup_window_s": g.other_stage_s,
        "manifest.dedup_shuffle_bytes": g.shuffle_write_bytes,
        "manifest.build_s": seg.get("manifest.build", 0.0),
        "manifest.build_shuffle_bytes": mb.shuffle_write_bytes,
        "lineage.s": seg.get("lineage", 0.0),
        "pipeline.write_s": seg.get("extract_stage", 0.0),
        "pipeline.unaccounted_s": tracer.root_self_time("pipeline"),
        "pipeline.spill_bytes": sum(
            m.spill_bytes for name, m in ev.items() if name != "trace.count"),
    }


# ---------------------------------------------------------------------------
# curation: the full chain with every stage on
# ---------------------------------------------------------------------------

CHAIN_STAGES = [
    "fingerprint", "url_blocklist", "quality_gate", "domain_cap", "span_removal",
    "segment_dedup", "exact_dedup", "neardup_prune", "semdedup", "decontaminate",
    "lm_quality", "cluster_balance", "temperature_sample", "split_stamp", "chunk",
    "pack", "commit",
]
SHUFFLING_STAGES = [
    "domain_cap", "span_removal", "segment_dedup", "exact_dedup", "neardup_prune",
    "semdedup", "decontaminate", "lm_quality", "cluster_balance", "pack",
]
# curation-module function -> chain stage it implements; stamp_split
# and chunk_docs only build plans (their work runs inside the survivors
# and packed writes), so they are nested spans, not sticky segments
CHAIN_FUNCS = [
    ("_fingerprint_and_raw", "fingerprint", True),
    ("filter_blocked_domains", "url_blocklist", True),
    ("quality_gate", "quality_gate", True),
    ("domain_cap_docs", "domain_cap", True),
    ("remove_boilerplate_spans", "span_removal", True),
    ("dedup_segments_first", "segment_dedup", True),
    ("exact_dedup_survivors", "exact_dedup", True),
    ("neardup_survivors", "neardup_prune", True),
    ("semdedup_prune", "semdedup", True),
    ("decontaminate_against", "decontaminate", True),
    ("lm_quality_survivors", "lm_quality", True),
    ("cluster_balance_docs", "cluster_balance", True),
    ("temperature_sample", "temperature_sample", True),
    ("stamp_split", "split_stamp", False),
    ("_write_survivor_bands", "commit", True),
    ("chunk_docs", "chunk", False),
    ("pack_chunks_greedy", "pack", True),
]
# stage -> key of run_curation's result holding its output row count
ROWS_KEY = {
    "fingerprint": "n_input",
    "url_blocklist": "n_after_url_blocklist", "quality_gate": "n_after_quality_gate",
    "domain_cap": "n_after_domain_cap", "span_removal": "n_after_span_removal",
    "segment_dedup": "n_after_segment_dedup", "exact_dedup": "n_after_exact_dedup",
    "neardup_prune": "n_after_neardup", "semdedup": "n_after_semdedup",
    "decontaminate": "n_after_decon", "lm_quality": "n_after_lm_quality",
    "cluster_balance": "n_after_cluster_balance", "temperature_sample": "n_survivors",
    "split_stamp": "n_survivors", "chunk": "n_chunks", "pack": "n_bins",
    "commit": "n_survivors",
}


def _probe_targets():
    return [(curation, attr, f"curation.{stage}", sticky)
            for attr, stage, sticky in CHAIN_FUNCS]


class _Collected:
    """A query's collected result, shaped like the DataFrame the oracle
    harness compares (``columns`` and ``collect()``)."""

    def __init__(self, columns: list[str], rows: list):
        self.columns = columns
        self._rows = rows

    def collect(self) -> list:
        return self._rows


class Curate(Workload):
    name = "curate"
    n_pages = 1000

    def prepare(self) -> None:
        import pandas as pd

        from .tables import write_tables

        path = os.path.join(self.work, "docs.parquet")
        extract_stage(pages_df(self.spark, self.n_pages, seed=self.seed, partitions=self.cores)).select(
            "url", "text", "lang").write.mode("overwrite").parquet(path)
        eval_path = os.path.join(self.work, "eval.parquet")
        self.spark.createDataFrame(pd.DataFrame(
            [{"text": f"benchmark holdout prompt {i} zq{i}a zq{i}b zq{i}c zq{i}d"}
             for i in range(200)])).write.mode("overwrite").parquet(eval_path)
        self.docs = self.spark.read.parquet(path)
        self.eval_docs = self.spark.read.parquet(eval_path)
        self.sf_dir = os.path.join(self.work, "tables")
        write_tables(self.sf_dir, self.seed)

    def warm(self) -> None:
        from distributed_system___ocr_spark.plans import REGISTRY

        self.n_docs = self.docs.count()
        self.digests: list[str] = []
        self.specs = {q: REGISTRY[q] for q in TWIN_QUERIES}

    def _chain_call(self, out: str, i: int):
        # bench.py's chain configuration, with its size-dependent
        # thresholds scaled from 200k pages to this corpus
        return lambda: curation.run_curation(
            self.spark, self.docs, out, run_id=f"full{i}",
            blocked_domains=["host19.example.com"], quality_min_chars=30,
            domain_cap=self.n_pages // 4, remove_spans_min_docs=self.n_pages // 40,
            segment_dedup_n=32, semdedup_tau=0.92, decon_eval=self.eval_docs,
            lm_quality_drop_z=2.0, cluster_alpha=0.5, sample_alpha=0.7,
            split_fracs=(0.9, 0.05),
        )

    def _query(self, q: str) -> _Collected:
        df = self.specs[q]["builder"](self.spark, self.sf_dir)
        return _Collected(df.columns, df.collect())

    def _oracle_check(self, collected: list[_Collected]) -> list[bool]:
        """Each twin's collected rows vs its DuckDB oracle, through the
        tests' canonicalizer (outside the timed region)."""
        import sys

        tests_dir = os.path.dirname(GOLDEN)
        if tests_dir not in sys.path:
            sys.path.insert(0, tests_dir)
        from oracle_harness import compare, duck_con

        con = duck_con(self.sf_dir)
        try:
            ok = []
            for q, res in zip(self.specs, collected):
                if res is None:
                    ok.append(False)
                    continue
                good, msg = compare(res, con, self.specs[q]["sql"])
                if not good:
                    self.log(f"oracle mismatch {q}: {msg}")
                ok.append(good)
            return ok
        finally:
            con.close()

    def _check(self, full: dict) -> tuple[bool, str]:
        """Survivors are distinct urls, the per-stage counts never grow,
        chunks and bins exist, and the survivor digest repeats across
        the cycles of a run."""
        surv = self.spark.read.parquet(full["survivors_path"])
        agg = surv.agg(F.count("*").alias("n"), F.countDistinct("url").alias("d")).first()
        rows = sorted((r["url"], hashlib.sha256(r["text"].encode()).hexdigest())
                      for r in surv.select("url", "text").collect())
        digest = hashlib.sha256(json.dumps(rows).encode()).hexdigest()
        chain = [full[ROWS_KEY[s]] for s in CHAIN_STAGES[:13]]
        ok = (
            agg["n"] == agg["d"] == full["n_survivors"] > 0
            and full["n_input"] <= self.n_docs
            and all(a >= b for a, b in zip(chain, chain[1:]))
            and full["n_chunks"] >= full["n_survivors"] and full["n_bins"] > 0
            and (not self.digests or digest == self.digests[0])
        )
        self.digests.append(digest)
        if not ok:
            self.log(f"curate check failed: counts={chain} digest={digest[:12]}")
        return ok, digest

    def _finish(self, out: str, wall: float, cpu: float, results: list) -> Cycle:
        ok, digest = self._check(results[0]) if results[0] is not None else (False, None)
        shutil.rmtree(out, ignore_errors=True)
        return Cycle(wall, cpu, [ok] + self._oracle_check(results[1:]),
                     {"result": results[0], "digest": digest})

    def cycle(self, i: int) -> Cycle:
        out = os.path.join(self.work, f"cur{i}")
        calls = [self._chain_call(out, i)] + [lambda q=q: self._query(q) for q in self.specs]
        return self._finish(out, *self._timed(calls))

    def traced_cycle(self, i: int, tracer: Tracer) -> tuple[Cycle, dict]:
        out = os.path.join(self.work, f"cur{i}")
        chain_call = self._chain_call(out, i)

        def chain():
            with tracer.root("curation"), tracer.probes(_probe_targets()):
                return chain_call()

        def query(q):
            def call():
                with tracer.root("registry"):
                    tracer.switch(f"q.{q}")
                    return self._query(q)
            return call

        calls = [chain] + [query(q) for q in self.specs]
        return self._finish(out, *self._timed(calls)), {}


def curate_layers(tracer: Tracer, ev: dict, traced: Cycle) -> dict[str, float]:
    result = traced.info["result"] or {}
    seg = tracer.segment_self_times("curation")
    nested = tracer.nested_times("curation")
    out: dict[str, float] = {}
    for s in CHAIN_STAGES:
        name = f"curation.{s}"
        # sticky stages are segments; split_stamp and chunk only build
        # plans and are nested spans
        out[f"{name}.s"] = seg[name] if name in seg else nested.get(name, 0.0)
        out[f"{name}.rows_out"] = int(result.get(ROWS_KEY[s]) or 0)
        g = ev.get(name, trace.GroupMetrics())
        out[f"{name}.cpu_s"] = g.cpu_s
        if s in SHUFFLING_STAGES:
            out[f"{name}.shuffle_bytes"] = g.shuffle_write_bytes
    out["curation.spill_bytes"] = sum(
        m.spill_bytes for g, m in ev.items() if g.startswith("curation."))
    return out


def curate_recomposition_ok(tracer: Tracer, base: Cycle, traced: Cycle) -> bool:
    """The probes saw the program's stages in the expected order, and
    the traced run's per-stage row counts and survivors equal the
    untraced run's."""
    seen = [s.split(".", 1)[1] for s in tracer.segment_order("curation")]
    want = CHAIN_STAGES[:13] + ["commit", "pack"]
    a, b = base.info["result"], traced.info["result"]
    if a is None or b is None:
        return False
    counts_equal = all(a[k] == b[k] for k in set(ROWS_KEY.values()) | {"n_raw_input"})
    return seen == want and counts_equal and base.info["digest"] == traced.info["digest"]


# ---------------------------------------------------------------------------
# query registry: the registry twin of every chain kernel that has one
# ---------------------------------------------------------------------------

# the registry queries that carry their own copy of a curation-chain
# kernel (keyed on doc_id/source instead of url/host); a change to a
# shared kernel shows on both sides within the curate workload
TWIN_QUERIES = [
    "lm_quality_zbuckets", "domain_cap_survivors", "remove_common_spans",
    "dedup_segments_keep_first", "temperature_sampled_corpus",
    "decontaminate_ngram_overlap", "train_val_test_split", "quality_gate_verdict",
]


def _module(spec: dict) -> str:
    return spec["builder"].__module__.rsplit(".", 1)[1]


def twin_modules() -> list[str]:
    from distributed_system___ocr_spark.plans import REGISTRY

    return sorted({_module(REGISTRY[q]) for q in TWIN_QUERIES})


def registry_layers(tracer: Tracer, specs: dict) -> dict[str, float]:
    seg = tracer.segment_self_times("registry")
    out = {f"registry.{m}.s": 0.0 for m in twin_modules()}
    for q, spec in specs.items():
        out[f"registry.{_module(spec)}.s"] += seg.get(f"q.{q}", 0.0)
        out[f"registry.q.{q}.s"] = seg.get(f"q.{q}", 0.0)
    return out


# ---------------------------------------------------------------------------
# single-thread kernels on a fixed sample of the workload's payloads
# ---------------------------------------------------------------------------

def kernel_layers(seed: int, n: int = 300) -> dict[str, float]:
    payloads = [page_row(i, seed)["html"] for i in range(n)]
    t0 = clock()
    results = [extract_payload(p) for p in payloads]
    ext_s = clock() - t0
    texts = [r.text for r in results if r.text]
    t0 = clock()
    minhash_signatures(texts)
    mh_s = clock() - t0
    return {
        "extractor.docs_per_s": n / ext_s,
        "extractor.error_rows": sum(r.status == "error" for r in results),
        "minhash.docs_per_s": len(texts) / mh_s,
    }


WORKLOADS = {w.name: w for w in (Extract, Curate)}

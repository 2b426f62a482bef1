"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The benchmark starts its own Spark
session on ``local[<cores>]`` (cores = the CPUs this process may use),
builds the workload's inputs from ``--seed``, repeats the workload's
timed cycle until ``--seconds`` have passed, checks every call's output,
and prints ``{"correct", "attempted", "failed", "metrics"}`` as the last
line of standard output. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` runs one untraced and one traced cycle and reports the
per-layer metrics. Everything it writes goes under
``.perfbench_work/`` in the checkout and is removed on exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "distributed_system___ocr_spark"

END_TO_END = {"setup_s": "s", "cycle_s": "s", "cpu_s": "s"}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    from perfbench import workloads as w

    u: dict[str, str] = {
        "session.start_s": "s", "session.warm_s": "s", "corpus.gen_s": "s",
        "extractor.docs_per_s": "1/s", "extractor.error_rows": "count",
        "extract_stage.s": "s", "extract_stage.cpu_s": "s",
        "extract_stage.arrow_bytes_in": "bytes", "extract_stage.arrow_bytes_out": "bytes",
        "resume.processed_urls_s": "s", "resume.pending_s": "s",
        "resume.pending_rows_out": "count", "resume.commit_run_s": "s",
        "manifest.dedup_window_s": "s", "manifest.dedup_shuffle_bytes": "bytes",
        "manifest.build_s": "s", "manifest.build_shuffle_bytes": "bytes",
        "lineage.s": "s", "pipeline.write_s": "s", "pipeline.unaccounted_s": "s",
        "pipeline.spill_bytes": "bytes",
        "minhash.docs_per_s": "1/s",
    }
    for s in w.CHAIN_STAGES:
        u[f"curation.{s}.s"] = "s"
        u[f"curation.{s}.cpu_s"] = "s"
        u[f"curation.{s}.rows_out"] = "count"
        if s in w.SHUFFLING_STAGES:
            u[f"curation.{s}.shuffle_bytes"] = "bytes"
    u["curation.spill_bytes"] = "bytes"
    for m in w.twin_modules():
        u[f"registry.{m}.s"] = "s"
    for q in w.TWIN_QUERIES:
        u[f"registry.q.{q}.s"] = "s"
    u["trace.cycle_s"] = "s"
    u["process.peak_rss_mb"] = "MB"
    return u


def result_line(calls: list[bool], metrics: dict[str, float], units: dict[str, str],
                extra_ok: bool = True) -> dict:
    """The result object. ``calls`` holds one entry per timed call:
    True if it returned and its output check passed."""
    failed = sum(not ok for ok in calls)
    return {
        "correct": bool(calls) and failed == 0 and extra_ok,
        "attempted": len(calls),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def _env(work: str, cores: int) -> None:
    """Confine the session's files to ``work`` and make the package
    importable in Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("OMP_NUM_THREADS", "1")


def start_session(work: str, cores: int, event_dir: str | None):
    from distributed_system___ocr_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{cores}]", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for it and its Python
    workers to exit."""
    from perfbench.trace import process_tree

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while len(process_tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)


def run(args) -> dict:
    from perfbench import workloads as w
    from perfbench.trace import RssSampler, Tracer, find_event_log, parse_event_log

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    _env(work, cores)
    event_dir = os.path.join(work, "events") if args.trace else None
    # peak RSS is sampled in traced runs only: it swings by a third
    # between runs (JVM heap growth), and the sampling thread shares
    # the interpreter with the timed calls
    rss = RssSampler(os.getpid()) if args.trace else contextlib.nullcontext()
    try:
        with rss:
            t0 = time.perf_counter()
            spark = start_session(work, cores, event_dir)
            spark.range(1).count()
            start_s = time.perf_counter() - t0
            try:
                wl = w.WORKLOADS[args.workload](spark, work, args.seed, cores, log)
                prep = []
                for _ in range(wl.setup_reps):
                    t = time.perf_counter()
                    wl.prepare()
                    prep.append(time.perf_counter() - t)
                t = time.perf_counter()
                wl.warm()
                warm_s = time.perf_counter() - t
                setup_s = start_s + statistics.median(prep) + warm_s
                log(f"setup {setup_s:.2f}s (start {start_s:.2f}, data {prep}, warm {warm_s:.2f})")
                if args.trace:
                    # the traced cycle runs first, in the state the untraced
                    # runs time their first cycle in; the untraced cycle
                    # after it supplies the counts the recomposition must
                    # reproduce
                    tracer = Tracer(spark.sparkContext, f"{args.workload}-{args.seed}")
                    traced, extra = wl.traced_cycle(0, tracer)
                    base = wl.cycle(1)
                    cycles = [traced, base]
                else:
                    cycles, t_run = [], time.perf_counter()
                    while not cycles or time.perf_counter() - t_run < args.seconds:
                        cycles.append(wl.cycle(len(cycles)))
                        log(f"cycle {len(cycles)}: {cycles[-1].wall_s:.3f}s "
                            f"cpu {cycles[-1].cpu_s:.1f}s ok={cycles[-1].calls}")
            finally:
                stop_session(spark)
        calls = [ok for c in cycles for ok in c.calls]
        if not args.trace:
            metrics = {
                "setup_s": setup_s,
                "cycle_s": statistics.median(c.wall_s for c in cycles),
                "cpu_s": statistics.median(c.cpu_s for c in cycles),
            }
            return result_line(calls, metrics, END_TO_END)

        units = per_layer_units()
        layers = dict.fromkeys(units, 0.0)
        layers.update({"session.start_s": start_s, "session.warm_s": warm_s,
                       "corpus.gen_s": statistics.median(prep)})
        layers.update(w.kernel_layers(args.seed))
        layers["trace.cycle_s"] = traced.wall_s
        layers["process.peak_rss_mb"] = rss.peak_bytes / 2**20
        ev = parse_event_log(find_event_log(event_dir))
        recomposed = True
        if args.workload == "extract":
            layers.update(w.extract_layers(tracer, ev, extra))
            recomposed = (traced.info["order_ok"]
                          and traced.info["n_extracted"] == base.info["n_extracted"])
        else:
            layers.update(w.curate_layers(tracer, ev, traced))
            layers.update(w.registry_layers(tracer, wl.specs))
            recomposed = w.curate_recomposition_ok(tracer, base, traced)
        log(f"traced cycle {traced.wall_s:.3f}s, then untraced {base.wall_s:.3f}s; "
            f"recomposition ok={recomposed}")
        if not recomposed:
            log(f"recomposition mismatch: {[c.info for c in cycles]}")
        return result_line(calls, layers, units, extra_ok=recomposed)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["extract", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "pipeline.py")):
        log(f"no {PACKAGE} package under {ROOT}: run from the root of a checkout")
        return 2
    sys.path.insert(0, ROOT)
    result = run(args)
    for k, v in result["metrics"].items():
        log(f"{k} = {v['value']:.6g} {v['unit']}")
    log(f"failed_frac = {result['failed']}/{result['attempted']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

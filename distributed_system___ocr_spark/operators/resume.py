"""Checkpointed snapshot manifests + resume (SURVEY.md §4 custom row).

The reference has NO resume: if the manager dies, all accounting is
lost (Manager.java:50-60 heap maps; clients only see
MANAGER_TERMINATED, Manager.java:430-437). This module is the
Spark-native replacement for its count-based completion barrier (O9)
and at-least-once redelivery (O14): output commits are atomic
(write to run dir, then single-writer snapshot JSON rename), and a
restarted job left-anti-joins the input against the processed-url set,
so killed jobs resume with ZERO reprocessing and duplicates from
retries are impossible (exactly-once output).

Layout (plain parquet standing in for Iceberg — no Iceberg runtime jar
in this container; the snapshot JSON mirrors Iceberg's
snapshot->manifest-list indirection and a real catalog slots in here).
Extraction (``run_pipeline``) and curation (``curation.run_curation``)
share ONE snapshot log: both commit through ``publish_snapshot`` and
read through ``load_snapshot``, each in its own out_dir:

    out_dir/
      extracted/run_id=<rid>/*.parquet   extraction data files, per run
      curated/run_id=<rid>/              curation run: survivors, packed,
                                         processed (evaluated urls),
                                         hashes, bands, _band_meta.json
      lineage/run_id=<rid>/*.parquet     per-partition / per-stage counts
      manifest/*.parquet                 final url->count summary
      _checkpoint/
        processed/<rid>.parquet          (url, text_sha256) per extraction run
        snapshot-<n>.json                {"n": n, "runs": [...]}; curation
                                         adds input_fingerprint, latest_run,
                                         run_parents {run: parent or null},
                                         vacuumed_runs (once any vacuum
                                         ran) and, on a vacuum's own
                                         snapshot, removed_paths
        LATEST                           name of the current snapshot; its
                                         atomic rename is the commit point
        INFLIGHT-<rid>                   "pid:start" of a live curation run
                                         or compaction (removed on every
                                         exit; vacuum/compact refuse to run
                                         while a live one exists)

A snapshot file newer than LATEST is crash residue (written, never
published): no reader ever sees it.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.bloom import build_bloom, with_bloom_flag


def _ckpt(out_dir: str) -> str:
    return os.path.join(out_dir, "_checkpoint")


def _atomic_write(path: str, content: str) -> None:
    """tmp + fsync + rename + dir fsync: crash- AND power-loss-safe —
    no reader (or the replay guard) ever sees a torn file, and the
    rename can't outlive the data on journaled filesystems."""
    d = os.path.dirname(path)
    fd, tmp = tempfile.mkstemp(dir=d)
    with os.fdopen(fd, "w") as f:
        f.write(content)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    dfd = os.open(d, os.O_RDONLY)
    try:
        os.fsync(dfd)  # persist the rename itself
    finally:
        os.close(dfd)


def load_snapshot(out_dir: str, n: int | None = None) -> dict | None:
    """The snapshot LATEST names (None before the first commit), or
    with ``n`` the committed snapshot-n — FileNotFoundError when ``n``
    is past LATEST's (an unpublished snapshot is not committed)."""
    ck = _ckpt(out_dir)
    latest = os.path.join(ck, "LATEST")
    if not os.path.exists(latest):
        if n is None:
            return None
        raise FileNotFoundError(f"no committed snapshot under {out_dir}")
    with open(latest) as f:
        name = f.read().strip()
    if n is not None:
        head = int(name.removeprefix("snapshot-").removesuffix(".json"))
        if n > head:
            raise FileNotFoundError(
                f"snapshot {n} is not committed under {out_dir} "
                f"(LATEST is {name})"
            )
        name = _snapshot_name(n)
    with open(os.path.join(ck, name)) as f:
        return json.load(f)


def publish_snapshot(out_dir: str, snap: dict) -> dict:
    """Write snapshot-<snap["n"]>.json, then flip LATEST to it — the
    atomic commit point of every extraction and curation run."""
    ck = _ckpt(out_dir)
    os.makedirs(ck, exist_ok=True)
    name = _snapshot_name(snap["n"])
    _atomic_write(os.path.join(ck, name), json.dumps(snap))
    _atomic_write(os.path.join(ck, "LATEST"), name)  # atomic commit point
    return snap


def _snapshot_name(n: int) -> str:
    return f"snapshot-{n}.json"


def all_committed_run_ids(out_dir: str) -> set[str]:
    """Union of run_ids across every COMMITTED snapshot (n <= the one
    LATEST points at). After compact() the latest snapshot lists only
    ``compacted-N``, but historical snapshots still reference the
    original run dirs — replaying one of those run_ids would rewrite
    data files that older snapshots point at, breaking time travel.
    The replay guard therefore checks this set, not the latest
    snapshot's.

    Snapshots NEWER than LATEST are ignored: a crash between writing
    snapshot-N.json and the LATEST rename leaves an uncommitted
    snapshot file whose run never published — retrying that run_id is
    exactly what resume is for. (Snapshot files are themselves written
    via tmp+rename, so a parseable-but-stale file is the only
    crash residue possible.)"""
    latest = load_snapshot(out_dir)
    if latest is None:
        return set()
    runs: set[str] = set()
    for n in range(latest["n"] + 1):
        try:
            runs.update(load_snapshot(out_dir, n).get("runs", []))
        except (FileNotFoundError, json.JSONDecodeError) as e:
            # fail LOUD: snapshots at or below LATEST are committed and
            # written fsync+atomically, so a missing/torn one means the
            # checkpoint store is corrupt — silently skipping it would
            # let a replay overwrite data files that time travel still
            # reads (the exact clobber this guard exists to prevent)
            path = os.path.join(_ckpt(out_dir), _snapshot_name(n))
            raise RuntimeError(
                f"corrupt checkpoint: committed {path} is unreadable; "
                "repair the _checkpoint dir before writing new runs"
            ) from e
    return runs


def processed_urls(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Union of processed-url manifests named by the current snapshot.
    Uncommitted runs (crash before snapshot rename) are invisible —
    that is the exactly-once property."""
    snap = load_snapshot(out_dir)
    if not snap or not snap["runs"]:
        return None
    return spark.read.parquet(
        *[_processed_path(out_dir, r) for r in snap["runs"]]
    )


def _processed_path(out_dir: str, run_id: str) -> str:
    return os.path.join(_ckpt(out_dir), "processed", f"{run_id}.parquet")


def _write_processed(run_df: DataFrame, out_dir: str, run_id: str) -> None:
    """The run's (url, text_sha256) manifest — what resume anti-joins."""
    (
        run_df
        .select("url", F.sha2(F.col("text"), 256).alias("text_sha256"))
        .write.mode("overwrite")
        .parquet(_processed_path(out_dir, run_id))
    )


def read_runs(spark: SparkSession, out_dir: str, runs: list[str]) -> DataFrame:
    """The extracted rows of ``runs``, with their ``run_id`` partition
    column."""
    base = os.path.join(out_dir, "extracted")
    return spark.read.option("basePath", base).parquet(
        *[os.path.join(base, f"run_id={r}") for r in runs]
    )


def commit_run(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    run_df: DataFrame | None = None,
) -> dict:
    """Write this run's processed-url manifest from its *written*
    extracted data, then atomically publish a new snapshot. Single
    writer assumed (documented; a real catalog provides CAS here).
    Pass ``run_df`` (a cached read of the run dir) to avoid a second
    scan of the just-written files."""
    if run_df is None:
        run_df = spark.read.parquet(
            os.path.join(out_dir, "extracted", f"run_id={run_id}")
        )
    _write_processed(run_df, out_dir, run_id)
    prev = load_snapshot(out_dir)
    n = (prev["n"] + 1) if prev else 0
    runs = (prev["runs"] if prev else []) + [run_id]
    return publish_snapshot(out_dir, {"n": n, "runs": runs})


def pending(
    pages: DataFrame,
    processed: DataFrame | None,
    bloom_threshold: int = 10_000,
) -> DataFrame:
    """Rows of ``pages`` whose url is not yet processed.

    Exact mechanism: left-anti join on url. When the processed set is
    large, a bloom prefilter splits the input first — rows whose url
    hash misses the bloom are DEFINITELY unprocessed and skip the
    anti-join shuffle entirely; only bloom hits (processed + false
    positives) pay it. At 10^12 docs with a mostly-complete prior run,
    that converts the anti-join from full-input-shuffle to
    tiny-remnant-shuffle.

    Known cost: the two branches each re-scan ``pages`` (the probe is
    a cheap numpy UDF; payloads are NOT shuffled either way). Caching
    the flagged frame would materialize payload bytes — worse than the
    second scan at any scale.
    """
    if processed is None:
        return pages
    n_proc = processed.count()
    keys = processed.select("url")
    if n_proc < bloom_threshold:
        return pages.join(F.broadcast(keys), "url", "left_anti")
    bloom = build_bloom(keys, "url", expected=n_proc, fpp=0.01)
    flagged = with_bloom_flag(pages, "url", bloom)
    definitely_new = flagged.filter(~F.col("_in_bloom")).drop("_in_bloom")
    candidates = flagged.filter(F.col("_in_bloom")).drop("_in_bloom")
    remnant = candidates.join(keys, "url", "left_anti")
    return definitely_new.unionByName(remnant)


def compact(
    spark: SparkSession,
    out_dir: str,
    target_partitions: int | None = None,
) -> dict:
    """Iceberg-style rewrite: merge all committed run dirs into one
    compacted run and publish a snapshot that references only it.

    Many incremental resume runs leave many small run dirs (the
    small-files problem — at 10^12 docs the metadata and open-cost of
    thousands of tiny runs dominates scan planning). Compaction
    rewrites data files; it never mutates old ones, so time travel to
    pre-compaction snapshots keeps working.
    """
    snap = load_snapshot(out_dir)
    if not snap or not snap["runs"]:
        raise FileNotFoundError(f"nothing to compact under {out_dir}")
    all_runs = read_runs(spark, out_dir, snap["runs"]).drop("run_id")
    n = snap["n"] + 1
    new_run = f"compacted-{n}"
    dest = os.path.join(out_dir, "extracted", f"run_id={new_run}")
    if target_partitions:
        all_runs = all_runs.coalesce(target_partitions)
    all_runs.write.mode("overwrite").parquet(dest)
    _write_processed(spark.read.parquet(dest), out_dir, new_run)
    return publish_snapshot(out_dir, {"n": n, "runs": [new_run]})

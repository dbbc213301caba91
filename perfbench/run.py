#!/usr/bin/env python3
"""Benchmark of circus_train_spark: table maintenance with its readers, and
training-data dedup.

    python3 perfbench/run.py --workload maintain|dedup --seed N \\
        --seconds S --trace 0|1

Run from the root of a source checkout. One process, one SparkSession on
``local[nproc]``. Steps: a warm-up (set-up and one round on a smaller
input), then set up inputs from the seed three times (the median is
``setup_s``), then closed-loop rounds (one client) until ``--seconds`` of rounds have run (at
least one), then the output checks. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` (operations: a maintenance
cycle, a reader query, a dedup round; a wrong output counts as failed) and
``metrics``. The line before it records the pinned session and the time of
each phase and round.

End-to-end metrics (``--trace 0``), medians over the timed rounds:

- ``wall_s``/``cpu_s``: wall and CPU seconds of one round; CPU covers the
  whole process tree (driver, JVM, Python workers).
- ``setup_s``: generating the inputs and the expected answers.
- ``peak_rss_mb``: sum of the kernel's ``VmHWM`` over the processes of the
  tree, each taken at the latest end of a timed round it was alive at.
- ``write_amp``: bytes one round writes per input byte (``maintain``: data
  files its commits add; ``dedup``: the annotated output).
- ``query_p50_s``: median latency of the reader queries (``maintain``, 12
  per round) or of the four pipeline stages (``dedup``: the mean of the
  middle two stages).

``--trace 1`` alternates traced and untraced rounds (traced first on even
seeds, untraced first on odd ones), wraps the engine's public calls in spans
(``trace.py``), enables Spark's event log in the work directory and prints
the per-layer metrics per traced round: self seconds per span, Spark task
counters per span, layer counts, ``driver.s`` (round time outside every
span), ``query_p90_s`` over the queries (or stages) of both kinds of
round, and ``trace.overhead_s`` (median traced minus median untraced round
wall; the event log is on for both). With one round of each, that is the
difference of two single rounds: an estimate within the round-to-round
noise, which can be negative. ``query_p90_s`` is not an end-to-end metric
because a run has too few queries for ten of them to lie beyond p90: with
12 it is the tail of two samples, and on ``dedup`` it lies between the two
slowest stages, i.e. it is mostly the MinHash stage.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"
SETUPS = 3  # set-up repetitions per run; setup_s is their median

# Spans whose Spark task counters are reported (the others submit no jobs).
SPARK_SPANS = (
    "catalog.write", "catalog.stats", "catalog.scan", "catalog.digest",
    "compact", "cluster", "merge",
    "dedup.exact", "dedup.minhash", "dedup.simhash", "dedup.cc", "driver",
)
SELF_SPANS = (
    "catalog.write", "catalog.stats", "catalog.commit", "catalog.plan", "catalog.scan",
    "catalog.digest", "compact", "binpack.plan", "cluster", "merge", "expire",
    "manifest_rewrite", "dedup.exact", "dedup.minhash", "dedup.simhash", "dedup.cc", "driver",
)
LAYER_COUNTS = (
    "catalog.stats.calls", "catalog.commit.count", "catalog.scan.files_planned",
    "catalog.scan.prune_ratio", "catalog.scan.rows_read_per_row_returned",
    "compact.files_in", "compact.files_out", "compact.bytes_rewritten",
    "cluster.bytes_rewritten", "merge.files_touched", "merge.rows_rewritten_per_row_changed",
    "dedup.candidate_pairs", "dedup.verified_pairs", "dedup.lsh_precision", "dedup.docs_removed",
)


# ------------------------------------------------------------ process tree
def _tree_pids(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    pids, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        pids.extend(frontier)
    return pids


def tree_cpu_s() -> float:
    """User + system CPU of this process and every descendant, including
    descendants already reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total / tick


def tree_hwm_kb() -> dict[int, int]:
    """The kernel's resident high-water mark (``VmHWM``) per live process
    of the tree, in KiB."""
    out = {}
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1])
        except OSError:
            continue
    return out


def _fs_type(path: str) -> str:
    best, fs = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, typ = line.split()[:3]
            if path.startswith(mnt) and len(mnt) > len(best):
                best, fs = mnt, typ
    return fs


# ----------------------------------------------------------------- session
def start_spark(work: str, cores: int, trace: bool):
    from circus_train_spark.session import get_spark

    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher's too) keeps its temp files in the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap size, so the JVM's resident size depends less on how
        # the collector resizes the heap
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Dderby.system.home={tmp}",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        })
    spark = get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=2 * cores, extra_conf=conf
    )
    return spark, conf


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    before = set(_tree_pids(os.getpid())) - {os.getpid()}
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    # Python workers outlive the JVM briefly (they exit on its closed socket)
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in before) and time.monotonic() < deadline:
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


# ------------------------------------------------------------------ tracing
def install_spans(tracer) -> None:
    import circus_train_spark.meta.catalog as catalog_mod
    import circus_train_spark.operators.cluster as cluster_mod
    import circus_train_spark.operators.compact as compact_mod
    import circus_train_spark.operators.expire as expire_mod
    import circus_train_spark.operators.manifest_rewrite as manifest_rewrite_mod
    import circus_train_spark.operators.merge as merge_mod

    table = catalog_mod.TokenTable
    for owner, attr, name in (
        (table, "write_data_files", "catalog.write"),
        (table, "collect_entries_for_files", "catalog.stats"),
        (table, "commit", "catalog.commit"),
        (table, "manifest_entries", "catalog.plan"),
        (table, "file_paths", "catalog.plan"),
        (table, "table_digest", "catalog.digest"),
        (compact_mod, "compact", "compact"),
        (compact_mod, "plan_compaction_groups", "binpack.plan"),
        (cluster_mod, "cluster", "cluster"),
        (merge_mod, "merge_into", "merge"),
        (expire_mod, "expire_snapshots", "expire"),
        (manifest_rewrite_mod, "rewrite_manifests", "manifest_rewrite"),
    ):
        tracer.wrap(owner, attr, name)


E2E_UNITS = {"peak_rss_mb": "MB", "write_amp": "ratio"}


def _unit(name: str) -> str:
    if name in E2E_UNITS:
        return E2E_UNITS[name]
    if name.endswith(("bytes", "bytes_rewritten")):
        return "bytes"
    if name.endswith(("ratio", "precision", "per_row_returned", "per_row_changed")):
        return "ratio"
    if name.endswith(("_s", ".s")):
        return "s"
    return "count"


# Layer counts that are summed over the traced rounds and reported per round.
PER_ROUND = {
    "catalog.stats.calls", "catalog.commit.count", "compact.files_in", "compact.files_out", "compact.bytes_rewritten", "cluster.bytes_rewritten",
    "merge.files_touched", "merge.rows_rewritten_per_row_changed", "dedup.docs_removed",
}


def layer_metrics(tracer, workload, windows, untraced_wall: float, traced_wall: float, log_dir: str) -> dict:
    """Per-layer metrics of the traced rounds, each per round."""
    from perfbench.trace import SPARK_COUNTERS

    n = len(windows)
    selfs = tracer.self_times(windows)
    spark = tracer.fold_event_log(log_dir, windows)
    out = {f"{name}.s": selfs.get(name, 0.0) / n for name in SELF_SPANS}
    for name in SPARK_SPANS:
        for key in SPARK_COUNTERS:
            out[f"{name}.{key}"] = spark.get(name, {}).get(key, 0.0) / n
    c = dict(workload.counts)
    c.update(workload.traced_counts())
    queries = c.get("catalog.scan.queries", 0)
    live = c.get("catalog.scan.files_live", 0)
    returned = c.get("catalog.scan.rows_returned", 0)
    planned = c.get("catalog.scan.files_planned", 0)
    c["catalog.scan.files_planned"] = planned / queries if queries else 0.0
    c["catalog.scan.prune_ratio"] = planned / live if live else 0.0
    c["catalog.scan.rows_read_per_row_returned"] = (
        c.get("catalog.scan.rows_read", 0) / returned if returned else 0.0
    )
    c["catalog.stats.calls"] = sum(s.name == "catalog.stats" for s in tracer.spans)
    c["catalog.commit.count"] = sum(s.name == "catalog.commit" for s in tracer.spans)
    for name in LAYER_COUNTS:
        out[name] = c.get(name, 0.0) / (n if name in PER_ROUND else 1)
    out["query_p90_s"] = statistics.quantiles(workload.call_s, n=10, method="inclusive")[-1]
    out["trace.wall_s"] = traced_wall
    out["trace.overhead_s"] = traced_wall - untraced_wall
    return out


def end_to_end_metrics(
    wl, setup_s: list[float], walls: list[float], cpus: list[float], hwm_kb: dict[int, int]
) -> dict:
    """End-to-end metrics of the untraced rounds."""
    return {
        "setup_s": statistics.median(setup_s),
        "wall_s": statistics.median(walls),
        "cpu_s": statistics.median(cpus),
        "peak_rss_mb": sum(hwm_kb.values()) / 1024,
        "write_amp": wl.bytes_written() / wl.input_bytes,
        "query_p50_s": statistics.median(wl.call_s),
    }


# -------------------------------------------------------------------- main
def run(args, spark, work: str, cores: int, tracer, phases: dict):
    """Set up, warm up, run the timed rounds and check them. Returns the
    workload, the number of failed operations and the measurements."""
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](spark, work, args.seed, tracer, cores)
    t0 = time.perf_counter()
    wl.warmup()
    phases["warmup_s"] = time.perf_counter() - t0
    setup_s = []
    for attempt in range(SETUPS):
        t0 = time.perf_counter()
        wl.setup(attempt, wl.size)
        setup_s.append(time.perf_counter() - t0)
    phases["setups_s"] = setup_s

    # Closed loop, one client: rounds run back to back until --seconds of
    # round time is spent (at least one round; with --trace, one traced and
    # one untraced). Traced and untraced rounds alternate; which comes first
    # follows the seed, so a warm-up bias of the first round does not always
    # land on the same side of trace.overhead_s.
    t_loop = time.perf_counter()
    walls: dict[bool, list[float]] = {False: [], True: []}
    cpus: list[float] = []
    windows: list[tuple[float, float]] = []
    hwm_kb: dict[int, int] = {}
    while len(walls[False]) + len(walls[True]) < 1 + args.trace or (
        sum(walls[False] + walls[True]) + statistics.median(walls[False] + walls[True])
        <= args.seconds
    ):
        traced = bool(args.trace) and (len(windows) + len(walls[False]) + args.seed) % 2 == 0
        if traced:
            install_spans(tracer)
            tracer.enabled = True
        c0, w0, t0 = tree_cpu_s(), time.time(), time.perf_counter()
        wl.round()
        dt = time.perf_counter() - t0
        w1, c1 = time.time(), tree_cpu_s()
        for pid, kb in tree_hwm_kb().items():
            hwm_kb[pid] = max(hwm_kb.get(pid, 0), kb)
        tracer.enabled = False
        tracer.unwrap_all()
        walls[traced].append(dt)
        if traced:
            windows.append((w0, w1))
        else:
            cpus.append(c1 - c0)
        wl.after_round(traced)
    phases["rounds_s"] = time.perf_counter() - t_loop
    phases["round_walls_s"] = walls
    t0 = time.perf_counter()
    failed = wl.check()
    phases["check_s"] = time.perf_counter() - t0
    return wl, failed, setup_s, walls, cpus, windows, hwm_kb


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("maintain", "dedup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "circus_train_spark")):
        print(f"perfbench: no circus_train_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    from perfbench.trace import Tracer

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = Tracer(enabled=False)
    spark = None
    try:
        phases: dict = {}
        t0 = time.perf_counter()
        spark, conf = start_spark(work, cores, bool(args.trace))
        phases["session_s"] = time.perf_counter() - t0
        session = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "master": f"local[{cores}]",
            "driver_memory": DRIVER_MEM, "max_concurrency": cores,
            "shuffle_partitions": 2 * cores, "work_dir_fs": _fs_type(work),
            "loadavg": os.getloadavg(), **conf, "phases": phases,
        }
        wl, failed, setup_s, walls, cpus, windows, hwm_kb = run(
            args, spark, work, cores, tracer, phases
        )
        if not args.trace:
            metrics = end_to_end_metrics(wl, setup_s, walls[False], cpus, hwm_kb)
        t0 = time.perf_counter()
        stop_spark(spark)
        spark = None
        phases["stop_s"] = time.perf_counter() - t0
        if args.trace:  # the event log is complete once the session stopped
            metrics = layer_metrics(
                tracer, wl, windows, statistics.median(walls[False]),
                statistics.median(walls[True]), os.path.join(work, "eventlog"),
            )
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"session": session}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(wl.results),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

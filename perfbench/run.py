"""vlite-spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload validate_table --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The seed makes the inputs (written as
multi-file parquet under ``perfbench/_work``); the library only sees the
written files. One Python process issues calls back to back (closed
loop, one client) on ``local[nproc]``. Every timed call's output is
checked against the generator's planted truth outside the timed region.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
workload untraced, then again with spans and the Spark event log on, and
prints the per-layer metrics plus the tracing overhead. The last line of
stdout is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Spark JVM heap unless SPARK_DRIVER_MEM is set: session.py's 20g default
#: exceeds the memory of a 4-core, 15 GB machine
DEFAULT_HEAP = "3g"

#: spans whose Spark task metrics are reported, inclusive of children
SPARK_SPANS = ("sources.scan", "engine.execute", "engine.merged_scan",
               "engine.unique", "quality.run", "curation.build",
               "curation.exec", "dedup.pairs", "dedup.groups", "dedup.keep",
               "dedup.exec")
SPARK_METRICS = (("executor_cpu_s", "cpu_s"), ("gc_s", "gc_s"),
                 ("shuffle_write_bytes", "shuffle_write_bytes"),
                 ("spill_bytes", "spill_bytes"), ("task_skew", "task_skew"))


# ------------------------------------------------------------ context
def steal_s() -> float:
    """Cumulative CPU steal seconds of the host (/proc/stat column 9)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def tree_pss_mb(root_pid: int) -> float:
    """Memory of ``root_pid`` and all its descendants (its JVM and the
    Python workers) as summed proportional set size: resident pages,
    with pages shared between forked workers counted once."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    st = f.read()
            except OSError:
                continue
            parent[int(d)] = int(st[st.rindex(")") + 2:].split()[1])
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                kb += next(int(l.split()[1]) for l in f if l.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
    return kb / 1024


class PeakMemory:
    """Samples the process tree's memory every 50 ms while open."""

    def __init__(self) -> None:
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_mb(os.getpid()))
            self._stop.wait(0.05)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------ session
def start_spark(work: str, cpus: int, report: dict, extra: dict | None = None):
    """``get_spark`` on ``local[cpus]`` with scratch space inside ``work``;
    records the session's master, heap and shuffle partitions."""
    from validatelite_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    conf.update(extra or {})
    spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
    report["spark"] = {k: spark.conf.get(k) for k in (
        "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions")}
    return spark


def stop_jvm() -> None:
    """Shut the py4j gateway JVM down and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()   # the gateway server exits on stdin EOF
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def timed_calls(spark, wl, seconds: float, tr, log: list) -> tuple[list, list]:
    """Back-to-back calls until ``seconds`` of call time have passed.
    Checks, leak counts and cache release run between calls, off the
    clock. Returns (call seconds, failure messages per call)."""
    from workloads import persistent_rdds, release

    times, failures = [], []
    while sum(times) < seconds:
        tr.run = len(times)
        t0 = time.perf_counter()
        try:
            out = wl.call(spark, tr)
            err = None
        except Exception as e:   # a failed call counts; the loop goes on
            out, err = None, f"{type(e).__name__}: {e}"
        times.append(time.perf_counter() - t0)
        bad = [err] if err else wl.check(spark, out)
        failures.append(bad)
        log.append({"call": len(times) - 1, "s": round(times[-1], 4),
                    "leaked_rdds": persistent_rdds(spark), "bad": bad[:3]})
        release(spark)
    return times, failures


def set_up(work: str, cpus: int, wl, report: dict):
    """Cold ``get_spark`` plus one untimed warm-up call; returns the
    session, its start time and the set-up time (start + that call).
    The workload's further ``warmup_calls - 1`` untimed calls follow, off
    every clock, so the JIT has settled before the timed calls."""
    from spans import NullTracer
    from workloads import release

    t0 = time.perf_counter()
    spark = start_spark(work, cpus, report)
    start_s = time.perf_counter() - t0
    wl.call(spark, NullTracer())
    setup_s = time.perf_counter() - t0
    release(spark)
    for _ in range(wl.warmup_calls - 1):
        wl.call(spark, NullTracer())
        release(spark)
    return spark, start_s, setup_s


def tail(times: list[float]) -> tuple[float | None, int | None]:
    """Highest percentile with at least 10 calls beyond it."""
    n = len(times)
    if n < 11:
        return None, None
    pct = int(100 * (n - 10) / n)
    return statistics.quantiles(times, n=100, method="inclusive")[pct - 1], pct


# ------------------------------------------------------------ modes
def run_plain(args, wl, work: str, cpus: int, report: dict) -> dict:
    from spans import NullTracer

    spark, start_s, setup_s = set_up(work, cpus, wl, report)
    log: list = []
    times, failures = timed_calls(spark, wl, args.seconds, NullTracer(), log)
    spark.stop()
    p_tail, pct = tail(times)
    report.update(calls=log, session_start_s=round(start_s, 4),
                  call_tail_s=p_tail, call_tail_pct=pct)
    metrics = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (wl.rows * len(times) / sum(times), "rows/s"),
        "call_p50_s": (statistics.median(times), "s"),
    }
    return metrics, failures


def run_traced(args, wl, work: str, cpus: int, report: dict) -> dict:
    import spans as T
    from workloads import release

    # untraced reference: same shape as a plain run
    spark, start_s, _ = set_up(work, cpus, wl, report)
    times0, failures0 = timed_calls(spark, wl, args.seconds, T.NullTracer(), [])
    spark.stop()

    logdir = os.path.join(work, "eventlog")
    os.makedirs(logdir, exist_ok=True)
    spark = start_spark(work, cpus, report, {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": "file://" + logdir})
    for _ in range(wl.warmup_calls - 1):   # as before the untraced calls
        wl.call(spark, T.NullTracer())
        release(spark)
    tr = T.Tracer(spark.sparkContext)
    T.patch_library(tr)
    try:
        scans: list[list[str]] = []     # three passes over every input
        for _ in range(3):
            scans.append([])
            for path in wl.input_paths():
                with tr.span("sources.scan") as sid:
                    spark.read.parquet(path).write.format("noop").mode(
                        "overwrite").save()
                scans[-1].append(sid)
        log: list = []
        with PeakMemory() as mem:
            times, failures = timed_calls(spark, wl, args.seconds, tr, log)
        tr.run = None
        counts = wl.layer_counts(spark)
        release(spark)
    finally:
        tr.unpatch()
    app = spark.sparkContext.applicationId
    spark.stop()
    tr.dump(os.path.join(os.path.dirname(work),
                         f"{args.workload}-seed{args.seed}-spans.jsonl"))
    folded = T.fold_event_log(T.event_lines(logdir, app))

    metrics = layer_metrics(tr, folded, times, scans, start_s)
    metrics["dedup.pairs_out"] = (counts.get("dedup.pairs_out", 0), "count")
    untraced = wl.rows * len(times0) / sum(times0)
    traced = wl.rows * len(times) / sum(times)
    metrics["trace.overhead"] = (traced / untraced, "ratio")
    metrics["peak_rss_mb"] = (mem.peak, "MB")
    report.update(calls=log, untraced_rows_per_s=round(untraced, 2),
                  traced_rows_per_s=round(traced, 2))
    return metrics, failures0 + failures


def layer_metrics(tr, folded: dict, times: list, scans: list,
                  start_s: float) -> dict:
    """Per-layer values: the median over timed calls of each call's
    total, from spans, span counts and the folded event log."""
    import spans as T

    children: dict[str, list] = {}
    for s in tr.spans:
        children.setdefault(s.parent, []).append(s)

    def descendants(sid: str) -> list[str]:
        out, todo = [sid], [sid]
        while todo:
            for c in children.get(todo.pop(), []):
                out.append(c.id)
                todo.append(c.id)
        return out

    def incl(span, key: str) -> float:
        return sum(folded.get(g, {}).get(key, 0.0) for g in descendants(span.id))

    calls = range(len(times))

    def per_call(fn) -> float:
        return statistics.median(fn(r) for r in calls)

    def spans_of(r, names) -> list:
        return [s for s in tr.spans if s.run == r and s.name in names]

    def dur(r, *names) -> float:
        return sum(s.end - s.start for s in spans_of(r, names))

    def selft(r, *names) -> float:
        return sum(T.self_time(s, children.get(s.id, [])) for s in spans_of(r, names))

    def ev(r, key, *names) -> float:
        return sum(incl(s, key) for s in spans_of(r, names))

    def cnt(r, key) -> float:
        return tr.counts.get((r, key), 0.0)

    py_names = ("engine.execute", "quality.run", "curation.build",
                "curation.exec", "dedup.pairs", "dedup.groups", "dedup.keep",
                "dedup.exec")
    dd = ("dedup.pairs", "dedup.groups", "dedup.keep", "dedup.exec")
    by_id = {s.id: s for s in tr.spans}

    def per_pass(fn) -> float:
        return statistics.median(sum(fn(by_id[sid]) for sid in p) for p in scans)

    m = {
        "session.start_s": (start_s, "s"),
        "sources.scan_s": (per_pass(lambda s: s.end - s.start), "s"),
        "sources.scan_tasks": (per_pass(lambda s: incl(s, "tasks")), "count"),
        "plans.prevalidate_s": (per_call(lambda r: dur(r, "plans.prevalidate")), "s"),
        "plans.compile_s": (per_call(lambda r: dur(r, "plans.compile")), "s"),
        "plans.merge_groups": (per_call(lambda r: cnt(r, "plans.merge")), "count"),
        "engine.merged_scan_s": (per_call(lambda r: dur(r, "engine.merged_scan")), "s"),
        "engine.unique_s": (per_call(lambda r: dur(
            r, "engine.unique", "engine.unique_samples")), "s"),
        "engine.samples_s": (per_call(lambda r: selft(r, "engine.execute")), "s"),
        "engine.jobs_per_call": (per_call(lambda r: ev(r, "jobs", "engine.execute")),
                                 "count"),
        "functions.py_init_s": (per_call(lambda r: (
            ev(r, "py_boot", *py_names) + ev(r, "py_init", *py_names)) / 1e3), "s"),
        "functions.py_run_s": (per_call(lambda r: ev(r, "py_run", *py_names) / 1e3),
                               "s"),
        "functions.py_bytes_in": (per_call(lambda r: ev(r, "py_bytes_in", *py_names)),
                                  "B"),
        "functions.py_bytes_out": (per_call(lambda r: ev(r, "py_bytes_out", *py_names)),
                                   "B"),
        "quality.build_s": (per_call(lambda r: dur(r, "quality.build")), "s"),
        "quality.exec_s": (per_call(lambda r: selft(r, "quality.run")), "s"),
        "quality.output_bytes": (per_call(lambda r: ev(r, "output_bytes",
                                                       "quality.run")), "B"),
        "quality.jobs": (per_call(lambda r: ev(r, "jobs", "quality.run")), "count"),
        "curation.build_s": (per_call(lambda r: dur(r, "curation.build")), "s"),
        "curation.build_jobs": (per_call(lambda r: ev(r, "jobs", "curation.build")),
                                "count"),
        "curation.exec_s": (per_call(lambda r: dur(r, "curation.exec")), "s"),
        "curation.leaked_rdds": (per_call(lambda r: cnt(r, "curation.leaked_rdds")),
                                 "count"),
        "dedup.pairs_s": (per_call(lambda r: dur(r, "dedup.pairs")), "s"),
        "dedup.groups_s": (per_call(lambda r: dur(r, "dedup.groups")), "s"),
        "dedup.keep_s": (per_call(lambda r: dur(r, "dedup.keep", "dedup.exec")), "s"),
        "dedup.build_jobs": (per_call(lambda r: ev(
            r, "jobs", "dedup.pairs", "dedup.groups", "dedup.keep")), "count"),
        "dedup.agg_build_s": (per_call(lambda r: ev(r, "agg_build", *dd) / 1e3), "s"),
        "dedup.hash_probes_per_key": (per_call(lambda r: (
            ev(r, "hash_probe_sum", *dd) / max(ev(r, "hash_probe_tasks", *dd), 1))),
            "ratio"),
        "dedup.leaked_rdds": (per_call(lambda r: cnt(r, "dedup.leaked_rdds")), "count"),
    }
    for name in SPARK_SPANS:
        for metric, key in SPARK_METRICS:
            unit = {"executor_cpu_s": "s", "gc_s": "s", "task_skew": "ratio"}.get(
                metric, "B")
            if name == "sources.scan":
                v = per_pass(lambda s: incl(s, key))
                if key == "task_skew":
                    v = statistics.median(max(incl(by_id[sid], key) for sid in p)
                                          for p in scans)
            elif key == "task_skew":
                v = per_call(lambda r: max((incl(s, key) for s in spans_of(r, (name,))),
                                           default=0.0))
            else:
                v = per_call(lambda r: ev(r, key, name))
            m[f"{name}.{metric}"] = (v, unit)
    return m


# ------------------------------------------------------------ main
def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ.setdefault("SPARK_DRIVER_MEM", DEFAULT_HEAP)
    cpus = len(os.sched_getaffinity(0))
    import workloads   # fails here when the library is absent

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp   # Python temp files, here and in the workers
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    wl = workloads.WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    planted = wl.prepare(args.seed, work)
    gen_s = time.perf_counter() - t0
    print(f"# {args.workload} seed={args.seed} rows/call={wl.rows} "
          f"input generated in {gen_s:.2f} s")
    print("# planted: " + json.dumps(planted, sort_keys=True))
    steal0, load0, w0 = steal_s(), loadavg(), time.time()
    report: dict = {}
    mode = run_traced if args.trace else run_plain
    try:
        metrics, failures = mode(args, wl, work, cpus, report)
    finally:
        stop_jvm()
    context = {"steal_s": round(steal_s() - steal0, 2),
               "loadavg_start": load0, "loadavg_end": loadavg(),
               "wall_s": round(time.time() - w0, 2)}
    shutil.rmtree(work, ignore_errors=True)

    attempted = len(failures)
    failed = sum(1 for f in failures if f)
    for i, f in enumerate(failures):
        for msg in f:
            print(f"# call {i} FAILED CHECK: {msg}")
    print("# spark: " + json.dumps(dict(report.pop("spark"), cpus=cpus)))
    print("# calls: " + json.dumps(report.pop("calls")))
    print("# context: " + json.dumps(context))
    print("# report: " + json.dumps(report))
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    if not args.trace:
        t = report["call_tail_s"]
        print("call_tail_s = " + (f"{t:.6g} s (p{report['call_tail_pct']} "
                                  f"of {attempted} calls)" if t is not None
                                  else f"n/a s (needs >= 11 calls; run had {attempted})"))
    print(f"failed_ops_ratio = {failed / attempted:.6g} ratio "
          f"({failed} of {attempted} calls)")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

"""The repository's benchmark of record.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_tiers --seed 1 --seconds 10 --trace 0

Workloads (see README.md in this directory for shapes, seeds and metrics):

- ``ingest_tiers``   batch write path: ``run_pipeline`` over a staged raw
                     table, stopped after ``downsample`` and resumed;
- ``detector_suite`` read path: one closed-loop pass over ``queries()`` entries.

A run launches the driver JVM once (``session.launch_s``) and sets up
``SETUPS`` times: once before it measures and the rest after. A set-up stops
the SparkContext, starts a new one on the same JVM and stages the workload's
inputs (its data; the suite also opens its readers). ``setup_s`` is the
median set-up. Before measuring, the workload runs one untimed pass of its
own work (``session.warmup_s``), which spawns the Python workers and compiles
the plans the timed passes run. The JVM launch and the warm-up happen once
per process, so they are per-layer metrics.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with Spark's event log on and a job group per benchmark span, and
prints the per-layer metrics. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. Every scratch file goes
under ``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# workload name -> module in this directory with ``setup(ctx, parts)``,
# ``run(ctx)`` and ``traced_layers(ctx, by_span)``
WORKLOADS = {"ingest_tiers": "ingest", "detector_suite": "suite"}
SETUPS = 5


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the driver
    JVM, the PySpark daemon and its Python workers), sampled from /proc.
    ``peak_parts`` is the per-command split of the peak sample."""

    # each sample reads every /proc entry under the GIL (about 4 ms for 90
    # processes), so it samples rarely enough to stay out of the driver's way
    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _tree_rss_kb(root_pid: int) -> dict[int, tuple[str, int]]:
        parent, rss = {}, {}
        page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
                with open(f"/proc/{entry}/statm") as fh:
                    resident_pages = int(fh.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue  # the process exited while we were reading it
            pid = int(entry)
            comm, rest = stat.split("(", 1)[1].rsplit(")", 1)
            parent[pid] = int(rest.split()[1])
            rss[pid] = (comm, resident_pages * page_kb)
        tree = {}
        for pid, val in rss.items():
            p = pid
            while p and p != root_pid:
                p = parent.get(p, 0)
            if p == root_pid:
                tree[pid] = val
        return tree

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            tree = self._tree_rss_kb(me)
            total = sum(kb for _, kb in tree.values())
            if total > self.peak_kb:
                self.peak_kb = total
                parts: dict[str, int] = {}
                for comm, kb in tree.values():
                    parts[comm] = parts.get(comm, 0) + kb
                self.peak_parts = parts
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


class Context:
    """What a workload gets: the session, its scratch directory, the run's
    arguments, the tracer and the counters that feed the result line."""

    def __init__(self, args, work: str, tracer):
        self.spark = None  # the current session; each set-up replaces it
        self.work = work
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.wrong = 0
        self.summary: dict[str, tuple[float, str]] = {}  # printed, not gated
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.setup_parts: dict[str, float] = {}  # median of each part over the set-ups

    def quiesce(self) -> None:
        """Collect garbage in this process and in the driver JVM, so a
        collection the warm-up left pending does not land in a timed pass."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, ok: bool, what: str) -> None:
        """Count one verified output; a mismatch goes to ``wrong_results``."""
        if not ok:
            self.wrong += 1
            print(f"perfbench: WRONG RESULT: {what}", file=sys.stderr, flush=True)

    def fail(self, what: str, exc: Exception) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}: {type(exc).__name__}: {str(exc)[:500]}",
              file=sys.stderr, flush=True)

    def attempt(self, what: str, fn):
        """Run one query / stage / trigger unit; count it and any failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # a failing unit is counted and the run goes on
            self.fail(what, exc)
            return None


def _mem_total_gb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // (1024 * 1024)
    return 4


def pin_environment(work: str) -> None:
    """Fix the engine's knobs for this box from the benchmark side only."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the engine default (48g) exceeds most sandboxes; a quarter of RAM, 1-8g
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(8, _mem_total_gb() // 4))}g"
    # Python workers import the engine by module path; without this a run
    # from any other directory fails in the workers with ModuleNotFoundError
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"


def stop_spark(spark) -> None:
    """Stop the session, then end the driver JVM and wait for it to exit
    (it exits when its stdin closes; the Python workers go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "alibi_detect_spark", "__init__.py")):
        print("perfbench: engine sources (alibi_detect_spark/) not found next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    import importlib

    from alibi_detect_spark.session import get_spark
    from spans import Tracer, event_log_conf, rollup_to_spans, spark_metrics_by_group

    workload = importlib.import_module(WORKLOADS[args.workload])
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        conf.update(event_log_conf(log_dir))

    with RssSampler() as rss:
        tracer = Tracer()
        ctx = Context(args, work, tracer)
        setups: list[dict[str, float]] = []

        def set_up(k: int) -> None:
            tracer.spark = None
            ctx.spark.stop()  # teardown of the previous session, not timed
            parts: dict[str, float] = {}
            with tracer.span("setup", index=k):
                t_setup = time.perf_counter()
                with tracer.span("session.start"):
                    t0 = time.perf_counter()
                    ctx.spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
                    parts["session.start_s"] = time.perf_counter() - t0
                if args.trace:
                    tracer.spark = ctx.spark
                workload.setup(ctx, parts)
                parts["total"] = time.perf_counter() - t_setup
            setups.append(parts)

        try:
            with tracer.span("session.launch"):
                t0 = time.perf_counter()
                ctx.spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
                ctx.layers["session.launch_s"] = time.perf_counter() - t0
            set_up(0)
            workload.run(ctx)
            # the other set-ups come after the measured pass and its checks,
            # so that a burst of load on the box does not hit all of them
            for k in range(1, SETUPS):
                set_up(k)
        finally:
            if ctx.spark is not None:
                stop_spark(ctx.spark)
        peak_mb = rss.peak_kb / 1024.0
    print("perfbench rss at peak (MB): " + ", ".join(
        f"{comm}={kb / 1024:.0f}" for comm, kb in sorted(rss.peak_parts.items())),
        file=sys.stderr, flush=True)
    print("perfbench set-ups (s): " + "; ".join(
        ", ".join(f"{k}={v:.2f}" for k, v in p.items()) for p in setups), file=sys.stderr, flush=True)

    ctx.e2e["setup_s"] = statistics.median(p["total"] for p in setups)
    for key in setups[0]:
        if key != "total":
            ctx.setup_parts[key] = statistics.median(p[key] for p in setups)

    ctx.layers["session.peak_rss_mb"] = peak_mb
    ctx.summary["setup_s"] = (ctx.e2e["setup_s"], "s")
    ctx.summary["peak_rss_mb"] = (peak_mb, "MB")
    ctx.summary["failed_ratio"] = (ctx.failed / max(ctx.attempted, 1), "ratio")
    ctx.summary["wrong_results"] = (ctx.wrong, "count")

    missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in ctx.e2e]
    if missing:
        print(f"perfbench: nothing timed completed for {missing}", file=sys.stderr)
        return 1
    untraced_record = os.path.join(base, f"untraced_{args.workload}.json")
    if args.trace:
        by_span = rollup_to_spans(tracer, spark_metrics_by_group(log_dir))
        workload.traced_layers(ctx, by_span)
        ctx.layers.update(ctx.setup_parts)
        try:
            with open(untraced_record) as fh:
                ctx.layers["trace.overhead_s"] = ctx.e2e["pass_s"] - json.load(fh)["pass_s"]
        except (OSError, ValueError, KeyError):
            print("perfbench: no untraced run of this workload in this checkout yet; "
                  "trace.overhead_s reported as 0", file=sys.stderr)
            ctx.layers["trace.overhead_s"] = 0.0
        tracer.dump(os.path.join(work, "spans.json"), by_span)
        wanted = spec["per_layer"]
        values = ctx.layers
    else:
        with open(untraced_record, "w") as fh:
            json.dump({"pass_s": ctx.e2e["pass_s"]}, fh)
        tracer.dump(os.path.join(work, "spans.json"))
        wanted = spec["end_to_end"]
        values = ctx.e2e

    top = [s for s in tracer.spans if s["parent"] is None]
    print("perfbench spans: " + ", ".join(
        f"{s['name']}={tracer.seconds(s):.2f}s" for s in top), file=sys.stderr, flush=True)
    print("perfbench summary: " + json.dumps(
        {k: {"value": v, "unit": u} for k, (v, u) in ctx.summary.items()}), flush=True)
    unknown = set(values) - {m["name"] for m in wanted}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    result = {
        "correct": ctx.wrong == 0 and ctx.failed == 0,
        "attempted": max(ctx.attempted, 1),
        "failed": ctx.failed,
        "metrics": metrics,
    }
    sys.stderr.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

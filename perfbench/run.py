"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the workload's inputs from ``--seed``,
measures a fixed amount of work (``kg_build``: one build;
``curation_queries``: one pass over the 29 queries), checks
the outputs, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the ``end_to_end`` metrics of BENCHMARK.json; ``--trace 1`` turns on the
Spark event log and reports its ``per_layer`` metrics instead (layers a
workload leaves idle report 0). Earlier stdout lines give the run's
metadata and the workload's own named metrics; the full record is also
written to ``.perfbench_results/``. Everything the run writes stays under
the repository root and is removed at exit, except that record.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import probes  # noqa: E402

WORKLOADS = {"kg_build": "kg", "curation_queries": "curation"}  # name → module
# per_layer name prefixes each workload exercises; the rest report 0
ACTIVE = {
    "kg_build": ("pipeline.", "operators.", "streaming.", "sources.", "server.",
                 "api.", "plans.", "spark.", "trace."),
    "curation_queries": ("curation.", "trace."),
}


class Bench:
    """State one run shares with its workload module."""

    def __init__(self, spark, sampler, args, work: str) -> None:
        self.spark = spark
        self.sampler = sampler
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.work = work
        self.spans = probes.Spans(spark)
        self.setup_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.meta: dict = {}
        self.extra: dict[str, tuple[float, str]] = {}  # name → (value, unit)
        self.layers: dict[str, float] = {}
        self.finishers: list = []  # fn(event-log groups), run after Spark stops
        self.peak_rss_mb: float | None = None

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.correct = False
            print(f"CHECK FAILED: {what}", file=sys.stderr)

    def peak_rss_at_measure_end(self) -> None:
        """Freeze peak_rss_mb at the end of the measured passes (a traced
        run goes on to exercise further layers)."""
        self.peak_rss_mb = self.sampler.peak_mb
        self.meta["peak_rss_detail_mb"] = self.sampler.peak_detail


def _git_head(root: str) -> str:
    try:
        with open(os.path.join(root, ".git", "HEAD")) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def stop_spark(spark) -> None:
    """Stop Spark and wait for the Spark JVM and every Python worker."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
    _reap(timeout=30)


def _reap(timeout: float) -> None:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if not probes.descendants(os.getpid()):
            return
        time.sleep(0.2)
    for pid in probes.descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in probes.descendants(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def spark_env(root: str, work: str, event_log: bool) -> dict[str, str]:
    """Prepare this process to start Spark with every file it writes under
    ``work``; returns the extra Spark conf for ``get_spark``."""
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, d))
    # Spark's Python workers import the engine by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [root, os.path.join(root, "tools")]
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # The engine's 16g default lets G1 grow the heap to 1.8-4 GB from run
    # to run, which peak_rss_mb would report as noise; 2g keeps it steady
    # without changing GC pause time or spilling.
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file: the JVM would write it under /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if event_log:
        conf |= probes.event_log_conf(os.path.join(work, "eventlog"))
    return conf


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "indra_db_spark", "__init__.py")):
        print(f"run from the repository root: no indra_db_spark/ in {root}", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        contract = json.load(f)

    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    conf = spark_env(root, work, event_log=bool(args.trace))

    import pyspark

    from indra_db_spark.session import get_spark

    workload = importlib.import_module(WORKLOADS[args.workload])
    spark = None
    try:
        steal0 = probes.host_steal_s()
        with probes.RssSampler() as sampler:
            t0 = time.perf_counter()
            spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
            session_s = time.perf_counter() - t0
            b = Bench(spark, sampler, args, work)
            workload.run(b)
            if b.peak_rss_mb is None:
                b.peak_rss_at_measure_end()
            stop_spark(spark)
            spark = None
        if args.trace:
            groups = probes.reduce_event_log(
                probes.find_event_log(os.path.join(work, "eventlog"))
            )
            for finish in b.finishers:
                finish(groups)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e = {
        "setup_s": (statistics.median(b.setup_s), "s"),
        "pass_s": (statistics.median(b.spans.times["pass"]), "s"),
        "peak_rss_mb": (b.peak_rss_mb, "MB"),
    }
    b.extra["error_rate"] = (b.failed / b.attempted, "ratio")
    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "spark_driver_memory": os.environ["SPARK_DRIVER_MEM"],
        "pyspark": pyspark.__version__,
        "git_head": _git_head(root),
        "session_start_s": session_s,
        "host_steal_s": probes.host_steal_s() - steal0,
        **b.meta,
    }
    if args.trace:
        for name, (v, _) in e2e.items():
            b.layers[f"trace.{name}"] = v
        wanted = contract["per_layer"]
        active = ACTIVE[args.workload]
        missing = [m["name"] for m in wanted
                   if m["name"].startswith(active) and m["name"] not in b.layers]
        if missing:
            raise RuntimeError(f"per-layer metrics not measured: {missing}")
        metrics = {m["name"]: {"value": b.layers.get(m["name"], 0), "unit": m["unit"]}
                   for m in wanted}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in contract["end_to_end"]}

    print(json.dumps({"meta": meta}))
    for name, (v, unit) in {**e2e, **b.extra}.items():
        print(f"{args.workload} {name} = {v:.6g} {unit}")
    os.makedirs(os.path.join(root, ".perfbench_results"), exist_ok=True)
    record = os.path.join(
        root, ".perfbench_results",
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json",
    )
    with open(record, "w") as f:
        json.dump({"meta": meta, "end_to_end": e2e, "extra": b.extra,
                   "layers": b.layers, "spans": b.spans.times}, f, indent=1)
    print(json.dumps({"correct": b.correct, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

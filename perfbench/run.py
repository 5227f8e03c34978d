"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 8 --trace 0

Runs one workload from the root of a checkout on ``local[nproc]`` and
prints, as the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: every end-to-end
metric with ``--trace 0``, every per-layer metric with ``--trace 1``. The
host block goes to standard error; the full record (host block, raw
samples, spans) goes to ``.perfbench_out/<workload>-s<seed>-trace<k>.json``.
Exits non-zero when an output differs from the oracle.
"""

from __future__ import annotations

import os
import sys

# run as a script: import from the checkout root, not from this directory
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT

import argparse  # noqa: E402
import json  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402
from contextlib import contextmanager, nullcontext  # noqa: E402

SETUPS = 3  # set-ups per run; setup_s is their median

END_TO_END = {"throughput_per_s": "1/s", "latency_p50_ms": "ms", "read_p50_ms": "ms",
              "peak_rss_mb": "MB", "setup_s": "s"}

LAYER_METRICS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "cdc.lww.resolve_s": "s", "cdc.lww.jobs": "count",
    "cdc.lww.shuffle_write_bytes": "bytes", "cdc.lww.rows_in": "count",
    "cdc.lww.keys_out_per_row_in": "ratio",
    "functions.content.sha256_s": "s", "functions.content.rows_hashed": "count",
    "tables.snapshot_table.merge_s": "s", "tables.snapshot_table.merge_jobs": "count",
    "tables.snapshot_table.files_written": "count",
    "tables.snapshot_table.bytes_written_per_user_byte": "ratio",
    "tables.snapshot_table.delta_merge_s": "s",
    "tables.snapshot_table.delta_commits_pending": "count",
    "tables.snapshot_table.live_files": "count",
    "tables.snapshot_table.read_keys_pending_ms": "ms",
    "tables.snapshot_table.scan_pending_ms": "ms",
    "tables.snapshot_table.fold_s": "s",
    "tables.snapshot_table.read_keys_ms": "ms", "tables.snapshot_table.scan_ms": "ms",
    "cdc.replayer.replay_batch_s": "s", "cdc.replayer.jobs_per_commit": "count",
    "cdc.replayer.shuffle_write_bytes": "bytes", "cdc.replayer.input_bytes": "bytes",
    "streaming.replayer.add_batch_ms_p50": "ms",
    "streaming.replayer.engine_overhead_ms_p50": "ms",
    "streaming.replayer.latest_offset_ms_p50": "ms",
    "streaming.replayer.wal_commit_ms_p50": "ms",
    "streaming.replayer.trigger_ms_tail": "ms",
    "streaming.replayer.jobs_per_batch": "count",
    "streaming.replayer.rows_per_batch": "count",
    "unattributed_s": "s", "tracing_overhead_s": "s",
}


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def configure_env(work: str) -> None:
    """Spark settings for the host it runs on, through the package's env vars;
    every scratch path stays inside the checkout (an inherited
    ``SPARK_LOCAL_DIRS`` is overridden for that reason)."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    # get_spark defaults to 24g; a quarter of the host, at most 4g, leaves
    # room for the Python workers and the page cache
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM",
                          f"{max(1, min(4, int(_mem_total_gb() / 4)))}g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher included: no hsperfdata file in
    # the system temp directory, and temp files inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.tempdir}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


class Run:
    """State of one benchmark run: session, tracer, checks and metrics."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work = os.path.join(ROOT, ".perfbench_work")
        self.cache = os.path.join(ROOT, ".perfbench_cache")
        # tables of an earlier run are never read again
        shutil.rmtree(os.path.join(self.work, "tables"), ignore_errors=True)
        os.makedirs(self.cache, exist_ok=True)
        self.spark = None
        self.tracer = None
        self.tracing = False
        self._read_counters = None
        if trace:
            from perfbench.spans import Tracer

            self.tracer = Tracer(self._counters)
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.metrics: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.detail: dict = {}
        self.setup_s: list[float] = []

    # ---- spans
    def _counters(self) -> dict[str, int]:
        from perfbench.spans import spark_counters

        if self.spark is None:
            return {}
        if self._read_counters is None:
            self._read_counters = spark_counters(self.spark.sparkContext)
        return self._read_counters()

    def span(self, name: str):
        return self.tracer.span(name) if self.tracing else nullcontext()

    @contextmanager
    def traced(self, patches=()):
        """Spans on, with wrappers around the given package functions."""
        undo = [self.tracer.wrap(owner, attr, name) for owner, attr, name in patches]
        self.tracing = True
        try:
            yield
        finally:
            self.tracing = False
            for u in reversed(undo):
                u()

    # ---- session and set-up
    def _start_session(self) -> None:
        """The first set-up launches Spark (``get_spark``); later ones open
        a new SparkSession on the running context."""
        if self.spark is not None:
            self.spark = self.spark.newSession()
            return
        from nostr_data_pipeline_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.tracer is not None:
            # executor byte totals reach the status store on every task end
            conf["spark.ui.liveUpdate.period"] = "0"
        self.spark = get_spark("perfbench", extra_conf=conf)

    def setup(self, warm, repeats: int = 1) -> None:
        """Set up ``SETUPS`` times (session start, then ``warm`` called
        ``repeats`` times: warm-up and preload); ``setup_s`` is the median.
        The set-up spans are recorded, the spans of calls inside the warm-up
        are not (they would mix cold calls into the layer figures)."""
        span = self.tracer.span if self.tracer else (lambda _name: nullcontext())
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            with span("session.start"):
                self._start_session()
            with span("session.warmup"):
                for _ in range(repeats):
                    warm()
            self.setup_s.append(time.perf_counter() - t0)
        self.detail["warmup_iterations"] = SETUPS * repeats

    # ---- results
    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
            print(f"perfbench: oracle mismatch: {what}", file=sys.stderr)

    def peak_rss_mb(self) -> float:
        jvm = self.spark.sparkContext._jvm
        with open(f"/proc/{jvm.java.lang.ProcessHandle.current().pid()}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing from /proc status")

    def end_to_end(self) -> dict[str, dict]:
        from perfbench.spans import median

        m = dict(self.metrics, setup_s=median(self.setup_s), peak_rss_mb=self.peak_rss_mb())
        return {k: {"value": float(m[k]), "unit": u} for k, u in END_TO_END.items()}

    def layer_metrics(self) -> dict[str, dict]:
        """Every per-layer metric; a layer the workload does not call reads 0."""
        from perfbench.spans import median
        from perfbench.workloads import ANALYTICS_QUERIES

        L = dict(self.layer)
        starts = [s.duration for s in self.tracer.spans if s.name == "session.start"]
        L["session.start_s"] = starts[0]  # get_spark; later set-ups reuse its context
        L["session.warmup_s"] = median(
            [s.duration for s in self.tracer.spans if s.name == "session.warmup"])
        units = dict(LAYER_METRICS)
        for q in ANALYTICS_QUERIES:
            units[f"operators.{q}_s"] = "s"
            units[f"operators.{q}_jobs"] = "count"
        return {k: {"value": float(L.get(k, 0.0)), "unit": u} for k, u in units.items()}

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def host_block(spark) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        **{k: os.environ.get(k) for k in
           ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS")},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "nostr_data_pipeline_spark")):
        print("perfbench: run from a checkout of the repository "
              "(nostr_data_pipeline_spark/ not found)", file=sys.stderr)
        return 2
    from perfbench.spans import steal_s
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose one of {', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    configure_env(os.path.join(ROOT, ".perfbench_work"))

    load_before, steal_before = _loadavg(), steal_s()
    t_start = time.perf_counter()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        WORKLOADS[args.workload](run)
        metrics = run.layer_metrics() if args.trace else run.end_to_end()
        host = host_block(run.spark)
    finally:
        run.stop()
    host["loadavg_before"], host["loadavg_after"] = load_before, _loadavg()
    host["steal_s"] = steal_s() - steal_before
    print("perfbench host: " + json.dumps(host), file=sys.stderr)

    result = {"correct": run.failed == 0, "attempted": run.attempted,
              "failed": run.failed, "metrics": metrics}
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump({**result, "host": host, "setup_s": run.setup_s,
                   "wall_s": time.perf_counter() - t_start, "failures": run.failures,
                   "detail": run.detail,
                   "spans": run.tracer.to_json() if run.tracer else []}, f, default=str)
    print(json.dumps(result))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

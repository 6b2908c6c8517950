"""Layered benchmark of the ``BroadcastSpatialJoin`` transformer.

Run from the repository root::

    python3 perfbench/run.py --workload zones_within --seed 1 --seconds 10 --trace 0

One client drives the public transformer in a closed loop on
``local[<cores>]``: each operation starts after the previous one ended.
Inputs are generated from ``--seed`` (see ``workloads.py``) and every output
is checked against a plain-numpy oracle (``oracle.py``).

``--trace 0`` reports the end-to-end metrics with tracing off.  ``--trace 1``
alternates untraced and traced operations and reports the per-layer
metrics: build phase, Spark jobs/stages/tasks and plan-node metrics read
from Spark's status stores, the Arrow/Python-worker boundary, in-process
timings of the geodesic and geometry kernels, and peak memory.  Spans are
recorded in memory around the calls into each layer and written out at exit.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  The full record
(box, workload, samples, spans) goes to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager, nullcontext, suppress
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

import workloads

ROOT = Path.cwd()
OUT_DIR = ROOT / ".perfbench_out"
TMP_ROOT = ROOT / ".perfbench_tmp"

#: set-ups per run; ``setup_s`` is their median (the first one also
#: launches the JVM, the others restart the session inside it)
SETUP_REPS = 3
#: operations measured even when one outlasts ``--seconds``
MIN_OPS = 3
#: untimed (but checked) operations after set-up: the first operations in a
#: new session still run slower than the steady state
WARM_OPS = 2
#: driver heap: a quarter of RAM, at most 4 GiB (the JVM also needs
#: off-heap and the Python workers their own memory)
MAX_HEAP_MB = 4096

END_TO_END = {"setup_s": "s", "join_s_p50": "s", "rows_per_s": "1/s"}
PER_LAYER = {
    "transformer.build_s": "s", "transformer.build_jobs": "count",
    "spark.action_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.failed_tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.idle_core_s": "s",
    "join.candidate_rows": "count", "join.result_rows": "count",
    "join.refine_precision": "ratio", "join.broadcast_bytes": "bytes",
    "arrow.python_run_s": "s", "arrow.python_init_s": "s", "arrow.python_start_s": "s",
    "arrow.bytes_to_python": "bytes", "arrow.bytes_from_python": "bytes",
    "geodesic.vincenty_ns_per_pair": "ns", "geodesic.haversine_ns_per_pair": "ns",
    "geometry.parse_wkt_us_per_geom": "us", "geometry.pip_ns_per_pair": "ns",
    "mem.jvm_rss_peak_mb": "MB", "mem.driver_py_rss_peak_mb": "MB",
    "trace.join_s_p50": "s", "trace.untraced_join_s_p50": "s", "trace.overhead_ratio": "ratio",
}
#: which end-to-end metric each layer should move, and where (written into
#: the traced record so a later change can name the layer it moved)
LAYER_MOVES = {
    "transformer.*": "setup_s and join_s_p50 on nearest_global (broadcast-side collect); "
                     "zones_within builds without a job",
    "spark.shuffle_write_bytes, spark.spill_bytes": "join_s_p50 on zones_within",
    "spark.idle_core_s": "rows_per_s on both workloads",
    "join.*": "join_s_p50 on zones_within; 0 on nearest_global (no join node)",
    "arrow.python_run_s, arrow.bytes_*": "join_s_p50 on both workloads",
    "arrow.python_init_s, arrow.python_start_s": "setup_s and join_s_p50 on both workloads",
    "geodesic.*": "join_s_p50 on nearest_global, not on zones_within",
    "geometry.*": "join_s_p50 on zones_within, not on nearest_global",
    "mem.*": "shows work moved into broadcast or set-up",
}
#: plan nodes whose output rows are the join's candidate pairs
JOIN_NODES = {"BroadcastNestedLoopJoin", "BroadcastHashJoin", "SortMergeJoin",
              "ShuffledHashJoin", "CartesianProduct"}
#: SQL metric of the Python-evaluating nodes -> per-layer metric
PYTHON_METRICS = {
    "time to run Python workers": "arrow.python_run_s",
    "time to initialize Python workers": "arrow.python_init_s",
    "time to start Python workers": "arrow.python_start_s",
    "data sent to Python workers": "arrow.bytes_to_python",
    "data returned from Python workers": "arrow.bytes_from_python",
}


class Tracer:
    """In-memory spans (name, rep, start, end, parent); a no-op when off."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, rep=None):
        if not self.enabled:
            yield
            return
        parent = self._open[-1] if self._open else None
        if rep is None and parent is not None:
            rep = self.spans[parent]["rep"]
        self.spans.append({"name": name, "rep": rep, "parent": parent,
                           "start": time.perf_counter(), "end": None})
        self._open.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self.spans[self._open.pop()]["end"] = time.perf_counter()

    def self_seconds(self) -> dict:
        """Per span name: total duration minus the time its children cover."""
        out: dict[str, float] = {}
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp["parent"] is not None:
                child[sp["parent"]] += sp["end"] - sp["start"]
        for i, sp in enumerate(self.spans):
            out[sp["name"]] = out.get(sp["name"], 0.0) + sp["end"] - sp["start"] - child[i]
        return out


@dataclass
class Op:
    join_s: float
    build_s: float
    action_s: float
    columns: dict = field(repr=False)


def driver_heap_mb() -> int:
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return min(MAX_HEAP_MB, total_kb // 4096)


def start_session(cores: int, tmp: Path, heap_mb: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.driver.memory", f"{heap_mb}m")
        # no hsperfdata file in the system temp dir: the run writes only in its checkout
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp / 'java'} -XX:-UsePerfData")
        .config("spark.local.dir", str(tmp / "local"))
        .config("spark.sql.warehouse.dir", str(tmp / "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers it started, and
    wait for each to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _children(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)


def _children(pid: int) -> list[int]:
    out = []
    for task in Path(f"/proc/{pid}/task").glob("*/children"):
        out.extend(int(p) for p in task.read_text().split())
    return out


def clear_between_ops(spark) -> None:
    """Outside the timed region: drop cached data and let Spark's context
    cleaner remove the previous operation's shuffle files, broadcasts and
    local checkpoints (they go once no reference is left)."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run_op(spark, join, inp, tracer: Tracer, groups=None) -> Op:
    """One operation: ``transform()`` and ``toArrow()`` of its result, so the
    whole output reaches the driver and can be checked.  Result columns are
    converted after the clock stops."""
    sc = spark.sparkContext
    if groups:
        sc.setJobGroup(groups[0], "transform")
    with tracer.span("transform"):
        t0 = time.perf_counter()
        df = join.transform(inp)
        t1 = time.perf_counter()
    if groups:
        sc.setJobGroup(groups[1], "action")
    with tracer.span("action"):
        result = df.toArrow()
        t2 = time.perf_counter()
    if groups:
        sc.setLocalProperty("spark.jobGroup.id", None)
    columns = {n: result.column(n).to_numpy() for n in result.column_names}
    return Op(join_s=t2 - t0, build_s=t1 - t0, action_s=t2 - t1, columns=columns)


def layer_values(op: Op, reader, groups, cores: int) -> dict:
    build = reader.stage_totals(groups[:1])
    total = reader.stage_totals(groups)
    nodes = reader.sql_nodes(total.job_ids)
    candidates = sum(m.get("number of output rows", 0.0) for n, m in nodes if n in JOIN_NODES)
    result_rows = len(next(iter(op.columns.values())))
    out = {
        "transformer.build_s": op.build_s,
        "transformer.build_jobs": build.jobs,
        "spark.action_s": op.action_s,
        "spark.jobs": total.jobs, "spark.stages": total.stages, "spark.tasks": total.tasks,
        "spark.failed_tasks": total.failed_tasks,
        "spark.task_run_s": total.task_run_s, "spark.task_cpu_s": total.task_cpu_s,
        "spark.gc_s": total.gc_s,
        "spark.shuffle_write_bytes": total.shuffle_write_bytes,
        "spark.spill_bytes": total.spill_bytes,
        "spark.idle_core_s": cores * op.join_s - total.task_run_s,
        "join.candidate_rows": candidates,
        "join.result_rows": result_rows,
        # no join node (the kNN kernel pairs rows in-process): reported as 0
        "join.refine_precision": result_rows / candidates if candidates else 0.0,
        "join.broadcast_bytes": sum(m.get("data size", 0.0) for n, m in nodes
                                    if n == "BroadcastExchange"),
    }
    for metric in PYTHON_METRICS.values():
        out[metric] = 0.0
    for _, m in nodes:
        for sql_name, metric in PYTHON_METRICS.items():
            out[metric] += m.get(sql_name, 0.0)
    return out


def _median_seconds(fn, repeats: int = 3, budget_s: float = 1.0) -> float:
    """Median of up to ``repeats`` timings; stops early once ``budget_s`` is spent."""
    times = []
    while len(times) < repeats and sum(times) < budget_s:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kernel_values(case, tracer: Tracer) -> dict:
    """In-process, single-thread timings of the kernels the UDFs run, over
    the workload's own sample (median of up to three)."""
    from spark_ml_spatialjointransformer_spark.functions import geodesic, geometry

    sample = case.kernel_sample()
    lon1, lat1, lon2, lat2 = sample.pairs
    n_pairs = len(lon1)
    with tracer.span("kernel.geodesic", rep="kernels"):
        vincenty = _median_seconds(lambda: geodesic.vincenty_np(lon1, lat1, lon2, lat2))
        haversine = _median_seconds(lambda: geodesic.haversine_np(lon1, lat1, lon2, lat2))
    with tracer.span("kernel.geometry", rep="kernels"):
        parse = _median_seconds(lambda: [geometry.parse_wkt(w) for w in sample.zone_wkt])
        geoms = [geometry.parse_wkt(w) for w in sample.zone_wkt]
        px, py, zone = sample.pip
        order = np.argsort(zone, kind="stable")
        zones, starts = np.unique(zone[order], return_index=True)
        groups = [(geoms[z], order[s:e]) for z, s, e in
                  zip(zones, starts, list(starts[1:]) + [len(order)])]

        def pip():
            for g, idx in groups:
                geometry.point_in_polygon_np(px[idx], py[idx], g)

        pip_s = _median_seconds(pip)
    return {
        "geodesic.vincenty_ns_per_pair": vincenty / n_pairs * 1e9,
        "geodesic.haversine_ns_per_pair": haversine / n_pairs * 1e9,
        "geometry.parse_wkt_us_per_geom": parse / len(sample.zone_wkt) * 1e6,
        "geometry.pip_ns_per_pair": pip_s / max(len(px), 1) * 1e9,
    }


def memory_values(spark) -> dict:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = int(next(line for line in f if line.startswith("VmHWM")).split()[1])
    return {
        "mem.jvm_rss_peak_mb": hwm_kb / 1024.0,
        "mem.driver_py_rss_peak_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
    }


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of all CPUs: steal is time the hypervisor ran
    someone else while this machine had work, a cause of run-to-run noise."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


def git_sha() -> str | None:
    if not (ROOT / ".git").exists():  # an exported checkout: no history to name
        return None
    try:
        done = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return done.stdout.strip() or None


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Bench:
    def __init__(self, args, join_cls):
        self.args = args
        self.join_cls = join_cls
        self.cores = len(os.sched_getaffinity(0))
        self.heap_mb = driver_heap_mb()
        self.tracer = Tracer(bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.spark = None

    def check(self, case, op_idx: int, op: Op | None) -> None:
        self.attempted += 1
        problems = ["operation raised"] if op is None else case.check(op.columns)
        if problems:
            self.failed += 1
            self.problems.extend(f"op {op_idx}: {p}" for p in problems[:3])

    def attempt(self, case, join, inp, op_idx: int, groups=None) -> Op | None:
        """One measured operation; only traced ones (``groups`` set) record spans."""
        tracer = self.tracer if groups else Tracer(False)
        try:
            op = run_op(self.spark, join, inp, tracer, groups)
        except Exception:  # a failed operation is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            op = None
        with tracer.span("check"):
            self.check(case, op_idx, op)
        return op

    def setup(self, tmp: Path):
        """Session (re)start, input generation, view registration and one
        warm-up operation; repeated, and timed each time."""
        times, first = [], None
        for i in range(SETUP_REPS):
            with self.tracer.span("setup", rep=f"setup{i}"):
                t0 = time.perf_counter()
                if self.spark is not None:
                    self.spark.stop()
                with self.tracer.span("setup.session"):
                    self.spark = start_session(self.cores, tmp, self.heap_mb)
                with self.tracer.span("setup.register"):
                    case = workloads.make(self.args.workload, self.args.seed)
                    first = first or case  # same seed, same inputs: keep one oracle
                    self.spark.createDataFrame(case.dataset).createOrReplaceTempView(
                        case.params["dataset"])
                    inp = self.spark.createDataFrame(case.input)
                    join = self.join_cls(**case.params)
                with self.tracer.span("setup.warmup"):
                    warm = run_op(self.spark, join, inp, self.tracer)
                times.append(time.perf_counter() - t0)
                with self.tracer.span("check"):
                    self.check(first, 0, warm)
        return first, join, inp, times

    def measure(self, case, join, inp):
        """Closed loop for ``--seconds``.  With tracing, operations go
        untraced, traced, traced, untraced, ... so each kind follows each kind
        equally often; traced ones set job groups, record spans and read the
        status stores."""
        untraced, traced, layers = [], [], []
        reader = None
        if self.args.trace:
            from status import StatusReader
            reader = StatusReader(self.spark)
        for _ in range(WARM_OPS):
            clear_between_ops(self.spark)
            self.attempt(case, join, inp, 0)
        deadline = time.perf_counter() + self.args.seconds
        op_idx = 1
        min_ops = 2 * MIN_OPS if self.args.trace else MIN_OPS
        while time.perf_counter() < deadline or op_idx <= min_ops:
            clear_between_ops(self.spark)
            is_traced = self.args.trace and op_idx % 4 in (2, 3)
            groups = (f"op{op_idx}.build", f"op{op_idx}.action") if is_traced else None
            with self.tracer.span("op", rep=op_idx) if is_traced else nullcontext():
                op = self.attempt(case, join, inp, op_idx, groups)
                if op is not None and is_traced:
                    with self.tracer.span("status.read"):
                        reader.drain()
                        layers.append(layer_values(op, reader, groups, self.cores))
            if op is not None:
                (traced if is_traced else untraced).append(op)
            op_idx += 1
        return untraced, traced, layers

    def run(self) -> int:
        args = self.args
        tmp = TMP_ROOT / str(os.getpid())
        for sub in ("java", "local", "py"):
            (tmp / sub).mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(tmp / "py")
        tempfile.tempdir = None
        load_start, ticks_start = os.getloadavg(), cpu_ticks()
        try:
            case, join, inp, setup_times = self.setup(tmp)
            untraced, traced, layers = self.measure(case, join, inp)
            if not untraced or (args.trace and not layers):
                print("perfbench: no operation succeeded", file=sys.stderr)
                return 1
            kernels = kernel_values(case, self.tracer) if args.trace else {}
            memory = memory_values(self.spark) if args.trace else {}
            spark_version = self.spark.version
        finally:
            if self.spark is not None:
                stop_spark(self.spark)
            shutil.rmtree(tmp, ignore_errors=True)
            with suppress(OSError):  # still in use by a concurrent run
                TMP_ROOT.rmdir()

        ticks = cpu_ticks()
        join_p50 = statistics.median(op.join_s for op in untraced)
        if args.trace:
            metrics = {k: statistics.median(v[k] for v in layers) for k in layers[0]}
            metrics.update(kernels)
            metrics.update(memory)
            traced_p50 = statistics.median(op.join_s for op in traced)
            metrics.update({"trace.join_s_p50": traced_p50, "trace.untraced_join_s_p50": join_p50,
                            "trace.overhead_ratio": traced_p50 / join_p50})
            units = PER_LAYER
        else:
            metrics = {"setup_s": statistics.median(setup_times), "join_s_p50": join_p50,
                       "rows_per_s": len(case.input) / join_p50}
            units = END_TO_END
        record = {
            "workload": {"name": case.name, **case.info, "params": case.params,
                         "inputs": case.props()},
            "box": {"cores": self.cores, "driver_heap_mb": self.heap_mb,
                    "spark_version": spark_version, "git_sha": git_sha(),
                    "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
                    "cpu_steal_frac": (ticks[1] - ticks_start[1]) / (ticks[0] - ticks_start[0])},
            "run": {"seed": args.seed, "seconds": args.seconds, "trace": args.trace,
                    "loop": "closed, one client", "setup_s": setup_times,
                    "join_s": [op.join_s for op in untraced],
                    "build_s": [op.build_s for op in untraced],
                    "traced_join_s": [op.join_s for op in traced]},
            "correctness": {"attempted": self.attempted, "failed": self.failed,
                            "fail_frac": self.failed / self.attempted,
                            "problems": self.problems[:20]},
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        if args.trace:
            record["layers"] = {"per_op": layers, "expected_moves": LAYER_MOVES,
                                "self_seconds": self.tracer.self_seconds(),
                                "spans": self.tracer.spans}
        OUT_DIR.mkdir(exist_ok=True)
        out_file = OUT_DIR / f"{case.name}-seed{args.seed}-trace{args.trace}.json"
        out_file.write_text(json.dumps(record, indent=1, default=float))

        for k, v in metrics.items():
            print(f"{case.name:20s} {k:34s} {v:16.6f} {units[k]}")
        print(f"{case.name:20s} {'fail_frac':34s} {self.failed}/{self.attempted} ops  (samples: "
              f"{len(untraced)} untraced, {len(traced)} traced; record {out_file.name})")
        print(json.dumps({"correct": self.failed == 0, "attempted": self.attempted,
                          "failed": self.failed,
                          "metrics": {k: {"value": v, "unit": units[k]}
                                      for k, v in metrics.items()}}))
        return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its temp files (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, str(ROOT))
    try:
        from spark_ml_spatialjointransformer_spark import BroadcastSpatialJoin
    except ImportError as e:
        print(f"perfbench: the package under test is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    return Bench(args, BroadcastSpatialJoin).run()


if __name__ == "__main__":
    sys.exit(main())

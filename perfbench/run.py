"""Benchmark of the route-analytics engine: the paper's route DAG and the
corpus near-dup and ANN funnels, measured end to end and per layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It finds the package next to ``perfbench/``, so it runs from any working
directory. One process, one client, one Spark session on
``local[nproc]``: a closed loop in which each pass's jobs run back to
back. A run

1. generates the workload's inputs from ``--seed`` in a child process
   (``bench.gen_s``) and, for suite workloads, computes each query's
   DuckDB oracle result there (``bench.oracle_s``), so neither touches
   the measured driver's memory nor overlaps a measurement;
2. sets up twice as a user does: import pyspark and the package,
   launch the JVM through ``get_spark`` and run ``suite.load_all``.
   The first set-up runs in the input child before it generates
   anything, and is torn down; the second is this process's own
   session. ``setup_s`` is their median;
3. runs one cold pass (``cold_pass_s``), then the warm passes that fit
   in ``--seconds`` (at least one) and reports their median wall time as ``pass_s`` and
   median CPU time as ``pass_cpu_s``; peak resident memory is printed
   but not bounded (see ``perfbench/README.md``);
4. checks every operation's output: suite queries against their oracle
   rows, DAG passes against the stage-key invariants and the first
   pass's content hash. A raised exception or a failed check counts as
   a failed operation and the run goes on;
5. ends every process it started, directly or not, and waits for each
   before it exits: it is the child subreaper of its process tree, so
   Spark's Python daemon and workers, which outlive the JVM that started
   them by a moment, are handed to it and reaped.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a separate traced
run (see ``perfbench/README.md``). Everything the run writes stays under
``.bench_out/`` in the repository root.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import inspect
import json
import os
import pickle
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass
from pathlib import Path
from statistics import median

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import gen  # noqa: E402

PACKAGE = "bigdatabowl2024_25_spark"
CORPUS_QUERIES = ("q74_near_dup_clusters", "q82_ann_lsh_topk")

#: input sizes, chosen to fit the run budget (see README.md)
CORPUS_SF = 0.005
BDB_PLAYS = 2
BDB_DENSITY = 100.0

STAGES = tuple(check.DAG_KEYS)

#: public functions the traced run wraps in spans ("module:function" ->
#: span name; the span name's first part is the layer)
TRACE_TARGETS = {
    f"{PACKAGE}.pipelines.openness_prep:build_cleaned_player_data": "pipelines.build_cleaned_player_data",
    f"{PACKAGE}.pipelines.radius_stage:build_radius_data": "pipelines.build_radius_data",
    f"{PACKAGE}.pipelines.read_order:reads_data": "pipelines.reads_data",
    f"{PACKAGE}.pipelines.read_order:seconds_data": "pipelines.seconds_data",
    f"{PACKAGE}.pipelines.read_order:dropback_timing": "pipelines.dropback_timing",
    f"{PACKAGE}.pipelines.qb_stats:play_reads": "pipelines.play_reads",
    f"{PACKAGE}.pipelines.qb_stats:press_data": "pipelines.press_data",
    f"{PACKAGE}.pipelines.matchup:route_trees": "pipelines.route_trees",
    f"{PACKAGE}.pipelines.matchup:matchup_counts": "pipelines.matchup_counts",
    f"{PACKAGE}.functions.kernels:score_openness": "kernels.score_openness",
    f"{PACKAGE}.sources.io:write_table": "io.write_table",
    f"{PACKAGE}.operators.dedup:lsh_candidates": "dedup.lsh_candidates",
    f"{PACKAGE}.operators.dedup:jaccard_pairs": "dedup.jaccard_pairs",
    f"{PACKAGE}.operators.components:connected_components": "components.connected_components",
    f"{PACKAGE}.operators.similarity:lsh_topk": "similarity.lsh_topk",
}

SELF_LAYERS = ("pass", "suite", "pipelines", "io", "kernels", "dedup", "similarity",
               "components")
ENGINE_KEYS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.python_gap_s", "spark.gc_s",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
)


def _unit(name: str) -> str:
    if name.endswith("rows_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_yield"):
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, on every workload
    (0 where the workload does not use the layer)."""
    names = ["session.import_s", "session.get_spark_s", "suite.load_all_s",
             "suite.construct_s", "suite.collect_s", "suite.construct_jobs"]
    for q in CORPUS_QUERIES:
        names += [f"suite.{q}.construct_s", f"suite.{q}.collect_s"]
    names += [f"pipelines.{s}_s" for s in STAGES]
    names += ["kernels.score_openness_s", "kernels.rows_per_s",
              "io.write_table_s", "io.files_written", "io.bytes_written_mb", "io.scan_mb",
              "dedup.candidates", "dedup.verified", "dedup.verify_yield",
              "similarity.candidates", "similarity.verified", "similarity.verify_yield",
              "components.connected_components_s"]
    names += list(ENGINE_KEYS)
    names += ["storage.retained_mb", "storage.cached_rdds", "memory.peak_rss_mb"]
    names += [f"self.{layer}_s" for layer in SELF_LAYERS]
    names += ["trace.pass_traced_s", "trace.pass_untraced_s", "trace.overhead_s",
              "bench.gen_s", "bench.oracle_s"]
    return names


# ------------------------------------------------------------ workloads


@dataclass
class Op:
    """One timed operation: a suite query, or one `run_dag` call."""

    name: str
    construct_s: float = 0.0
    collect_s: float = 0.0
    output: object = None
    error: str | None = None


@dataclass
class Pass:
    seconds: float  # the operations' time, without their output checks
    ops: list[Op]
    cpu_s: float = 0.0  # CPU time of the process tree over the operations
    start: float = 0.0  # epoch seconds, for event-log windows
    end: float = 0.0


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, user + system CPU ticks including reaped children)
    of every process on the machine."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process exited meanwhile
                continue
            # after the command name: ppid is field 1, utime..cstime 11..14
            stats[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return stats


def _descendants(stats: dict[int, tuple[int, int]]) -> set[int]:
    tree, grew = {os.getpid()}, True
    while grew:
        kids = {p for p, (ppid, _) in stats.items() if ppid in tree} - tree
        tree |= kids
        grew = bool(kids)
    return tree - {os.getpid()}


def _tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every live
    descendant (the driver JVM, Spark's Python workers), including the
    children each has reaped. Time the host steals from the VM is not
    in it."""
    stats = _proc_table()
    tree = _descendants(stats) | {os.getpid()}
    return sum(stats[p][1] for p in tree if p in stats) / os.sysconf("SC_CLK_TCK")


def _become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process, so that
    `_end_descendants` can wait for them (Linux PR_SET_CHILD_SUBREAPER)."""
    if ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _end_descendants() -> None:
    """Wait for every descendant process to exit and reap it; kill those
    still alive after 15 s. Spark's Python daemon exits when the JVM that
    started it has gone, and its workers when the daemon tells them to."""
    start, killed = time.monotonic(), False
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:  # no children left
            pass
        left = _descendants(_proc_table())
        if not left:
            return
        waited = time.monotonic() - start
        if waited > 45:
            raise RuntimeError(f"processes {sorted(left)} did not exit")
        if waited > 15 and not killed:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
        time.sleep(0.05)


def _nospan(name):
    return nullcontext()


class Workload:
    """Inputs, timed operations and output checks of one workload."""

    name = why = ""
    queries: tuple[str, ...] = ()

    def __init__(self) -> None:
        self.state: dict = {}

    def prepare(self, seed: int, data_dir: Path) -> dict:
        """Write the inputs (and compute oracles); runs in a child process."""
        raise NotImplementedError

    def bind(self, spark, data_dir: Path, inputs: dict, work: Path) -> None:
        self.state.update(spark=spark, data_dir=data_dir, inputs=inputs, work=work)

    def run_pass(self, n: int, tracer=None) -> Pass:
        """Run the workload's operations back to back, then check them."""
        span = tracer.span if tracer else _nospan
        start, cpu0 = time.time(), _tree_cpu_s()
        with span("pass"):
            ops = self._ops(n, span)
        end, cpu = time.time(), _tree_cpu_s() - cpu0
        for op in ops:
            if op.error is None:
                try:
                    op.error = self._check(op)
                except Exception:  # noqa: BLE001 — a failed check is counted, not fatal
                    op.error = traceback.format_exc(limit=3)
            op.output = None
        return Pass(sum(op.construct_s + op.collect_s for op in ops), ops, cpu, start, end)

    def _ops(self, n: int, span) -> list[Op]:
        raise NotImplementedError

    def _check(self, op: Op) -> str | None:
        raise NotImplementedError

    def cleanup(self, n: int) -> None:
        pass


class QueryWorkload(Workload):
    """Suite queries over generated suite tables, each checked against
    its DuckDB oracle."""

    name = "corpus_dedup"
    why = ("banded MinHash near-dup funnel, connected components, graph ranks, eager "
           "lineage cuts, and the hyperplane-LSH and random-projection ANN funnels")
    queries = CORPUS_QUERIES

    def prepare(self, seed: int, data_dir: Path) -> dict:
        from bigdatabowl2024_25_spark import suite

        t0 = time.perf_counter()
        sizes = gen.write_corpus(data_dir, seed, CORPUS_SF)
        t1 = time.perf_counter()
        suite.load_all()
        oracle = check.oracle_results(
            {q: suite.ORACLE[q] for q in self.queries}, str(data_dir), gen.CORPUS_TABLES
        )
        return {"sizes": sizes, "oracle": oracle, "gen_s": t1 - t0,
                "oracle_s": time.perf_counter() - t1}

    def _ops(self, n: int, span) -> list[Op]:
        from bigdatabowl2024_25_spark import suite

        ops = []
        for q in self.queries:
            op = Op(q)
            try:
                t0 = time.perf_counter()
                with span(f"suite.{q}.construct"):
                    df = suite.QUERIES[q](self.state["spark"], str(self.state["data_dir"]))
                t1 = time.perf_counter()
                with span(f"suite.{q}.collect"):
                    rows = df.collect()
                op.construct_s, op.collect_s = t1 - t0, time.perf_counter() - t1
                op.output = (df.columns, rows)
            except Exception:  # noqa: BLE001 — one failing query must not end the run
                op.error = traceback.format_exc(limit=3)
            ops.append(op)
        return ops

    def _check(self, op: Op) -> str | None:
        return check.mismatch(check.canonical(*op.output), self.state["inputs"]["oracle"][op.name])


class DagWorkload(Workload):
    """`pipelines.dag.run_dag` over generated BDB tables, checked for
    stage keys and pass-to-pass stable content."""

    name = "bdb_routes"
    why = "the paper's route DAG: Monte-Carlo openness kernel in Python workers and seven parquet stage tables"

    def prepare(self, seed: int, data_dir: Path) -> dict:
        t0 = time.perf_counter()
        sizes = gen.write_bdb(data_dir, seed, BDB_PLAYS)
        return {"sizes": sizes, "gen_s": time.perf_counter() - t0, "oracle_s": 0.0}

    def bind(self, spark, data_dir: Path, inputs: dict, work: Path) -> None:
        from bigdatabowl2024_25_spark import schemas

        super().bind(spark, data_dir, inputs, work)
        self.state["tables"] = {
            t: spark.read.schema(s).parquet(str(data_dir / f"{t}.parquet"))
            for t, s in schemas.BASE_TABLES.items()
        }

    def stage_dir(self, n: int) -> Path:
        return self.state["work"] / "stages" / f"p{n}"

    def _ops(self, n: int, span) -> list[Op]:
        from bigdatabowl2024_25_spark.pipelines.dag import run_dag

        op = Op("run_dag")
        try:
            t0 = time.perf_counter()
            with span("pipelines.run_dag"):
                op.output = run_dag(self.state["spark"], self.state["tables"],
                                    str(self.stage_dir(n)), density=BDB_DENSITY)
            op.collect_s = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 — a failed pass is counted, not fatal
            op.error = traceback.format_exc(limit=3)
        return [op]

    def _check(self, op: Op) -> str | None:
        results = {k: check.canonical(df.columns, df.collect()) for k, df in op.output.items()}
        problems = check.dag_problems(results)
        # the kernel seeds its RNG by row identity: every pass must write
        # the same stage content
        content = check.digest(sorted(results.items()))
        if content != self.state.setdefault("dag_digest", content):
            problems.append("stage content differs from the first pass")
        return "; ".join(problems) or None

    def cleanup(self, n: int) -> None:
        shutil.rmtree(self.stage_dir(n), ignore_errors=True)


WORKLOADS = {w.name: w for w in (DagWorkload(), QueryWorkload())}


def input_child(args, work: Path) -> int:
    """The input child process (``--input-child <run dir>``): one set-up
    in a fresh interpreter, torn down before the inputs are made, then
    the inputs, pickled to ``inputs.pickle`` in the run directory. It
    inherits the parent's environment."""
    w = WORKLOADS[args.workload]
    spark, setup = _setup(f"perfbench-{w.name}", _extra_conf(args, work))
    _shutdown(spark)
    inputs = w.prepare(args.seed, work / "data")
    with open(work / "inputs.pickle", "wb") as f:
        pickle.dump((setup, inputs), f)
    return 0


# ------------------------------------------------------------ session


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory so far of the driver JVM and of this process."""
    return _vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid()), _vm_hwm_mb("self")


def _setup(app: str, extra_conf: dict) -> tuple[object, dict]:
    """One set-up in a process that has not yet imported pyspark."""
    t0 = time.perf_counter()
    from bigdatabowl2024_25_spark import suite
    from bigdatabowl2024_25_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark(app_name=app, extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    suite.load_all()
    t3 = time.perf_counter()
    return spark, {"import_s": t1 - t0, "get_spark_s": t2 - t1, "load_all_s": t3 - t2,
                   "setup_s": t3 - t0}


def _shutdown(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it.
    Calling it again after the JVM has exited does nothing."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    try:
        spark.stop()  # fails when a signal broke off a py4j call
    finally:
        gateway.close()  # no py4j call may race the JVM's exit
        SparkContext._gateway = SparkContext._jvm = None
        proc = gateway.proc
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _storage(spark) -> tuple[float, int]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    held = [i for i in infos if i.numCachedPartitions() > 0]
    return sum(i.memSize() + i.diskSize() for i in held) / 1e6, len(held)


# ------------------------------------------------------------ stamps


def _steal_s() -> float:
    """CPU time the hypervisor has taken from this machine's CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _stamp(root: Path, nproc: int) -> dict:
    try:
        commit = subprocess.run(
            ["git", "-C", str(root), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha256()
    for p in sorted((root / PACKAGE).rglob("*.py")):
        h.update(p.relative_to(root).as_posix().encode())
        h.update(p.read_bytes())
    return {
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "git_commit": commit,
        "package_sha256": h.hexdigest()[:16],
        "loadavg_start": [round(x, 2) for x in os.getloadavg()],
        "steal_start_s": _steal_s(),
    }


# ------------------------------------------------------------ main


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--input-child", type=Path, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.input_child:
        sys.path.insert(0, str(ROOT))
        return input_child(args, args.input_child)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"error: {PACKAGE}/ not found in {ROOT}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    work = ROOT / ".bench_out" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    data_dir = work / "data"
    for d in (data_dir, work / "tmp", work / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    # Spark's Python workers import the package from the repository root
    # whatever the working directory; temp and shuffle files stay in the run dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, str(ROOT))
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    _become_subreaper()
    # a SIGTERM unwinds through the finally blocks, which end the processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    stamp = _stamp(ROOT, nproc)
    try:
        result = run(args, WORKLOADS[args.workload], work, data_dir, stamp)
    finally:
        try:
            _end_descendants()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    stamp["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    # a slow host shows here: steal is time the CPUs ran another guest
    stamp["cpu_steal_s"] = round(_steal_s() - stamp.pop("steal_start_s"), 2)
    print("stamp " + json.dumps(stamp))
    print(json.dumps(result))
    return 0


def _extra_conf(args, work: Path) -> dict:
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    }
    if args.trace:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "true",
            "spark.eventLog.compression.codec": "zstd",
        })
    return extra


def run(args, w: Workload, work: Path, data_dir: Path, stamp: dict) -> dict:
    if args.trace:
        (work / "eventlog").mkdir()
    spark = None
    try:
        subprocess.run(
            [sys.executable, str(Path(__file__).resolve()), "--workload", w.name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace), "--input-child", str(work)],
            check=True, stdout=sys.stderr,
        )
        with open(work / "inputs.pickle", "rb") as f:
            first, inputs = pickle.load(f)
        print(f"inputs {json.dumps(inputs['sizes'])}")
        spark, second = _setup(f"perfbench-{w.name}", _extra_conf(args, work))
        setups = [first, second]
        w.bind(spark, data_dir, inputs, work)
        if args.trace:
            return traced(args, w, spark, setups, inputs, stamp, work)
        return timed(args, w, spark, setups, inputs)
    finally:
        if spark is not None:
            _shutdown(spark)


def _loop(args, w: Workload, run_pass=None, min_passes: int = 1) -> tuple[Pass, list[Pass]]:
    """Cold pass, then the warm passes that fit in --seconds (at least
    ``min_passes``).

    A warm pass starts only if, as long as the last one, it would end by
    the deadline. Starting one whenever time is left would give a run one
    or two passes by whether a pass ends just before or after the
    deadline, and the median of two, the second faster as the JIT warms
    up, sits apart from a single pass."""
    cold = w.run_pass(0)
    w.cleanup(0)
    warm, n = [], 1
    deadline = time.perf_counter() + args.seconds
    while len(warm) < min_passes or time.perf_counter() + warm[-1].seconds <= deadline:
        warm.append(run_pass(n) if run_pass else w.run_pass(n))
        w.cleanup(n)
        n += 1
    return cold, warm


def _errors(passes: list[Pass]) -> tuple[int, int]:
    ops = [op for p in passes for op in p.ops]
    for op in ops:
        if op.error:
            print(f"FAILED {op.name}: {op.error.strip()}", file=sys.stderr)
    return len(ops), sum(1 for op in ops if op.error)


def timed(args, w: Workload, spark, setups, inputs) -> dict:
    cold, warm = _loop(args, w)
    jvm_mb, py_mb = _peak_rss_mb(spark)
    attempted, failed = _errors([cold] + warm)
    m = {
        "setup_s": median(s["setup_s"] for s in setups),
        "cold_pass_s": cold.seconds,
        "pass_s": median(p.seconds for p in warm),
        "pass_cpu_s": median(p.cpu_s for p in warm),
    }

    def listed(xs):
        return ", ".join(f"{x:.2f}" for x in xs)

    print(f"workload {w.name} seed {args.seed}: {w.why}")
    print(f"  setup_s      {m['setup_s']:9.3f} s   median of {len(setups)} set-ups "
          f"({listed(s['setup_s'] for s in setups)})")
    print(f"  cold_pass_s  {m['cold_pass_s']:9.3f} s   1 sample")
    print(f"  pass_s       {m['pass_s']:9.3f} s   median of {len(warm)} warm passes "
          f"({listed(p.seconds for p in warm)})")
    print(f"  pass_cpu_s   {m['pass_cpu_s']:9.3f} s   median of {len(warm)} warm passes "
          f"({listed(p.cpu_s for p in warm)}), CPU time of the process tree")
    # not a bounded metric: the driver JVM's heap follows G1's sizing
    # decisions, which spread it across runs by more than any allowed bound
    print(f"  peak_rss_mb  {jvm_mb + py_mb:9.1f} MB  1 sample "
          f"(driver JVM {jvm_mb:.0f} + python {py_mb:.0f}; reported, not bounded)")
    print(f"  error_rate   {failed / attempted:9.3f}     {failed} failed of {attempted} operations")
    print(f"  bench.gen_s {inputs['gen_s']:.2f} s, bench.oracle_s {inputs['oracle_s']:.2f} s "
          "(not in setup_s)")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in m.items()},
    }


def _path_arg(args, kwargs) -> Path:
    """The ``path`` argument of a `sources.io.write_table` call."""
    return Path(kwargs["path"] if "path" in kwargs else args[1])


def traced(args, w: Workload, spark, setups, inputs, stamp, work: Path) -> dict:
    from bigdatabowl2024_25_spark.functions import kernels
    from bigdatabowl2024_25_spark.operators import similarity
    from tracing import (
        Patches,
        Tracer,
        engine_metrics,
        jobs_within,
        median_of,
        read_event_log,
        self_times,
    )

    tracer = Tracer()
    patches = Patches(tracer, PACKAGE, TRACE_TARGETS)
    traced_passes: list[Pass] = []
    untraced: list[Pass] = []
    layer: dict[str, float] = {}

    def counts(span_name):
        return sum(out.count() for *_, out in patches.calls.get(span_name, []))

    def after_traced() -> None:
        # funnel counts and the isolated kernel re-run read this pass's
        # own inputs, after its timing ended; storage is read first, so
        # the re-runs' own checkpoints do not count
        layer["storage.retained_mb"], layer["storage.cached_rdds"] = _storage(spark)
        calls = patches.calls
        cand, ver = counts("dedup.lsh_candidates"), counts("dedup.jaccard_pairs")
        layer.update({"dedup.candidates": cand, "dedup.verified": ver,
                      "dedup.verify_yield": ver / cand if cand else 0.0})
        # the ANN funnel's candidates, every bucket-colliding pair it
        # scores exactly: the same call with no top-k cut
        ver = counts("similarity.lsh_topk")
        cand = 0
        for _, a, k, _ in calls.get("similarity.lsh_topk", []):
            bound = inspect.signature(similarity.lsh_topk).bind(*a, **k)
            bound.arguments["k"] = sys.maxsize
            cand += similarity.lsh_topk(*bound.args, **bound.kwargs).count()
        layer.update({"similarity.candidates": cand, "similarity.verified": ver,
                      "similarity.verify_yield": ver / cand if cand else 0.0})
        k_s = k_rows = 0.0
        for _, a, k, _ in calls.get("kernels.score_openness", []):
            t0 = time.perf_counter()
            k_rows += kernels.score_openness(*a, **k).count()
            k_s += time.perf_counter() - t0
        layer.update({"kernels.score_openness_s": k_s,
                      "kernels.rows_per_s": k_rows / k_s if k_s else 0.0})
        files = size = 0
        write_s = {}
        for rec, a, k, _ in calls.get("io.write_table", []):
            path = _path_arg(a, k)
            write_s[path.name] = write_s.get(path.name, 0.0) + rec["end"] - rec["start"]
            for f in path.rglob("*"):
                if f.is_file() and not f.name.startswith((".", "_")):
                    files += 1
                    size += f.stat().st_size
        layer.update({"io.files_written": files, "io.bytes_written_mb": size / 1e6,
                      "io.write_table_s": sum(write_s.values())})
        for stage in STAGES:
            layer[f"pipelines.{stage}_s"] = write_s.get(stage, 0.0)
        layer["components.connected_components_s"] = sum(
            rec["end"] - rec["start"]
            for rec, *_ in calls.get("components.connected_components", [])
        )

    def alternate(n: int) -> Pass:
        if n % 2:
            untraced.append(w.run_pass(n))
            return untraced[-1]
        patches.calls.clear()
        with patches:
            traced_passes.append(w.run_pass(n, tracer))
        after_traced()
        return traced_passes[-1]

    # untraced, traced, untraced, ...: the traced passes sit between
    # untraced ones, so the overhead estimate is not biased by warm-up
    cold, _ = _loop(args, w, alternate, min_passes=3)
    jvm_mb, py_mb = _peak_rss_mb(spark)
    app_id = spark.sparkContext.applicationId
    _shutdown(spark)  # closes the event log
    events = read_event_log(work / "eventlog" / f"eventlog_v2_{app_id}")

    per_pass_self, per_pass_engine, cons_jobs = [], [], []
    for p in traced_passes:
        ps = [s for s in tracer.spans if p.start <= s["start"] and s["end"] <= p.end]
        per_pass_self.append(self_times(ps))
        per_pass_engine.append(engine_metrics(events, p.start, p.end))
        cons = [(s["start"], s["end"]) for s in ps if s["name"].endswith(".construct")]
        cons_jobs.append(jobs_within(events, cons))

    m: dict[str, float] = dict.fromkeys(per_layer_names(), 0.0)
    m["session.import_s"] = median(s["import_s"] for s in setups)
    m["session.get_spark_s"] = median(s["get_spark_s"] for s in setups)
    m["suite.load_all_s"] = median(s["load_all_s"] for s in setups)
    for op in traced_passes[-1].ops:
        if op.name in w.queries:
            m[f"suite.{op.name}.construct_s"] = op.construct_s
            m[f"suite.{op.name}.collect_s"] = op.collect_s
            m["suite.construct_s"] += op.construct_s
            m["suite.collect_s"] += op.collect_s
    m["suite.construct_jobs"] = median(cons_jobs)
    m.update(layer)
    m.update(median_of(per_pass_engine, ENGINE_KEYS + ("io.scan_mb",)))
    selfs = median_of(per_pass_self, SELF_LAYERS)
    for name in SELF_LAYERS:
        m[f"self.{name}_s"] = selfs[name]
    m["trace.pass_traced_s"] = median(p.seconds for p in traced_passes)
    m["trace.pass_untraced_s"] = median(p.seconds for p in untraced)
    m["trace.overhead_s"] = m["trace.pass_traced_s"] - m["trace.pass_untraced_s"]
    m["memory.peak_rss_mb"] = jvm_mb + py_mb
    m["bench.gen_s"] = inputs["gen_s"]
    m["bench.oracle_s"] = inputs["oracle_s"]

    attempted, failed = _errors([cold] + untraced + traced_passes)
    _print_layers(w, args.seed, m, len(traced_passes), len(untraced))
    reports = work.parent / "reports"
    reports.mkdir(exist_ok=True)
    (reports / f"trace-{w.name}-seed{args.seed}.json").write_text(json.dumps(
        {"stamp": stamp, "metrics": m, "spans": tracer.spans}, indent=1
    ))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in m.items()},
    }


def _print_layers(w: Workload, seed: int, m: dict, n_traced: int, n_untraced: int) -> None:
    print(f"traced run: workload {w.name} seed {seed}; per-layer metrics of the last "
          f"traced pass, engine and self times as medians of {n_traced} traced passes")
    prefix = None
    for k, v in m.items():
        head = k.split(".")[0]
        if head != prefix:
            print(f"  [{head}]")
            prefix = head
        print(f"    {k:48s} {v:14.4f} {_unit(k)}")
    print(f"  unattributed remainder (pass self time): {m['self.pass_s']:.4f} s; "
          f"tracing overhead {m['trace.overhead_s']:+.4f} s "
          f"(traced {m['trace.pass_traced_s']:.3f} s vs untraced {m['trace.pass_untraced_s']:.3f} s, "
          f"{n_untraced} untraced passes)")


if __name__ == "__main__":
    sys.exit(main())

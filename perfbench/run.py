"""Repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload ingest_backlog --seed 1 --seconds 10 --trace 0

Workloads: ingest_backlog, ingest_live, analytics_panel (see README.md;
BENCHMARK.json lists the first and the last); ``--workload all`` runs the
three in turn, each in its own process.
Runs from the root of a checkout on local[<cpu count>]. Every file it makes
lives under ``.perfbench/`` in the checkout; the per-run work directory
(logs, sinks, checkpoints, SPARK_LOCAL_DIRS) is removed at the end, the
trace file of a ``--trace 1`` run is kept. The workload runs in a child
process; this one waits for it, then stops every process the run left
behind (the JVM, Python workers, the load generator) and waits until each
has ended before it exits.

Human-readable lines go to stderr and stdout; the LAST stdout line is one
JSON object {"correct", "attempted", "failed", "metrics"}: every end-to-end
metric of BENCHMARK.json with --trace 0, every per-layer metric with
--trace 1. A correctness mismatch exits with code 1, a missing program
with code 2.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
PACKAGE = "sparkstreaming_rawdataingestion_spark"
WORKLOADS = ("ingest_backlog", "ingest_live", "analytics_panel")
DRIVER_MEM = "1g"
WORK_ENV = "PERFBENCH_WORK"  # the run's work directory, set for the workload process
PR_SET_CHILD_SUBREAPER = 36
STOP_GRACE_S = 10.0  # SIGTERM, then SIGKILL for what is still running
STOP_KILL_S = 10.0


@dataclass
class Timed:
    start: float
    cpu0: float
    wall_s: float = 0.0
    cpu_s: float = 0.0

    def elapsed(self) -> float:
        return time.perf_counter() - self.start


class Context:
    """State of one workload run, handed to the workload function."""

    def __init__(self, args, work: str, tracer, tree, t_start: float):
        self.root = ROOT
        self.work = work
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tracer = tracer
        self.tree = tree
        self.spark = None
        self.info: dict = {}
        self.layers: dict = {}
        self.e2e: dict = {}
        self.result: dict = {}
        self.data: dict = {}  # inputs and expected outputs from prepare()
        self.children: list = []  # processes to stop at exit
        self.ops: list = []  # perf_counter intervals of the timed operations
        self._t_start = t_start

    def path(self, rel: str) -> str:
        return os.path.join(self.work, rel)

    def setup_done(self, at: float | None = None) -> None:
        """Set-up ends (now, or at perf_counter ``at``): session start,
        input generation and warm-up."""
        self.e2e["setup_s"] = (at or time.perf_counter()) - self._t_start

    @contextlib.contextmanager
    def timed(self):
        """The timed region: wall, process-tree CPU and peak RSS."""
        with self.tree.window():
            t = Timed(time.perf_counter(), self.tree.cpu_s())
            try:
                yield t
            finally:
                t.wall_s = time.perf_counter() - t.start
                t.cpu_s = self.tree.cpu_s() - t.cpu0

    def finish(self, *, attempted, failed, ok, ops, throughput, latencies, cpu_s, check) -> None:
        """Record the end-to-end metrics of the timed region; ``ops`` is the
        operations it ran, the base of the CPU figure."""
        from perfbench import measure

        lat = measure.summarize(latencies)
        self.e2e.update({
            "throughput_per_s": throughput,
            "latency_p50_s": lat["p50"],
            "latency_tail_s": lat["tail"],
        })
        self.layers["proc.cpu_ms_per_op"] = cpu_s * 1e3 / ops
        self.info["latency"] = lat
        self.info["ops"] = ops
        self.info["cpu_s"] = cpu_s
        self.info["check"] = {k: v for k, v in check.items() if k != "bad_rows"}
        self.result = {"correct": bool(ok) and failed == 0,
                       "attempted": int(attempted), "failed": int(failed)}


def _metric_table() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _environment(work: str) -> None:
    """Core count, import path for Python workers, Spark scratch space and
    temp files; set before the package is imported and the JVM starts."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = os.path.join(work, "tmp")
    os.makedirs(tempfile.tempdir)
    os.environ["TMPDIR"] = tempfile.tempdir
    # a bounded JVM heap keeps peak RSS repeatable and the host shareable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def _become_subreaper() -> None:
    """Orphaned descendants (the JVM once its Python driver has exited, the
    Python workers once the JVM has) are re-parented to this process instead
    of init, so it can find them, stop them and reap them."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _marked(work: str) -> set[int]:
    """Processes whose environment carries this run's work directory: every
    process the run started inherits it, wherever it was re-parented."""
    mark = f"{WORK_ENV}={work}".encode() + b"\0"
    out = set()
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/environ", "rb") as f:
                    if mark in f.read():
                        out.add(int(d))
            except OSError:
                pass
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_leftovers(work: str) -> list[int]:
    """Stop every process the run left behind, SIGTERM first and SIGKILL
    after a grace period, and wait until each has ended; returns the pids
    that would not end."""
    from perfbench.measure import _tree

    me = os.getpid()
    t0 = time.monotonic()
    while True:
        _reap()
        left = sorted((set(_tree(me, set())) | _marked(work)) - {me})
        waited = time.monotonic() - t0
        if not left or waited > STOP_GRACE_S + STOP_KILL_S:
            return left
        sig = signal.SIGTERM if waited < STOP_GRACE_S else signal.SIGKILL
        for pid in left:
            with contextlib.suppress(ProcessLookupError, PermissionError):
                os.kill(pid, sig)
        time.sleep(0.05)


def _supervise(args) -> int:
    """Run the workload in a child process. However it ends, stop every
    process it started and wait for each (the JVM outlives its Python driver
    by a moment, and the Python workers outlive the JVM), then remove the
    work directory: logs, sinks, checkpoints and SPARK_LOCAL_DIRS."""
    out_dir = os.path.join(ROOT, ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"work-{args.workload}-", dir=out_dir)
    _become_subreaper()
    child = None
    try:
        child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *sys.argv[1:]],
                                 env={**os.environ, WORK_ENV: work})

        def forward(signum, _frame):
            if child.poll() is None:
                child.send_signal(signum)

        signal.signal(signal.SIGTERM, forward)
        signal.signal(signal.SIGINT, forward)
        rc = child.wait()
    finally:
        if child is not None and child.poll() is None:
            child.kill()
        left = _stop_leftovers(work)
        shutil.rmtree(work, ignore_errors=True)
    if left:
        print(f"perfbench: processes {left} did not end", file=sys.stderr)
        return rc or 1
    return rc


def _run_all(args) -> int:
    """Each workload in its own process; the last line sums the results and
    names each metric ``<workload>.<metric>``."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False,
        )
        lines = p.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(line, flush=True)
        try:
            r = json.loads(lines[-1])
        except (IndexError, ValueError):
            print(f"perfbench: {w} printed no result (exit {p.returncode})", file=sys.stderr)
            return p.returncode or 1
        total["correct"] &= r["correct"]
        total["attempted"] += r["attempted"]
        total["failed"] += r["failed"]
        total["metrics"].update({f"{w}.{k}": v for k, v in r["metrics"].items()})
    print(json.dumps(total))
    return 0 if total["correct"] else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return _run_all(args)

    missing = [p for p in (PACKAGE, "tools/check_oracles.py", "BENCHMARK.json")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the program, missing {missing}", file=sys.stderr)
        return 2
    work = os.environ.get(WORK_ENV)
    if not work:
        return _supervise(args)
    e2e_units, layer_units = _metric_table()

    t_start = time.perf_counter()
    out_dir = os.path.join(ROOT, ".perfbench")
    _environment(work)

    from perfbench import ingest, measure, panel
    from perfbench.trace import Tracer

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}-{int(time.time())}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    host = measure.host_state()
    prepare, workload = {
        "ingest_backlog": (ingest.prepare_backlog, ingest.backlog),
        "ingest_live": (ingest.prepare_live, ingest.live),
        "analytics_panel": (panel.prepare, panel.run),
    }[args.workload]
    tree = measure.ProcTree()
    ctx = Context(args, work, tracer, tree, t_start)
    # a terminated run still stops its processes and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        # inputs are generated while the JVM starts
        with tracer.span("setup"), ThreadPoolExecutor(max_workers=1) as pool:
            prepared = pool.submit(prepare, ctx)
            from sparkstreaming_rawdataingestion_spark.session import get_spark

            with tracer.span("session.get_spark"):
                ctx.spark = get_spark(app_name=f"perfbench-{args.workload}")
            prepared.result()
        try:
            with tracer.span(f"run.{args.workload}"):
                workload(ctx)
        finally:
            ctx.spark.stop()
        ctx.e2e["peak_rss_mb"] = tree.peak_rss_mb(ctx.ops)
        ctx.info["peak_rss_kb_by_process"] = tree.peak_parts
    finally:
        tree.stop_window()
        for p in ctx.children:
            if p.poll() is None:
                p.terminate()
            p.wait()

    host = {"start": host, "end": measure.host_state()}
    contended = measure.contention(host["start"], host["end"])
    ctx.info["host"] = host
    failed_frac = ctx.result["failed"] / ctx.result["attempted"]
    print(f"[{args.workload} seed={args.seed}] host: {json.dumps(host)}", file=sys.stderr)
    print(f"[{args.workload}] contended: {'yes, ' + contended if contended else 'no'}")
    for k, v in ctx.info.items():
        print(f"[{args.workload}] {k}: {json.dumps(v, default=str)}", file=sys.stderr)
    print(f"[{args.workload}] failed_frac = {failed_frac:.4f} ratio "
          f"({ctx.result['failed']}/{ctx.result['attempted']})")
    if args.trace:
        by_name = tracer.by_name()
        layers = {**ctx.layers, "trace.spans": len(tracer.spans)}
        if "trace.overhead_frac" not in layers:
            # the spans wrap whole calls; what tracing adds is its own
            # bookkeeping, measured per span
            layers["trace.overhead_frac"] = (
                Tracer.cost_per_span() * len(tracer.spans) / ctx.info["timed_s"])
        path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        tracer.write(path, {"layers": layers, "info": ctx.info, "e2e": ctx.e2e})
        print(f"[{args.workload}] trace written to {os.path.relpath(path, ROOT)}", file=sys.stderr)
        for name, agg in sorted(by_name.items()):
            print(f"[{args.workload}] span {name}: n={agg['count']} "
                  f"total={agg['total_s']:.3f}s self={agg['self_s']:.3f}s", file=sys.stderr)
        chosen, units = layers, layer_units
    else:
        chosen, units = ctx.e2e, e2e_units
    metrics = {}
    for name, unit in units.items():
        value = chosen.get(name, 0.0)
        metrics[name] = {"value": float(value), "unit": unit}
        print(f"[{args.workload}] {name} = {float(value):.6g} {unit}")
    absent = sorted(set(e2e_units) - set(ctx.e2e))
    if absent:
        print(f"perfbench: workload did not measure {absent}", file=sys.stderr)
        return 1
    print(json.dumps({**ctx.result, "metrics": metrics}))
    return 0 if ctx.result["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())

#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload query_short --seed 1 --seconds 5 --trace 0

Run from the repository root. The engine runs in this process on
``local[<nproc>]`` behind one closed-loop client (the next op starts when
the previous one ends). Inputs are generated from numbers on first use
into ``perfbench/.data`` (the time is recorded as ``input_gen_s``, not as
set-up); every file a run writes stays under ``perfbench/``.

With ``--trace 0`` the last stdout line carries the end-to-end metrics
BENCHMARK.json declares; with ``--trace 1`` it carries the declared
per-layer metrics, measured from spans around layer calls in a separate
run. The line before it lists every metric the run measured, with units.
Each run writes a full artifact (ops, passes, checks, spans, per-op
accounting, run context) to a new file in ``perfbench/runs/``.

``setup_s`` runs from process start until the session is up, the registry
is loaded and, on ``ingest_cycle``, the stored corpus's dedup state is
built; input generation is not part of it. It is the median of the
workload's ``setup_samples`` set-ups: this process's own and those of
fresh processes started after the workload that only set up and exit.

The exit status is 0 when the run completed, whether or not every
output check passed (``correct`` says that); it is 2 when the engine
cannot be found next to ``perfbench/``.
"""

from __future__ import annotations

import time

_T0 = time.time()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from datetime import datetime, timezone  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
DATA_DIR = BENCH / ".data" / "sf0.1-v2"
FINGERPRINTS = BENCH / "fingerprints.json"

E2E_UNITS = {
    "wall_s": "s",
    "cpu_s": "s",
    "cpu_cal_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "setup_s": "s",
    "fail_ratio": "ratio",
    "docs_per_s": "1/s",
    "near_dup_recall": "ratio",
    "false_dup_ratio": "ratio",
    "state_bytes_per_doc": "B",
}
# the end-to-end metrics every workload reports, as declared in BENCHMARK.json
E2E_DECLARED = ["cpu_cal_s", "setup_s"]
LAYER_DECLARED = [
    "session.start_s",
    "plans.build_s",
    "plans.build_jobs",
    "sources.load_table_s",
    "sources.load_table_calls",
    "catalyst.plan_s",
    "exec.sink_s",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.shuffle_read_mb",
    "exec.shuffle_write_mb",
    "driver.gap_s",
    "operators.guard_exits",
    "functions.python_rows_out",
    "functions.python_mb_sent",
    "functions.useful_ratio",
    "streaming.trigger_jobs",
    "state.files",
    "state.mb",
    "jvm.gc_s",
    "jvm.peak_rss_mb",
]

sys.path.insert(0, str(BENCH))


def _unit(name: str) -> str:
    if name in E2E_UNITS:
        return E2E_UNITS[name]
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if last == "mb" or "_mb" in last:
        return "MB"
    if last.endswith("_ratio"):
        return "ratio"
    return "count"


def process_age() -> float:
    """Seconds since this process started."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.time() - _T0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: Path, trace: bool) -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    run's work directory, and size the engine to this machine."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_UI"] = "true" if trace else "false"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )


def ensure_data() -> float:
    """Generate the input tables if absent; the seconds it took."""
    if DATA_DIR.is_dir():
        return 0.0
    from datagen import write_tables

    t = time.perf_counter()
    DATA_DIR.parent.mkdir(parents=True, exist_ok=True)
    write_tables(str(DATA_DIR))
    return time.perf_counter() - t


class Context:
    """What a workload needs from the run: the session, inputs, tracer."""

    def __init__(self, args, work: Path):
        self.workload = args.workload
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.work_dir = str(work)
        self.data_dir = str(DATA_DIR)
        self.state_init = str(work / "state_init")
        self.fingerprints = json.loads(FINGERPRINTS.read_text()) if FINGERPRINTS.exists() else {}

    def setup(self) -> None:
        t = time.perf_counter()
        from welearn_datastack_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.session_s = time.perf_counter() - t
        from welearn_datastack_spark.plans.registry import all_queries

        all_queries()
        if self.workload == "ingest_cycle":
            from welearn_datastack_spark.pipeline.ingest_increment import build_state
            from welearn_datastack_spark.sources.tables import load_table

            docs = load_table(self.spark, self.data_dir, "documents")
            build_state(docs, self.state_init)
            self.doc_schema = docs.schema
        self.setup_s = process_age()

    def teardown(self) -> None:
        """Stop the session and the JVM, and wait until the JVM has exited."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def git_rev() -> str | None:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=str(ROOT.parent))
    try:
        res = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT, env=env,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    if res.returncode != 0:
        return None
    return res.stdout.strip() or None


def peak_rss_mb(spark) -> float:
    """High-water resident set size of the driver JVM."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def instrument_sources(tracer) -> None:
    """Time every call of ``sources.tables.load_table``, wherever the
    engine imported it from."""
    import welearn_datastack_spark.sources.tables as tables

    original = tables.load_table
    traced = tracer.wrap("sources.load_table", original)
    for name, mod in list(sys.modules.items()):
        if name.startswith("welearn_datastack_spark") and getattr(mod, "load_table", None) is original:
            mod.load_table = traced


def layer_metrics(ctx, wl) -> tuple[dict, list[dict]]:
    from spans import fetch_status, layer_report

    passes = len(wl.passes)
    m, accounts = layer_report(ctx.tracer.spans, fetch_status(ctx.spark), passes)
    m["session.start_s"] = ctx.session_s
    m["operators.guard_exits"] = sum(o.guard_exit for o in wl.ops) / passes
    m["jvm.gc_s"] = wl.gc_s / passes
    m["jvm.peak_rss_mb"] = peak_rss_mb(ctx.spark)
    final = getattr(wl, "final_state", None)
    m["state.files"] = final["files"] if final else 0
    m["state.mb"] = final["bytes"] / 1e6 if final else 0.0
    points = getattr(wl, "points_written", 0) / passes
    rows = m["functions.python_rows_out"]
    m["functions.useful_ratio"] = points / rows if rows else 0.0
    return m, accounts


def trace_overhead(workload: str, wall_s: float) -> dict | None:
    """This traced run's wall_s minus the median wall_s of the untraced
    runs of the same workload already in ``perfbench/runs``."""
    walls = []
    for p in (BENCH / "runs").glob(f"*_{workload}_*_trace0_*.json"):
        try:
            walls.append(json.loads(p.read_text())["metrics"]["wall_s"])
        except (OSError, ValueError, KeyError):
            continue
    if not walls:
        return None
    base = statistics.median(walls)
    return {"overhead_s": wall_s - base, "untraced_wall_s": base, "untraced_runs": len(walls)}


def setup_only(args, work: Path) -> int:
    """Set up as a run does, print the set-up time and exit."""
    ctx = Context(args, work)
    try:
        ctx.setup()
    finally:
        ctx.teardown()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"setup_s": ctx.setup_s}))
    return 0


def more_setups(args, n: int) -> list[float]:
    """Set-up times of ``n`` fresh processes, started one after another."""
    times = []
    for _ in range(n):
        res = subprocess.run(
            [sys.executable, __file__, "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", "0", "--setup-only"],
            cwd=ROOT, stdout=subprocess.PIPE, timeout=90, text=True, check=True)
        times.append(json.loads(res.stdout.strip().splitlines()[-1])["setup_s"])
    return times


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    if importlib.util.find_spec("welearn_datastack_spark") is None:
        print(f"perfbench: the engine package is not in {ROOT}", file=sys.stderr)
        return 2

    stamp = datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%S")
    run_id = f"{stamp}_{args.workload}_seed{args.seed}_trace{args.trace}_{os.getpid()}"
    work = BENCH / ".work" / run_id
    inherited_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    context = {"nproc": nproc(), "loadavg_start": os.getloadavg()}
    configure_env(work, bool(args.trace))
    if args.setup_only:
        return setup_only(args, work)
    input_gen_s = ensure_data()
    import pyspark

    context.update({
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "spark_graft_cpus_inherited": inherited_cpus,
        "git_rev": git_rev(),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    })

    ctx = Context(args, work)
    try:
        ctx.setup()
        ctx.setup_s -= input_gen_s
        phases = {"setup": time.perf_counter()}
        from spans import Tracer

        ctx.tracer = Tracer(ctx.spark, enabled=False)
        if args.trace:
            instrument_sources(ctx.tracer)
        t = time.perf_counter()
        if args.workload == "ingest_cycle":
            import pyarrow.parquet as pq

            ctx.stored_docs = pq.read_table(f"{DATA_DIR}/documents.parquet")
            ctx.stored_count = ctx.stored_docs.num_rows
        wl = WORKLOADS[args.workload](ctx)
        input_gen_s += time.perf_counter() - t
        wl.run(args.seconds)
        phases["workload"] = time.perf_counter()

        e2e = wl.metrics()
        layers, accounts = layer_metrics(ctx, wl) if args.trace else ({}, [])
    finally:
        ctx.teardown()
    phases["teardown"] = time.perf_counter()
    # a traced run reports no set-up time, so it sets up once
    setups = [ctx.setup_s] + more_setups(args, 0 if args.trace else wl.setup_samples - 1)
    e2e["setup_s"] = statistics.median(setups)
    phases["setups"] = time.perf_counter()
    context["loadavg_end"] = os.getloadavg()
    context["phase_ends_s"] = {k: v - phases["setup"] + ctx.setup_s for k, v in phases.items()}
    context["warmup_s"] = wl.warmup_s
    context["warmup_s_by_query"] = getattr(wl, "warmup_times", None)
    context["cpu_steal_share"] = wl.steal_share
    context["cpu_steal_of_busy"] = wl.steal_of_busy

    failed = sum(o.issue is not None for o in wl.ops)
    correct = failed == 0 and not wl.warmup_issues
    declared = LAYER_DECLARED if args.trace else E2E_DECLARED
    shown = layers if args.trace else e2e
    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "context": context,
        "input_gen_s": input_gen_s,
        "setup_samples_s": setups,
        "correct": correct,
        "attempted": len(wl.ops),
        "failed": failed,
        "metrics": e2e,
        "op_tail": wl.tail,
        "per_layer": layers,
        "passes_s": wl.passes,
        "pass_cpu_s": wl.pass_cpu,
        "pass_cpu_cal_s": wl.pass_cpu_cal,
        "probe_s": wl.probes,
        "warmup_issues": wl.warmup_issues,
        "ops": [o.record() for o in wl.ops],
    }
    if args.workload == "ingest_cycle":
        artifact["state_after_each_cycle"] = wl.state_trend
    if args.trace:
        artifact["trace_overhead"] = trace_overhead(args.workload, e2e["wall_s"])
        artifact["op_accounts"] = accounts
        artifact["spans"] = ctx.tracer.spans
    out = BENCH / "runs" / f"{run_id}.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(artifact, indent=1))
    shutil.rmtree(work, ignore_errors=True)

    for name, issue in sorted(wl.warmup_issues.items()):
        print(f"perfbench: check failed: {name}: {issue}")
    for o in wl.ops:
        if o.issue:
            print(f"perfbench: op {o.id} {o.name} failed: {o.issue}")
    for a in accounts:
        if not a["covered"]:
            print(f"perfbench: op {a['op']}: {a['unattributed_s']:.3f} s of {a['wall_s']:.3f} s "
                  "outside every layer span")
    summary = {name: {"value": v, "unit": _unit(name)} for name, v in sorted(shown.items())}
    if args.trace:
        summary["trace.overhead_s"] = {
            "value": (artifact["trace_overhead"] or {}).get("overhead_s"), "unit": "s"}
    print(json.dumps({"workload": args.workload, "all_metrics": summary,
                      "artifact": str(out.relative_to(ROOT))}))
    print(json.dumps({
        "correct": correct,
        "attempted": len(wl.ops),
        "failed": failed,
        "metrics": {name: {"value": shown[name], "unit": _unit(name)} for name in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""In-memory spans around layer calls, and per-layer metrics from them.

A span records a name, start, end, parent and op id. Names start with
the layer they time (``plans.build``, ``sources.load_table``,
``catalyst.plan``, ``exec.sink``, ``streaming.trigger``,
``pipeline.<stage>``, ``operators.compaction``); the root span of each
op is named ``op``. Spans are opened only from the main thread: engine
code that runs Spark actions from worker threads (the streaming
``foreachBatch`` body, concurrent state writes) stays inside the span
of the call that started it.

Spark jobs are tagged with a job group per op and matched to spans by
their submission time, so jobs started from engine threads are
attributed too. Job, stage and SQL-node figures come from Spark's status
REST API, read once after the timed section.
"""

from __future__ import annotations

import contextlib
import json
import re
import threading
import time
import urllib.request
from datetime import datetime, timezone


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        """Record a span around the block; ``op`` starts a new op."""
        if not self.enabled or threading.current_thread() is not threading.main_thread():
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is not None:
            self._op = op
            self.spark.sparkContext.setJobGroup(f"perfbench-op-{op}", name)
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self._op,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` with every main-thread call timed as a ``name`` span."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced


def gc_seconds(spark) -> float:
    """Cumulative GC time of the driver JVM (the only JVM in local mode)."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


# --------------------------------------------------------------------------
# Spark status REST API
# --------------------------------------------------------------------------


def _rest(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/{path}", timeout=60) as r:
        return json.load(r)


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(tzinfo=timezone.utc).timestamp()


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _metric_number(value: str) -> float:
    """The total of a SQL metric as Spark prints it: ``"1,234"`` or
    ``"total (min, med, max ...)\\n2.0 MiB (...)"``."""
    line = value.strip().splitlines()[-1] if "\n" in value else value.strip()
    m = re.match(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE.get(m.group(2) or "B", 1)


def _python_node(name: str) -> bool:
    return any(k in name for k in ("Python", "Pandas", "Arrow"))


def fetch_status(spark) -> dict:
    return {
        "jobs": _rest(spark, "jobs"),
        "stages": _rest(spark, "stages"),
        "sql": _rest(spark, "sql?details=true&planDescription=false&length=100000"),
    }


# --------------------------------------------------------------------------
# attribution and per-layer metrics
# --------------------------------------------------------------------------


# the share of an op's wall time that may lie outside every layer span
# before the op counts as not covered by the trace
UNATTRIBUTED_LIMIT = 0.05


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _innermost(spans: list[dict], t: float) -> dict | None:
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def layer_report(spans: list[dict], status: dict, passes: int) -> tuple[dict, list[dict]]:
    """Per-layer metrics per pass of the workload's op list, and one
    accounting record per op: its wall time, the self time of each layer
    inside it, the time no layer span covers (the op is ``covered`` when
    that is at most ``UNATTRIBUTED_LIMIT`` of its wall time), the time
    its Spark jobs cover, and the driver gap (wall time outside jobs)."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    ops = [s for s in spans if s["name"] == "op"]
    op_spans: dict[int, list[dict]] = {}
    for s in spans:
        op_spans.setdefault(s["op"], []).append(s)

    def self_time(s: dict) -> float:
        return (s["end"] - s["start"]) - sum(c["end"] - c["start"] for c in children.get(s["id"], []))

    def under(s: dict | None, prefix: str) -> bool:
        while s is not None:
            if s["name"].startswith(prefix):
                return True
            s = by_id.get(s["parent"])
        return False

    jobs = []
    for j in status["jobs"]:
        sub, end = _ts(j.get("submissionTime")), _ts(j.get("completionTime"))
        if sub is None or end is None:
            continue
        op = next((o for o in ops if o["start"] <= sub <= o["end"]), None)
        if op is None:
            continue
        jobs.append({
            "id": j["jobId"],
            "op": op["op"],
            "start": sub,
            "end": min(end, op["end"]),
            "span": _innermost(op_spans[op["op"]], sub),
            "stages": j.get("stageIds", []),
        })
    stage_ids = {sid for j in jobs for sid in j["stages"]}
    stages = [s for s in status["stages"] if s["stageId"] in stage_ids and s.get("status") == "COMPLETE"]

    sql_rows = sql_bytes = 0.0
    window = [(o["start"], o["end"]) for o in ops]
    for e in status["sql"]:
        t = _ts(e.get("submissionTime"))
        if t is None or not any(a <= t <= b for a, b in window):
            continue
        for node in e.get("nodes", []):
            if not _python_node(node.get("nodeName", "")):
                continue
            for m in node.get("metrics", []):
                if m["name"] == "number of output rows":
                    sql_rows += _metric_number(m["value"])
                elif m["name"] == "data sent to Python workers":
                    sql_bytes += _metric_number(m["value"])

    accounts = []
    for o in ops:
        mine = op_spans[o["op"]]
        layers: dict[str, float] = {}
        for s in mine:
            layer = s["name"].split(".")[0]
            layers[layer] = layers.get(layer, 0.0) + self_time(s)
        wall = o["end"] - o["start"]
        job_s = _union([(j["start"], j["end"]) for j in jobs if j["op"] == o["op"]])
        # time inside the op that no layer span covers: the benchmark's
        # own code between layer calls, or a layer call left unwrapped
        unattributed = layers.pop("op", 0.0)
        accounts.append({
            "op": o["op"],
            "wall_s": wall,
            "layers_self_s": layers,
            "unattributed_s": unattributed,
            "covered": unattributed <= UNATTRIBUTED_LIMIT * wall,
            "job_s": job_s,
            "driver_gap_s": wall - job_s,
        })

    def total(prefix: str, self_only: bool = False) -> float:
        return sum(self_time(s) if self_only else s["end"] - s["start"]
                   for s in spans if s["name"] == prefix)

    per_pass = lambda v: v / passes  # noqa: E731
    m = {
        "plans.build_s": per_pass(total("plans.build", self_only=True)),
        "plans.build_jobs": per_pass(sum(1 for j in jobs if under(j["span"], "plans.build"))),
        "sources.load_table_s": per_pass(total("sources.load_table")),
        "sources.load_table_calls": per_pass(sum(1 for s in spans if s["name"] == "sources.load_table")),
        "catalyst.plan_s": per_pass(total("catalyst.plan")),
        "exec.sink_s": per_pass(total("exec.sink")),
        "exec.jobs": per_pass(len(jobs)),
        "exec.stages": per_pass(len(stages)),
        "exec.tasks": per_pass(sum(s.get("numCompleteTasks", 0) for s in stages)),
        "exec.shuffle_read_mb": per_pass(sum(s.get("shuffleReadBytes", 0) for s in stages) / 1e6),
        "exec.shuffle_write_mb": per_pass(sum(s.get("shuffleWriteBytes", 0) for s in stages) / 1e6),
        "driver.gap_s": per_pass(sum(a["driver_gap_s"] for a in accounts)),
        "streaming.trigger_s": per_pass(total("streaming.trigger")),
        "streaming.trigger_jobs": per_pass(sum(1 for j in jobs if under(j["span"], "streaming.trigger"))),
        "operators.compaction_s": per_pass(total("operators.compaction")),
        "functions.python_rows_out": per_pass(sql_rows),
        "functions.python_mb_sent": per_pass(sql_bytes / 1e6),
        "trace.unattributed_s": per_pass(sum(a["unattributed_s"] for a in accounts)),
        "trace.ops_uncovered": sum(not a["covered"] for a in accounts),
    }
    for stage in ("handoff", "vectorize", "classify", "verdicts", "keywords", "points"):
        m[f"pipeline.{stage}_s"] = per_pass(total(f"pipeline.{stage}"))
    return m, accounts

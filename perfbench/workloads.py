"""The benchmark's workloads, driven by one closed-loop client.

``query_short``: short registry queries, each pass in its own seeded
order, each built with ``QuerySpec.build`` and forced with a noop sink.
Most of each op is the driver floor (Python DSL build, source
resolution, planning), so changes to ``plans``/``sources`` show here
while UDF and pair kernels are not run at all.

``ingest_cycle``: writes beside reads. Each cycle lands one 100-document
file, runs one ``stream_ingest_probe`` trigger against the run's live
dedup state, and enriches the admitted documents through the pipeline
stages (slices, classified, verdicts, keywords, points), each written
as parquet; ``compact_state`` folds the state store at the end of each
pass. It is the only workload with state appends, pandas-UDF work and
parquet writes, so a change that speeds reads at the cost of writes
shows here.

A run first warms up, untimed, checking every output: ``query_short``
runs each query once, collected and compared with its oracle
fingerprint; ``ingest_cycle`` lands its first two cycles and compacts. After
a full GC and a short pause it repeats the op list, timed, until
``seconds`` have passed; at least one timed pass always completes (an
``ingest_cycle`` pass lands new files, so its state keeps growing).
``wall_s`` is the median over timed passes of the summed op latencies
of one pass, and ``cpu_s`` the median over passes of the CPU time the
engine's processes (this Python driver, the JVM and its Python workers)
spent inside the pass's ops. ``cpu_cal_s`` is ``cpu_s`` scaled by the
machine-speed probe (``probe.py``), the median of its readings before
the warm-up, before the first timed pass and after every pass.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import pyarrow.parquet as pq

from checks import compaction_issues, cycle_issues, fingerprint_issue
from datagen import planted_cycles
from probe import PROBE_REF_S, probe_s
from spans import gc_seconds

QUERY_SHORT = [
    "tpch_q1_pricing_summary",
    "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue",
    "tpch_q13_cust_distribution",
    "tpch_q18_large_orders",
    "latest_event",
    "model_resolution",
    "sessionization",
    "exact_dup_flags",
    "cosine_topk",
    "open_alex_extraction_roundtrip",
]

# ingest cycles landed untimed, then per timed pass. The cycle after
# the first still pays for much JIT compilation, and how much varies.
# A timed pass lands two files because the work of one file depends on
# the seed (how many unseen documents the LSH probe admits).
WARMUP_CYCLES = 2
TIMED_CYCLES = 2
MAX_INGEST_PASSES = 10
SETTLE_S = 0.5


def _guard_exit(e: BaseException) -> bool:
    return type(e).__name__ == "PairVolumeExceeded"


def _describe(e: BaseException) -> str:
    return f"{type(e).__name__}: {e}"[:300]


class Op:
    """One timed operation: latency, and why it failed if it did."""

    def __init__(self, op_id: int, name: str):
        self.id, self.name = op_id, name
        self.latency = 0.0
        self.cpu = 0.0
        self.issue: str | None = None
        self.guard_exit = False

    def start(self) -> None:
        self._cpu0, self._t0 = tree_cpu_s(), time.perf_counter()

    def stop(self) -> None:
        self.latency = time.perf_counter() - self._t0
        self.cpu = tree_cpu_s() - self._cpu0

    def record(self) -> dict:
        return {"op": self.id, "name": self.name, "latency_s": self.latency, "cpu_s": self.cpu,
                "failed": self.issue is not None, "issue": self.issue}


class Workload:
    max_passes: int | None = None
    # set-ups measured per run (see run.py): the run's own, and fresh
    # processes that only set up
    setup_samples = 2

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.ops: list[Op] = []
        self.passes: list[float] = []
        self.pass_cpu: list[float] = []
        self.probes: list[float] = []
        self.warmup_issues: dict[str, str] = {}
        self.tail: dict | None = None

    def new_op(self, name: str) -> Op:
        op = Op(len(self.ops), name)
        self.ops.append(op)
        return op

    def run(self, seconds: float) -> None:
        cores = len(os.sched_getaffinity(0))
        self.probes.append(probe_s(cores))
        t = time.perf_counter()
        self.warmup()
        self.warmup_s = time.perf_counter() - t
        # start the timed section from a collected heap, with the JIT
        # compilations the warm-up queued given time to finish
        self.spark._jvm.System.gc()
        time.sleep(SETTLE_S)
        gc_start = gc_seconds(self.spark)
        cpu_start = _machine_ticks()
        self.tracer.enabled = self.ctx.trace
        t0 = time.perf_counter()
        self.probes.append(probe_s(cores))
        while True:
            first = len(self.ops)
            self.timed_pass()
            # probe in the same state as before the pass: the background
            # work the pass left (JIT compilations, GC) settled
            time.sleep(SETTLE_S)
            self.probes.append(probe_s(cores))
            self.passes.append(sum(o.latency for o in self.ops[first:]))
            self.pass_cpu.append(sum(o.cpu for o in self.ops[first:]))
            if time.perf_counter() - t0 >= seconds or len(self.passes) == self.max_passes:
                break
        self.tracer.enabled = False
        # the machine's speed moves over minutes, one probe reading by
        # about a tenth: calibrate by the median of the run's readings
        speed = statistics.median(self.probes)
        self.pass_cpu_cal = [cpu * PROBE_REF_S / speed for cpu in self.pass_cpu]
        self.gc_s = gc_seconds(self.spark) - gc_start
        spent = [b - a for a, b in zip(cpu_start, _machine_ticks())]
        # share of the machine's CPU time taken by the hypervisor while
        # the timed passes ran: context for comparing runs, not a metric
        self.steal_share = spent[7] / sum(spent) if len(spent) > 7 and sum(spent) else None
        # ... and as a share of the CPU time the machine's tasks wanted
        busy = sum(spent[i] for i in (0, 1, 2, 5, 6, 7)) if len(spent) > 7 else 0
        self.steal_of_busy = spent[7] / busy if busy else None

    def metrics(self) -> dict:
        lat = sorted(o.latency for o in self.ops)
        m = {
            "wall_s": statistics.median(self.passes),
            "cpu_s": statistics.median(self.pass_cpu),
            "cpu_cal_s": statistics.median(self.pass_cpu_cal),
            "op_p50_s": statistics.median(lat),
            "fail_ratio": sum(o.issue is not None for o in self.ops) / len(self.ops),
        }
        # the highest percentile with at least ten samples beyond it
        beyond = len(lat) - 10
        if beyond >= 1:
            pct = int(100 * beyond / len(lat))
            if pct >= 50:
                m["op_tail_s"] = lat[beyond - 1]
                self.tail = {"percentile": pct, "samples": len(lat)}
        return m


class QueryShort(Workload):
    name = "query_short"

    def __init__(self, ctx):
        super().__init__(ctx)
        from welearn_datastack_spark.plans.registry import REGISTRY

        self.registry = REGISTRY
        self.rng = random.Random(ctx.seed)
        self.expected = ctx.fingerprints

    def _order(self) -> list[str]:
        order = list(QUERY_SHORT)
        self.rng.shuffle(order)
        return order

    def _clean(self) -> None:
        """Drop what an op left cached, so every op starts from the same
        session state (outside the op's time)."""
        from welearn_datastack_spark.operators.dedup import release_guard_caches

        release_guard_caches()
        self.spark.catalog.clearCache()
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()

    def warmup(self) -> None:
        # load the noop sink's classes once; each query's own plan is
        # compiled by the checked run below
        self.spark.range(1).write.format("noop").mode("overwrite").save()
        self.warmup_times = {}
        for name in self._order():
            t = time.perf_counter()
            try:
                df = self.registry[name].build(self.spark, self.ctx.data_dir)
                pdf = df.toPandas()
                self.warmup_times[name] = [time.perf_counter() - t]
                issue = fingerprint_issue(pdf, self.expected.get(name))
                self.warmup_times[name].append(time.perf_counter() - t)
            except Exception as e:  # noqa: BLE001 — a failing query is a finding, not a crash
                issue = ("guard exit: " if _guard_exit(e) else "") + _describe(e)
            if issue:
                self.warmup_issues[name] = issue
            self._clean()

    def timed_pass(self) -> None:
        for name in self._order():
            op = self.new_op(name)
            tr = self.tracer
            op.start()
            try:
                with tr.span("op", op=op.id):
                    with tr.span("plans.build"):
                        df = self.registry[name].build(self.spark, self.ctx.data_dir)
                    if tr.enabled:
                        # the write below builds its own query execution and
                        # plans again: exec.sink includes that re-planning,
                        # so catalyst.plan overlaps it and is traced-run work
                        with tr.span("catalyst.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span("exec.sink"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001
                op.guard_exit = _guard_exit(e)
                op.issue = _describe(e)
            op.stop()
            if op.issue is None and name in self.warmup_issues:
                op.issue = f"output check: {self.warmup_issues[name]}"
            self._clean()


class IngestCycle(Workload):
    name = "ingest_cycle"
    # passes the planted arrivals allow: each lands TIMED_CYCLES new files
    max_passes = MAX_INGEST_PASSES
    # its set-up builds the stored corpus's dedup state and takes about
    # 17 s; a second sample would add that to every run, and the runs of
    # a comparison are kept well under an hour
    setup_samples = 1

    def __init__(self, ctx):
        super().__init__(ctx)
        self.work = ctx.work_dir
        n_files = WARMUP_CYCLES + TIMED_CYCLES * self.max_passes
        self.files, self.truth = planted_cycles(ctx.stored_docs, ctx.seed, n_files)
        os.makedirs(f"{self.work}/staging")
        for c, table in enumerate(self.files):
            pq.write_table(table, f"{self.work}/staging/cycle_{c}.parquet")
        # one live state store for the whole run, built during set-up
        self.state = ctx.state_init
        self.drop, self.ckpt, self.out = (f"{self.work}/{d}" for d in ("drop", "ckpt", "decisions"))
        os.makedirs(self.drop)
        self.cycle = 0
        self.admitted_total = 0
        self.decisions: dict[int, str] = {}
        self.state_trend: list[dict] = []
        self.points_written = 0

    def warmup(self) -> None:
        for _ in range(WARMUP_CYCLES):
            self._land_cycle(timed=False)
        self._compact(timed=False)

    def timed_pass(self) -> None:
        for _ in range(TIMED_CYCLES):
            self._land_cycle(timed=True)
        self._compact(timed=True)

    def _sink(self, df, path: str) -> None:
        tr = self.tracer
        if tr.enabled:
            # overlaps the planning inside exec.sink, as in QueryShort
            with tr.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("exec.sink"):
            df.write.mode("overwrite").parquet(path)

    def _enrich(self, docs_dir: str, decisions_dir: str, out: str) -> None:
        """Enrich the admitted documents of one cycle, stage by stage.
        Each stage reads what the stage before it wrote, as separate
        pipeline nodes do."""
        from pyspark.sql import functions as F

        from welearn_datastack_spark.pipeline.classifier import classify_slices, document_verdicts
        from welearn_datastack_spark.pipeline.keywords import extract_and_link
        from welearn_datastack_spark.pipeline.qdrant_sync import build_points, doc_top2_sdgs
        from welearn_datastack_spark.pipeline.vectorizer import vectorize
        from welearn_datastack_spark.sources.tables import load_table

        spark, tr = self.spark, self.tracer
        read = spark.read.parquet
        with tr.span("pipeline.handoff"):
            new = read(decisions_dir).filter(F.col("state") == "new").select("doc_id")
            docs = load_table(spark, docs_dir, "documents").join(new, "doc_id", "left_semi")
            self._sink(docs, f"{out}/admitted")
            docs = read(f"{out}/admitted")
        with tr.span("pipeline.vectorize"):
            with tr.span("plans.build"):
                slices = vectorize(docs.select(
                    F.col("doc_id").cast("string").alias("id"), F.col("text").alias("full_content")))
            self._sink(slices, f"{out}/slices")
        with tr.span("pipeline.classify"):
            with tr.span("plans.build"):
                classified = classify_slices(read(f"{out}/slices").select(
                    "document_id", F.col("order_sequence").alias("slice_seq"), "embedding"))
            self._sink(classified.drop("embedding"), f"{out}/classified")
        with tr.span("pipeline.verdicts"):
            with tr.span("plans.build"):
                verdicts = document_verdicts(read(f"{out}/classified"))
            self._sink(verdicts, f"{out}/verdicts")
        with tr.span("pipeline.keywords"):
            with tr.span("plans.build"):
                dim, links = extract_and_link(
                    docs.select(F.col("doc_id").cast("string").alias("document_id"),
                                F.col("text").alias("description")),
                    spark.createDataFrame([], "keyword string, id string"),
                    spark.createDataFrame([], "document_id string, keyword_id string"))
            self._sink(dim, f"{out}/keywords")
            self._sink(links, f"{out}/keyword_links")
        with tr.span("pipeline.points"):
            with tr.span("plans.build"):
                classified = read(f"{out}/classified")
                meta = docs.select(
                    F.col("doc_id").cast("string").alias("document_id"),
                    F.lit(None).cast("string").alias("title"),
                    F.lit(None).cast("string").alias("url"),
                    "lang",
                    F.col("source").alias("corpus"),
                    F.lit("stub-64").alias("model_name"),
                )
                points = build_points(
                    read(f"{out}/slices").join(
                        classified.select("document_id", F.col("slice_seq").alias("order_sequence"), "sdg"),
                        on=["document_id", "order_sequence"]),
                    meta,
                    doc_top2_sdgs(classified.select("document_id", "sdg")))
            self._sink(points, f"{out}/points")

    def _land_cycle(self, timed: bool) -> None:
        """Land the next planted file, run one trigger over it and enrich
        the documents it admitted; then check the cycle's outputs."""
        from welearn_datastack_spark.streaming.state_machine import stream_ingest_probe

        spark, tr = self.spark, self.tracer
        c = self.cycle
        self.cycle += 1
        op = self.new_op(f"cycle{c}") if timed else Op(-1, f"cycle{c}")
        landed, enriched = f"{self.work}/landed{c}", f"{self.work}/enriched{c}"
        os.makedirs(landed)
        op.start()
        try:
            with tr.span("op", op=op.id):
                staged = f"{self.work}/staging/cycle_{c}.parquet"
                os.link(staged, f"{self.drop}/cycle_{c}.parquet")
                os.link(staged, f"{landed}/documents.parquet")
                with tr.span("streaming.trigger"):
                    stream_ingest_probe(spark, self.drop, self.state, self.ckpt, self.out,
                                        schema=self.ctx.doc_schema)
                self._enrich(landed, f"{self.out}/batch_id={c}", enriched)
        except Exception as e:  # noqa: BLE001
            op.issue = _describe(e)
        op.stop()
        if op.issue is None:
            try:
                issues = self._check_cycle(self.files[c], f"{self.out}/batch_id={c}",
                                           f"{enriched}/points", timed)
            except Exception as e:  # noqa: BLE001
                issues = [f"check failed: {_describe(e)}"]
            if issues:
                op.issue = "; ".join(issues)
        if timed:
            self.state_trend.append(_state_size(self.state))
        elif op.issue:
            self.warmup_issues[op.name] = op.issue

    def _compact(self, timed: bool) -> None:
        from welearn_datastack_spark.pipeline.ingest_increment import compact_state

        tr = self.tracer
        op = self.new_op("compaction") if timed else Op(-1, "compaction")
        try:
            before = self._state_rows(self.state)
            op.start()
            with tr.span("op", op=op.id):
                with tr.span("operators.compaction"):
                    compact_state(self.spark, self.state)
            op.stop()
            issues = compaction_issues(before, self._state_rows(self.state),
                                       self.ctx.stored_count + self.admitted_total)
            if issues:
                op.issue = "; ".join(issues)
        except Exception as e:  # noqa: BLE001
            op.issue = _describe(e)
        if timed:
            self.final_state = _state_size(self.state)
            self.stored_rows = self.ctx.stored_count + self.admitted_total
        elif op.issue:
            self.warmup_issues[op.name] = op.issue

    def _check_cycle(self, table, dec_dir: str, points_dir: str, timed: bool) -> list[str]:
        """The cycle's invariant violations, read from the written files."""
        incoming = table.column("doc_id").to_pylist()
        dec = pq.read_table(dec_dir, columns=["doc_id", "state"]).to_pydict()
        decisions = list(zip(dec["doc_id"], dec["state"]))
        points = pq.read_table(points_dir, columns=["document_id"]).column("document_id").to_pylist()
        if timed:
            self.points_written += len(points)
        self.decisions.update(decisions)
        self.admitted_total += sum(s == "new" for _, s in decisions)
        return cycle_issues(incoming, decisions, self.truth, {int(d) for d in points})

    @staticmethod
    def _state_rows(state: str) -> dict[str, int]:
        return {leg: sum(f.metadata.num_rows for f in pq.ParquetDataset(f"{state}/{leg}").fragments)
                for leg in ("doc_hashes", "band_store")}

    def metrics(self) -> dict:
        m = super().metrics()
        cycles = [o for o in self.ops if o.name.startswith("cycle")]
        m["docs_per_s"] = len(cycles) * self.files[0].num_rows / sum(o.latency for o in cycles)
        # over every landed cycle, the warm-up's included
        landed = [d for f in self.files[:self.cycle] for d in f.column("doc_id").to_pylist()]
        planted = [d for d in landed if self.truth[d] in ("exact", "near")]
        unseen = [d for d in landed if self.truth[d] == "unseen"]
        dup = ("exact_dup", "near_dup")
        m["near_dup_recall"] = sum(self.decisions.get(d) in dup for d in planted) / len(planted)
        m["false_dup_ratio"] = sum(self.decisions.get(d) in dup for d in unseen) / len(unseen)
        m["state_bytes_per_doc"] = self.final_state["bytes"] / self.stored_rows
        return m


def _machine_ticks() -> list[int]:
    """The machine-wide CPU time counters of ``/proc/stat``."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under
    it: the driver JVM (JIT compilation and GC included), the Python
    worker daemon and its workers, and the children they have reaped."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(entry.name)
        children.setdefault(int(fields[1]), []).append(pid)
        # utime, stime, and the same for reaped children
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def _state_size(state: str) -> dict:
    files = nbytes = 0
    for leg in ("doc_hashes", "band_store"):
        for dirpath, _dirs, names in os.walk(f"{state}/{leg}"):
            for n in names:
                files += 1
                nbytes += os.path.getsize(os.path.join(dirpath, n))
    return {"files": files, "bytes": nbytes}


WORKLOADS = {w.name: w for w in (QueryShort, IngestCycle)}

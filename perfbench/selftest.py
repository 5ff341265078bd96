#!/usr/bin/env python3
"""Show that the benchmark's output checks catch corrupted outputs.

    python3 perfbench/selftest.py

1. Ingest invariants: a missing, a doubled and a wrong decision, and a
   document without points, are each reported.
2. Query fingerprints: the ``query_short`` warm-up and a timed pass run
   on the engine, first as they are (no op fails), then with one
   query's builder corrupted (one value changed, one row dropped); the
   corrupted query is reported and its timed op counts as failed, while
   the untouched query passes.

Exits 0 when every corruption is caught.
"""

from __future__ import annotations

import dataclasses
import shutil
import sys

import run
import workloads
from checks import compaction_issues, cycle_issues


def check_ingest_invariants() -> list[str]:
    ids = [1, 2, 3, 4]
    truth = {1: "exact", 2: "near", 3: "unseen", 4: "unseen"}
    good = [(1, "exact_dup"), (2, "near_dup"), (3, "new"), (4, "new")]
    assert cycle_issues(ids, good, truth, {3, 4}) == [], "clean cycle reported"
    cases = {
        "missing decision": (good[:-1], {3}),
        "doubled decision": (good + [(4, "new")], {3, 4}),
        "exact copy admitted": ([(1, "new")] + good[1:], {1, 3, 4}),
        "admitted doc without points": (good, {3}),
    }
    missed = [name for name, (dec, pts) in cases.items() if not cycle_issues(ids, dec, truth, pts)]
    if not compaction_issues({"doc_hashes": 10, "band_store": 40}, {"doc_hashes": 10, "band_store": 39}, 10):
        missed.append("row lost in compaction")
    return missed


def check_query_fingerprints() -> list[str]:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from spans import Tracer

    sys.path.insert(0, str(run.ROOT))
    run.ensure_data()
    work = run.BENCH / ".work" / "selftest"
    run.configure_env(work, trace=False)

    class Args:
        workload, seed, trace = "query_short", 0, 0

    ctx = run.Context(Args, work)
    ctx.setup()
    ctx.tracer = Tracer(ctx.spark, enabled=False)
    try:
        wl = workloads.QueryShort(ctx)
        target, other = "latest_event", "tpch_q6_forecast_revenue"
        workloads.QUERY_SHORT[:] = [target, other]
        spec = wl.registry[target]
        first = Window.orderBy(*sorted(spec.build(ctx.spark, ctx.data_dir).columns))

        def changed_value(spark, data_dir):
            df = spec.build(spark, data_dir).withColumn("_n", F.row_number().over(first))
            col = next(c for c, t in df.dtypes if t in ("bigint", "int") and c != "_n")
            return df.withColumn(col, F.when(F.col("_n") == 1, F.col(col) + 1)
                                 .otherwise(F.col(col))).drop("_n")

        def dropped_row(spark, data_dir):
            df = spec.build(spark, data_dir).withColumn("_n", F.row_number().over(first))
            return df.filter(F.col("_n") > 1).drop("_n")

        missed = []
        cases = (("unchanged", spec.build, set()),
                 ("changed value", changed_value, {target}),
                 ("dropped row", dropped_row, {target}))
        for label, builder, expect in cases:
            wl.registry = {**wl.registry, target: dataclasses.replace(spec, build=builder)}
            wl.warmup_issues = {}
            wl.warmup()
            wl.timed_pass()
            bad = {o.name for o in wl.ops[-2:] if o.issue}
            if bad != expect:
                missed.append(f"{label}: failed ops {sorted(bad)}, expected {sorted(expect)}")
        return missed
    finally:
        ctx.teardown()
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    missed = check_ingest_invariants() + check_query_fingerprints()
    for m in missed:
        print(f"selftest: corruption not caught: {m}")
    print("selftest: every corruption caught" if not missed else "selftest: FAILED")
    return 1 if missed else 0


if __name__ == "__main__":
    sys.exit(main())

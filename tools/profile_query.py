#!/usr/bin/env python
"""Per-layer account of registered queries, measured with the
benchmark's own tracer (``perfbench/spans.py``).

    python tools/profile_query.py SF_DIR NAME [NAME ...]

Each named query runs once untimed (its plan compiled and JIT-warmed),
then once traced, with the spans ``query_short``'s timed pass opens:
``op`` around ``plans.build`` (the DSL build, with every
``sources.load_table`` call inside it), ``catalyst.plan`` and
``exec.sink`` (a noop write). After each run, ``bench.py``'s
``post_query_hygiene`` drops what the run left cached, as
``query_short`` does between ops.

One JSON line per query: the per-layer metrics of ``layer_report`` for
that single pass (``exec.jobs``, ``plans.build_jobs``, ``driver.gap_s``,
...) and its op account (wall time, self time per layer, ``covered``,
job time, driver gap).
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(ROOT), str(ROOT / "perfbench")]

# the tracer reads job and stage figures from Spark's status API; the
# engine is sized to this machine, as perfbench sizes it
os.environ["SPARK_GRAFT_UI"] = "true"
os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

from run import instrument_sources  # noqa: E402
from spans import Tracer, fetch_status, layer_report  # noqa: E402

from bench import post_query_hygiene  # noqa: E402
from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups  # noqa: E402


def profile(spark, tracer: Tracer, op: int, name: str, sf_dir: str) -> dict:
    build = REGISTRY[name].build
    build(spark, sf_dir).write.format("noop").mode("overwrite").save()
    post_query_hygiene(spark)
    tracer.spans = []
    tracer.enabled = True
    with tracer.span("op", op=op):
        with tracer.span("plans.build"):
            df = build(spark, sf_dir)
        with tracer.span("catalyst.plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("exec.sink"):
            df.write.format("noop").mode("overwrite").save()
    tracer.enabled = False
    post_query_hygiene(spark)
    metrics, accounts = layer_report(tracer.spans, fetch_status(spark), passes=1)
    return {"query": name, **metrics, **accounts[0]}


def main(argv: list[str]) -> int:
    if len(argv) < 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    sf_dir, names = argv[0], argv[1:]
    _load_groups()
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"profile_query: not registered: {', '.join(unknown)}", file=sys.stderr)
        return 2
    from welearn_datastack_spark.session import get_spark

    spark = get_spark("profile-query")
    tracer = Tracer(spark, enabled=False)
    instrument_sources(tracer)
    for op, name in enumerate(names):
        print(json.dumps(profile(spark, tracer, op, name, sf_dir)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

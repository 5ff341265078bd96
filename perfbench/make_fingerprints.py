#!/usr/bin/env python3
"""Write ``fingerprints.json``: the reference output of every query the
benchmark runs, taken from the registry's DuckDB oracle twin over the
benchmark's generated tables. The engine's output for each query is
compared with it here too, and any difference is reported.

    python3 perfbench/make_fingerprints.py

Run it again only when the generated tables or the query list change.
"""

from __future__ import annotations

import json
import shutil
import sys

import run
from checks import fingerprint, fingerprint_issue
from workloads import QUERY_SHORT


def main() -> int:
    sys.path.insert(0, str(run.ROOT))
    run.ensure_data()
    work = run.BENCH / ".work" / "fingerprints"
    run.configure_env(work, trace=False)
    from welearn_datastack_spark.plans.oracle_check import duckdb_conn
    from welearn_datastack_spark.plans.registry import REGISTRY, all_queries
    from welearn_datastack_spark.session import get_spark

    all_queries()
    spark = get_spark("perfbench-fingerprints")
    con = duckdb_conn(str(run.DATA_DIR))
    refs, bad = {}, []
    for name in QUERY_SHORT:
        spec = REGISTRY[name]
        refs[name] = fingerprint(con.execute(spec.oracle).fetchdf())
        issue = fingerprint_issue(spec.build(spark, str(run.DATA_DIR)).toPandas(), refs[name])
        print(f"{name}: {refs[name]['rows']} rows, engine {'matches' if issue is None else issue}")
        if issue:
            bad.append(name)
    run.FINGERPRINTS.write_text(json.dumps(refs, indent=1, sort_keys=True) + "\n")
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    print(f"{len(refs) - len(bad)}/{len(refs)} queries match the oracle")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

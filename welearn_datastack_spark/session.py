"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the
same config block is what we would ship to a 1000-executor cluster —
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow for every pandas-UDF boundary, and a shuffle-partition count
that the caller passes per deployment (32 by default; on a real
cluster AQE's coalescing makes the initial number less critical).
The deployment settings read from the environment are
``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_DRIVER_MEM``,
``SPARK_GRAFT_WAREHOUSE`` and ``SPARK_GRAFT_UI``.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession


_SHIPPED: set[str] = set()


def ensure_self_on_executors(spark: SparkSession) -> None:
    """Ship this package to Python workers via addPyFile.

    cloudpickle serializes UDF closures BY REFERENCE to their module;
    if the driver imported the package from a path the workers don't
    share (e.g. a sys.path insert), every pandas-UDF stage dies with
    ModuleNotFoundError. Zipping the package and addPyFile-ing it makes
    UDF stages location-independent — called lazily by every
    mapInPandas entry point, idempotent per application."""
    key = spark.sparkContext.applicationId
    if key in _SHIPPED:
        return
    import tempfile
    import zipfile

    import welearn_datastack_spark as pkg

    import hashlib

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    root = os.path.dirname(pkg_dir)
    sources = []
    for dirpath, _dirs, files in os.walk(pkg_dir):
        for f in sorted(files):
            if f.endswith(".py"):
                sources.append(os.path.join(dirpath, f))
    sources.sort()
    # key the zip on source CONTENT, not version — a stale cached zip
    # would silently ship old code to executors after an edit
    digest = hashlib.md5()
    for path in sources:
        digest.update(path.encode())
        with open(path, "rb") as fh:
            digest.update(fh.read())
    zpath = os.path.join(
        tempfile.gettempdir(), f"welearn_datastack_spark_{digest.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for full in sources:
                z.write(full, os.path.relpath(full, root))
    spark.sparkContext.addPyFile(zpath)
    _SHIPPED.add(key)


def get_spark(app_name: str = "welearn-spark", shuffle_partitions: int = 32) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet stores TIMESTAMP(NANOS) which Spark's reader
        # rejects; read as long and convert in sources/tables.py
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # driver==executor JVM in local mode; generous but bounded
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # managed tables (bucketed-join tests) land in tmp, not the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/welearn_warehouse"),
        )
        # UI off by default (test/gate startup cost); bench.py flips it
        # on via SPARK_GRAFT_UI to read per-query shuffle bytes from
        # the status REST API. retainedStages is raised so cumulative
        # stage metrics never lose history mid-bench (the default 1000
        # evicts stages during a 79-query x 5-run session, which would
        # silently corrupt delta-based byte accounting).
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # stage-progress bars are stderr spam that drowned the bench
        # tail the driver captures (BENCH_r11.json's 2000-char tail was
        # carriage-return progress frames); bench.py prints its own
        # compact per-query lines instead
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedStages", "500000")
        .config("spark.ui.retainedJobs", "500000")
        # static conf; default 100 entries. bench.py interleaves ~90
        # query plans per warm pass (seeded order shuffle), which
        # would evict and recompile every whole-stage-codegen unit
        # between a query's runs at the default size — warm runs must
        # measure the plan, not Janino.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # static conf; default true. PySpark 4 wraps every DataFrame
        # API call in a call-site capture (pyspark/errors/utils.py
        # _with_origin: an inspect-stack walk plus two py4j round
        # trips) so JVM errors can cite the Python line. Profiling the
        # expression-heavy builders (r15 opt) measured it at ~45% of
        # their pure-driver build time (open_alex roundtrip: 2.9 s of
        # a 4.7 s build across 306 wrapped calls). Debug provenance
        # for failed queries is not worth 2x build latency on every
        # query on any deployment, local or cluster.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    # spark.sql.codegen.cache.maxEntries is a STATIC conf: getOrCreate()
    # silently ignores it when a SparkSession already exists in this
    # process (e.g. a pytest session fixture built first), leaving the
    # 100-entry default — which turns bench "warm" runs into Janino
    # recompiles. Read the effective value back and warn loudly rather
    # than let a silent mismatch corrupt timing claims.
    try:
        effective = spark.conf.get("spark.sql.codegen.cache.maxEntries")
        if effective != "4096":
            print(
                "get_spark: WARNING spark.sql.codegen.cache.maxEntries is "
                f"{effective!r}, not 4096 — a pre-existing SparkSession won "
                "the static conf; bench timings in this process will include "
                "codegen-cache thrash",
                file=sys.stderr,
            )
    except Exception:
        pass  # conf not readable on this build — never break startup
    _silence_bounded_window_warnings(spark)
    return spark


def _silence_bounded_window_warnings(spark: SparkSession) -> None:
    """Drop the WindowExec logger to ERROR.

    Every guarded bounded window (``_ranged_prefix`` /
    ``_bounded_row_guard`` frames over LIMIT-capped inputs) triggers
    Spark's "No Partition Defined for Window operation" warning once
    per execution. The single-partition plan is BY DESIGN there — a
    runtime guard raises if the frame ever exceeds its row ceiling —
    so the warning is pure noise that floods the bench tail (the
    driver keeps only the last ~2000 stdout chars, where the compact
    JSON line must survive). Genuine unbounded-window mistakes are
    still caught: the exchange-budget plan pins in tests/test_plans.py
    flag any new single-partition window that is not behind a guard."""
    try:
        jvm = spark._jvm
        for name in (
            "org.apache.spark.sql.execution.window.WindowExec",
            "org.apache.spark.sql.execution.window.WindowGroupLimitExec",
        ):
            jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                name, jvm.org.apache.logging.log4j.Level.ERROR
            )
    except Exception:
        pass  # non-log4j2 deployment — cosmetic only, never break startup

"""CLI entry points — run the engine as an application.

``python -m welearn_datastack_spark.jobs enrich --sf-dir D --out O``
runs the full enrichment pipeline (slice → embed → classify →
keywords → vector points) over the ``documents`` table and writes
each stage's output as parquet under O — the batch twin of the
reference's Argo-scheduled node chain, collapsed into one Spark
application (cron/Argo/Airflow schedules THIS instead of 10 pods).

``... query --name Q --sf-dir D [--out O]`` runs any registered
query; without --out it prints 20 rows (exploration), with --out it
writes parquet (production).
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F


def _enrich(args: argparse.Namespace) -> None:
    from .pipeline.classifier import classify_slices, document_verdicts
    from .pipeline.keywords import extract_and_link
    from .pipeline.qdrant_sync import build_points, doc_top2_sdgs
    from .pipeline.vectorizer import vectorize
    from .session import get_spark
    from .sources.tables import empty_frame, load_table

    spark = get_spark("welearn-enrich")
    read = spark.read.parquet
    docs = load_table(spark, args.sf_dir, "documents")
    # each stage reads back what the stage before it wrote: a lazy
    # frame reused across sinks would re-run its models in every one
    doc_in = docs.select(
        F.col("doc_id").cast("string").alias("id"), F.col("text").alias("full_content")
    )
    vectorize(doc_in, slice_length=args.slice_length).write.mode("overwrite").parquet(
        f"{args.out}/slices"
    )

    classify_slices(
        read(f"{args.out}/slices").select(
            "document_id", F.col("order_sequence").alias("slice_seq"), "embedding"
        )
    ).drop("embedding").write.mode("overwrite").parquet(f"{args.out}/classified")
    classified = read(f"{args.out}/classified")
    document_verdicts(classified).write.mode("overwrite").parquet(f"{args.out}/verdicts")

    spark_docs = docs.select(
        F.col("doc_id").cast("string").alias("document_id"), F.col("text").alias("description")
    )
    dim0 = empty_frame(spark, "keyword string, id string")
    links0 = empty_frame(spark, "document_id string, keyword_id string")
    dim, links = extract_and_link(spark_docs, dim0, links0)
    dim.write.mode("overwrite").parquet(f"{args.out}/keywords")
    links.write.mode("overwrite").parquet(f"{args.out}/keyword_links")

    meta = docs.select(
        F.col("doc_id").cast("string").alias("document_id"),
        F.lit(None).cast("string").alias("title"),
        F.lit(None).cast("string").alias("url"),
        "lang",
        F.col("source").alias("corpus"),
        F.lit("stub-64").alias("model_name"),
    )
    top2 = doc_top2_sdgs(classified.select("document_id", "sdg"))
    points = build_points(
        read(f"{args.out}/slices").join(
            classified.select(
                "document_id", F.col("slice_seq").alias("order_sequence"), "sdg"
            ),
            on=["document_id", "order_sequence"],
        ),
        meta,
        top2,
    )
    points.write.mode("overwrite").parquet(f"{args.out}/points")
    n = spark.read.parquet(f"{args.out}/points").count()
    print(f"enrich complete: {n} points written to {args.out}")


def _curate(args: argparse.Namespace) -> None:
    """Training-data curation chain: drop exact duplicates, drop
    low-quality documents, apply per-language stratified keep rates,
    write the surviving corpus — the dedup→filter→mix export every
    LLM-data pipeline runs, composed from the registered operators."""
    from .operators.dedup import exact_dup_flags, hexint
    from .session import get_spark
    from .sources.tables import load_table

    spark = get_spark("welearn-curate")
    docs = load_table(spark, args.sf_dir, "documents")
    flags = exact_dup_flags(docs, "doc_id", "text")
    deduped = docs.join(flags, on="doc_id").filter(~F.col("is_dup")).drop("is_dup")
    words = F.size(F.regexp_extract_all("text", F.lit(r"\w+"), 0))
    quality_ok = deduped.filter(words >= args.min_words)
    keep = hexint(F.col("doc_id").cast("string")) % 100 < args.keep_pct
    curated = quality_ok.filter(keep)
    curated.write.mode("overwrite").parquet(args.out)
    n_in, n_out = docs.count(), spark.read.parquet(args.out).count()
    print(f"curate complete: {n_in} -> {n_out} documents ({args.out})")


def _ingest_increment(args: argparse.Namespace) -> None:
    """Incremental-ingest job: mod-split the documents table into the
    stored corpus and an incoming batch, build the persisted dedup
    state on first run, probe the batch against the STATE (exact-hash
    + LSH band probes — the corpus is never re-shingled), write the
    per-document decisions, and append the admitted documents' state.
    Run it twice against the same --state to see the idempotent shape:
    the second run's batch is all exact_dup.

    The LSH knobs (--shingle-n/--n-hashes/--rows-per-band) apply to a
    FIRST build only; an existing store's persisted lsh_params.json
    always wins, so probes can never mismatch the stored bands. See
    pipeline.ingest_increment.LshParams for the candidate s-curve the
    knobs trace (defaults: 4 bands x 2 rows -> s50 = 0.5 Jaccard)."""
    from .pipeline.ingest_increment import (
        LshParams,
        ingest_increment,
        load_params,
        size_lsh_params,
    )
    from .session import get_spark
    from .sources.tables import load_table

    spark = get_spark("welearn-ingest-increment")
    docs = load_table(spark, args.sf_dir, "documents")
    if args.target_s50 is not None:
        # recall-driven sizing: derive the banding from the threshold
        # (validated by the lsh_dedup_recall harness family)
        params = size_lsh_params(args.target_s50, shingle_n=args.shingle_n)
        print(
            f"sized for s50~{args.target_s50}: {params} "
            f"(realized s50={params.s50:.3f}, {params.n_bands} bands)"
        )
    else:
        params = LshParams(
            shingle_n=args.shingle_n,
            n_hashes=args.n_hashes,
            rows_per_band=args.rows_per_band,
        )
    decisions = ingest_increment(
        spark, docs, args.state, out_dir=args.out, batch_mod=args.batch_mod,
        params=params,
    )
    eff = load_params(args.state)
    print(f"lsh params in effect: {eff} (s50={eff.s50:.3f})")
    counts = {r["state"]: r["n"] for r in
              decisions.groupBy("state").agg(F.count(F.lit(1)).alias("n")).collect()}
    print(f"ingest-increment complete: {counts} -> {args.out}")


def _compact(args: argparse.Namespace) -> None:
    """Maintenance job: bin-pack a fragmented parquet directory (the
    OPTIMIZE verb for the append-only state log)."""
    from .operators.compaction import compact
    from .session import get_spark

    spark = get_spark("welearn-compact")
    sort_by = [F.col(c) for c in args.sort_by.split(",")] if args.sort_by else None
    stats = compact(spark, args.path, args.target_mb * 1024 * 1024, sort_by)
    print(
        f"compacted {stats['n_files']} files ({stats['total_bytes']} bytes, "
        f"{stats['small_files']} under half-target) -> {stats['target_files']} files"
    )


def _query(args: argparse.Namespace) -> None:
    from .plans.registry import REGISTRY, _load_groups
    from .session import get_spark

    _load_groups()
    if args.name not in REGISTRY:
        sys.exit(f"unknown query {args.name!r}; known: {', '.join(sorted(REGISTRY))}")
    spark = get_spark(f"welearn-query-{args.name}")
    df = REGISTRY[args.name].build(spark, args.sf_dir)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {spark.read.parquet(args.out).count()} rows to {args.out}")
    else:
        df.show(20, truncate=80)


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="welearn_datastack_spark.jobs")
    sub = p.add_subparsers(dest="cmd", required=True)

    e = sub.add_parser("enrich", help="full enrichment pipeline over the documents table")
    e.add_argument("--sf-dir", required=True)
    e.add_argument("--out", required=True)
    e.add_argument("--slice-length", type=int, default=20)
    e.set_defaults(fn=_enrich)

    c = sub.add_parser("curate", help="dedup + quality-filter + sample the documents table")
    c.add_argument("--sf-dir", required=True)
    c.add_argument("--out", required=True)
    c.add_argument("--min-words", type=int, default=10)
    c.add_argument("--keep-pct", type=int, default=100)
    c.set_defaults(fn=_curate)

    ii = sub.add_parser(
        "ingest-increment",
        help="probe an incoming batch against persisted dedup state and admit new docs",
    )
    ii.add_argument("--sf-dir", required=True)
    ii.add_argument("--state", required=True, help="dedup state store directory")
    ii.add_argument("--out", required=True, help="per-document decisions parquet")
    ii.add_argument("--batch-mod", type=int, default=5)
    ii.add_argument("--shingle-n", type=int, default=3,
                    help="word-shingle width (first build only)")
    ii.add_argument("--n-hashes", type=int, default=8,
                    help="minhash signature length (first build only)")
    ii.add_argument("--rows-per-band", type=int, default=2,
                    help="LSH rows per band; bands = n_hashes/rows (first build only)")
    ii.add_argument("--target-s50", type=float, default=None,
                    help="size the banding from a Jaccard threshold instead: "
                    "pick (n_hashes, rows_per_band) whose candidate s-curve "
                    "crosses 50%% nearest this similarity (overrides "
                    "--n-hashes/--rows-per-band; first build only)")
    ii.set_defaults(fn=_ingest_increment)

    k = sub.add_parser("compact", help="bin-pack a fragmented parquet directory in place")
    k.add_argument("--path", required=True)
    k.add_argument("--target-mb", type=int, default=128)
    k.add_argument("--sort-by", help="comma-separated columns for within-file clustering")
    k.set_defaults(fn=_compact)

    q = sub.add_parser("query", help="run one registered query")
    q.add_argument("--name", required=True)
    q.add_argument("--sf-dir", required=True)
    q.add_argument("--out")
    q.set_defaults(fn=_query)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Print each volume-guarded op's pre-flight projection on a corpus —
the numbers SCALE.md §24's projected-vs-measured table records at sf3.

For every guarded diagnostic this runs EXACTLY the probe aggregation
its guard runs — the bucket frames come from the SAME shared builders
the queries use (plans.q_dedup.minhash_band_frame,
operators.dedup.simhash_band_frame, plans.q_ml
.semantic_assignment_frames), so a parameter change in a gated
pipeline cannot silently diverge this tool — with the same cost model
and the same shared byte-factor constants. Each record carries the
projection, whether the op's worst-case hint would have SKIPPED the
probe at the given budget (the guard's zero-cost path; jaccard has no
free hint — its skip argument is the row budget), and the fail/fits
verdict. Aggregation-only — no pair row is ever built.

Usage:
    python tools/guard_projections.py /tmp/welearn_sf3 [--budget 40g]
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from welearn_datastack_spark.operators.dedup import (  # noqa: E402
    JACCARD_GUARD_BYTES_PER_PAIR,
    PAIR_GUARD_BYTES_PER_PAIR,
    REPL_GUARD_BYTES_PER_ROW,
    hashed_shingles,
    simhash,
    simhash_band_frame,
    word_shingles,
)
from welearn_datastack_spark.session import get_spark  # noqa: E402
from welearn_datastack_spark.sources.tables import (  # noqa: E402
    fan_out_for_compute,
    load_table,
)


def _probe(bucketed, bucket_cols, expr) -> tuple[int, int]:
    """(units, max bucket count) — the same two aggregates the guard's
    probe measures; max_bucket is the adaptive-chunking certificate
    (jaccard_pairs takes the un-split pair join when it stays at or
    under chunk_target)."""
    row = (
        bucketed.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("__c"))
        .agg(expr.alias("__u"), F.max("__c").alias("__m"))
        .first()
    )
    return int(row["__u"] or 0), int(row["__m"] or 0)


def PAIRS():
    return F.sum(F.col("__c") * (F.col("__c") - 1) / 2)


def repl(chunk_target: int):
    return F.sum(F.col("__c") * (F.ceil(F.col("__c") / chunk_target) + F.lit(1)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("--budget", default=None, help="budget for the verdict column")
    args = ap.parse_args()
    spark = get_spark("guard-projections")
    from welearn_datastack_spark.plans.q_dedup import (
        _sampled_baseline_docs,
        minhash_band_frame,
    )
    from welearn_datastack_spark.plans.q_ml import semantic_assignment_frames
    from welearn_datastack_spark.sources.tables import _size_to_bytes

    budget = _size_to_bytes(args.budget) if args.budget else None

    docs = fan_out_for_compute(load_table(spark, args.sf_dir, "documents"))
    n_docs = docs.count()

    # rows: (op, unit, units, projected_bytes, worst_case_bytes | None)
    rows = []

    # 1. minhash candidates (quadratic pair model): worst case =
    #    n_bands * C(n, 2) pairs (the hint the full-set minhash queries pass)
    bands = minhash_band_frame(docs, n_bands=4, rows_per_band=2)
    pairs, mh_max = _probe(bands, ["band", "band_key"], PAIRS())
    rows.append((
        "minhash_lsh_candidates_hashed", "pairs", pairs,
        pairs * PAIR_GUARD_BYTES_PER_PAIR,
        4 * (n_docs * (n_docs - 1) // 2) * PAIR_GUARD_BYTES_PER_PAIR, mh_max,
    ))

    # 2. jaccard (quadratic pair model over shingle buckets, on the
    #    row-budget sample the registered queries run; no free
    #    worst-case hint exists — the row budget is the skip argument)
    sdocs, den = _sampled_baseline_docs(docs)
    sh = hashed_shingles(word_shingles(sdocs, "doc_id", "text", n=3), "doc_id")
    jp, j_max = _probe(sh, ["shingle"], PAIRS())
    rows.append((
        f"ngram_jaccard_pairs_hashed (den={den})", "pairs", jp,
        jp * JACCARD_GUARD_BYTES_PER_PAIR, None, j_max,
    ))

    # 3. simhash (replicated chunk-split model): worst case =
    #    n_bands * n * (ceil(n/256)+1) rows (simhash_near_pairs' hint)
    banded = simhash_band_frame(
        simhash(docs, "doc_id", "text", bits=16), "doc_id", bits=16, n_bands=4
    )
    sr, s_max = _probe(banded, ["band", "band_key"], repl(256))
    rows.append((
        "simhash_near_pairs", "repl_rows", sr, sr * REPL_GUARD_BYTES_PER_ROW,
        4 * n_docs * (-(-n_docs // 256) + 1) * REPL_GUARD_BYTES_PER_ROW, s_max,
    ))

    # 4. semantic dedup (replicated model, 320 B/row embedding payload):
    #    worst case = n * (ceil(n/256)+1) rows (semantic_dedup_flags')
    emb = load_table(spark, args.sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    n_vec = emb.count()
    _tagged, assign = semantic_assignment_frames(emb, n_vec)
    sm, c_max = _probe(assign, ["cent_id"], repl(256))
    rows.append((
        "semantic_dedup_flags", "repl_rows", sm, sm * 320,
        n_vec * (-(-n_vec // 256) + 1) * 320, c_max,
    ))

    for name, unit, units, projected, worst, max_bucket in rows:
        rec = {
            "op": name,
            "unit": unit,
            "units": units,
            "projected_bytes": projected,
            "projected_mb": round(projected / 1e6, 1),
            "max_bucket": max_bucket,
        }
        if worst is not None:
            rec["worst_case_mb"] = round(worst / 1e6, 1)
        if budget:
            if worst is not None:
                rec["skipped_by_hint"] = worst <= budget
            rec["verdict_at_budget"] = "fail" if projected > budget else "fits"
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()

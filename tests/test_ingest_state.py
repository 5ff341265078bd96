"""The ingest dedup state: the streaming decision log's layout and
schema checks, the banding a state store refuses, banding sized from
a similarity target, the band-store files one batch appends, and the plans
of the decision-only probe in batch and streaming form."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_decision_log_legacy_flat_layout_raises(tmp_path):
    """A pre-batch_id flat decision log must be rejected before the
    first micro-batch — mixing flat part-files with batch_id=N
    subdirectories breaks partition discovery for every reader."""
    from welearn_datastack_spark.streaming.state_machine import (
        _check_decision_log_layout,
    )

    out = tmp_path / "out"
    out.mkdir()
    (out / "part-00000-legacy.snappy.parquet").write_bytes(b"PAR1")
    with pytest.raises(RuntimeError, match="legacy flat"):
        _check_decision_log_layout(str(out))
    # the partitioned layout (and an empty dir) pass
    (out / "part-00000-legacy.snappy.parquet").unlink()
    (out / "batch_id=0").mkdir()
    _check_decision_log_layout(str(out))
    _check_decision_log_layout(str(tmp_path / "missing"))


def test_decision_log_counting_schema_raises(spark, tmp_path):
    """A decision log written by the counting-probe era
    (n_near_candidates) must be rejected too: mixing it with
    decision-only batches (near_dup) makes parquet schema resolution
    silently null one column for every reader."""
    from welearn_datastack_spark.streaming.state_machine import (
        _check_decision_log_layout,
    )

    out = tmp_path / "out"
    legacy = spark.createDataFrame(
        [(1, None, 2, "near_dup")],
        "doc_id long, exact_dup_of long, n_near_candidates long, state string",
    )
    legacy.coalesce(1).write.parquet(str(out / "batch_id=0"))
    with pytest.raises(RuntimeError, match="counting-probe schema"):
        _check_decision_log_layout(str(out))
    # the current decision schema passes
    import shutil

    shutil.rmtree(out)
    current = spark.createDataFrame(
        [(1, None, True, "near_dup")],
        "doc_id long, exact_dup_of long, near_dup boolean, state string",
    )
    current.coalesce(1).write.parquet(str(out / "batch_id=0"))
    _check_decision_log_layout(str(out))


def test_decision_log_partial_migration_raises(spark, tmp_path):
    """A MIXED decision log — one batch written by the counting era,
    one by the decision era — must be rejected no matter which batch
    the directory glob happens to order first. An earlier guard
    sampled only the first glob hit, so a partially-migrated log
    passed whenever that hit was new-schema."""
    from welearn_datastack_spark.streaming.state_machine import (
        _check_decision_log_layout,
    )

    out = tmp_path / "out"
    current = spark.createDataFrame(
        [(1, None, True, "near_dup")],
        "doc_id long, exact_dup_of long, near_dup boolean, state string",
    )
    # batch_id=0 sorts FIRST: the old single-sample guard would read
    # it, see the new schema, and wave the mixed log through
    current.coalesce(1).write.parquet(str(out / "batch_id=0"))
    legacy = spark.createDataFrame(
        [(2, None, 3, "near_dup")],
        "doc_id long, exact_dup_of long, n_near_candidates long, state string",
    )
    legacy.coalesce(1).write.parquet(str(out / "batch_id=1"))
    with pytest.raises(RuntimeError, match="counting-probe schema"):
        _check_decision_log_layout(str(out))
    # all-new-schema multi-batch log passes
    import shutil

    shutil.rmtree(out / "batch_id=1")
    current.coalesce(1).write.parquet(str(out / "batch_id=1"))
    _check_decision_log_layout(str(out))


@pytest.mark.parametrize(
    "kwargs, match",
    [
        ({"shingle_n": 0}, "shingle_n"),
        ({"n_hashes": 0}, "n_hashes"),
        ({"n_hashes": -8}, "n_hashes"),
        ({"rows_per_band": 0}, "rows_per_band"),
        ({"n_hashes": 9, "rows_per_band": 2}, "multiple of rows_per_band"),
    ],
    ids=["shingle_n_zero", "n_hashes_zero", "n_hashes_negative",
         "rows_per_band_zero", "ragged_last_band"],
)
def test_lsh_params_rejects_unbandable(kwargs, match):
    """lsh_band_keys bands by seed // rows_per_band: 9 hashes at 2 rows
    would write a 5th single-row band that n_bands (4) and s50 never
    count, and 0 rows divides by zero — the params refuse both."""
    from welearn_datastack_spark.pipeline.ingest_increment import LshParams

    with pytest.raises(ValueError, match=match):
        LshParams(**kwargs)


def test_corrupt_params_sidecar_raises(tmp_path):
    """A store whose lsh_params.json holds unbandable params fails on
    load instead of probing with bands the store cannot match."""
    import json

    from welearn_datastack_spark.pipeline.ingest_increment import load_params

    (tmp_path / "lsh_params.json").write_text(
        json.dumps({"shingle_n": 3, "n_hashes": 9, "rows_per_band": 2})
    )
    with pytest.raises(ValueError, match="multiple of rows_per_band"):
        load_params(str(tmp_path))


def test_ingest_cli_rejects_unbandable_args(spark, sf_dir, tmp_path, monkeypatch):
    """``jobs ingest-increment --n-hashes 9 --rows-per-band 2`` fails
    before it builds a state store."""
    from welearn_datastack_spark import jobs, session

    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    state = tmp_path / "state"
    with pytest.raises(ValueError, match="multiple of rows_per_band"):
        jobs.main([
            "ingest-increment", "--sf-dir", sf_dir, "--state", str(state),
            "--out", str(tmp_path / "out"), "--n-hashes", "9", "--rows-per-band", "2",
        ])
    assert not state.exists()


def test_size_lsh_params_solves_the_s_curve():
    """The sizing helper inverts s50 = (1/b)^(1/r): known anchors map
    back exactly, the realized s50 lands near any target, more
    permissive targets never cost more hashes than stricter ones, and
    impossible targets fail loudly."""
    from welearn_datastack_spark.pipeline.ingest_increment import (
        LshParams,
        size_lsh_params,
    )

    # the production default is the 0.5 anchor: 4 bands x 2 rows
    assert size_lsh_params(0.5) == LshParams(3, 8, 2)
    # the documented second parameterization: 8 bands x 2 rows
    p = size_lsh_params(0.35)
    assert (p.n_hashes, p.rows_per_band) == (16, 2)
    assert abs(p.s50 - 0.35) < 0.01
    # realized s50 tracks the target across the range
    for t in (0.2, 0.3, 0.4, 0.6, 0.7, 0.8):
        got = size_lsh_params(t, max_hashes=256)
        assert abs(got.s50 - t) < 0.05, (t, got)
    # lower threshold (more recall) needs at least as many hashes
    assert size_lsh_params(0.3, max_hashes=256).n_hashes >= size_lsh_params(
        0.6, max_hashes=256
    ).n_hashes
    import pytest as _pytest

    with _pytest.raises(ValueError):
        size_lsh_params(0.05, max_hashes=8)  # unreachable in budget
    with _pytest.raises(ValueError):
        size_lsh_params(1.5)


def test_wide_banding_raises_mid_similarity_recall(spark):
    """The sizing helper's promise, validated empirically: moving
    from the default (b=4, r=2; s50~0.5) to the 0.35-target sizing
    (b=8, r=2; s50~0.354) must catch MORE mid-similarity pairs.
    Structurally, band k is built from seeds (rk .. rk+r-1), so the
    wide banding's first 4 bands ARE the default's bands — its
    candidate set is a superset by construction; the extra 4 bands
    buy the extra recall. Synthetic pairs near Jaccard ~0.35 (where
    the default's s-curve gives ~0.4 hit rate and the wide one ~0.65)
    make the gap deterministic and visible."""
    from welearn_datastack_spark.operators.dedup import (
        lsh_band_keys,
        lsh_candidates,
        minhash_signatures,
        word_shingles,
    )

    rows = []
    for i in range(60):
        base = [f"w{i}_{j}" for j in range(30)]
        # partner shares a prefix: trigram-shingle Jaccard lands in
        # the 0.3-0.45 band (shared shingles / union)
        partner = base[:16] + [f"x{i}_{j}" for j in range(14)]
        rows.append((2 * i, " ".join(base)))
        rows.append((2 * i + 1, " ".join(partner)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = word_shingles(docs, "doc_id", "text", n=3)
    true_pairs = {(2 * i, 2 * i + 1) for i in range(60)}

    def caught(n_hashes: int) -> set:
        sigs = minhash_signatures(sh, "doc_id", n_hashes=n_hashes)
        cand = lsh_candidates(
            lsh_band_keys(sigs, "doc_id", rows_per_band=2), "doc_id"
        )
        got = {(r["a_id"], r["b_id"]) for r in cand.collect()}
        return got & true_pairs

    default_caught = caught(8)
    wide_caught = caught(16)
    # superset by construction (shared leading bands) ...
    assert default_caught <= wide_caught
    # ... and the extra bands genuinely move mid-band recall
    assert len(wide_caught) > len(default_caught), (
        len(default_caught), len(wide_caught),
    )
    print(
        f"mid-band recall: default {len(default_caught)}/60, "
        f"wide {len(wide_caught)}/60"
    )


def test_decision_probe_matches_counting_probe(spark, sf_dir):
    """The two ingest gates agree per doc: ingest_decision_probe (the
    production probe: left_semi band existence) and
    ingest_increment_pipeline (the counting diagnostic) yield IDENTICAL
    (doc_id, exact_dup_of, state) decisions, and near_dup is set
    exactly where the partner count is positive. The decision plan
    must actually BE a semi join: no candidate-pair aggregation may
    survive in it."""
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

    _load_groups()
    decision = REGISTRY["ingest_decision_probe"].build(spark, sf_dir)
    counting = REGISTRY["ingest_increment_pipeline"].build(spark, sf_dir)

    plan = decision._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan[:1500]

    d_rows, c_rows = decision.collect(), counting.collect()
    key = lambda r: (r["doc_id"], r["exact_dup_of"], r["state"])
    assert sorted(map(key, d_rows)) == sorted(map(key, c_rows))
    nd = {r["doc_id"]: r["near_dup"] for r in d_rows}
    for r in c_rows:
        assert nd[r["doc_id"]] == (r["n_near_candidates"] > 0), r


def test_stream_near_leg_is_decision_only(spark, sf_dir, tmp_path, monkeypatch):
    """The STREAM's per-micro-batch probe must ride the decision-only
    path: LeftSemi in the executed decision plan, and no counting-era
    candidate aggregation (n_near_candidates) anywhere in it. §21.4
    proved the BATCH probe's bytes linear; this pins that the
    streaming wrapper cannot silently regress onto a counting leg whose
    bytes grow with corpus collision density (4.72x per 3x at sf30)."""
    import glob
    import os
    import shutil

    import welearn_datastack_spark.pipeline.ingest_increment as inc
    from welearn_datastack_spark.sources.tables import load_table
    from welearn_datastack_spark.streaming.state_machine import stream_ingest_probe

    captured: dict = {}
    real = inc._probe

    def spy(*frames):
        d = real(*frames)
        captured["plan"] = d._jdf.queryExecution().executedPlan().toString()
        return d

    monkeypatch.setattr(inc, "_probe", spy)

    docs = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    work = str(tmp_path)
    inc.build_state(docs.filter(m.isin(1, 2, 3)), f"{work}/state")
    src = f"{work}/incoming"
    docs.filter(m == 4).coalesce(1).write.mode("overwrite").parquet(f"{work}/tmp_a")
    os.makedirs(src, exist_ok=True)
    shutil.copy(glob.glob(f"{work}/tmp_a/part-*.parquet")[0], f"{src}/a.parquet")

    stream_ingest_probe(spark, src, f"{work}/state", f"{work}/ckpt", f"{work}/out")

    assert captured, "stream never reached the probe"
    assert "LeftSemi" in captured["plan"], captured["plan"][:1500]
    assert "n_near_candidates" not in captured["plan"]



@pytest.mark.parametrize("to_dir", [False, True], ids=["checkpoint", "decisions_dir"])
def test_ingest_batch_band_append_adds_no_more_files_than_hashes(
    spark, sf_dir, tmp_path, to_dir
):
    """One ingest_batch of a one-file batch grows band_store by no more
    part files than doc_hashes: the pinned band frame keeps
    word_shingles' defaultParallelism partitions, and appending it as
    is would leave one band_store fragment per core for the probe to
    open until the next compaction."""
    import glob

    from welearn_datastack_spark.pipeline.ingest_increment import (
        build_state,
        ingest_batch,
    )
    from welearn_datastack_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    state = str(tmp_path / "state")
    build_state(docs.filter(m.isin(1, 2, 3)), state)
    docs.filter(m == 4).coalesce(1).write.parquet(str(tmp_path / "batch"))
    batch = spark.read.parquet(str(tmp_path / "batch"))

    def n_files(leg):
        return len(glob.glob(f"{state}/{leg}/part-*.parquet"))

    bands0, hashes0 = n_files("band_store"), n_files("doc_hashes")
    _, counts = ingest_batch(
        spark, batch, state, decisions_dir=str(tmp_path / "dec") if to_dir else None
    )
    assert counts["admitted"] > 0
    grown_bands = n_files("band_store") - bands0
    grown_hashes = n_files("doc_hashes") - hashes0
    assert 0 < grown_bands <= grown_hashes, (grown_bands, grown_hashes)

# --- streaming-probe first-rung plan transition ---------------------
# SCALE.md §22.5 explains the stream probe's steep sf1→sf3 byte rung
# (5.05x for 3x data) as a broadcast→exchange plan transition: at sf1
# the stored state side fits under the broadcast threshold so the
# semi-join leg pays no shuffle; by sf3 it is a real exchange. This
# pins that mechanism: the SAME probe plan rides BroadcastHashJoin
# when the state side is under the threshold and a shuffle join once
# it is not — so a future change that made the probe super-linear
# could no longer hide behind the "plan transition" sentence.


def test_stream_probe_first_rung_is_broadcast_to_exchange_transition(spark, sf_dir):
    from welearn_datastack_spark.operators.dedup import (
        incremental_near_dup_ids,
        lsh_band_keys,
        minhash_signatures,
        word_shingles,
    )
    from welearn_datastack_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")

    def bands(d):
        return lsh_band_keys(
            minhash_signatures(word_shingles(d, "doc_id", "text", n=3), "doc_id", 8),
            "doc_id",
            rows_per_band=2,
        )

    stored = bands(docs.filter(F.col("doc_id") % 5 != 4))
    new = bands(docs.filter(F.col("doc_id") % 5 == 4))

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )

    def executed_plan(threshold):
        old = {k: spark.conf.get(k, None) for k in keys}
        try:
            for k in keys:
                spark.conf.set(k, threshold)
            d = incremental_near_dup_ids(stored, new, "doc_id")
            d.write.format("noop").mode("overwrite").save()
            return d._jdf.queryExecution().executedPlan().toString()
        finally:
            for k, v in old.items():
                spark.conf.set(k, v) if v is not None else spark.conf.unset(k)

    # sf1 regime: state side under the threshold → broadcast semi leg
    small = executed_plan("10485760b")
    assert "BroadcastHashJoin" in small and "LeftSemi" in small, small[:1500]
    # sf3+ regime: no broadcast eligibility → the semi leg is a real
    # exchange-backed join (the byte rung §22.5 measured)
    big = executed_plan("-1")
    assert "LeftSemi" in big, big[:1500]
    assert "BroadcastHashJoin" not in big, big[:1500]
    assert "SortMergeJoin" in big or "ShuffledHashJoin" in big, big[:1500]

"""Adversarial oracle fuzz: every registered query must match its
DuckDB oracle on EDGE-CASE data, not just the driver's benign tables —
empty and whitespace-only documents, unicode, exact and near
duplicates, missing JSON keys, duplicate timestamps, users without
events, nanosecond timestamps. Deterministic (seed 7) so failures
reproduce."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from welearn_datastack_spark.plans.oracle_check import check_query, duckdb_conn
from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

_load_groups()

REPO = Path(__file__).resolve().parent.parent

rng = np.random.default_rng(7)
WORDS = [
    "the", "a", "of", "und", "der", "le", "et", "spark", "data", "merge",
    "naïve", "Ünïcode", "east", "west", "12", "x", "rolling-sum",
]


def _doc_text(i: int) -> str:
    if i % 37 == 0:
        return ""  # empty document
    if i % 37 == 1:
        return "   "  # whitespace-only
    if i % 37 == 2:
        return "solo"
    if i % 37 == 3:
        return "line one\nline two\tand tabs\n\nblank lines"
    if i % 11 == 0:
        return "dup dup shared text body exact copy"  # exact duplicates
    n = int(rng.integers(3, 40))
    return " ".join(rng.choice(WORDS, size=n))


@pytest.fixture(scope="module")
def fuzz_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("fuzz_sf")
    n_docs, n_events, n_users, n_vecs = 160, 900, 40, 320

    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": [_doc_text(i) for i in range(n_docs)],
            "lang": rng.choice(["en", "fr", "es", "de", "zh"], size=n_docs),
            "source": rng.choice([f"src{j}" for j in range(8)], size=n_docs),
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    docs.to_parquet(d / "documents.parquet", index=False)

    base = pd.Timestamp("2024-01-01")
    ts = base + pd.to_timedelta(rng.integers(0, 30 * 86400 * 10**6, size=n_events), unit="us")
    ts = ts.to_numpy()
    ts[5] = ts[4]  # duplicate timestamps (asof tie stress)
    props = [
        "{}" if i % 19 == 0 else '{"k": %d}' % int(rng.integers(0, 200)) for i in range(n_events)
    ]
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts).cast(pa.timestamp("ns")),  # the driver's NANOS quirk
            "user_id": pa.array(rng.integers(0, n_users, size=n_events).astype(np.int64)),
            "event_type": pa.array(
                rng.choice(["click", "view", "purchase", "signup", "error"], size=n_events)
            ),
            "value": pa.array(np.round(rng.uniform(0, 250, size=n_events), 2)),
            "props": pa.array(props),
        }
    )
    pq.write_table(events, d / "events.parquet")

    vecs = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    vecs[17] = vecs[16]  # identical embeddings (near-dup stress)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size=n_vecs).astype(np.int32)),
        }
    )
    pq.write_table(emb, d / "embeddings.parquet")

    # TPC-H-ish minimal tables, value ranges crossing every query cutoff
    region = pd.DataFrame({"r_regionkey": np.arange(3, dtype=np.int64), "r_name": ["R0", "R1", "R2"]})
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(6, dtype=np.int64),
            "n_name": [f"N{i}" for i in range(6)],
            "n_regionkey": np.array([0, 0, 1, 1, 2, 2], dtype=np.int64),
        }
    )
    n_cust, n_ord, n_li = 50, 300, 900
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"C{i}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 6, size=n_cust).astype(np.int64),
            "c_acctbal": np.round(rng.uniform(-900, 9000, size=n_cust), 2),
            "c_mktsegment": rng.choice(["BUILDING", "MACHINERY", "HOUSEHOLD"], size=n_cust),
        }
    )
    odate = pd.Timestamp("1995-01-01") + pd.to_timedelta(
        rng.integers(0, 2500, size=n_ord), unit="D"
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            # some customers have NO orders (anti-join non-empty)
            "o_custkey": rng.integers(0, max(2, n_cust - 8), size=n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["O", "F", "P"], size=n_ord),
            "o_totalprice": np.round(rng.uniform(100, 400000, size=n_ord), 2),
            "o_orderdate": odate.astype("datetime64[ms]"),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"], size=n_ord),
        }
    )
    sdate = pd.Timestamp("1995-01-02") + pd.to_timedelta(rng.integers(0, 2500, size=n_li), unit="D")
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(40, dtype=np.int64),
            "p_name": [f"P{i}" for i in range(40)],
            "p_brand": rng.choice(["B1", "B2", "B3"], size=40),
            "p_type": rng.choice(["T1", "T2"], size=40),
            "p_size": rng.integers(1, 50, size=40).astype(np.int64),
            "p_retailprice": np.round(rng.uniform(100, 2000, size=40), 2),
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(5, dtype=np.int64),
            "s_name": [f"S{i}" for i in range(5)],
            "s_nationkey": np.array([0, 1, 2, 3, 4], dtype=np.int64),
            "s_acctbal": np.round(rng.uniform(0, 9000, size=5), 2),
        }
    )
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, size=n_li).astype(np.int64),
            "l_partkey": rng.integers(0, 40, size=n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, 5, size=n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 7, size=n_li).astype(np.int32),
            "l_quantity": np.round(rng.uniform(1, 50, size=n_li), 2),
            "l_extendedprice": np.round(rng.uniform(900, 100000, size=n_li), 2),
            "l_discount": np.round(rng.uniform(0, 0.1, size=n_li), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, size=n_li), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], size=n_li),
            "l_linestatus": rng.choice(["O", "F"], size=n_li),
            "l_shipdate": sdate.astype("datetime64[ms]"),
        }
    )
    for name, df in [
        ("region", region),
        ("nation", nation),
        ("customer", customer),
        ("orders", orders),
        ("part", part),
        ("supplier", supplier),
        ("lineitem", lineitem),
    ]:
        df.to_parquet(d / f"{name}.parquet", index=False)
    return str(d)


@pytest.fixture(scope="module")
def fuzz_con(fuzz_dir):
    c = duckdb_conn(fuzz_dir)
    yield c
    c.close()


# rows-only specs legitimately need data-dependent row counts; skip the
# >0 gate only where fuzz data can't guarantee rows
@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle_on_fuzz_data(spark, fuzz_dir, fuzz_con, name):
    spec = REGISTRY[name]
    issues = check_query(spark, spec, fuzz_dir, fuzz_con)
    assert not issues, f"{name}: {issues}"


def test_duckdb_oracle_reads_multifile_layout(spark, tmp_path):
    """gen_sf.py --files-per-table writes <name>.parquet as a DIRECTORY
    of part files; the oracle harness must glob its members (DuckDB's
    read_parquet errors on a bare directory), so the correctness gate
    stays runnable against production-layout datasets."""
    out = str(tmp_path / "sf_multifile")
    subprocess.run(
        [
            sys.executable,
            str(REPO / "tools" / "gen_sf.py"),
            "--sf",
            "0.001",
            "--out",
            out,
            "--files-per-table",
            "2",
        ],
        check=True,
        capture_output=True,
        text=True,
    )
    assert os.path.isdir(os.path.join(out, "documents.parquet"))
    # region (5 rows) is also a dir at 2 files; nation 25 rows etc. —
    # all >= 2 rows, so the layout is uniform here
    from welearn_datastack_spark.plans.oracle_check import duckdb_conn

    con = duckdb_conn(out)
    for name in ("documents", "lineitem", "region"):
        duck_n = con.execute(f"SELECT count(*) FROM {name}").fetchone()[0]
        spark_n = spark.read.parquet(os.path.join(out, f"{name}.parquet")).count()
        assert duck_n == spark_n and duck_n > 0, (name, duck_n, spark_n)
    con.close()

"""Deterministic synthetic-table generator for scale rehearsals.

Mirrors the driver-generated tables described in TESTDATA.md (TPC-H-ish
star schema + ``events`` + ``documents`` + ``embeddings``) so the
headline bench set can be exercised at scale factors the driver does not
ship — notably sf1 (~6M lineitem rows), 10x the bench's sf0.1.

The OUTPUT IS NOT byte-identical to the driver's data (its generator is
not published); what is mirrored is the schema, the key relationships
(lineitem.l_orderkey -> orders, orders.o_custkey -> customer, ...), the
value ranges/distributions observed at sf0.1, and the structural knobs
that drive query cost (vocab-30 word-salad documents => shingle overlap
density for the dedup family; unit-norm 64-d embeddings; ~0.16% exact-dup
text rate; uniform event types over a 30-day window).

Row counts scale linearly from the observed sf0.1 counts (dimension
tables region/nation stay fixed, as in TPC-H).

Usage:
    python tools/gen_sf.py --sf 1 --out /tmp/welearn_sf1

Writes one parquet per table with multiple row groups (row_group_size
256k) so scans parallelize -- unlike the driver's single-row-group
files (see SCALE.md section 12), which makes sf1 scans *more*
representative of a real cluster layout, not less.
"""
from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000  # microseconds per day


N_FILES = 1  # module knob, set by --files-per-table
ROW_GROUP_ROWS = 256 * 1024  # module knob, set by --row-group-rows
TABLES_WANTED: set[str] | None = None  # module knob, set by --tables
VOCAB_SIZE = 0  # module knob, set by --vocab-size (0 = legacy 31-word list)
ZIPF_S = 1.07  # module knob, set by --zipf-s


def _synth_vocab(n: int) -> np.ndarray:
    """n distinct tokens ordered by rank: 'a'..'z', 'aa', 'ab', ... —
    short tokens get the high zipf ranks, mimicking natural text where
    the most frequent words are the shortest."""
    toks: list[str] = []
    letters = "abcdefghijklmnopqrstuvwxyz"
    width = 1
    while len(toks) < n:
        idx = np.arange(26 ** width)
        for i in idx:
            if len(toks) >= n:
                break
            s, j = "", int(i)
            for _ in range(width):
                s = letters[j % 26] + s
                j //= 26
            toks.append(s)
        width += 1
    return np.array(toks)


def _draw_words(rng: np.random.Generator, total: int) -> np.ndarray:
    """Word tokens for `total` positions. Legacy mode (VOCAB_SIZE=0):
    uniform over the 31-word list — maximally collision-dense 'word
    salad', kept as the stress corpus. Realistic mode (--vocab-size N,
    N ≥ 50k per the round-11 verdict): zipfian draw p(r) ∝ 1/r^s over
    an N-token vocabulary — the de-confound corpus for the LSH family,
    whose band-key collision behavior on the legacy corpus is driven
    by vocabulary collapse rather than near-dup density (SCALE.md
    §22.6)."""
    if VOCAB_SIZE <= 0:
        vocab = np.array(VOCAB)
        return vocab[rng.integers(0, len(vocab), total)]
    vocab = _synth_vocab(VOCAB_SIZE)
    p = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** -ZIPF_S
    cdf = np.cumsum(p / p.sum())
    # inverse-CDF via searchsorted: O(total·log V), fast enough for
    # the 80M+ draws a docs-only sf30 generation needs
    return vocab[np.searchsorted(cdf, rng.random(total), side="left")]


def _want(name: str) -> bool:
    return TABLES_WANTED is None or name in TABLES_WANTED


def _write(out: str, name: str, table: pa.Table) -> None:
    if N_FILES > 1 and table.num_rows < N_FILES:
        # NOTE: tiny tables (num_rows < N_FILES) fall back to a single
        # file below — the dataset is deliberately MIXED-layout in
        # that case (dims as files, facts as directories). Announce it
        # so a bench reader never mistakes the layout for uniform.
        print(f"  {name}: {table.num_rows} rows < {N_FILES} files; "
              "falling back to single-file layout for this table")
    if N_FILES > 1 and table.num_rows >= N_FILES:
        # production-layout variant: the table arrives as MANY files
        # (a directory of parts, the shape a real cluster writes), so
        # scans split across cores from the layout alone — the case
        # fan_out_for_compute must structurally no-op on. The
        # single-file default mirrors the driver's toy testdata.
        path = os.path.join(out, f"{name}.parquet")
        os.makedirs(path, exist_ok=True)
        step = -(-table.num_rows // N_FILES)
        for i in range(N_FILES):
            chunk = table.slice(i * step, step)
            if chunk.num_rows:
                pq.write_table(
                    chunk,
                    os.path.join(path, f"part-{i:05d}.parquet"),
                    row_group_size=ROW_GROUP_ROWS,
                )
        print(f"  {name}: {table.num_rows} rows -> {path} ({N_FILES} files)")
        return
    path = os.path.join(out, f"{name}.parquet")
    pq.write_table(table, path, row_group_size=ROW_GROUP_ROWS)
    print(f"  {name}: {table.num_rows} rows -> {path}")


def _ts_col(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _release_session_caches() -> None:
    """Corpora-regen hook: if this generator runs INSIDE a session that
    already cached frames over the output dir (service-style callers,
    test fixtures), clear the catalog cache — Spark would otherwise
    serve later queries over the rewritten files from caches built
    over the old ones. No-op when pyspark or a session is unavailable
    (the normal standalone-CLI case: a fresh process holds no
    caches)."""
    try:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            active.catalog.clearCache()
    except Exception:  # noqa: BLE001 — generation must not require the engine
        pass


def generate(sf: float, out: str) -> None:
    rng = np.random.default_rng(SEED)
    os.makedirs(out, exist_ok=True)

    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = int(20_000 * sf)

    # NOTE (--tables): guarded blocks SHIFT the shared rng stream, so
    # a subset-generated table is NOT byte-identical to the same table
    # from a full generation. Subsets exist for slim-family decade
    # rehearsals (each dataset is internally consistent); never mix
    # subset- and full-generated dirs in one comparison.
    if _want("region"):
        _write(out, "region", pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }))
    if _want("nation"):
        _write(out, "nation", pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }))

    if _want("customer"):
        _write(out, "customer", pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }))

    if _want("supplier"):
        _write(out, "supplier", pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        }))

    if _want("part"):
        colors = ["red", "green", "blue", "old", "new", "hot", "cold", "large",
                  "small", "fast"]
        nouns = ["ring", "bolt", "plate", "disk", "cog", "gear", "pin", "rod"]
        _write(out, "part", pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{colors[i % 10]} {nouns[(i // 10) % 8]}" for i in range(n_part)],
            "p_brand": [f"Brand#{i % 25}" for i in rng.integers(0, 25, n_part)],
            "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }))

    # orders span 1995-01-01 .. 2001-08-01 (as observed at sf0.1)
    epoch95 = np.datetime64("1995-01-01", "us").astype(np.int64)
    span_days = (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int)
    o_date_us = None
    if _want("orders") or _want("lineitem"):
        o_date_us = epoch95 + rng.integers(0, span_days + 1, n_ord) * DAY_US
    if _want("orders"):
        _write(out, "orders", pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": np.round(rng.uniform(900, 450_000, n_ord), 2),
            "o_orderdate": _ts_col(o_date_us),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }))

    if _want("lineitem"):
        li_order = rng.integers(0, n_ord, n_li)
        ship_us = o_date_us[li_order] + rng.integers(1, 121, n_li) * DAY_US
        _write(out, "lineitem", pa.table({
            "l_orderkey": pa.array(li_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": _ts_col(ship_us),
        }))

    if _want("events"):
        # events: 30-day window from 2024-01-01, sorted by ts, users ~ n_cust/10
        ev_epoch = np.datetime64("2024-01-01", "us").astype(np.int64)
        ev_us = np.sort(ev_epoch + rng.integers(0, 30 * DAY_US, n_ev))
        n_users = max(1, n_cust // 10)
        _write(out, "events", pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts_col(ev_us),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
            "value": np.round(rng.uniform(0, 200, n_ev), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }))

    if _want("documents"):
        # documents: 10..100 words each, ~0.16% exact dups; word draw
        # per --vocab-size (legacy 31-word salad vs zipfian realistic)
        n_words = rng.integers(10, 101, n_doc)
        starts = np.concatenate([[0], np.cumsum(n_words)])
        all_words = _draw_words(rng, int(starts[-1]))
        texts = [" ".join(all_words[starts[i]:starts[i + 1]]) for i in range(n_doc)]
        n_dup = max(1, int(0.0016 * n_doc))
        dup_src = rng.choice(n_doc, n_dup, replace=False)
        dup_dst = rng.choice(n_doc, n_dup, replace=False)
        for s, t in zip(dup_src, dup_dst):
            if s != t:
                texts[t] = texts[s]
        langs = np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]
        _write(out, "documents", pa.table({
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": pa.array(langs),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }))

    if _want("embeddings"):
        # embeddings: unit-norm 64-d gaussian, random labels 0..9
        E = rng.standard_normal((n_emb, 64)).astype(np.float32)
        E /= np.linalg.norm(E, axis=1, keepdims=True)
        _write(out, "embeddings", pa.table({
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(E), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }))

    _release_session_caches()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf", type=float, default=1.0)
    ap.add_argument("--out", default="/tmp/welearn_sf1")
    ap.add_argument(
        "--files-per-table", type=int, default=1,
        help="write each table as N part files in a name.parquet/ dir "
        "(production multi-split layout; 1 = driver-style single file)",
    )
    ap.add_argument(
        "--tables", default="",
        help="comma-separated table subset to generate (default: all); "
        "subset generation shifts the shared rng stream — see the "
        "note in generate()",
    )
    ap.add_argument(
        "--row-group-rows", type=int, default=256 * 1024,
        help="parquet row-group size in rows (smaller values yield "
        "several row groups PER part file — the mixed layout quadrant "
        "of the fan-out evidence plane)",
    )
    ap.add_argument(
        "--vocab-size", type=int, default=0,
        help="documents vocabulary: 0 = legacy 31-word salad (the "
        "collision-dense stress corpus); N > 0 = zipfian draw over an "
        "N-token synthetic vocabulary (realistic mode — use >= 50000)",
    )
    ap.add_argument(
        "--zipf-s", type=float, default=1.07,
        help="zipf exponent for --vocab-size mode (1.07 ~ natural text)",
    )
    args = ap.parse_args()
    global N_FILES, ROW_GROUP_ROWS, TABLES_WANTED, VOCAB_SIZE, ZIPF_S
    N_FILES = args.files_per_table
    ROW_GROUP_ROWS = args.row_group_rows
    VOCAB_SIZE = args.vocab_size
    ZIPF_S = args.zipf_s
    if args.tables:
        TABLES_WANTED = {t.strip() for t in args.tables.split(",") if t.strip()}
    print(f"generating sf={args.sf} -> {args.out} "
          f"(files/table={N_FILES}, row_group_rows={ROW_GROUP_ROWS}, "
          f"vocab={'legacy31' if VOCAB_SIZE <= 0 else f'zipf{VOCAB_SIZE}@{ZIPF_S}'})")
    generate(args.sf, args.out)


if __name__ == "__main__":
    main()

"""Join / set-operation patterns from the reference (SURVEY.md §2.3/§2.7).

All joins in the reference are equi-joins sent to Postgres; here they
are declared on DataFrames and Catalyst/AQE picks broadcast vs
sort-merge. Dimension sides (corpus, models, keyword dictionary) are
small by construction → ``F.broadcast`` them explicitly so the plan is
shuffle-free on the big side even before AQE kicks in.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def semi_join(facts: DataFrame, probe: DataFrame, on: list[str] | str) -> DataFrame:
    """Rows of ``facts`` with ≥1 match in ``probe`` (reference J6,
    retrieve_data_from_database.py:386–403 — documents whose latest
    state ∈ steps ∩ id-list)."""
    return facts.join(probe, on=on, how="left_semi")


def anti_join(facts: DataFrame, probe: DataFrame, on: list[str] | str) -> DataFrame:
    """Rows of ``facts`` with no match in ``probe`` (reference J7/J11 —
    non-SDG set difference, NOT EXISTS backfill SQL)."""
    return facts.join(probe, on=on, how="left_anti")


def get_or_create(
    dim: DataFrame,
    incoming: DataFrame,
    key: str,
    id_col: str = "id",
) -> DataFrame:
    """Keyword-style get-or-create (reference J8,
    nodes_workflow/KeywordsExtractor/keywords_extractor.py:91–101:
    probe the unique-text dictionary, reuse the id, else create).

    MERGE-style and idempotent: new keys get a *deterministic* id
    (md5 of the key) instead of the reference's DB-generated UUID, so
    re-running the job converges instead of relying on transactional
    INSERT + unique-constraint rollback. Returns the updated dimension
    (existing ∪ created).

    One pass over each input: ``dim`` full-outer-joins the distinct
    incoming keys, and a row keeps the dim's own id iff it came from
    ``dim`` (a presence marker, not a coalesce, so an existing NULL id
    stays NULL). Equal to ``dim ∪ (distinct incoming ⋉̸ dim)`` with
    md5 ids on the created side, row for row: duplicate dim rows all
    survive, and a NULL key never matches, so a NULL dim key is kept
    as is and a NULL incoming key is created (with a NULL md5 id).
    """
    incoming_keys = incoming.select(key).dropDuplicates([key])
    merged = dim.select(key, id_col, F.lit(True).alias("__in_dim")).join(
        incoming_keys, on=key, how="full_outer"
    )
    return merged.select(
        key,
        F.when(F.col("__in_dim"), F.col(id_col)).otherwise(F.md5(F.col(key))).alias(id_col),
    )


def overwrite_by_key(existing: DataFrame, incoming: DataFrame, key: str) -> DataFrame:
    """Delete-then-upsert ≡ overwrite-by-key (reference S16, the Qdrant
    sink: delete points whose payload document_id is in the batch, then
    upsert the new points — modules/qdrant_handler.py:68–111 +
    qdrant_syncronizer.py:185–189). Pure-DataFrame MERGE:
    anti-join out the replaced keys, union the new rows.
    """
    return existing.join(incoming.select(key).dropDuplicates([key]), on=key, how="left_anti").unionByName(
        incoming
    )


def _shl1(nbits: Column) -> Column:
    """1L << nbits with a COLUMN shift amount (F.shiftleft only takes a
    Python int there; call_function reaches the SQL builtin, which
    does)."""
    return F.call_function("shiftleft", F.lit(1).cast("long"), nbits)


def bloom_bitmap(df: DataFrame, key: Column, m_bits: int = 1 << 16, k: int = 3) -> list:
    """Build a Bloom-filter bitmap over ``key`` as a Python list of
    ``m_bits / 64`` longs, via a distributed ``bit_or`` aggregation.

    Spark's built-in bloom runtime filters (BloomFilterAggregate) are
    injected by the optimizer but not exposed to SQL/DataFrame users,
    so this is the same structure hand-rolled: k xxhash64 probes per
    key, each setting one bit; per-word partial OR map-side; the final
    bitmap is at most m_bits/64 rows (8 KiB at the default size) — a
    BOUNDED metadata collect like compaction's file manifest, never
    corpus-scaled. The caller embeds it as a literal array so the
    probe side evaluates membership map-side with ZERO shuffle and no
    broadcast table.
    """
    assert m_bits >= 64 and m_bits % 64 == 0, "m_bits must be a positive multiple of 64"
    assert k >= 1, "k must be >= 1"
    words = m_bits // 64
    # null keys can't set bits (xxhash64(NULL) is NULL) — drop them
    # here; membership of NULL is the CALLER's semantic decision
    # (SQL equality never matches NULL, so NOT-EXISTS-style callers
    # must route null-key rows around the filter entirely)
    df = df.filter(key.isNotNull())
    probes = df.select(
        F.explode(
            F.array(*[
                F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(m_bits)).alias(f"p{seed}")
                for seed in range(k)
            ])
        ).alias("pos")
    )
    rows = (
        probes.groupBy((F.col("pos") / 64).cast("int").alias("word"))
        .agg(F.bit_or(_shl1((F.col("pos") % 64).cast("int"))).alias("bits"))
        .collect()
    )
    bitmap = [0] * words
    for r in rows:
        bitmap[r["word"]] = r["bits"]
    return bitmap


def bloom_might_contain(bitmap: list, key: Column, m_bits: int = 1 << 16, k: int = 3) -> Column:
    """Map-side Bloom membership test against a literal bitmap built by
    ``bloom_bitmap`` (same m/k/seeds — no false negatives by
    construction)."""
    assert len(bitmap) * 64 == m_bits, "bitmap length must match m_bits"
    arr = F.lit(bitmap)  # array<long> literal, m_bits/64 elements
    checks = []
    for seed in range(k):
        pos = F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(m_bits))
        word = F.element_at(arr, (pos / 64).cast("int") + 1)  # 1-based
        checks.append(word.bitwiseAND(_shl1((pos % 64).cast("int"))) != 0)
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out

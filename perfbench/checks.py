"""Output checks: query fingerprints and ingest-cycle invariants.

A query's fingerprint is the SHA-256 of its result in the canonical form
the engine's oracle gate compares (``plans.oracle_check.canonicalize``:
columns sorted by name, cells normalised, rows sorted). The reference
values in ``fingerprints.json`` come from the registry's DuckDB oracle
twin of each query (``make_fingerprints.py``), so a run compares the
engine's output with the oracle's without paying for the oracle.
"""

from __future__ import annotations

import hashlib

import pandas as pd


def fingerprint(pdf: pd.DataFrame) -> dict:
    from welearn_datastack_spark.plans.oracle_check import canonicalize

    cols, rows = canonicalize(pdf)
    digest = hashlib.sha256(repr((cols, rows)).encode()).hexdigest()
    return {"rows": len(rows), "cols": cols, "sha256": digest}


def fingerprint_issue(pdf: pd.DataFrame, expected: dict | None) -> str | None:
    """None when ``pdf`` matches the expected fingerprint, else why not."""
    if expected is None:
        return "no reference fingerprint"
    got = fingerprint(pdf)
    if got["cols"] != expected["cols"]:
        return f"columns {got['cols']} != {expected['cols']}"
    if got["rows"] != expected["rows"]:
        return f"{got['rows']} rows != {expected['rows']}"
    if got["sha256"] != expected["sha256"]:
        return "values differ from the oracle"
    return None


def cycle_issues(
    incoming_ids: list[int],
    decisions: list[tuple[int, str]],
    truth: dict[int, str],
    point_doc_ids: set[int],
) -> list[str]:
    """Invariants of one ingest cycle: exactly one decision per incoming
    document, every planted exact copy flagged ``exact_dup``, and points
    written for every admitted (``new``) document and no other."""
    issues = []
    decided = [d for d, _ in decisions]
    if sorted(decided) != sorted(incoming_ids):
        issues.append(
            f"{len(decided)} decisions ({len(set(decided))} distinct ids) "
            f"for {len(incoming_ids)} incoming documents"
        )
    state = dict(decisions)
    missed = [d for d in incoming_ids if truth.get(d) == "exact" and state.get(d) != "exact_dup"]
    if missed:
        issues.append(f"{len(missed)} planted exact copies not flagged exact_dup, e.g. {missed[0]}")
    admitted = {d for d, s in decisions if s == "new"}
    if point_doc_ids != admitted:
        issues.append(
            f"points for {len(point_doc_ids)} documents, {len(admitted)} admitted "
            f"({len(admitted - point_doc_ids)} without points)"
        )
    return issues


def compaction_issues(before: dict[str, int], after: dict[str, int], expected_hashes: int) -> list[str]:
    """Compaction keeps every state row, and the hash store holds one row
    per stored document (initial corpus plus every admitted document)."""
    issues = [f"{leg}: {before[leg]} rows before compaction, {after[leg]} after"
              for leg in before if before[leg] != after[leg]]
    if after["doc_hashes"] != expected_hashes:
        issues.append(f"doc_hashes holds {after['doc_hashes']} rows, expected {expected_hashes}")
    return issues

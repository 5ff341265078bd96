"""Seeded inputs for the benchmark.

Two kinds of input are made here, both from numbers alone:

- ``write_tables``: the ten-table star schema the registry queries read
  (``region nation customer supplier part orders lineitem events
  documents embeddings``) at scale factor 0.1, written by the engine's
  own generator ``tools/gen_sf.py`` at its fixed seed, so the oracle
  fingerprints in ``fingerprints.json`` stay valid; the workload seed
  never changes it.
- ``planted_cycles``: the ``ingest_cycle`` arrivals. Each 100-document
  file holds fixed shares of exact copies of stored documents, one-word
  mutations of stored documents, and documents never seen before, with
  languages drawn from the stored corpus's distribution. The workload
  seed picks the sources, positions, words and languages, and the
  planted truth is returned beside the files.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa

ROOT = Path(__file__).resolve().parent.parent
SCALE = 0.1

# The planted shares of one incoming file are an assumption: nothing in
# the repository measures the duplicate mix of real arrivals (the stored
# corpus holds about 0.16% exact copies). They are set so that each
# decision branch of the ingest probe runs on every cycle with enough
# documents to count:
# - exact copies (20 of 100) take the ``exact_dup`` branch; twenty per
#   file make a missed copy visible in each cycle's check;
# - one-word mutations (30 of 100) take the near-duplicate probe, the
#   costliest branch, and give ``near_dup_recall`` thirty samples a file;
# - unseen documents (the other 50) are the ``new`` branch: the admitted
#   documents that every enrichment stage works on, and the samples of
#   ``false_dup_ratio``.
EXACT_SHARE = 0.2
NEAR_SHARE = 0.3
DOCS_PER_FILE = 100
INCOMING_ID_BASE = 10_000_000


def _gen_sf():
    """The engine's own synthetic-table generator, ``tools/gen_sf.py``."""
    spec = importlib.util.spec_from_file_location("gen_sf", ROOT / "tools" / "gen_sf.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def write_tables(out_dir: str) -> None:
    """Write every table as ``<out_dir>/<name>.parquet`` with
    ``tools/gen_sf.py`` at scale factor 0.1 (its fixed seed, so the
    fingerprints stay valid). The directory appears only once complete,
    so an interrupted run leaves nothing a later run would mistake for
    finished input."""
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    with contextlib.redirect_stdout(sys.stderr):
        _gen_sf().generate(SCALE, tmp)
    os.rename(tmp, out_dir)


def _pick(rng: np.random.Generator, values: list[str], n: int, p: list[float]) -> pa.Array:
    return pa.array(np.array(values)[rng.choice(len(values), n, p=p)])


def _word_salad(rng: np.random.Generator, vocab: np.ndarray, n_docs: int) -> list[str]:
    """Unseen documents drawn the way the stored corpus is: 10 to 100
    words from the same vocabulary."""
    lengths = rng.integers(10, 101, n_docs)
    words = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    return [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]


def planted_cycles(
    stored: pa.Table, seed: int, n_cycles: int
) -> tuple[list[pa.Table], dict[int, str]]:
    """``n_cycles`` incoming files of ``DOCS_PER_FILE`` documents with the
    stored table's schema, and the planted kind of every incoming id:
    ``exact`` (a stored text copied verbatim), ``near`` (a stored text
    with one word replaced by another vocabulary word) or ``unseen``.
    No two planted copies share a stored source, so decisions within a
    run never depend on one another."""
    gen = _gen_sf()
    vocab = np.array(gen.VOCAB)
    rng = np.random.default_rng(seed)
    texts = stored.column("text").to_pylist()
    n_exact = int(EXACT_SHARE * DOCS_PER_FILE)
    n_near = int(NEAR_SHARE * DOCS_PER_FILE)
    sources = rng.choice(len(texts), n_cycles * (n_exact + n_near), replace=False)
    files, truth = [], {}
    for c in range(n_cycles):
        src = sources[c * (n_exact + n_near):(c + 1) * (n_exact + n_near)]
        rows = [("exact", texts[s]) for s in src[:n_exact]]
        for s in src[n_exact:]:
            words = texts[s].split(" ")
            i = int(rng.integers(0, len(words)))
            choices = vocab[vocab != words[i]]
            words[i] = str(choices[rng.integers(0, len(choices))])
            rows.append(("near", " ".join(words)))
        rows += [("unseen", x) for x in _word_salad(rng, vocab, DOCS_PER_FILE - len(rows))]
        order = rng.permutation(len(rows))
        ids = INCOMING_ID_BASE + c * DOCS_PER_FILE + np.arange(len(rows))
        body = [rows[k][1] for k in order]
        for doc_id, k in zip(ids, order):
            truth[int(doc_id)] = rows[k][0]
        files.append(pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": body,
            "lang": _pick(rng, gen.LANGS, len(rows), gen.LANG_P),
            "source": ["incoming"] * len(rows),
            "n_chars": pa.array([len(x) for x in body], pa.int64()),
        }))
    return files, truth

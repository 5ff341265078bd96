"""The pandas-UDF surface — the only operators that genuinely need
Python (SURVEY.md §2.11): model inference (M1–M3, M5), sentence-aware
slicing (F24), language detection (F15/M6), Unicode/entity
normalization (F2/F8), syllable counting (F12).

Design rules mirrored from the reference and hardened for Spark:
- Arrow-batched pandas UDFs only — never row-at-a-time Python UDFs
  (reference batches all slices of a doc through one forward pass,
  embedding_model_helpers.py:104–108; we batch the whole Arrow chunk).
- Models are loaded once per executor process through a module-level
  cache, mirroring the reference's ``loaded_models`` dict
  (embedding_model_helpers.py:25,144–147) — at 1000 executors this is
  the difference between 1000 loads and 1 load per core.
- Heavy libs (spaCy, lingua, pyphen, transformers) are NOT available
  in this container: each factory takes an injectable model fn and
  ships a deterministic stub, so the Spark-side plumbing (schema,
  batch shape, executor cache) is real and tested while the model is
  swappable. Stubs are marked STUB in docstrings.
- Errors become data, never exceptions (reference R6: every document
  wrapped in try/except → error_retrieval rows).
"""

from __future__ import annotations

import hashlib
import html
import math
import re
import unicodedata
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# executor-global model cache (reference loaded_models dict,
# embedding_model_helpers.py:25, 144–147)
# ---------------------------------------------------------------------------

_MODEL_CACHE: dict[str, object] = {}


def model_cache_key(name: str, loader: Callable[[], object]) -> str:
    """Executor-cache key for one (model name, loader) pair, computed
    on the DRIVER: the name plus a digest of the pickled loader. The
    name alone is not enough: a worker that had loaded one loader's
    model would answer every later loader under that name, silently
    ignoring a custom ``model_loader``. Distinct loaders pickle
    differently and never share an entry; the same loader keeps one
    load per worker."""
    from pyspark import cloudpickle

    return f"{name}:{hashlib.md5(cloudpickle.dumps(loader)).hexdigest()}"


def get_cached_model(key: str, loader: Callable[[], object]) -> object:
    if key not in _MODEL_CACHE:
        _MODEL_CACHE[key] = loader()
    return _MODEL_CACHE[key]


# ---------------------------------------------------------------------------
# scalar pandas UDFs (F2 / F8 / F12)
# ---------------------------------------------------------------------------


@F.pandas_udf(T.StringType())
def html_unescape(s: pd.Series) -> pd.Series:
    """F2's entity-unescape half (reference scraping_utils.py:40–56);
    the tag strip is a Catalyst regexp in functions/text.py."""
    return s.map(lambda x: html.unescape(x) if x is not None else None)


@F.pandas_udf(T.StringType())
def nfc_normalize(s: pd.Series) -> pd.Series:
    """F8: NFC normalize + nbsp→space + collapse (reference
    normalize_text, scraping_utils.py:186–195)."""

    def norm(x):
        if x is None:
            return None
        x = unicodedata.normalize("NFC", html.unescape(x)).replace("\xa0", " ")
        return re.sub(r"\s+", " ", x).strip()

    return s.map(norm)


@F.pandas_udf(T.IntegerType())
def syllable_count_en(s: pd.Series) -> pd.Series:
    """F12: syllable count. Reference uses Pyphen hyphenation points
    (computed_metadata.py:115–135). STUB: pyphen is absent here, so we
    count vowel groups — same UDF shape, swap the body when pyphen is
    installable."""
    return s.map(lambda x: len(re.findall(r"[aeiouy]+", x.lower())) if x is not None else None)


# ---------------------------------------------------------------------------
# F15 / M6 — language identification
# ---------------------------------------------------------------------------

LANGID_SCHEMA = T.StructType(
    [
        T.StructField("lang", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
    ]
)

_MARKERS = {
    "en": {"the", "and", "of", "a", "to", "is", "in"},
    "fr": {"le", "les", "et", "une", "dans", "est"},
    "es": {"el", "y", "que", "los", "para", "es"},
    "de": {"der", "und", "das", "ein", "nicht", "ist"},
}


@F.pandas_udf(LANGID_SCHEMA)
def detect_language(s: pd.Series) -> pd.DataFrame:
    """F15/M6: language identification with confidence (reference uses
    lingua, computed_metadata.py:202–237, recording top-1 iso639-1 +
    confidence). STUB detector: marker-token voting — same struct
    output ``(lang, confidence)`` the real detector would fill."""

    def detect(x):
        if not x:
            return (None, None)
        toks = re.findall(r"\w+", x.lower())
        if not toks:
            return (None, None)
        scores = {lang: sum(t in m for t in toks) for lang, m in _MARKERS.items()}
        best = max(sorted(scores), key=lambda k: scores[k])
        if scores[best] == 0:
            return ("und", 0.0)
        return (best, scores[best] / len(toks))

    out = s.map(detect)
    return pd.DataFrame({"lang": out.map(lambda t: t[0]), "confidence": out.map(lambda t: t[1])})


# ---------------------------------------------------------------------------
# F24 — sentence-aware slicing (UDTF-shaped: 1 doc → N slices)
# ---------------------------------------------------------------------------

_SENT_SPLIT = re.compile(r"(?<=[.!?])\s+")


def split_sentences(text: str) -> list[str]:
    """Sentence boundaries. Reference uses spaCy sentencizer
    (embedding_model_helpers.py:166–225 with a 1M-char guard split at
    :87–100). STUB: punctuation-regex splitter with the same contract
    (never returns empty list for non-empty text)."""
    if not text:
        return []
    parts = [p.strip() for p in _SENT_SPLIT.split(text) if p.strip()]
    return parts or [text.strip()]


def pack_slices(text: str, slice_length: int, split_oversized: bool = False) -> list[str]:
    """Pack sentences into slices of ≤ ``slice_length`` words.

    A single sentence longer than the budget is, by default, truncated
    with "…" — the reference's behavior (create_content_slices,
    embedding_model_helpers.py:166–225). That silently DROPS most of a
    punctuation-less document (the whole text is one "sentence"), so
    ``split_oversized=True`` instead chunks the oversized sentence
    into slice_length-word windows — the data-preserving mode the
    pipeline uses (documented deviation)."""
    slices: list[str] = []
    cur: list[str] = []
    cur_words = 0
    for sent in split_sentences(text):
        words = sent.split()
        if len(words) > slice_length:
            if cur:
                slices.append(" ".join(cur))
                cur, cur_words = [], 0
            if split_oversized:
                for i in range(0, len(words), slice_length):
                    slices.append(" ".join(words[i : i + slice_length]))
            else:
                slices.append(" ".join(words[:slice_length]) + "…")
            continue
        if cur_words + len(words) > slice_length and cur:
            slices.append(" ".join(cur))
            cur, cur_words = [], 0
        cur.append(sent)
        cur_words += len(words)
    if cur:
        slices.append(" ".join(cur))
    return slices


def slice_documents(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    slice_length: int = 20,
    split_oversized: bool = True,
) -> DataFrame:
    """F24 as a DataFrame op: documents → (id, order_sequence, body).
    The array-returning pandas UDF + posexplode replaces the
    reference's per-doc Python loop; ``order_sequence`` mirrors the
    enumerate at embedding_model_helpers.py:111–121. Oversized
    sentences are window-chunked by default (see pack_slices) so
    punctuation-less documents keep their full content."""

    from ..session import ensure_self_on_executors

    ensure_self_on_executors(docs.sparkSession)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _slices(s: pd.Series) -> pd.Series:
        return s.map(lambda x: pack_slices(x, slice_length, split_oversized) if x else [])

    return docs.select(
        F.col(id_col), F.posexplode(_slices(F.col(text_col))).alias("order_sequence", "body")
    )


# ---------------------------------------------------------------------------
# M1 — embedding stage (mapInPandas, executor-cached model)
# ---------------------------------------------------------------------------


def stub_embedder(dim: int = 64) -> Callable[[list[str]], np.ndarray]:
    """STUB for the transformer forward pass (reference M1: tokenize →
    forward → CLS pooling → L2-normalize, embedding_model_helpers.py:
    34–65). Deterministic: hash word tokens into a ``dim``-bucket
    bag-of-words vector, L2-normalized float32 — same output contract
    (unit-norm array<float>) as the real model."""

    def embed(texts: list[str]) -> np.ndarray:
        out = np.zeros((len(texts), dim), dtype=np.float32)
        for i, t in enumerate(texts):
            for tok in re.findall(r"\w+", (t or "").lower()):
                h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
                out[i, h % dim] += 1.0
        norms = np.linalg.norm(out, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        return (out / norms).astype(np.float32)

    return embed


def embed_slices(
    slices: DataFrame,
    text_col: str = "body",
    out_col: str = "embedding",
    model_name: str = "stub-64",
    model_loader: Callable[[], Callable[[list[str]], np.ndarray]] | None = None,
) -> DataFrame:
    """M1: embed each slice via mapInPandas. The model is resolved
    once per executor through get_cached_model (reference cache
    semantics); each Arrow batch is one forward pass (reference
    batches per document — batching per partition is strictly more
    vectorized)."""
    from ..session import ensure_self_on_executors

    ensure_self_on_executors(slices.sparkSession)
    loader = model_loader or (lambda: stub_embedder())
    key = model_cache_key(model_name, loader)
    schema = T.StructType(
        list(slices.schema.fields) + [T.StructField(out_col, T.ArrayType(T.FloatType()))]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = get_cached_model(key, loader)
        for pdf in batches:
            vecs = model(pdf[text_col].tolist())
            pdf = pdf.copy()
            pdf[out_col] = [v for v in vecs]
            yield pdf

    return slices.mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------------
# M2/M3 — classifier stages (vectorized over the whole Arrow batch)
# ---------------------------------------------------------------------------


def stub_bi_classifier(threshold: float = 0.5) -> Callable[[np.ndarray], np.ndarray]:
    """STUB for the sklearn binary model (M2, sdgs_classifiers.py:
    31–45: joblib model, predict over reshaped embedding). Determinism:
    'is SDG' iff mean of the first 8 dims exceeds a threshold."""

    def predict(mat: np.ndarray) -> np.ndarray:
        return mat[:, :8].mean(axis=1) > threshold

    return predict


def stub_n_classifier(n_classes: int = 17) -> Callable[[np.ndarray], np.ndarray]:
    """STUB for predict_proba (M3, sdgs_classifiers.py:48–122).
    Deterministic softmax over fixed linear projections of the
    embedding."""

    def predict_proba(mat: np.ndarray) -> np.ndarray:
        d = mat.shape[1]
        idx = (np.arange(n_classes)[None, :] * 7 + np.arange(d)[:, None]) % d
        logits = mat @ (idx == np.arange(d)[:, None]).astype(np.float64)
        e = np.exp(logits - logits.max(axis=1, keepdims=True))
        return e / e.sum(axis=1, keepdims=True)

    return predict_proba


def bi_classify(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "is_sdg",
    model_name: str = "bi-stub",
    model_loader: Callable | None = None,
) -> DataFrame:
    """M2: vectorized binary classification — one predict() per Arrow
    batch, not per row (the reference reloads the joblib model per
    slice, sdgs_classifiers.py:37 — a noted inefficiency we do not
    reproduce)."""
    from ..session import ensure_self_on_executors

    ensure_self_on_executors(df.sparkSession)
    loader = model_loader or (lambda: stub_bi_classifier())
    key = model_cache_key(model_name, loader)
    schema = T.StructType(list(df.schema.fields) + [T.StructField(out_col, T.BooleanType())])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = get_cached_model(key, loader)
        for pdf in batches:
            mat = np.stack(pdf[vec_col].to_numpy())
            pdf = pdf.copy()
            pdf[out_col] = model(mat)
            yield pdf

    return df.mapInPandas(run, schema=schema)


def n_classify_probas(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "probas",
    model_name: str = "n-stub",
    model_loader: Callable | None = None,
) -> DataFrame:
    """M3's UDF half: proba vector per slice. Everything downstream
    (forced-SDG subset filter, argmax, 0.5 acceptance, provenance
    nulling) is pure column logic — see pipeline/classifier.py."""
    from ..session import ensure_self_on_executors

    ensure_self_on_executors(df.sparkSession)
    loader = model_loader or (lambda: stub_n_classifier())
    key = model_cache_key(model_name, loader)
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.ArrayType(T.DoubleType()))]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = get_cached_model(key, loader)
        for pdf in batches:
            mat = np.stack(pdf[vec_col].to_numpy())
            probas = model(mat)
            pdf = pdf.copy()
            pdf[out_col] = [row for row in probas]
            yield pdf

    return df.mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------------
# M5 — keyword extraction
# ---------------------------------------------------------------------------


def stub_keyword_extractor(top_k: int = 5) -> Callable[[str], list[str]]:
    """STUB for KeyBERT (M5, modules/keywords_extractor.py:24–57:
    stop-word strip → extract_keywords(ngram (1,2), mmr, diversity
    0.7) → keep score > 0.5). Deterministic: top-k most frequent
    non-stopword tokens, ties by token asc."""
    stop = _MARKERS["en"] | {"this", "that", "with", "for"}

    def extract(text: str) -> list[str]:
        toks = [t for t in re.findall(r"\w+", (text or "").lower()) if t not in stop]
        freq: dict[str, int] = {}
        for t in toks:
            freq[t] = freq.get(t, 0) + 1
        return [t for t, _ in sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]]

    return extract


def extract_keywords(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    model_name: str = "kw-stub",
    model_loader: Callable | None = None,
) -> DataFrame:
    """M5: array-returning pandas UDF → explode → feed J8
    get-or-create. Output (id_col, keyword)."""
    from ..session import ensure_self_on_executors

    ensure_self_on_executors(docs.sparkSession)
    loader = model_loader or (lambda: stub_keyword_extractor())
    key = model_cache_key(model_name, loader)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _kw(s: pd.Series) -> pd.Series:
        model = get_cached_model(key, loader)
        return s.map(model)

    return docs.select(F.col(id_col), F.explode(_kw(F.col(text_col))).alias("keyword"))


# ---------------------------------------------------------------------------
# Python UDTF variant of the slicer (Spark 4 @udtf API) — the
# table-function form of F24: one input row → N slice rows, usable
# directly in SELECT / LATERAL position without posexplode plumbing.
# ---------------------------------------------------------------------------

try:
    from pyspark.sql.functions import udtf as _udtf

    @_udtf(returnType="order_sequence int, body string")
    class SliceUDTF:
        """``SELECT id, s.* FROM docs, LATERAL slice_udtf(text, 20) s``
        — same packing semantics as slice_documents (split_oversized
        mode), expressed as a native table function."""

        def eval(self, text: str, slice_length: int):  # noqa: D102
            for i, body in enumerate(pack_slices(text or "", slice_length, True)):
                yield i, body

except ImportError:  # pragma: no cover - pyspark < 3.5 fallback
    SliceUDTF = None

"""Keywords stage — reference KeywordsExtractor
(nodes_workflow/KeywordsExtractor/keywords_extractor.py:38–122):
delete old document↔keyword links, extract keywords per document
(M5), get-or-create in the unique-text dictionary (J8), relink,
append ``document_with_keywords`` states.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import extract_keywords
from ..operators.relational import get_or_create, overwrite_by_key


def extract_and_link(
    docs: DataFrame,
    keyword_dim: DataFrame,
    existing_links: DataFrame,
    id_col: str = "document_id",
    text_col: str = "description",
    model_loader: Callable | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (updated keyword dimension, updated link table).

    The dictionary update is MERGE-style and idempotent (J8); the
    link replacement is overwrite-by-key on the document id — exactly
    the reference's delete-then-insert (keywords_extractor.py:44–60)
    without the transaction.

    Both returned frames read the same two pins, made here: the
    exploded ``(id, keyword)`` frame and the merged dimension. So the
    keyword model runs once per document, and ``keyword_dim`` is
    scanned once, however many times the caller writes or reads the
    outputs; left lazy, every sink would re-run the UDF and the
    dictionary scan. The pins live as long as the returned frames;
    nothing is cached across calls."""
    kws = extract_keywords(
        docs, id_col=id_col, text_col=text_col, model_loader=model_loader
    ).localCheckpoint(eager=True)
    dim = get_or_create(keyword_dim, kws, key="keyword", id_col="id").localCheckpoint(eager=True)
    links = kws.join(F.broadcast(dim), on="keyword").select(
        F.col(id_col), F.col("id").alias("keyword_id")
    )
    return dim, overwrite_by_key(existing_links, links, key=id_col)

"""Process-state machine vocabulary + transition helpers.

The reference drives everything off an append-only ``process_state``
table whose ``title`` enum has exactly these 10 steps
(alembic/versions/821173cf9c5d_initial_migration.py:289–302); a
transition is an appended row, current state is the arg-max on
``operation_order`` (README.md:25–27). Here the log is a DataFrame
(or Delta/stream at scale) and transitions are unioned rows with a
monotonically increasing order column supplied by the caller's batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# reference ENUM values, 821173cf9c5d:289–302
STEPS = (
    "url_retrieved",
    "document_scraped",
    "document_vectorized",
    "document_classified_sdg",
    "document_classified_non_sdg",
    "document_with_keywords",
    "document_in_qdrant",
    "document_is_invalid",
    "kept_for_trace",
    "document_is_irretrievable",
)


def make_transitions(ids: DataFrame, id_col: str, step: str, base_order: int) -> DataFrame:
    """Build state-transition rows for a batch of document ids.

    ``operation_order`` must be monotonically increasing across the
    log (reference uses a DB sequence); callers pass the current max
    as ``base_order`` and each id in the batch gets a distinct order
    via a deterministic rank on the id — NOT monotonically_increasing_id,
    whose values depend on partition layout and would break
    idempotent re-runs.

    The global ``Window.orderBy`` serializes the frame onto one task
    by design — correct ONLY because callers feed LIMIT-capped
    batches (the reference's per-run batch is a few hundred ids). The
    same runtime guard as the other bounded single-task windows
    (operators/state_log.py) makes a misuse fail loudly instead of
    silently serializing an unbounded log on one core."""
    if step not in STEPS:
        raise ValueError(f"unknown step {step!r}")
    from pyspark.sql import Window

    from ..operators.state_log import BOUNDED_INPUT_MAX_ROWS, _bounded_row_guard

    w = Window.orderBy(id_col)
    order = (
        F.lit(base_order)
        + F.row_number().over(w)
        + _bounded_row_guard([F.col(id_col)], BOUNDED_INPUT_MAX_ROWS)
    )
    return ids.select(F.col(id_col).alias("document_id")).withColumn(
        "operation_order", order
    ).withColumn("title", F.lit(step))

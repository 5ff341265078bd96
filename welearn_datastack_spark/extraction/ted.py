"""TED extraction — maps TED GraphQL responses to WeLearn document
fields with pure column expressions.

Reference: ``plugins/rest_requesters/ted.py`` —
``_update_welearndocument`` (:88-122), transcript concat
``_concat_content_from_json`` (:69-86, music/applause/laughter cues
dropped), details incl. ``predict_readability`` on the transcript.

Deviation (documented): the reference's ``publication_date`` calls
``datetime.strptime(...).timestamp()`` on a NAIVE datetime — the
value shifts with the worker's local timezone (ted.py:106-108 builds
a UTC replacement but never assigns it). Here the 'Z' suffix is
honored: epoch seconds of the UTC instant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.metadata import predict_readability
from .base import ref_clean_return_to_line
from .constants import TED_PROHIBITED_TEXT

TED_RESPONSE_SCHEMA = T.StructType(
    [
        T.StructField(
            "data",
            T.StructType(
                [
                    T.StructField(
                        "video",
                        T.StructType(
                            [
                                T.StructField("description", T.StringType()),
                                T.StructField("internalLanguageCode", T.StringType()),
                                T.StructField("presenterDisplayName", T.StringType()),
                                T.StructField("duration", T.LongType()),
                                T.StructField("title", T.StringType()),
                                T.StructField("publishedAt", T.StringType()),
                                T.StructField("canonicalUrl", T.StringType()),
                                T.StructField(
                                    "type",
                                    T.StructType([T.StructField("name", T.StringType())]),
                                ),
                            ]
                        ),
                    ),
                    T.StructField(
                        "translation",
                        T.StructType(
                            [
                                T.StructField(
                                    "paragraphs",
                                    T.ArrayType(
                                        T.StructType(
                                            [
                                                T.StructField(
                                                    "cues",
                                                    T.ArrayType(
                                                        T.StructType(
                                                            [
                                                                T.StructField(
                                                                    "text", T.StringType()
                                                                )
                                                            ]
                                                        )
                                                    ),
                                                )
                                            ]
                                        )
                                    ),
                                )
                            ]
                        ),
                    ),
                ]
            ),
        )
    ]
)


def extract_ted(
    responses: DataFrame,
    payload_col: str = "payload",
    details_fields: tuple[str, ...] | None = None,
) -> DataFrame:
    """TED GraphQL responses (one per row) → extracted WeLearn rows.

    ``details_fields`` is an optimization seam (r16, guide §1.2 step 1:
    don't compute what you throw away): a caller that only reads a
    subset of the ``details`` struct passes those field names and the
    rest are emitted as typed NULLs instead of being computed. The
    schema is identical either way. This matters because Catalyst
    cannot prune unused struct fields here — the final projection
    extracts ≥2 fields from ``details``, so CollapseProject refuses to
    inline the CreateNamedStruct and the full expressions (notably
    ``predict_readability``'s three regex passes over the transcript)
    would be evaluated and discarded. Default ``None`` computes every
    field (the plugin contract). An unknown field name raises
    ``ValueError`` rather than silently leaving every field NULL."""
    parsed = responses.select(
        F.from_json(F.col(payload_col), TED_RESPONSE_SCHEMA).alias("_p")
    )
    video = F.col("_p")["data"]["video"]
    translation = F.col("_p")["data"]["translation"]

    # cue texts, prohibited stage directions dropped (ref ted.py:69-86)
    cue_texts = F.flatten(
        F.transform(
            F.coalesce(
                translation["paragraphs"],
                F.array().cast(
                    TED_RESPONSE_SCHEMA["data"].dataType["translation"].dataType[
                        "paragraphs"
                    ].dataType
                ),
            ),
            lambda p: F.transform(p["cues"], lambda c: c["text"]),
        )
    )
    content = F.trim(
        F.array_join(
            F.transform(
                F.filter(cue_texts, lambda t: ~t.isin(*TED_PROHIBITED_TEXT)),
                lambda t: ref_clean_return_to_line(t),
            ),
            " ",
        )
    )

    staged = parsed.select(
        video.alias("v"),
        F.when(video.isNotNull() & translation.isNotNull(), content).alias("_content"),
        F.when(
            video.isNull() | translation.isNull(), F.lit("NoContent: No content found")
        ).alias("_error"),
    )

    v = F.col("v")
    # 'Z'-suffixed UTC instant → epoch seconds (see module deviation note)
    pub_ts = F.unix_timestamp(
        F.to_utc_timestamp(F.to_timestamp(v["publishedAt"]), "UTC")
    ).cast("double")
    authors_type = T.ArrayType(
        T.StructType(
            [T.StructField("name", T.StringType()), T.StructField("misc", T.StringType())]
        )
    )
    field_exprs = {
        "duration": lambda: v["duration"].cast("string"),
        "readability": lambda: predict_readability(
            F.col("_content"), v["internalLanguageCode"]
        ),
        # the declared (nullable) type, as the typed-NULL branch has it,
        # so the details schema does not depend on details_fields; v is
        # non-null wherever details is read (see `ok` below)
        "authors": lambda: F.when(
            v.isNotNull(),
            F.array(
                F.struct(v["presenterDisplayName"].alias("name"), F.lit("").alias("misc"))
            ).cast(authors_type),
        ),
        "publication_date": lambda: pub_ts,
        "type": lambda: v["type"]["name"],
    }
    if details_fields is not None:
        unknown = sorted(set(details_fields) - set(field_exprs))
        if unknown:
            raise ValueError(
                f"extract_ted: unknown details_fields {unknown}; "
                f"known fields are {sorted(field_exprs)}"
            )
    null_types = {
        "duration": T.StringType(),
        "readability": T.StringType(),
        "authors": authors_type,
        "publication_date": T.DoubleType(),
        "type": T.StringType(),
    }
    details = F.struct(
        *[
            (
                field_exprs[name]()
                if details_fields is None or name in details_fields
                else F.lit(None).cast(null_types[name])
            ).alias(name)
            for name in field_exprs
        ]
    )

    ok = F.col("_error").isNull()
    return staged.select(
        F.when(ok, v["canonicalUrl"]).alias("url"),
        F.when(ok, v["title"]).alias("title"),
        F.when(ok, v["description"]).alias("description"),
        F.when(ok, F.col("_content")).alias("full_content"),
        F.when(ok, details).alias("details"),
        F.when(ok, v["internalLanguageCode"]).alias("lang"),
        F.col("_error").alias("error_info"),
    )

"""Extraction plugins' ``details_fields`` seam: a caller that reads
only some ``details`` fields gets those computed and the rest as typed
NULLs under the same schema. Self-contained payloads, so these run
without the reference fixture tree that tests/test_extraction.py
needs."""

from __future__ import annotations

import json

import pytest

from welearn_datastack_spark.extraction.ted import extract_ted

_TED_PAYLOAD = {
    "data": {
        "video": {
            "description": "A talk about rivers.",
            "internalLanguageCode": "en",
            "presenterDisplayName": "Ada Example",
            "duration": 754,
            "title": "Rivers",
            "publishedAt": "2021-03-04T05:06:07Z",
            "canonicalUrl": "https://www.ted.com/talks/rivers",
            "type": {"name": "TED Stage Talk"},
        },
        "translation": {
            "paragraphs": [
                {"cues": [{"text": "Rivers carry water."}, {"text": "(Applause)"}]},
                {"cues": [{"text": "They shape the land\nslowly."}]},
            ]
        },
    }
}


def test_ted_details_fields_subset(spark):
    """Requested fields equal the default path's values, unrequested
    fields are NULL, the schema is identical, and the other columns do
    not change. An unknown field name raises instead of silently
    NULLing every field."""
    df = spark.createDataFrame([(json.dumps(_TED_PAYLOAD),)], "payload string")
    full = extract_ted(df)
    subset = ("duration", "publication_date")
    part = extract_ted(df, details_fields=subset)
    assert part.schema == full.schema
    (f,) = full.collect()
    (p,) = part.collect()
    fd, pd_ = f["details"].asDict(), p["details"].asDict()
    assert fd.keys() == pd_.keys()
    for name in fd:
        assert fd[name] is not None, name
        assert pd_[name] == (fd[name] if name in subset else None), name
    assert {k: v for k, v in p.asDict().items() if k != "details"} == {
        k: v for k, v in f.asDict().items() if k != "details"
    }
    with pytest.raises(ValueError, match="publication_ts"):
        extract_ted(df, details_fields=("duration", "publication_ts"))

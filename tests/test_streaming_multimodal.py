"""Streaming state-machine and multimodal-column tests."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from welearn_datastack_spark.operators.multimodal import (
    attach_media,
    decode_media,
    sample_frames,
)
from welearn_datastack_spark.sources.tables import normalize_ts
from welearn_datastack_spark.streaming.state_machine import (
    latest_state_batch_equivalent,
    stream_latest_state,
    stream_windowed_counts,
)

EVENTS_FILE = "/root/testdata/sf0.001/events.parquet"


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    # streaming file sources tail a DIRECTORY; stage the log file into one
    d = tmp_path_factory.mktemp("events_log")
    shutil.copy(EVENTS_FILE, d / "part-000.parquet")
    return str(d)


def test_stream_latest_state_matches_batch(spark, tmp_path, events_dir):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream_latest_state(spark, events_dir, ckpt, out)
    # multiple micro-batches may emit the same key; reader takes the
    # arg-max per key, like any consumer of the append-only state log
    got = {
        r["user_id"]: (r["last_event_id"], r["last_event_type"])
        for r in spark.read.parquet(out)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("last_event_id"))
            ),
        )
        .filter("rn = 1")
        .collect()
    }
    want = {
        r["user_id"]: (r["last_event_id"], r["last_event_type"])
        for r in latest_state_batch_equivalent(spark, events_dir).collect()
    }
    assert got == want  # stateful stream ≡ batch arg-max (R2)


def test_stream_windowed_counts_totals(spark, tmp_path, events_dir):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream_windowed_counts(spark, events_dir, ckpt, out, window="1 day", watermark="0 seconds")
    total = spark.read.parquet(out).agg(F.sum("n").alias("t")).collect()[0]["t"]
    # append mode emits only CLOSED windows (window end ≤ watermark =
    # max event time): the in-flight final day is correctly withheld
    ev = normalize_ts(spark.read.parquet(events_dir))
    max_ts, = ev.agg(F.max("ts")).first()
    expected = ev.filter(
        F.date_add(F.date_trunc("day", "ts").cast("date"), 1).cast("timestamp") <= F.lit(max_ts)
    ).count()
    assert total == expected
    assert 0 < total < 1000


def test_multimodal_attach_decode_sample(spark):
    docs = spark.createDataFrame(
        [("d1", b"fakejpegbytes-1"), ("d2", b"fakejpegbytes-22")], ["id", "payload"]
    )
    media = attach_media(docs, "payload", mime="image/jpeg")
    m = {r["id"]: r["media_meta"] for r in media.collect()}
    assert m["d1"]["mime"] == "image/jpeg"
    assert m["d1"]["n_bytes"] == 15
    assert len(m["d1"]["checksum"]) == 32

    # default decoder is the REAL header parser (round 15): non-image
    # bytes are dead-letter rows (null dims), not exceptions
    real = {r["id"]: r for r in decode_media(media, "payload").collect()}
    assert real["d1"]["width"] is None and real["d1"]["n_frames"] is None

    # the fake-video codec stays available behind the seam
    from welearn_datastack_spark.operators.multimodal import stub_decoder

    decoded = decode_media(media, "payload", decode_fn=stub_decoder)
    rows = {r["id"]: r for r in decoded.collect()}
    assert 64 <= rows["d1"]["width"] <= 576 and 64 <= rows["d1"]["height"] <= 576
    # deterministic: same payload → same fake dimensions
    again = {
        r["id"]: r
        for r in decode_media(media, "payload", decode_fn=stub_decoder).collect()
    }
    assert again["d1"]["width"] == rows["d1"]["width"]

    frames = sample_frames(decoded.withColumn("n_frames", F.lit(10)), every_n=3)
    f1 = [r["frame_index"] for r in frames.filter("id='d1'").collect()]
    assert f1 == [0, 3, 6, 9]


def test_resize_media_null_geometry_yields_null_row(spark):
    # rows whose decode produced null payload/dims are data, not
    # exceptions: resize must emit null resize fields, not raise
    from welearn_datastack_spark.operators.multimodal import resize_media

    df = spark.createDataFrame(
        [
            ("ok", b"payload-bytes", 512, 256),
            ("nullpay", None, 512, 256),
            ("nulldims", b"more-bytes", None, None),
        ],
        "id string, payload binary, width int, height int",
    )
    rows = {r["id"]: r for r in resize_media(df, max_side=128).collect()}
    assert rows["ok"]["resized_width"] == 128
    assert rows["ok"]["resized_height"] == 64
    assert len(rows["ok"]["resized_checksum"]) == 32
    for bad in ("nullpay", "nulldims"):
        assert rows[bad]["resized_width"] is None
        assert rows[bad]["resized_height"] is None
        assert rows[bad]["resized_checksum"] is None


def test_sample_frames_zero_frames_yields_no_rows(spark):
    # a real decoder returning n_frames=0 (still image / corrupt file)
    # must produce zero frame rows, not kill the job (R6)
    df = spark.createDataFrame([("a", 10), ("b", 0), ("c", -1)], ["id", "n_frames"])
    rows = sample_frames(df, every_n=4).collect()
    assert {r["id"] for r in rows} == {"a"}
    assert [r["frame_index"] for r in rows] == [0, 4, 8]


def test_stream_dedup_within_watermark(spark, tmp_path, events_dir):
    from welearn_datastack_spark.streaming.state_machine import stream_dedup_urls

    out = str(tmp_path / "dedup_out")
    ckpt = str(tmp_path / "dedup_ckpt")
    stream_dedup_urls(spark, events_dir, ckpt, out, watermark="365 days")
    got = spark.read.parquet(out)
    # horizon covers the whole file → exactly one row per key survives
    n_keys = (
        spark.read.parquet(events_dir).select("user_id", "event_type").distinct().count()
    )
    assert got.count() == n_keys
    assert got.select("user_id", "event_type").distinct().count() == n_keys
    # idempotent restart: the checkpoint remembers completion — a
    # second run with the same checkpoint emits nothing new
    stream_dedup_urls(spark, events_dir, ckpt, out, watermark="365 days")
    assert spark.read.parquet(out).count() == n_keys


def test_stream_enrich_join_matches_batch(spark, tmp_path, events_dir):
    from welearn_datastack_spark.streaming.state_machine import stream_enrich_join

    out = str(tmp_path / "enrich_out")
    ckpt = str(tmp_path / "enrich_ckpt")
    stream_enrich_join(spark, events_dir, ckpt, out)
    got = spark.read.parquet(out)
    ev = spark.read.parquet(events_dir)
    assert got.count() == ev.count()
    chans = {r["event_type"]: r["channel"] for r in got.select("event_type", "channel").distinct().collect()}
    assert chans.get("purchase") == "commerce"
    assert all(c == "other" for t, c in chans.items() if t not in ("click", "view", "purchase"))


def test_stream_session_counts_merges_across_micro_batches(spark, tmp_path):
    """A session whose events straddle two micro-batches must come out
    as ONE merged session — this is the state-store property the
    single-file driver gate can't see (there, everything lands in one
    batch). Two files + maxFilesPerTrigger=1 force the boundary."""
    import pandas as pd

    from welearn_datastack_spark.streaming.state_machine import stream_session_counts

    t0 = pd.Timestamp("2024-03-01 00:00:00")
    h = pd.Timedelta(hours=1)

    def mk(rows, path):
        pd.DataFrame(
            {
                "event_id": list(range(len(rows))),
                "ts": [t0 + h * x for x, _u in rows],
                "user_id": [u for _x, u in rows],
                "event_type": ["click"] * len(rows),
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        ).to_parquet(path, index=False)

    events = tmp_path / "events"
    events.mkdir()
    # file A: u1 at 00:00 and 01:00; u2 at 00:30 (x in fractional hours)
    mk([(0.0, 1), (1.0, 1), (0.5, 2)], events / "part-000.parquet")
    # file B: u1 at 02:00 (merges into the session opened in file A,
    # gap 4h) and 10:00 (new session); u2 sentinel at 20:00 closes all
    mk([(2.0, 1), (10.0, 1), (20.0, 2)], events / "part-001.parquet")

    stream_session_counts(
        spark,
        str(events),
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
        gap="4 hours",
        max_files_per_trigger=1,
    )
    got = {
        (r["user_id"], r["session_start"], r["n"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    want = {
        # u1's straddling session: 00:00 + 01:00 (batch 1) + 02:00
        # (batch 2) merged into one 3-event session
        (1, (t0 + 0 * h).to_pydatetime(), 3),
        # u1's later singleton, closed by the 20:00 watermark
        (1, (t0 + 10 * h).to_pydatetime(), 1),
        # u2's singleton from batch 1
        (2, (t0 + 0.5 * h).to_pydatetime(), 1),
        # u2's 20:00 sentinel session end (24:00) is past the final
        # watermark (20:00) -> never emitted
    }
    assert got == want


def _gate(spark, sf_dir, name):
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

    _load_groups()
    return REGISTRY[name].build(spark, sf_dir)


def test_stream_gate_builds_leave_no_tempdir(spark, sf_dir):
    """Repeated builds of a stream gate reuse its per-query scratch:
    two builds of stream_latest_state add no welearn_stream_* directory
    under the tempdir (a mkdtemp per build would leak the events copy,
    the checkpoint and the sink)."""
    import glob
    import os
    import tempfile

    pattern = os.path.join(tempfile.gettempdir(), "welearn_stream_*")
    before = set(glob.glob(pattern))
    for _ in range(2):
        assert _gate(spark, sf_dir, "stream_latest_state").count() > 0
    assert set(glob.glob(pattern)) == before


def test_stream_windowed_counts_gate_scans_parquet(spark, sf_dir):
    """The stream_windowed_counts gate returns a lazy read of the
    stream's parquet sink, not a driver-collected frame: a Python-RDD
    scan (ExistingRDD) would start Python workers on every read."""
    df = _gate(spark, sf_dir, "stream_windowed_counts")
    assert df.count() > 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan, plan[:1500]
    assert "ExistingRDD" not in plan, plan[:1500]


def test_multimodal_narrow_column_seams_equivalent(spark):
    """r15 opt (guide §4): decode_media(keep_payload=False) must drop
    ONLY the payload column, and resize_media(checksum_col=...) — the
    stub consuming the JVM-side md5 instead of re-hashing the shipped
    payload — must produce byte-identical resize fields to the
    payload-shipping stub, including the null/dead-letter rows."""
    from pyspark.sql import functions as F

    from welearn_datastack_spark.operators.multimodal import (
        attach_media,
        decode_media,
        resize_media,
        stub_decoder,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "x"), (3, None)],
        "doc_id long, text string",
    ).select("doc_id", F.col("text").cast("binary").alias("payload"))
    media = attach_media(docs, "payload", mime="video/x-fake")

    wide = decode_media(media, "payload", decode_fn=stub_decoder)
    slim = decode_media(
        media.select(
            "doc_id", F.col("media_meta.checksum").alias("__ck0"), "payload"
        ),
        "payload",
        decode_fn=stub_decoder,
        keep_payload=False,
    )
    assert "payload" not in slim.columns and "__ck0" in slim.columns

    r_wide = resize_media(wide, max_side=256, payload_col="payload").select(
        "doc_id", "resized_width", "resized_height", "resized_checksum"
    )
    r_slim = resize_media(slim, max_side=256, checksum_col="__ck0").select(
        "doc_id", "resized_width", "resized_height", "resized_checksum"
    )
    got_w = sorted(tuple(r) for r in r_wide.collect())
    got_s = sorted(tuple(r) for r in r_slim.collect())
    assert got_w == got_s
    # null payload rows stay dead-letter (null fields), not exceptions
    nulls = [t for t in got_s if t[0] == 3]
    assert nulls and nulls[0][1] is None and nulls[0][3] is None


def _valid_png(w: int, h: int) -> bytes:
    import struct
    import zlib

    data = b"IHDR" + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + data
        + struct.pack(">I", zlib.crc32(data))
        + b"\x00\x00\x00\x00IEND\xaeB`\x82"
    )


def _valid_jpeg(w: int, h: int) -> bytes:
    import struct

    return (
        b"\xff\xd8"
        + b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
        + b"\xff\xc0\x00\x11\x08"
        + struct.pack(">HH", h, w)
        + b"\x03\x01\x11\x00\x02\x11\x01\x03\x11\x01"
        + b"\xff\xd9"
    )


def test_parse_image_header_png_jpeg():
    from welearn_datastack_spark.operators.multimodal import parse_image_header

    assert parse_image_header(_valid_png(640, 480)) == (640, 480, "png")
    assert parse_image_header(_valid_jpeg(123, 77)) == (123, 77, "jpeg")
    # progressive JPEG: SOF2 instead of SOF0
    prog = _valid_jpeg(50, 60).replace(b"\xff\xc0", b"\xff\xc2")
    assert parse_image_header(prog) == (50, 60, "jpeg")
    # corrupt: truncated PNG sig, garbage, empty, None, zero dims
    assert parse_image_header(b"\x89PNG\r\n\x1a\n\x00\x00") == (None, None, None)
    assert parse_image_header(b"\xde\xad\xbe\xef") == (None, None, None)
    assert parse_image_header(b"") == (None, None, None)
    assert parse_image_header(None) == (None, None, None)
    assert parse_image_header(_valid_png(0, 10)) == (None, None, None)
    # JPEG with EOI before any SOF (no frame header)
    assert parse_image_header(b"\xff\xd8\xff\xd9") == (None, None, None)
    # DHT (C4) must be walked over, not mistaken for a SOF
    dht_first = (
        b"\xff\xd8" + b"\xff\xc4\x00\x04\x00\x00" + _valid_jpeg(9, 8)[2:]
    )
    assert parse_image_header(dht_first) == (9, 8, "jpeg")


def test_synth_payloads_roundtrip_through_parser(spark):
    """The JVM-side synthesizers and the Python parser agree — the
    same invariant the multimodal_decode oracle gates, pinned here
    against hand-built reference bytes too."""
    from welearn_datastack_spark.operators.multimodal import (
        parse_image_header,
        synth_jpeg,
        synth_png,
    )

    df = spark.createDataFrame([(640, 480), (16, 527)], ["w", "h"])
    rows = df.select(
        synth_png(F.col("w"), F.col("h")).alias("png"),
        synth_jpeg(F.col("w"), F.col("h")).alias("jpg"),
        "w",
        "h",
    ).collect()
    for r in rows:
        assert bytes(r["png"]) == _valid_png(r["w"], r["h"])
        assert bytes(r["jpg"]) == _valid_jpeg(r["w"], r["h"])
        assert parse_image_header(bytes(r["png"])) == (r["w"], r["h"], "png")
        assert parse_image_header(bytes(r["jpg"])) == (r["w"], r["h"], "jpeg")


def test_parse_image_header_fuzz_never_raises():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from welearn_datastack_spark.operators.multimodal import parse_image_header

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=256))
    def check(payload):
        w, h, fmt = parse_image_header(payload)
        # total contract: garbage → the dead-letter triple; anything
        # accepted must carry positive dims and a known format
        if fmt is None:
            assert (w, h) == (None, None)
        else:
            assert fmt in ("png", "jpeg") and w > 0 and h > 0

    check()


def test_parse_image_header_truncation_fuzz():
    """Any prefix of a valid payload either parses to the SAME
    dimensions (header fully inside the prefix) or dead-letters —
    never to different dimensions. This is the property that makes
    corrupt-tail multi-GB objects safe to route at scale."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from welearn_datastack_spark.operators.multimodal import parse_image_header

    @settings(max_examples=200, deadline=None)
    @given(
        st.integers(min_value=1, max_value=4096),
        st.integers(min_value=1, max_value=4096),
        st.booleans(),
        st.integers(min_value=0, max_value=64),
    )
    def check(w, h, use_png, cut):
        full = _valid_png(w, h) if use_png else _valid_jpeg(w, h)
        fmt_full = parse_image_header(full)
        assert fmt_full == (w, h, "png" if use_png else "jpeg")
        got = parse_image_header(full[: max(0, len(full) - cut)])
        assert got in (fmt_full, (None, None, None))

    check()

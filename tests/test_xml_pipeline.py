"""Parity tests for the XML ingest pipeline — mirrors the reference's
consumer + response-model suites (reference: tests.py:17-118)."""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from scats_transis_kinesis_spark import schemas
from scats_transis_kinesis_spark.operators.envelope import to_kinesis_envelope
from scats_transis_kinesis_spark.operators.flatten import explode_messages
from scats_transis_kinesis_spark.operators.projection import (
    assert_no_error_documents,
    detector_counts_long,
    is_empty_message,
    non_empty_responses,
    project_detector_count_record,
)
from scats_transis_kinesis_spark.sources.xml import (
    parse_transis_documents,
    split_documents,
)

from .conftest import XML_EMPTY, XML_ERROR, XML_TWO_SITES


def _docs(spark, *xmls: str):
    blob = "\x00".join(xmls) + "\x00"
    df = spark.createDataFrame([(blob,)], "value string")
    return parse_transis_documents(split_documents(df))


def test_two_documents_from_one_stream(spark):
    # Mirrors reference tests.py:39-44: two docs from one
    # null-delimited byte stream.
    parsed = _docs(spark, XML_TWO_SITES, XML_TWO_SITES)
    assert parsed.count() == 2


def test_multi_site_count(spark):
    # Mirrors reference tests.py:78-81: snapshot carries 2 sites.
    parsed = _docs(spark, XML_TWO_SITES)
    assert explode_messages(parsed).count() == 2


def test_error_predicate_both_ways(spark):
    # Mirrors reference tests.py:65-72.
    ok = _docs(spark, XML_TWO_SITES)
    assert assert_no_error_documents(ok).count() == 1
    bad = _docs(spark, XML_ERROR)
    try:
        assert_no_error_documents(bad).collect()
        raised = False
    except Exception as e:
        raised = True
        assert "Invalid something" in str(e)
    assert raised


def test_projection_golden(spark):
    # Mirrors the golden-dict equality check (reference: tests.py:83-118)
    # with the epoch-int semantic as authoritative (SURVEY.md §5: the
    # reference's golden is stale — raw string ts vs code's epoch int).
    rec = project_detector_count_record(explode_messages(_docs(spark, XML_TWO_SITES)))
    rows = {r["site_id"]: r.asDict(recursive=True) for r in rec.collect()}
    assert rows["2087"] == {
        "region": "ROZ",
        "site_id": "2087",
        "collection_interval_secs": 300,
        "collection_end_ts_plus_3m": 1570081380,  # epoch of 2019-10-03T15:43:00+10:00
        "detector_counts": {"1": "5", "2": "3", "18": "12"},  # malformed dropped
    }
    # Empty Detectors container behaves like NULL, not {} (ElementTree
    # truthiness, SURVEY.md §1.4).
    assert rows["8"]["detector_counts"] is None


def test_malformed_detector_dropped_in_long_form(spark):
    long = detector_counts_long(explode_messages(_docs(spark, XML_TWO_SITES)))
    ids = [r["detector_id"] for r in long.collect()]
    assert sorted(ids) == ["1", "18", "2"]  # the Did-less detector is gone


def test_empty_messages_filtered(spark):
    # Empty DetectorCountMessages container == absent (SURVEY.md §1.4);
    # P7 drops docs without messages (reference: transis_consumer.py:137-138).
    parsed = _docs(spark, XML_TWO_SITES, XML_EMPTY)
    assert parsed.count() == 2
    assert non_empty_responses(parsed).count() == 1


def test_is_empty_predicate(spark):
    # P5 — dead code in the reference, implemented for parity
    # (reference: transis_response_models.py:46-50).
    msgs = explode_messages(_docs(spark, XML_TWO_SITES))
    flags = {r["Sid"]: r["is_empty"] for r in is_empty_message(msgs).collect()}
    assert flags == {"2087": False, "8": True}


# --- from_xml against expected rows ---------------------------------------
# Each generated document comes with the row parse_transis_documents must
# emit: (error, error_msg, messages), where messages is None or a tuple of
# (reg, Sid, date, detectors) and detectors is None or (Did, count) pairs.

SITE_ID = st.integers(min_value=0, max_value=99999)
COUNT = st.one_of(st.none(), st.integers(min_value=0, max_value=500))
DATE = "2019-10-03T15:43:00+10:00"


@st.composite
def transis_doc(draw):
    n_sites = draw(st.integers(min_value=0, max_value=4))
    sites, messages = [], []
    for _ in range(n_sites):
        dets = draw(st.lists(st.tuples(SITE_ID, COUNT), max_size=5))
        det_xml = "".join(
            f'<Detector Did="{d}"' + (f' count="{c}"' if c is not None else "") + "/>"
            for d, c in dets
        )
        sid = draw(SITE_ID)
        sites.append(
            f'<DetectorCountMessage reg="R{sid % 7}" Sid="{sid}" date="{DATE}">'
            f"<Detectors>{det_xml}</Detectors></DetectorCountMessage>"
        )
        # An empty <Detectors> container parses as NULL, not [].
        detectors = (
            tuple((str(d), None if c is None else str(c)) for d, c in dets) if dets else None
        )
        messages.append((f"R{sid % 7}", str(sid), DATE, detectors))
    body = f'<DetectorCountMessages>{"".join(sites)}</DetectorCountMessages>' if sites else ""
    doc = f'<TransisResponse error="false">{body}</TransisResponse>'
    return doc, ("false", None, tuple(messages) if messages else None)


FIXED_DOCS = [
    (
        XML_TWO_SITES,
        (
            "false",
            None,
            (
                ("ROZ", "2087", DATE, (("1", "5"), ("2", "3"), (None, "9"), ("18", "12"))),
                ("ROZ", "8", DATE, None),
            ),
        ),
    ),
    (XML_EMPTY, (None, None, None)),
    (XML_ERROR, ("true", "Invalid something", None)),
    ('<TransisResponse error="true"><Errors></Errors></TransisResponse>', ("true", None, None)),
    (
        '<TransisResponse error="false"><DetectorCountMessages>'
        '<DetectorCountMessage reg="ROZ" Sid="5" date="d"/>'
        '<DetectorCountMessage reg="ROZ" Sid="6" date="d"><Detectors>'
        '<Detector Did="7"/><Detector/></Detectors></DetectorCountMessage>'
        "</DetectorCountMessages></TransisResponse>",
        (
            "false",
            None,
            (("ROZ", "5", "d", None), ("ROZ", "6", "d", (("7", None), (None, None)))),
        ),
    ),
]


def _parsed_rows(parsed):
    out = []
    for r in parsed.collect():
        msgs = r["messages"]
        out.append(
            (
                r["error"],
                r["error_msg"],
                None
                if msgs is None
                else tuple(
                    (
                        m["reg"],
                        m["Sid"],
                        m["date"],
                        None
                        if m["detectors"] is None
                        else tuple((d["Did"], d["count"]) for d in m["detectors"]),
                    )
                    for m in msgs
                ),
            )
        )
    return sorted(out, key=repr)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(transis_doc(), min_size=1, max_size=4))
@example(FIXED_DOCS)
def test_from_xml_matches_expected_rows(spark, cases):
    """Empty containers parse as NULL, Did- or count-less Detector
    children are kept with NULL fields (the projection drops them), and
    error documents carry their first message."""
    df = spark.createDataFrame([(doc,) for doc, _ in cases], "value string")
    parsed = parse_transis_documents(df)
    assert parsed.schema.simpleString() == schemas.TRANSIS_RESPONSE.simpleString()
    assert _parsed_rows(parsed) == sorted((want for _, want in cases), key=repr)


def test_sink_plan_parses_each_document_once(spark):
    """The fail-stop and non-empty filters must read one parsed struct,
    not re-run from_xml on the document text for every reference."""
    from scats_transis_kinesis_spark.streaming.pipeline import scats_records

    docs = spark.createDataFrame([(XML_TWO_SITES,), (XML_EMPTY,)], "value string")
    plan = to_kinesis_envelope(scats_records(docs))._jdf.queryExecution().executedPlan()
    assert len(re.findall(r"\bfrom_xml\(", plan.toString())) == 1


@pytest.mark.parametrize(
    "doc",
    [
        XML_ERROR[: -len("</TransisResponse>")],  # truncated error document
        "not xml at all",
    ],
)
def test_malformed_document_fails_stop(spark, doc):
    """A document that is not well-formed XML stops the job, like the
    reference's ElementTree parse; it must not parse to an all-NULL row
    that passes fail-stop and is dropped as empty."""
    from scats_transis_kinesis_spark.streaming.pipeline import scats_records

    docs = spark.createDataFrame([(XML_TWO_SITES,), (doc,)], "value string")
    with pytest.raises(Exception, match="(?i)malformed"):
        scats_records(docs).collect()


def test_record_plan_builds_in_few_py4j_calls(spark, monkeypatch):
    """The SCATS spine is SQL text, analysed in the JVM one step per
    call; built from ``pyspark.sql.functions`` the same plan takes about
    1,050 Py4J round trips on the driver for every replay job."""
    from scats_transis_kinesis_spark.streaming.pipeline import scats_records

    docs = spark.createDataFrame([(XML_TWO_SITES,)], "value string")
    client = spark.sparkContext._gateway._gateway_client
    send, calls = client.send_command, []

    def counting_send(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting_send)
    to_kinesis_envelope(scats_records(docs))
    monkeypatch.undo()
    assert len(calls) <= 150, len(calls)


def test_topology_xml_to_dimension_csvs(spark, tmp_path):
    # §3.2 end-to-end: topology snapshot XML -> SiteLayouts rows ->
    # five unnest-joined dimension frames -> quote-all CSVs with the
    # parent sId prefixed on every child row (reference:
    # transis_response_models.py:163-209).
    from scats_transis_kinesis_spark.operators.flatten import (
        explode_phases,
        explode_site_children,
        quote_all_csv,
    )
    from scats_transis_kinesis_spark.sources.xml import parse_site_layouts

    xml = (
        '<TransisResponse error="false"><SiteLayouts>'
        '<SiteLayout sId="2087" region="ROZ">'
        '<Arms><Arm aId="1" name="north"/><Arm aId="2" name="south"/></Arms>'
        '<Detectors><Detector dId="21" arm="1"/></Detectors>'
        '<Streets><Street name="Main St" suburb="Rozelle"/></Streets>'
        '<SGs><SG sgNo="7" type="veh"/></SGs>'
        '<Phases><Phase name="A"><SGNos><SGNo>7</SGNo><SGNo>8</SGNo></SGNos></Phase></Phases>'
        "</SiteLayout>"
        '<SiteLayout sId="11" region="CBD"><Arms/></SiteLayout>'
        "</SiteLayouts></TransisResponse>"
    )
    docs = spark.createDataFrame([(xml,)], "value string")
    sites = parse_site_layouts(docs)
    assert sites.count() == 2

    arms = explode_site_children(sites, "arms")
    assert {(r["site_id"], r["aId"], r["name"]) for r in arms.collect()} == {
        ("2087", "1", "north"),
        ("2087", "2", "south"),
    }
    # empty <Arms/> container behaves as NULL -> site 11 contributes no rows
    assert arms.where(arms.site_id == "11").count() == 0

    phases = explode_phases(sites)
    assert {(r["site_id"], r["phase"], r["sg_no"]) for r in phases.collect()} == {
        ("2087", "A", "7"),
        ("2087", "A", "8"),
    }

    for name, frame in {
        "arms": arms,
        "detectors": explode_site_children(sites, "detectors"),
        "streets": explode_site_children(sites, "streets"),
        "sgs": explode_site_children(sites, "sgs"),
        "phases": phases,
    }.items():
        out = str(tmp_path / name)
        quote_all_csv(frame.coalesce(1), out)
        import glob

        [part] = glob.glob(out + "/part-*.csv")
        lines = open(part).read().strip().splitlines()
        assert lines[0].startswith('"site_id"'), (name, lines[0])
        assert all(l.startswith('"') for l in lines[1:]), name


def test_scats_records_stamps_received_ts(spark):
    # P4 receive-time stamp carried to the flat record (reference:
    # transis_response_models.py:286, format utils.py:15-19).
    import re

    from scats_transis_kinesis_spark.streaming.pipeline import scats_records

    xml = (
        '<TransisResponse error="false"><DetectorCountMessages>'
        '<DetectorCountMessage reg="ROZ" Sid="2087" date="2019-10-03T15:43:00+10:00">'
        '<Detectors><Detector Did="1" count="5"/></Detectors>'
        "</DetectorCountMessage></DetectorCountMessages></TransisResponse>"
    )
    docs = spark.createDataFrame([(xml,)], "value string")
    [row] = scats_records(docs, stamp_received_ts=True).collect()
    # Sydney-local ISO-8601 with a colon in the offset, like the reference
    assert re.fullmatch(
        r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\+1[01]:00", row["response_received_ts"]
    ), row["response_received_ts"]
    assert "response_received_ts" not in scats_records(docs).columns  # default: stable rows


def test_pretty_xml_file_sink_matches_reference_format(spark, tmp_path):
    # K5 — to_file parity (reference: transis_response_models.py:319-322):
    # one <id>.xml per row, formatted exactly as minidom toprettyxml with
    # a 3-space indent.
    from xml.dom import minidom

    from scats_transis_kinesis_spark.sources.xml import write_pretty_xml_files

    docs = [
        (1, '<TransisResponse error="false"><A><B x="1"/></A></TransisResponse>'),
        (2, '<TransisResponse error="true"><Errors><Error msg="boom"/></Errors></TransisResponse>'),
    ]
    df = spark.createDataFrame(docs, "doc_id int, value string")
    out = str(tmp_path / "xmlout")
    write_pretty_xml_files(df.repartition(2), out, column="value", id_col="doc_id")

    import os

    assert sorted(os.listdir(out)) == ["1.xml", "2.xml"]
    for doc_id, xml in docs:
        expected = minidom.parseString(xml).toprettyxml(indent="   ")
        written = open(os.path.join(out, f"{doc_id}.xml")).read()
        assert written == expected, doc_id
        # and it still parses back to the same document
        assert minidom.parseString(written).documentElement.tagName == "TransisResponse"


def test_typed_time_range_wrappers(spark):
    # Typed getFromDate pulls (reference: transis_consumer.py:166-225):
    # each wrapper restricts to its record type; snapshot pulls take no
    # date; the generic form composes range + types.
    from pyspark.sql import functions as F

    from scats_transis_kinesis_spark.sources.loaders import (
        get_all_open_tirf,
        get_all_vms,
        get_motorway_from,
        get_site_alarm_from,
        get_strategic_monitor_from,
        typed_time_range_scan,
    )

    SF = "/root/testdata/sf0.001"
    vms = get_all_vms(spark, sf_dir=SF)
    assert vms.select("event_type").distinct().collect() == [("purchase",)]

    mot = get_motorway_from(spark, "2024-01-10 00:00:00", sf_dir=SF)
    assert mot.select("event_type").distinct().collect() == [("click",)]
    assert mot.agg(F.min("ts")).first()[0].isoformat() >= "2024-01-10"

    alarms = get_site_alarm_from(spark, "2024-01-10 00:00:00", sf_dir=SF)
    assert alarms.select("event_type").distinct().collect() == [("error",)]

    sm = get_strategic_monitor_from(spark, "2024-01-10 00:00:00", sf_dir=SF)
    open_tirf = get_all_open_tirf(spark, sf_dir=SF)
    assert sm.count() > 0 and open_tirf.count() > 0

    both = typed_time_range_scan(
        spark, ("view", "click"), "2024-01-05 00:00:00", "2024-01-25 00:00:00", sf_dir=SF
    )
    kinds = {r[0] for r in both.select("event_type").distinct().collect()}
    assert kinds == {"view", "click"}


def test_transis_xml_datasource_batch(spark, tmp_path):
    """format("transis_xml") batch read: one partition per capture
    file, NUL-delimited split, empty fragments dropped — then the
    existing parse pipeline consumes the rows unchanged."""
    from scats_transis_kinesis_spark.sources.datasource import (
        register_transis_datasource,
    )
    from scats_transis_kinesis_spark.sources.xml import parse_transis_documents

    register_transis_datasource(spark)
    (tmp_path / "cap-000.bin").write_bytes(
        XML_TWO_SITES.encode() + b"\x00" + XML_TWO_SITES.encode() + b"\x00"
    )
    (tmp_path / "cap-001.bin").write_bytes(
        b"\x00" + XML_TWO_SITES.encode() + b"\x00"  # leading empty fragment
    )
    df = spark.read.format("transis_xml").load(str(tmp_path))
    assert df.count() == 3
    assert df.rdd.getNumPartitions() == 2  # one split per capture file
    parsed = parse_transis_documents(df)
    assert parsed.where("error = 'false'").count() == 3


def test_transis_xml_datasource_streaming(spark, tmp_path):
    """Streaming: each micro-batch consumes newly landed capture files;
    the offset log replays deterministically."""
    import time

    from scats_transis_kinesis_spark.sources.datasource import (
        register_transis_datasource,
    )

    register_transis_datasource(spark)
    cap_dir = tmp_path / "caps"
    cap_dir.mkdir()
    (cap_dir / "cap-000.bin").write_bytes(XML_TWO_SITES.encode() + b"\x00")

    seen: list[int] = []
    q = (
        spark.readStream.format("transis_xml")
        .load(str(cap_dir))
        .writeStream.foreachBatch(lambda df, _id: seen.append(df.count()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
        (cap_dir / "cap-001.bin").write_bytes(
            XML_TWO_SITES.encode() + b"\x00" + XML_TWO_SITES.encode() + b"\x00"
        )
        q.processAllAvailable()
    finally:
        q.stop()
    assert sum(seen) == 3  # 1 from the first capture, 2 from the second


def test_transis_xml_datasource_max_files_per_trigger(spark, tmp_path):
    """Backpressure: with maxFilesPerTrigger=1 a backlog of 3 landed
    captures drains one capture per micro-batch instead of all at once
    (documents per capture: 1, 2, 3 — so per-batch counts identify
    which capture each batch consumed)."""
    from scats_transis_kinesis_spark.sources.datasource import (
        register_transis_datasource,
    )

    register_transis_datasource(spark)
    cap_dir = tmp_path / "caps"
    cap_dir.mkdir()
    doc = XML_TWO_SITES.encode() + b"\x00"
    for i in range(3):
        (cap_dir / f"cap-{i:03d}.bin").write_bytes(doc * (i + 1))

    seen: list[int] = []
    q = (
        spark.readStream.format("transis_xml")
        .option("maxFilesPerTrigger", "1")
        .load(str(cap_dir))
        .writeStream.foreachBatch(lambda df, _id: seen.append(df.count()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert [n for n in seen if n] == [1, 2, 3]


# ---------------------------------------------------------------------------
# Live-transport mode (S1 end-to-end): the injected byte-stream reader.
# Mirrors reference transis_consumer.py:115-151 — NUL split at arbitrary
# chunk boundaries, reconnect budget, reset-on-data — without network.
# ---------------------------------------------------------------------------


def test_live_consumer_splits_across_chunk_boundaries():
    """Documents reassemble regardless of where the transport chops the
    byte stream; empty fragments drop; a trailing partial doc (no NUL
    yet at end-of-stream) is never yielded — reference behavior."""
    from scats_transis_kinesis_spark.sources.datasource import (
        LiveStreamConsumer,
    )

    payload = b"<a/>\x00\x00<bb/>\x00<ccc/>\x00<trailing-partial"
    for chunk_size in (1, 3, 7, len(payload)):
        chunks = [
            payload[i : i + chunk_size]
            for i in range(0, len(payload), chunk_size)
        ]
        docs = list(LiveStreamConsumer(lambda c=chunks: iter(c)).documents())
        assert docs == ["<a/>", "<bb/>", "<ccc/>"], f"chunk_size={chunk_size}"


def test_live_consumer_reconnects_and_drops_partial_buffer():
    """A mid-stream ConnectionError burns one reconnect attempt and the
    partial accumulator is discarded (the reference's recursive retry
    re-enters with a fresh byte_string, transis_consumer.py:123,144)."""
    from scats_transis_kinesis_spark.sources.datasource import (
        LiveStreamConsumer,
    )

    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] == 1:

            def first():
                yield b"<doc1/>\x00<par"
                raise ConnectionError("connection reset")

            return first()
        return iter([b"<doc2/>\x00<doc3/>\x00"])

    docs = list(LiveStreamConsumer(flaky, max_reconnects=1).documents())
    assert docs == ["<doc1/>", "<doc2/>", "<doc3/>"]  # no "<par..." garbage
    assert calls["n"] == 2


def test_live_consumer_budget_exhausted_raises():
    """max_reconnects failed retries -> raise, like the reference's
    'attempts to reconnect were made without success' path."""
    import pytest

    from scats_transis_kinesis_spark.sources.datasource import (
        LiveStreamConsumer,
    )

    calls = {"n": 0}

    def dead():
        calls["n"] += 1
        raise ConnectionError("refused")
        yield  # pragma: no cover - makes this a generator factory

    with pytest.raises(RuntimeError, match="2 attempts"):
        list(LiveStreamConsumer(dead, max_reconnects=2).documents())
    assert calls["n"] == 3  # initial connect + 2 reconnects


def test_live_consumer_budget_resets_on_data():
    """Delivering any document refills the reconnect budget
    (reference __reset_connection_attempt_counts on every NUL flush),
    so a long-lived stream survives unlimited *isolated* drops."""
    from scats_transis_kinesis_spark.sources.datasource import (
        LiveStreamConsumer,
    )

    # Connections 1 and 2 each deliver a document then drop; delivery
    # refills the budget to 1 before each drop spends it, so a budget of
    # one reconnect survives BOTH drops.  Connection 3 ends cleanly.
    script = iter(
        [
            [b"<d1/>\x00", ConnectionError],
            [b"<d2/>\x00", ConnectionError],
            [b"<d3/>\x00"],
        ]
    )

    def transport():
        def connection(steps):
            for step in steps:
                if step is ConnectionError:
                    raise ConnectionError("drop")
                yield step

        return connection(next(script))

    docs = list(LiveStreamConsumer(transport, max_reconnects=1).documents())
    assert docs == ["<d1/>", "<d2/>", "<d3/>"]


def test_live_stream_reader_offsets_and_backpressure(tmp_path):
    """The live reader (no Spark needed to drive it): maxDocsPerTrigger
    bounds each micro-batch, offsets advance by documents consumed."""
    from scats_transis_kinesis_spark.sources.datasource import (
        TransisXMLLiveStreamReader,
    )

    mock = tmp_path / "transport.py"
    mock.write_text(
        "def make_stream():\n"
        "    data = b'<a/>\\x00<b/>\\x00<c/>\\x00'\n"
        "    for i in range(0, len(data), 5):\n"
        "        yield data[i:i + 5]\n"
    )
    reader = TransisXMLLiveStreamReader(
        {"transport": f"{mock}:make_stream", "maxdocspertrigger": "2"}
    )
    start = reader.initialOffset()
    rows1, off1 = reader.read(start)
    rows2, off2 = reader.read(off1)
    rows3, off3 = reader.read(off2)
    assert [r[0] for r in rows1] == ["<a/>", "<b/>"]
    assert [r[0] for r in rows2] == ["<c/>"]
    assert list(rows3) == [] and off3 == {"n_docs": 3}
    assert (off1, off2) == ({"n_docs": 2}, {"n_docs": 3})


def test_live_stream_micro_batch_parity_with_file_mode(spark, tmp_path):
    """S1 end-to-end: the SAME captured bytes produce identical rows
    through (a) the batch file reader and (b) the live injected-stream
    reader driven by Structured Streaming micro-batches — stream ->
    micro-batch parity for the defining source."""
    from scats_transis_kinesis_spark.sources.datasource import (
        register_transis_datasource,
    )

    register_transis_datasource(spark)
    payload = (
        XML_TWO_SITES.encode()
        + b"\x00"
        + XML_ERROR.encode()
        + b"\x00"
        + XML_TWO_SITES.encode()
        + b"\x00"
    )
    cap = tmp_path / "cap-000.bin"
    cap.write_bytes(payload)

    batch_rows = [
        r.value
        for r in spark.read.format("transis_xml").load(str(cap)).collect()
    ]

    mock = tmp_path / "transport.py"
    mock.write_text(
        "def make_stream():\n"
        f"    data = open({str(cap)!r}, 'rb').read()\n"
        "    for i in range(0, len(data), 7):\n"
        "        yield data[i:i + 7]\n"
    )
    live_rows: list[str] = []
    q = (
        spark.readStream.format("transis_xml")
        .option("transport", f"{mock}:make_stream")
        .load()
        .writeStream.foreachBatch(
            lambda df, _id: live_rows.extend(r.value for r in df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert live_rows == batch_rows and len(batch_rows) == 3


def test_live_stream_fail_stop_on_error_document(spark, tmp_path):
    """Reference semantics end-to-end through the LIVE transport: an
    error="true" document arriving mid-stream kills the query
    (transis_consumer.py:134-136 raises; here the P6 in-plan assert
    fails the micro-batch), after good documents were delivered."""
    from pyspark.sql.streaming import StreamingQueryException

    from scats_transis_kinesis_spark.operators.projection import (
        assert_no_error_documents,
    )
    from scats_transis_kinesis_spark.sources.datasource import (
        register_transis_datasource,
    )
    from scats_transis_kinesis_spark.sources.xml import parse_transis_documents

    register_transis_datasource(spark)
    payload = (
        XML_TWO_SITES.encode() + b"\x00" + XML_ERROR.encode() + b"\x00"
    )
    cap = tmp_path / "poison.bin"
    cap.write_bytes(payload)
    mock = tmp_path / "transport.py"
    mock.write_text(
        "def make_stream():\n"
        f"    yield open({str(cap)!r}, 'rb').read()\n"
    )

    q = (
        spark.readStream.format("transis_xml")
        .option("transport", f"{mock}:make_stream")
        .load()
        .transform(parse_transis_documents)
        .transform(assert_no_error_documents)
        .writeStream.format("memory")
        .queryName("live_fail_stop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        try:
            q.processAllAvailable()
            failed = q.exception() is not None
        except StreamingQueryException:
            failed = True
    finally:
        q.stop()
    assert failed, "error document must fail the streaming query"


def test_live_stream_read_does_not_block_on_paused_transport(tmp_path):
    """A live feed that pauses mid-stream stalls only the background
    pump: read() returns what has arrived within pollTimeoutMs instead
    of blocking the trigger loop until the stream ends."""
    import time

    from scats_transis_kinesis_spark.sources.datasource import (
        TransisXMLLiveStreamReader,
    )

    flag = tmp_path / "release.flag"
    mock = tmp_path / "transport.py"
    mock.write_text(
        "import os, time\n"
        "def make_stream():\n"
        "    yield b'<first/>\\x00'\n"
        f"    while not os.path.exists({str(flag)!r}):\n"
        "        time.sleep(0.01)\n"
        "    yield b'<second/>\\x00'\n"
    )
    reader = TransisXMLLiveStreamReader(
        {"transport": f"{mock}:make_stream", "polltimeoutms": "500"}
    )
    t0 = time.monotonic()
    rows1, off1 = reader.read(reader.initialOffset())
    took = time.monotonic() - t0
    assert [r[0] for r in rows1] == ["<first/>"]
    assert off1 == {"n_docs": 1}
    assert took < 5, f"read blocked {took:.1f}s on a paused stream"

    flag.touch()  # un-pause the transport
    got: list[str] = []
    deadline = time.monotonic() + 5
    off = off1
    while not got and time.monotonic() < deadline:
        rows, off = reader.read(off)
        got = [r[0] for r in rows]
    assert got == ["<second/>"] and off == {"n_docs": 2}


def test_live_stream_read_surfaces_exhausted_budget(tmp_path):
    """A transport that never connects exhausts the reconnect budget in
    the pump thread; the failure surfaces as a raise on read() —
    fail-stop, like the reference consumer."""
    import pytest

    from scats_transis_kinesis_spark.sources.datasource import (
        TransisXMLLiveStreamReader,
    )

    mock = tmp_path / "transport.py"
    mock.write_text(
        "def make_stream():\n"
        "    raise ConnectionError('refused')\n"
        "    yield b''\n"
    )
    reader = TransisXMLLiveStreamReader(
        {"transport": f"{mock}:make_stream", "maxreconnects": "2"}
    )
    with pytest.raises(RuntimeError, match="2 attempts"):
        # the pump dies quickly; read drains nothing and re-raises
        for _ in range(50):
            reader.read(reader.initialOffset())


def test_transis_xml_write_roundtrip(spark, tmp_path):
    """The DataSource WRITE path: df.write.format('transis_xml')
    renders NUL-delimited capture files that read back through the same
    source byte-identically; overwrite mode replaces prior captures;
    the two-phase commit leaves no staging files behind."""
    from scats_transis_kinesis_spark.sources.datasource import (
        register_transis_datasource,
    )

    import os

    register_transis_datasource(spark)
    docs = [f'<doc id="{i}" body="text {i}"/>' for i in range(25)]
    df = spark.createDataFrame([(d,) for d in docs], "value string")
    out = str(tmp_path / "captures")

    df.repartition(4).write.format("transis_xml").mode("append").save(out)
    files = sorted(os.listdir(out))
    assert files and all(f.endswith(".xml0") for f in files)
    raw = b"".join(
        open(os.path.join(out, f), "rb").read() for f in files
    )
    assert raw.count(b"\x00") == len(docs)

    back = {r["value"] for r in spark.read.format("transis_xml").load(out).collect()}
    assert back == set(docs)

    # A second APPEND job must not clobber the first job's captures
    # (final names carry a per-job token, never bare partition ids).
    extra = ["<doc id='extra-a'/>", "<doc id='extra-b'/>"]
    spark.createDataFrame([(d,) for d in extra], "value string").coalesce(
        1
    ).write.format("transis_xml").mode("append").save(out)
    back_appended = {
        r["value"] for r in spark.read.format("transis_xml").load(out).collect()
    }
    assert back_appended == set(docs) | set(extra)

    # Overwrite replaces the previous capture set entirely.
    df2 = spark.createDataFrame([("<doc id='fresh'/>",)], "value string")
    df2.coalesce(1).write.format("transis_xml").mode("overwrite").save(out)
    back2 = {r["value"] for r in spark.read.format("transis_xml").load(out).collect()}
    assert back2 == {"<doc id='fresh'/>"}
    assert not os.path.isdir(os.path.join(out, "_staging"))


def test_transis_xml_stream_writer_roundtrip(spark, tmp_path):
    """The STREAMING write path: readStream(transis_xml) →
    writeStream(transis_xml) moves capture files end-to-end, one
    batchId-named capture set per micro-batch, and newly landed input
    flows through on the next trigger."""
    import os
    import time

    from scats_transis_kinesis_spark.sources.datasource import (
        register_transis_datasource,
    )

    register_transis_datasource(spark)
    src = tmp_path / "in"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    (src / "cap-000.xml0").write_bytes(b"<a/>\x00<b/>\x00")
    os.utime(src / "cap-000.xml0", (time.time() - 10, time.time() - 10))

    q = (
        spark.readStream.format("transis_xml")
        .load(str(src))
        .writeStream.format("transis_xml")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .start()
    )
    try:
        q.processAllAvailable()
        back = {
            r["value"]
            for r in spark.read.format("transis_xml").load(str(out)).collect()
        }
        assert back == {"<a/>", "<b/>"}
        # Final names carry the batch id; staging is invisible to reads.
        names = sorted(os.listdir(out))
        assert all(n.startswith("part-b") and n.endswith(".xml0")
                   for n in names if n != "_staging")

        (src / "cap-001.xml0").write_bytes(b"<c/>\x00")
        q.processAllAvailable()
        back2 = {
            r["value"]
            for r in spark.read.format("transis_xml").load(str(out)).collect()
        }
        assert back2 == {"<a/>", "<b/>", "<c/>"}
    finally:
        q.stop()


def test_transis_xml_stream_writer_batch_replay_is_idempotent(tmp_path):
    """A micro-batch replayed after restart (sink committed, offset
    not) must overwrite its own capture files, not duplicate records —
    the final name is a pure function of (batchId, partitionId)."""
    import os

    from scats_transis_kinesis_spark.sources.datasource import (
        TransisXMLStreamWriter,
    )

    out = str(tmp_path / "caps")
    os.makedirs(out)
    w = TransisXMLStreamWriter({"path": out})
    m = w.write(iter([("<doc-1/>",), ("<doc-2/>",)]))
    w.commit([m], 7)
    # replay of batch 7 (e.g. after a crash before the offset commit)
    m2 = w.write(iter([("<doc-1/>",), ("<doc-2/>",)]))
    w.commit([m2], 7)
    finals = [n for n in os.listdir(out) if n.endswith(".xml0")]
    assert finals == ["part-b0000000007-00000.xml0"]
    data = open(os.path.join(out, finals[0]), "rb").read()
    assert data == b"<doc-1/>\x00<doc-2/>\x00"
    # an aborted batch leaves nothing staged
    m3 = w.write(iter([("<doc-3/>",)]))
    w.abort([m3], 8)
    assert [n for n in os.listdir(out) if n.endswith(".xml0")] == finals
    assert os.listdir(os.path.join(out, "_staging")) == []

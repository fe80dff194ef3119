"""Self-tests of the benchmark's own parts.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import xml.etree.ElementTree as ET

import pytest

from perfbench import capture
from perfbench.sparkprobe import busy_ms, count_from_xml
from perfbench.stats import percentile
from perfbench.trace import Tracer
from perfbench.workloads import _backlog

EDGE_DOC = (
    b'<TransisResponse error="false"><DetectorCountMessages>'
    b'<DetectorCountMessage reg="ROZ" Sid="2087" date="2019-10-03T15:43:00+10:00">'
    b'<Detectors><Detector Did="1" count="5"/><Detector count="9"/>'
    b'<Detector Did="3"/><Detector Did="18" count="12"/></Detectors>'
    b"</DetectorCountMessage>"
    b'<DetectorCountMessage reg="CTY" Sid="8" date="2019-10-03T15:48:00+10:00">'
    b"<Detectors></Detectors></DetectorCountMessage>"
    b'<DetectorCountMessage reg="NTH" Sid="9" date="2019-10-03T15:48:00+10:00">'
    b'<Detectors><Detector count="1"/></Detectors></DetectorCountMessage>'
    b"</DetectorCountMessages></TransisResponse>\x00"
)
EMPTY_DOC = (
    b'<TransisResponse error="false"><DetectorCountMessages>'
    b"</DetectorCountMessages></TransisResponse>\x00"
)


def test_generator_is_deterministic_per_seed():
    a = capture.make_documents(7, 0, 12)
    assert a == capture.make_documents(7, 0, 12)
    assert a != capture.make_documents(8, 0, 12)
    # any slice of a capture is the same whichever process makes it
    assert capture.make_documents(7, 5, 4) == a[5:9]


def test_generator_produces_every_edge_case():
    docs = capture.make_documents(3, 0, 200)
    assert any(b"<Detectors></Detectors>" in d for d in docs)
    assert any(b'<Detector count="' in d for d in docs)
    assert any(b"<DetectorCountMessages></DetectorCountMessages>" in d for d in docs)
    assert not any(b'error="true"' in d for d in docs)
    assert all(d.endswith(b"\x00") and d.count(b"\x00") == 1 for d in docs)


def test_reference_reading_of_edge_cases():
    payloads = [json.loads(p) for p in capture.reference_payloads(EDGE_DOC)]
    assert payloads == [
        {"region": "ROZ", "site_id": "2087", "collection_interval_secs": 300,
         "collection_end_ts_plus_3m": 1570081380,
         "detector_counts": {"1": "5", "18": "12"}},
        # empty container: no detector_counts at all
        {"region": "CTY", "site_id": "8", "collection_interval_secs": 300,
         "collection_end_ts_plus_3m": 1570081680},
        # every child malformed: an empty map, not an absent one
        {"region": "NTH", "site_id": "9", "collection_interval_secs": 300,
         "collection_end_ts_plus_3m": 1570081680, "detector_counts": {}},
    ]
    assert capture.reference_payloads(EMPTY_DOC) == []


def test_checksum_matches_elementtree_read():
    docs = [EDGE_DOC, EMPTY_DOC] + capture.make_documents(11, 0, 30)
    n = total = 0
    for doc in docs:
        root = ET.fromstring(doc[:-1])
        for m in root.iter("DetectorCountMessage"):
            rec = capture.reference_payloads(
                b'<TransisResponse error="false"><DetectorCountMessages>'
                + ET.tostring(m) + b"</DetectorCountMessages></TransisResponse>"
            )
            assert len(rec) == 1
            n += 1
            total = (total + capture.payload_hash(rec[0])) & capture.MASK64
    assert capture.expected_sink(docs) == (n, total)
    # order does not matter, multiplicity does
    assert capture.expected_sink(docs[::-1]) == (n, total)
    assert capture.expected_sink(docs + docs[:1])[1] != total


def test_document_index_round_trips_through_the_date():
    for i in (0, 1, 287, 5000):
        iso = capture.iso_date(i)
        assert iso.endswith("+10:00")
        payload = capture.reference_payloads(capture.make_documents(1, i, 1)[0])
        if payload:
            assert capture.doc_index(json.loads(payload[0])["collection_end_ts_plus_3m"]) == i


def test_percentile_refuses_too_few_samples_for_p90():
    with pytest.raises(ValueError):
        percentile(list(range(99)), 0.9)
    assert percentile(list(range(100)), 0.9) == pytest.approx(89.1)
    with pytest.raises(ValueError):
        percentile(list(range(19)), 0.5)
    assert percentile(list(range(21)), 0.5) == 10
    with pytest.raises(ValueError):
        percentile([], 0.5, min_tail=0)


KNOWN_PLAN = """*(1) Project [partition_key#12, data#13]
+- *(1) Project [cast(region#5 as string) AS partition_key#12, cast(to_json(struct(region, \
from_xml(StructField(_error,StringType,true), value#0, Some(UTC)).DetectorCountMessages)) as binary) AS data#13]
   +- *(1) Filter (isnull(assert_true(NOT coalesce((lower(from_xml(StructField(_error,StringType,true), \
value#0, Some(UTC))._error) = true), false), ...)) AND isnotnull(from_xml(StructField(_error,StringType,true), \
value#0, Some(UTC)).DetectorCountMessages))
      +- FileScan text [value#0] Batched: false, my_from_xml_udf(value#0)
"""


def test_from_xml_counter_on_a_known_plan():
    assert count_from_xml(KNOWN_PLAN) == 3
    assert count_from_xml("Project [value#0]") == 0


def test_self_time_subtracts_covered_child_time():
    tr = Tracer(enabled=True)
    tr.spans = [
        {"name": "request", "request": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"name": "a", "request": 0, "parent": 0, "start": 1.0, "end": 4.0},
        {"name": "b", "request": 0, "parent": 0, "start": 3.0, "end": 6.0},
    ]
    st = tr.self_times()
    assert st["request"] == [pytest.approx(5.0)]
    assert st["a"] == [3.0] and st["b"] == [3.0]
    assert busy_ms([(0, 4), (3, 6), (8, 9), (1, None)]) == 7


def test_backlog_counts_landed_undelivered_documents():
    landed = [0.0, 1.0, 2.0, 3.0]
    done = [1.5, None, 2.5, 3.5]  # the second document had no records
    assert _backlog(landed, done) == [1, 1, 1, 1]
    assert _backlog(landed, [9.0, 9.0, 9.0, 9.0]) == [1, 2, 3, 4]

#!/usr/bin/env python
"""Measured single-node throughput: reference parse pipeline vs this
engine, on IDENTICAL bytes.

`BASELINE.md` notes the reference publishes no performance numbers, so
this tool produces one: it generates a synthetic NUL-delimited SCATS
detector-count stream (the reference's wire format), runs it through

- the REFERENCE's own parse path, imported read-only from
  /root/reference (split on b"\\x00" -> TransisResponse (ElementTree
  parse) -> is_error -> per-message to_dict kinesis records) — the
  single-process, single-thread design of its consumer loop
  (main.py:21-30, transis_consumer.py:115-151), and
- THIS ENGINE's equivalent (read_null_delimited text scan ->
  parse_transis_documents -> non_empty_responses -> explode_messages ->
  project_detector_count_record), once over a single capture file and
  once over the same bytes split into N capture files (how captures
  actually land).

Writes REFERENCE_THROUGHPUT.json and prints one JSON line.  Run:

    python tools/bench_reference_parity.py [--docs 200] [--sites 50]

The generator emits the reference's fixture shape (tests.py:19,59-60):
~24 detectors per site, multi-site snapshots, ISO-8601 +10:00 dates.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REFERENCE_DIR = "/root/reference"


def gen_stream(n_docs: int, sites: int, detectors: int = 24) -> bytes:
    """Synthetic detector-count stream in the reference wire format."""
    out = []
    for d in range(n_docs):
        minute = d % 60
        hour = 10 + (d // 60) % 12
        date = f"2019-10-03T{hour:02d}:{minute:02d}:00+10:00"
        msgs = []
        for s in range(sites):
            dets = "".join(
                f'<Detector Did="{i + 1}" count="{(d + s + i) % 50}"/>'
                for i in range(detectors)
            )
            msgs.append(
                f'<DetectorCountMessage reg="ROZ" Sid="{2000 + s}" '
                f'date="{date}"><Detectors>{dets}</Detectors>'
                "</DetectorCountMessage>"
            )
        out.append(
            '<TransisResponse error="false"><DetectorCountMessages>'
            + "".join(msgs)
            + "</DetectorCountMessages></TransisResponse>"
        )
    return ("\x00".join(out) + "\x00").encode("utf-8")


def measure_reference(payload: bytes) -> tuple[int, float]:
    """The reference's own classes on the byte stream — imported from
    /root/reference READ-ONLY (nothing is copied into this repo)."""
    sys.path.insert(0, REFERENCE_DIR)
    try:
        import transis_response_models as trm  # noqa: F401 (reference)
    finally:
        sys.path.remove(REFERENCE_DIR)

    t0 = time.time()
    n_records = 0
    # transis_consumer.py:133-139: split on the NUL byte, drop empties,
    # parse each document; kinesis_producer consumes to_dict records.
    for doc in payload.split(b"\x00"):
        if not doc:
            continue
        resp = trm.TransisResponse(doc)
        err = resp.is_error()
        if err:
            raise RuntimeError(err)
        if resp.detector_count_messages:
            for msg in resp.detector_count_messages.detector_count_message_list:
                msg.to_dict()
                n_records += 1
    return n_records, time.time() - t0


def measure_spark(payload: bytes, n_files: int) -> tuple[int, float]:
    """The JVM-native text scan with NUL ``lineSep``
    (sources/xml.py:read_null_delimited: splitting happens inside the
    scan, no Python worker) through the projection."""
    from scats_transis_kinesis_spark.operators.flatten import explode_messages
    from scats_transis_kinesis_spark.operators.projection import (
        non_empty_responses,
        project_detector_count_record,
    )
    from scats_transis_kinesis_spark.session import get_session
    from scats_transis_kinesis_spark.sources.xml import (
        parse_transis_documents,
        read_null_delimited,
    )

    spark = get_session(
        app_name="ref-parity", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    docs = [d for d in payload.split(b"\x00") if d]
    with tempfile.TemporaryDirectory() as tmp:
        per = max(1, -(-len(docs) // n_files))
        for i in range(0, len(docs), per):
            with open(os.path.join(tmp, f"cap-{i // per:04d}.bin"), "wb") as fh:
                fh.write(b"\x00".join(docs[i : i + per]) + b"\x00")

        def pipeline():
            raw = read_null_delimited(spark, tmp)
            return project_detector_count_record(
                explode_messages(non_empty_responses(parse_transis_documents(raw)))
            )

        # Warm once (JVM + codegen), then measure.
        pipeline().write.mode("overwrite").format("noop").save()
        t0 = time.time()
        n_records = pipeline().count()
        dt = time.time() - t0
    spark.stop()
    return n_records, dt


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=200)
    ap.add_argument("--sites", type=int, default=50)
    ap.add_argument("--files", type=int, default=32)
    args = ap.parse_args()

    payload = gen_stream(args.docs, args.sites)
    ref_n, ref_s = measure_reference(payload)
    text1_n, text1_s = measure_spark(payload, n_files=1)
    textN_n, textN_s = measure_spark(payload, n_files=args.files)
    assert ref_n == text1_n == textN_n, (ref_n, text1_n, textN_n)

    result = {
        "n_documents": args.docs,
        "n_records": ref_n,
        "payload_mb": round(len(payload) / 1e6, 2),
        "reference_records_per_s": round(ref_n / ref_s),
        "spark_text_1file_records_per_s": round(text1_n / text1_s),
        "spark_text_multifile_records_per_s": round(textN_n / textN_s),
        "n_capture_files": args.files,
        "speedup_text_multifile": round((textN_n / textN_s) / (ref_n / ref_s), 2),
    }
    with open(os.path.join(REPO, "REFERENCE_THROUGHPUT.json"), "w") as fh:
        json.dump(result, fh, indent=1)
        fh.write("\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()

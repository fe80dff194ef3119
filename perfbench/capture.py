"""Seeded Transis capture generator and its pure-Python reference reading.

A capture is a run of NUL-terminated ``<TransisResponse>`` documents, one
network snapshot per 5-minute collection period, in the reference fixture
shape: about 50 sites per document, 24 detectors per site, ISO ``+10:00``
dates.  The generator mixes in the edge cases the reference semantics
treat specially:

- a site whose ``<Detectors>`` container is empty (its record carries no
  ``detector_counts`` at all: ElementTree truthiness, empty == absent);
- ``<Detector>`` children missing ``Did`` or ``count`` (dropped);
- documents with an empty ``<DetectorCountMessages>`` container (no
  records).

Error documents are never generated: they fail-stop the pipeline by design.

:func:`expected_sink` reads the same bytes with ElementTree, independently
of Spark, and returns the record count and the order-independent checksum
of the sink payloads the pipeline must deliver.
"""

from __future__ import annotations

import hashlib
import json
import random
import xml.etree.ElementTree as ET
from datetime import datetime, timezone

REGIONS = ("ROZ", "CTY", "NTH", "STH", "EST", "WST")
# 2019-10-03T00:00:00+10:00; document i covers the period ending
# BASE_EPOCH + 300 * i, so the record's epoch names its document.
BASE_EPOCH = 1570024800
PERIOD_S = 300
MASK64 = (1 << 64) - 1
# One document in EMPTY_DOC_EVERY has no messages; one site in
# EDGE_SITE_EVERY has an empty <Detectors> container and the next one has
# malformed children.
EMPTY_DOC_EVERY = 16
EDGE_SITE_EVERY = 20


def doc_index(epoch: int) -> int:
    """Document index of a record, from its collection epoch."""
    return (epoch - BASE_EPOCH) // PERIOD_S


def iso_date(index: int) -> str:
    """ISO-8601 ``+10:00`` date of document ``index``'s collection period."""
    local = BASE_EPOCH + PERIOD_S * index + 10 * 3600
    return datetime.fromtimestamp(local, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S") + "+10:00"


def make_document(rng: random.Random, index: int, sites: int = 50, detectors: int = 24) -> bytes:
    """One NUL-terminated ``<TransisResponse>`` document.

    Where the edge cases fall depends only on ``index``, so every seed
    gives documents of the same shape and record count; the seed draws
    the site ids and the counts."""
    if index % EMPTY_DOC_EVERY == EMPTY_DOC_EVERY - 1:
        body = "<DetectorCountMessages></DetectorCountMessages>"
    else:
        date = iso_date(index)
        msgs = []
        for s in range(sites):
            reg = REGIONS[(index + s) % len(REGIONS)]
            sid = 100 + s * 7 + rng.randrange(7)
            slot = (index * sites + s) % EDGE_SITE_EVERY
            if slot == 0:
                dets = ""
            else:
                parts = []
                for d in range(1, detectors + 1):
                    count = rng.randrange(13)
                    if slot == 1 and d % 6 == 0:
                        # malformed child: one of the two attributes missing
                        parts.append(
                            f'<Detector count="{count}"/>' if d % 12 else f'<Detector Did="{d}"/>'
                        )
                    else:
                        parts.append(f'<Detector Did="{d}" count="{count}"/>')
                dets = "".join(parts)
            msgs.append(
                f'<DetectorCountMessage reg="{reg}" Sid="{sid}" date="{date}">'
                f"<Detectors>{dets}</Detectors></DetectorCountMessage>"
            )
        body = "<DetectorCountMessages>" + "".join(msgs) + "</DetectorCountMessages>"
    return f'<TransisResponse error="false">{body}</TransisResponse>\x00'.encode()


def make_documents(seed: int, start: int, n: int, sites: int = 50) -> list[bytes]:
    """Documents ``start .. start+n-1`` of the capture for ``seed``.

    Each document draws from its own generator, so any slice of the
    capture is the same whichever process makes it."""
    return [make_document(random.Random(f"{seed}:{i}"), i, sites) for i in range(start, start + n)]


def payload_hash(data: bytes) -> int:
    """64-bit hash of one sink payload; summed, it is order-independent."""
    return int.from_bytes(hashlib.blake2b(data, digest_size=8).digest(), "little")


def reference_payloads(doc: bytes) -> list[bytes]:
    """The sink payloads one document must produce, read with ElementTree
    (the reference parser) instead of Spark."""
    root = ET.fromstring(doc.rstrip(b"\x00"))
    container = root.find("DetectorCountMessages")
    if container is None or not len(container):
        return []
    out = []
    for m in container:
        date = datetime.strptime(m.get("date"), "%Y-%m-%dT%H:%M:%S%z")
        rec = {
            "region": m.get("reg"),
            "site_id": m.get("Sid"),
            "collection_interval_secs": 300,
            "collection_end_ts_plus_3m": int(date.timestamp()),
        }
        dets = m.find("Detectors")
        if dets is not None and len(dets):
            rec["detector_counts"] = {
                d.get("Did"): d.get("count")
                for d in dets
                if d.get("Did") is not None and d.get("count") is not None
            }
        out.append(json.dumps(rec, separators=(",", ":")).encode())
    return out


def expected_sink(docs: list[bytes]) -> tuple[int, int]:
    """(record count, checksum) the sink must receive for ``docs``."""
    n = total = 0
    for doc in docs:
        for p in reference_payloads(doc):
            n += 1
            total = (total + payload_hash(p)) & MASK64
    return n, total

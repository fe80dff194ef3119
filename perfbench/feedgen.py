"""Open-loop capture feed for the streaming half of a traced
``capture_replay`` run.

Run as its own process.  Document ``i`` of the feed is due at
``t0 + (i - start) / rate`` on the host's monotonic clock, whatever the
pipeline is doing; the generator sleeps until then, writes the document to
a staging directory and renames it into the spool directory the stream
watches (an atomic landing).  When done it writes, as JSON, each
document's due and landing times and what the sink must receive, read
with ElementTree from the same bytes.

    python3 -m perfbench.feedgen --seed 1 --start 12 --count 100 --rate 6 \
        --t0 <monotonic s> --spool DIR --staging DIR --out FILE
"""

from __future__ import annotations

import argparse
import json
import os
import time

from perfbench.capture import expected_sink, make_documents


def land(doc: bytes, index: int, spool: str, staging: str) -> None:
    name = f"capture-{index:06d}.bin"
    tmp = os.path.join(staging, name)
    with open(tmp, "wb") as f:
        f.write(doc)
    os.rename(tmp, os.path.join(spool, name))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--start", type=int, required=True)
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--spool", required=True)
    ap.add_argument("--staging", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    docs = make_documents(a.seed, a.start, a.count)
    due, landed = [], []
    for k, doc in enumerate(docs):
        t_due = a.t0 + k / a.rate
        delay = t_due - time.monotonic()
        if delay > 0:
            time.sleep(delay)
        land(doc, a.start + k, a.spool, a.staging)
        due.append(t_due)
        landed.append(time.monotonic())
    records, checksum = expected_sink(docs)
    with open(a.out, "w") as f:
        json.dump(
            {"start": a.start, "due": due, "landed": landed,
             "records": records, "checksum": checksum},
            f,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

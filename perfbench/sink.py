"""The benchmark's Kinesis client: accepts every record and logs each call.

:class:`CountingClient` runs inside Spark's Python workers (the sink sends
from ``foreachPartition``), so it reports through files, not memory: one
log file per client, one line per ``put_records`` call, written with a
single ``O_APPEND`` write.  A line holds the monotonic accept time (the
clock is shared by every process on the host), the record count, the
payload checksum, the payload bytes and the documents the records came
from.
"""

from __future__ import annotations

import itertools
import os
import re
import time
from dataclasses import dataclass, field

from perfbench.capture import MASK64, doc_index, payload_hash

_EPOCH = re.compile(rb'"collection_end_ts_plus_3m":(\d+)')
_ids = itertools.count()


class CountingClient:
    """Stand-in for a boto3 Kinesis client that always accepts."""

    def __init__(self, log_dir: str) -> None:
        name = f"{os.getpid()}-{next(_ids)}-{time.monotonic_ns()}.log"
        self._fd = os.open(
            os.path.join(log_dir, name), os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644
        )

    def put_records(self, StreamName: str, Records: list[dict]) -> dict:  # noqa: N803
        total = nbytes = 0
        docs = set()
        for rec in Records:
            data = rec["Data"]
            total = (total + payload_hash(data)) & MASK64
            nbytes += len(data)
            m = _EPOCH.search(data)
            docs.add(doc_index(int(m.group(1))) if m else -1)
        now = time.monotonic()
        line = f"{now:.6f} {len(Records)} {total} {nbytes} {','.join(map(str, sorted(docs)))}\n"
        os.write(self._fd, line.encode())
        return {
            "FailedRecordCount": 0,
            "Records": [{"SequenceNumber": "0", "ShardId": "shard-0"} for _ in Records],
        }

    def __del__(self) -> None:
        fd = getattr(self, "_fd", None)
        if fd is not None:
            os.close(fd)


@dataclass
class SinkLog:
    """What a set of client logs says the sink accepted."""

    calls: int = 0
    records: int = 0
    checksum: int = 0
    nbytes: int = 0
    # document index -> monotonic time its last record was accepted
    doc_done: dict[int, float] = field(default_factory=dict)


def read_sink_log(log_dir: str) -> SinkLog:
    """Totals over every client log under ``log_dir``."""
    out = SinkLog()
    paths = [os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names]
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                t, n, total, nbytes, docs = line.split()
                out.calls += 1
                out.records += int(n)
                out.checksum = (out.checksum + int(total)) & MASK64
                out.nbytes += int(nbytes)
                t = float(t)
                for d in map(int, docs.split(",")):
                    if out.doc_done.get(d, 0.0) < t:
                        out.doc_done[d] = t
    return out

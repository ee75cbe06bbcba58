"""A file-backed PutRecords endpoint that never fails.

The replay sink builds one client per publishing task, inside whichever
process publishes (a Python worker on the distributed path, the driver on
the driver path). Each process appends what it receives to its own files
under the capture directory, so arrival order is kept per process, and a
single key's records in one micro-batch always come from one process
(single writer per key):

* ``records-<pid>.tsv``: one ``partition_key<TAB>data`` line per record;
* ``calls-<pid>.tsv``: one ``writer<TAB>records<TAB>start_ns<TAB>end_ns``
  line per PutRecords call, where the writer is the Spark partition that
  published it (``driver`` on the driver path).
"""

from __future__ import annotations

import os
import time


class FileEndpoint:
    def __init__(self, root: str):
        self.root = root
        from pyspark import TaskContext

        ctx = TaskContext.get()
        self.writer = "driver" if ctx is None else str(ctx.partitionId())

    def put_records(self, StreamName: str, Records: list):
        t0 = time.monotonic_ns()
        pid = os.getpid()
        lines = b"".join(
            r["PartitionKey"].encode() + b"\t" + r["Data"] + b"\n" for r in Records
        )
        with open(os.path.join(self.root, f"records-{pid}.tsv"), "ab") as f:
            f.write(lines)
        t1 = time.monotonic_ns()
        with open(os.path.join(self.root, f"calls-{pid}.tsv"), "a") as f:
            f.write(f"{self.writer}\t{len(Records)}\t{t0}\t{t1}\n")
        return {
            "FailedRecordCount": 0,
            "Records": [{"SequenceNumber": str(i)} for i in range(len(Records))],
        }


def file_endpoint(root: str) -> FileEndpoint:
    """Client factory, referenced by the sink as ``endpoint:file_endpoint``."""
    return FileEndpoint(root)

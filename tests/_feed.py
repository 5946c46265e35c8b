"""Feed-file writer for the file-source stream tests."""

from __future__ import annotations

import os

import pyarrow.parquet as pq


def write_feed(table, path) -> None:
    """Write one parquet feed file with an mtime one second after every
    file already in its directory.  Spark's file source orders a feed by
    millisecond modification time, so files written within one
    millisecond would otherwise reach ``maxFilesPerTrigger`` batches in
    either order."""
    path = str(path)
    d, name = os.path.split(path)
    prior = [os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d) if f != name]
    pq.write_table(table, path)
    if prior:
        t = max(prior) + 1_000_000_000
        os.utime(path, ns=(t, t))

"""Reads a file-source streaming query's checkpoint to map each input file
to the micro-batch that consumed it, and each batch to its commit time.

Two logs are involved:

* the file source's own log (``<checkpoint>/sources/0/``) holds one file
  per *source* batch, and every 10th a ``N.compact`` file that repeats all
  earlier entries. Entries carry their own ``batchId``; a parser that takes
  the batch from the file name assigns every entry of a compact file to N.
* the source batch is not the query's batch: a query also runs batches
  that read no new file (after a stateful operator's watermark moves), so
  the query's offset log (``<checkpoint>/offsets/N``) says which source
  batch each query batch read up to.
"""

from __future__ import annotations

import json
import os
import re

_LOG_NAME = re.compile(r"^(\d+)(\.compact)?$")
_DUE = re.compile(r"-due(\d+)\.json$")
#: The queries read one source each: source 0.
_SOURCE = 0


def source_batches(checkpoint: str) -> dict[str, int]:
    """Input file name -> source batch id, from the source's metadata log."""
    log_dir = os.path.join(checkpoint, "sources", str(_SOURCE))
    out: dict[str, int] = {}
    for name in os.listdir(log_dir):
        m = _LOG_NAME.match(name)
        if not m:  # .crc checksums and in-flight temp files
            continue
        with open(os.path.join(log_dir, name)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # first line is the log format version
            if not line.strip():
                continue
            entry = json.loads(line)
            batch = entry.get("batchId", int(m.group(1)))
            out[os.path.basename(entry["path"])] = int(batch)
    return out


def read_up_to(checkpoint: str) -> dict[int, int]:
    """Query batch id -> last source batch it read, from the offset log
    (version line, batch metadata line, then one offset per source)."""
    log_dir = os.path.join(checkpoint, "offsets")
    out: dict[int, int] = {}
    for name in os.listdir(log_dir):
        if name.isdigit():
            with open(os.path.join(log_dir, name)) as f:
                offset = f.read().splitlines()[2 + _SOURCE]
            out[int(name)] = int(json.loads(offset)["logOffset"])
    return out


def file_batches(checkpoint: str) -> dict[str, int]:
    """Input file name -> the query batch that consumed it: the first query
    batch whose offset reaches the file's source batch."""
    ends = sorted(read_up_to(checkpoint).items())
    out: dict[str, int] = {}
    for name, src in source_batches(checkpoint).items():
        batch = next((b for b, end in ends if end >= src), None)
        if batch is not None:
            out[name] = batch
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """Batch id -> commit time (epoch seconds): the modification time of
    the batch's file in the commit log, written when the batch completes."""
    commits = os.path.join(checkpoint, "commits")
    out: dict[int, float] = {}
    for name in os.listdir(commits):
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(commits, name)).st_mtime_ns / 1e9
    return out


def due_ms(file_name: str) -> int | None:
    """The due time the load generator stamped into a file name."""
    m = _DUE.search(file_name)
    return int(m.group(1)) if m else None


def file_latencies_ms(checkpoint: str) -> dict[str, float]:
    """Due-stamped input file -> milliseconds from its due time to the
    commit of the batch that consumed it. Files of uncommitted batches are
    left out; the caller checks that every file is present."""
    batches = file_batches(checkpoint)
    commits = commit_times(checkpoint)
    out: dict[str, float] = {}
    for name, batch in batches.items():
        due = due_ms(name)
        if due is not None and batch in commits:
            out[name] = commits[batch] * 1000 - due
    return out

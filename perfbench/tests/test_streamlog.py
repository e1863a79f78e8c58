"""File -> batch -> commit-time mapping from a streaming checkpoint."""

import json
import os

import pytest

import streamlog

BASE_S = 1_800_000_000
N_SOURCE = 12  # source batches 0..11; source batch 9 is compacted


def _write_checkpoint(root, files_per_source_batch, query_reads):
    """Fake checkpoint in Spark's on-disk format: the file source's log (one
    file per source batch, ``9.compact`` repeating every earlier entry, the
    pre-compaction files removed, ``.crc`` siblings), the query's offset log
    and one commit per query batch, committed at ``BASE_S + query batch``."""
    src = root / "sources" / "0"
    offsets = root / "offsets"
    commits = root / "commits"
    for d in (src, offsets, commits):
        d.mkdir(parents=True)
    entries = []
    for batch, names in enumerate(files_per_source_batch):
        own = [{"path": f"file:///in/{n}", "timestamp": 1, "batchId": batch} for n in names]
        entries += own
        if batch == 9:
            (src / "9.compact").write_text("v1\n" + "\n".join(map(json.dumps, entries)) + "\n")
        elif batch > 9:
            (src / str(batch)).write_text("v1\n" + "\n".join(map(json.dumps, own)) + "\n")
        (src / f".{batch}.crc").write_text("x")
    for q, read in enumerate(query_reads):
        (offsets / str(q)).write_text(
            'v1\n{"batchWatermarkMs":0,"batchTimestampMs":0,"conf":{}}\n'
            + json.dumps({"logOffset": read}) + "\n"
        )
        commit = commits / str(q)
        commit.write_text('v1\n{"nextBatchWatermarkMs":0}\n')
        os.utime(commit, ns=((BASE_S + q) * 10**9,) * 2)
        (commits / f".{q}.crc").write_text("x")


@pytest.fixture
def checkpoint(tmp_path):
    # query batch 1 reads nothing new (a no-data batch after the catch-up),
    # so every later source batch k is consumed by query batch k + 1
    query_reads = [0, 0] + list(range(1, N_SOURCE))
    files = [["backlog-00000.json"]] + [
        [f"live-{k:05d}-due{(BASE_S + k + 1) * 1000 - 1250}.json"] for k in range(1, N_SOURCE)
    ]
    _write_checkpoint(tmp_path, files, query_reads)
    return tmp_path


def test_compact_entries_keep_their_own_batch(checkpoint):
    got = streamlog.source_batches(str(checkpoint))
    for k in range(1, N_SOURCE):
        name = next(n for n in got if n.startswith(f"live-{k:05d}-"))
        assert got[name] == k  # a file-name parser would say 9 for k < 9


def test_files_map_to_the_query_batch_that_read_them(checkpoint):
    got = streamlog.file_batches(str(checkpoint))
    assert got["backlog-00000.json"] == 0
    for k in range(1, N_SOURCE):
        name = next(n for n in got if n.startswith(f"live-{k:05d}-"))
        assert got[name] == k + 1  # not k: query batch 1 read no file


def test_commit_times_come_from_the_commit_log(checkpoint):
    assert streamlog.commit_times(str(checkpoint)) == {q: BASE_S + q for q in range(N_SOURCE + 1)}


def test_latency_is_commit_minus_due(checkpoint):
    lat = streamlog.file_latencies_ms(str(checkpoint))
    assert len(lat) == N_SOURCE - 1  # backlog files carry no due time
    for v in lat.values():
        assert v == pytest.approx(1250.0)


def test_due_ms_parses_the_stamp():
    assert streamlog.due_ms("live-00003-due1792231128046.json") == 1792231128046
    assert streamlog.due_ms("backlog-00003.json") is None

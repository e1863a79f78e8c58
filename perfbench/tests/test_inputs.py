"""The generated inputs depend on the seed alone, and have the shape the
workloads promise."""

import json

import datagen
import ticks


def test_ticks_are_deterministic_per_seed():
    a = ticks.generate(7, [500, 500], start_index=100)
    b = ticks.generate(7, [500, 500], start_index=100)
    c = ticks.generate(8, [500, 500], start_index=100)
    assert a.files == b.files and a.expected == b.expected
    assert a.files != c.files


def test_ticks_shape():
    batch = ticks.generate(3, [5000, 5000])
    lines = [line for f in batch.files for line in f]
    assert len(lines) == 10_000
    dups = len(lines) - len(set(lines))
    assert 0.03 < dups / len(lines) < 0.07
    parsed = []
    bad = 0
    for line in lines:
        try:
            msg = json.loads(line)
        except json.JSONDecodeError:
            bad += 1
            continue
        if msg["v"] <= 0 or "s" not in msg:
            bad += 1
        else:
            parsed.append(msg)
    assert 0.003 < bad / len(lines) < 0.02
    # every valid distinct message is expected, and nothing else
    keys = {(tuple(m["c"]), m["p"], m["s"], m["t"], m["v"]) for m in parsed}
    assert keys == batch.expected
    # one trading day, out of order by less than the 10-minute watermark
    ts = [m["t"] for m in parsed]
    open_ms = ticks.trading_day_open_ms(3)
    assert open_ms - ticks.JITTER_MS <= min(ts) and max(ts) < open_ms + 6.5 * 3_600_000
    running_max = 0
    for t in ts:
        running_max = max(running_max, t)
        assert running_max - t < 10 * 60_000
    # prices survive float32 exactly
    assert all((m["p"] * 64).is_integer() for m in parsed)


def test_live_files_continue_the_backlog_day():
    backlog = ticks.generate(5, [1000])
    live = ticks.generate(5, [100], start_index=1000)
    t_back = max(k[3] for k in backlog.expected)
    t_live = min(k[3] for k in live.expected)
    assert t_back - t_live < 10 * 60_000


def test_sink_errors_count_missing_duplicate_and_unexpected_rows():
    expected = {((), 1.0, "A", 1, 1), ((), 2.0, "B", 2, 2), ((), 3.0, "C", 3, 3)}
    rows = [((), 1.0, "A", 1, 1), ((), 1.0, "A", 1, 1), ((), 9.0, "Z", 9, 0)]
    assert ticks.sink_errors(rows, expected) == (2, 2)
    assert ticks.sink_errors(sorted(expected), expected) == (0, 0)


def test_tables_are_deterministic_per_seed():
    a = datagen.tables(0.001, 11)
    b = datagen.tables(0.001, 11)
    c = datagen.tables(0.001, 12)
    assert a.keys() == b.keys()
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["documents"].num_rows == 500

"""Seeded Finnhub-shaped trade ticks for the ingest workload.

One JSON message per line, in the wire format the replay source reads
(`{"c": [...], "p": price, "s": symbol, "t": epoch_ms, "v": volume}`):

* symbol popularity is Zipf over ``N_SYMBOLS`` symbols;
* ~``DUP_RATE`` of messages re-send an earlier message verbatim (drawn from
  the previous ``DUP_WINDOW`` messages, so any copy lands well inside the
  pipeline's 10-minute dedup watermark);
* ~``BAD_RATE`` are invalid: malformed JSON, a non-positive volume or no
  symbol, which the pipeline's validity gate must drop;
* event times advance ``STEP_MS`` per message with up to ``JITTER_MS`` of
  out-of-order jitter, all inside one trading day.

Prices are multiples of 1/64 so the JSON text, a double and the pipeline's
float32 column all hold the same value exactly.
"""

from __future__ import annotations

import json
from collections import Counter
from dataclasses import dataclass

import numpy as np

N_SYMBOLS = 60
ZIPF_S = 1.1
DUP_RATE = 0.05
BAD_RATE = 0.01
DUP_WINDOW = 200
STEP_MS = 40
JITTER_MS = 90_000
CONDITIONS = (("1",), ("1", "12"), ("12", "24"), ("1", "8", "12"))

#: Expected sink row: (conditions, price, symbol, epoch_ms, volume).
Key = tuple[tuple[str, ...], float, str, int, int]


@dataclass
class TickFiles:
    """Messages grouped into files, with the distinct valid keys a correct
    idempotent sink must hold after ingesting all of them."""

    files: list[list[str]]
    expected: set[Key]

    @property
    def n_messages(self) -> int:
        return sum(len(f) for f in self.files)


def trading_day_open_ms(seed: int) -> int:
    """09:30 New York (14:30 UTC) on a seed-chosen weekday of 2024."""
    day = np.datetime64("2024-01-01", "D") + int(np.random.default_rng(seed).integers(0, 360))
    while day.astype("datetime64[D]").astype(object).weekday() >= 5:
        day += 1
    return int(day.astype("datetime64[ms]").astype("int64")) + 14 * 3_600_000 + 30 * 60_000


def generate(seed: int, file_sizes: list[int], start_index: int = 0) -> TickFiles:
    """Messages for files of the given sizes. ``start_index`` offsets the
    event-time sequence so a second call continues the same day."""
    rng = np.random.default_rng([seed, start_index])
    n = sum(file_sizes)
    ranks = np.arange(1, N_SYMBOLS + 1)
    zipf = 1.0 / ranks**ZIPF_S
    symbols = rng.choice(N_SYMBOLS, n, p=zipf / zipf.sum())
    base_price = 20 + rng.integers(0, 400 * 64, N_SYMBOLS) / 64
    open_ms = trading_day_open_ms(seed)
    kinds = rng.random(n)
    lines: list[str] = []
    expected: set[Key] = set()
    for i in range(n):
        if kinds[i] < DUP_RATE and lines:
            lines.append(lines[max(0, len(lines) - 1 - int(rng.integers(0, DUP_WINDOW)))])
            continue
        sym = f"SYM{int(symbols[i]):02d}"
        price = float(base_price[symbols[i]] + int(rng.integers(-640, 641)) / 64)
        t = open_ms + (start_index + i) * STEP_MS + int(rng.integers(-JITTER_MS, JITTER_MS))
        vol = int(rng.integers(1, 1000))
        cond = CONDITIONS[int(rng.integers(0, len(CONDITIONS)))]
        msg = {"c": list(cond), "p": price, "s": sym, "t": t, "v": vol}
        bad = kinds[i] > 1 - BAD_RATE
        if bad:
            kind = int(rng.integers(0, 3))
            if kind == 0:
                lines.append(json.dumps(msg)[: int(rng.integers(5, 30))])
                continue
            if kind == 1:
                msg["v"] = -int(rng.integers(0, 5))
            else:
                del msg["s"]
        else:
            key = (cond, price, sym, t, vol)
            while key in expected:  # keep distinct messages distinct
                t += 1
                key = (cond, price, sym, t, vol)
            msg["t"] = t
            expected.add(key)
        lines.append(json.dumps(msg))
    files, pos = [], 0
    for size in file_sizes:
        files.append(lines[pos : pos + size])
        pos += size
    return TickFiles(files, expected)


def sink_errors(rows: list[Key], expected: set[Key]) -> tuple[int, int]:
    """``(missing, extra)``: expected messages absent from the sink rows,
    and rows that are unexpected (invalid or unknown) or repeat one already
    counted. Both are zero exactly when the sink holds each distinct valid
    message once."""
    got = Counter(rows)
    extra = sum(n if k not in expected else n - 1 for k, n in got.items())
    return len(expected - got.keys()), extra

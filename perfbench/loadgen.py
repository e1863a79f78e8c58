"""Open-loop tick producer, run as its own process.

Writes ``--files`` files of ``--size`` messages into ``--out``, file k due
``k * --interval`` seconds after the schedule starts (once every message is
generated), whether or not the pipeline keeps up. Each file is written
under ``--tmp`` and renamed into ``--out`` (same file system, so the stream
never sees a partial file); its due time, in epoch milliseconds, is stamped
into the name. Prints one JSON line: how late the renames ran against their
due times.

    python3 perfbench/loadgen.py --out DIR --tmp DIR --seed 1 --files 40 \
        --size 500 --start-index 40000 --interval 0.15
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import ticks  # noqa: E402


def file_name(k: int, due_ms: int) -> str:
    return f"live-{k:05d}-due{due_ms}.json"


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--out", required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--size", type=int, required=True)
    ap.add_argument("--start-index", type=int, default=0)
    ap.add_argument("--interval", type=float, required=True)
    args = ap.parse_args(argv)

    # generate everything before the first due time: the schedule must not
    # depend on how fast this process builds messages
    batch = ticks.generate(args.seed, [args.size] * args.files, args.start_index)
    payloads = ["\n".join(lines) + "\n" for lines in batch.files]
    os.makedirs(args.tmp, exist_ok=True)
    late_ms = []
    start = time.time() + 0.05
    for k, payload in enumerate(payloads):
        due = start + k * args.interval
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        name = file_name(k, round(due * 1000))
        tmp = os.path.join(args.tmp, name)
        with open(tmp, "w") as f:
            f.write(payload)
        os.rename(tmp, os.path.join(args.out, name))
        late_ms.append((time.time() - due) * 1000)
    print(json.dumps({"files": len(payloads), "late_ms_max": max(late_ms)}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""One run of one workload, in a fresh process (started by ``run.py``).

Set-up (session, inputs, lake ingest, warm-up) runs first; then a fixed
amount of measured work; then the correctness checks, outside every timed
region. The result is written as JSON to ``--out``.

    python3 perfbench/worker.py --workload interactive --seed 1 --seconds 6 \
        --trace 0 --root RUN_DIR --spawned EPOCH_S --out RESULT.json
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import subprocess
import sys
import time
from datetime import datetime

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import stats  # noqa: E402
import streamlog  # noqa: E402
import ticks  # noqa: E402
from tracing import JobAccounting  # noqa: E402

# interactive: scale, and warm/measured rounds of the 16 non-dedup headline
# queries plus DEDUP_OP. One round takes ~5 s warm on a 4-core box; the
# first (cold) ~21 s, the second ~6 s. With one warm-up round, runs on a
# host losing ~20% of its CPU time to other guests read 1.5-1.8x slower;
# with two, ~1.2x. At sf0.1 a run takes ~90 s against ~55 s at sf0.01,
# too long for 22 runs of each workload to fit in an hour.
SF = 0.01
WARM_ROUNDS = 2
SECONDS_PER_ROUND = 4
DEDUP_JOBS = {"near_dup_clusters", "minhash_near_dup", "simhash_near_dup", "ngram_jaccard_pairs"}
# The one dedup job in each round: MinHash pairs, then connected components.
# Its construction runs eager checkpoints through every entry point of
# execution.materialize* (materialize, materialize_counted, cached_subplan).
DEDUP_OP = "near_dup_clusters"

# ingest: backlog drained from "earliest", then an open-loop live feed of
# LIVE_SIZE-message files every LIVE_INTERVAL s. At 1333 msg/s the live
# batches stay bound by their fixed cost; at 3333 msg/s they already grew
# with load on a 4-core box, so host contention doubled their latency.
# --seconds sets the live file count. The warm-up stream drains a backlog,
# then WARM_LIVE_FILES files one batch at a time, so the live batches'
# anti-join against the sink is compiled before anything is measured.
BACKLOG = [10_000] * 4
LIVE_SIZE = 200
LIVE_INTERVAL = 0.15
WARM_BACKLOG = [10_000]
WARM_LIVE_FILES = 3


def log(run: "Run", msg: str) -> None:
    """Phase marks on stderr, in seconds since the worker was spawned."""
    print(f"perfbench {run.args.workload} +{time.time() - run.args.spawned:6.1f}s {msg}",
          file=sys.stderr, flush=True)


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.root = args.root
        self.layers: dict[str, float] = {}
        self.failures: list[str] = []
        self.spark = None
        self.acc: JobAccounting | None = None

    def session(self):
        from finance_data_ingestion_pipeline_with_kafka_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.root, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "20000",
                "spark.ui.retainedStages": "20000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layers["session.build_s"] = time.perf_counter() - t0
        self.acc = JobAccounting(self.spark)
        log(self, "session built")

    def env(self) -> dict:
        jvm = self.spark._jvm.System
        return {
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "spark": self.spark.version,
            "java": jvm.getProperty("java.version"),
        }

    def stop(self) -> None:
        """Stop the session and wait for its JVM to exit."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


# ---------------------------------------------------------------- interactive


def _op(run: Run, fn, sf_dir: str, group: str | None):
    """One query, forced with Arrow ``toPandas``. Traced ops also time
    Catalyst planning apart and run construct and force under their own
    job groups. Returns (pandas result, timings in ms)."""
    if group is None:
        t0 = time.perf_counter()
        pdf = fn(run.spark, sf_dir).toPandas()
        return pdf, {"ms": (time.perf_counter() - t0) * 1000}
    run.acc.set_group(group + ":construct")
    t0 = time.perf_counter()
    df = fn(run.spark, sf_dir)
    t1 = time.perf_counter()
    run.acc.set_group(group + ":force")
    df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    pdf = df.toPandas()
    t3 = time.perf_counter()
    run.acc.set_group(None)
    return pdf, {
        "ms": (t3 - t0) * 1000,
        "construct_ms": (t1 - t0) * 1000,
        "plan_ms": (t2 - t1) * 1000,
        "force_ms": (t3 - t2) * 1000,
    }


def interactive(run: Run) -> dict:
    import datagen
    import resultcheck

    os.environ["ENGINE_LAKE_CACHE"] = "1"
    sf_dir = os.path.join(run.root, "sf0.01")
    datagen.write_tables(sf_dir, SF, run.args.seed)
    log(run, "inputs written")
    run.session()
    from finance_data_ingestion_pipeline_with_kafka_spark.catalog import TABLES, load_table
    from finance_data_ingestion_pipeline_with_kafka_spark.registry import load_all

    catalog = load_all()
    names = sorted(n for n, s in catalog.items() if s.bench and n not in DEDUP_JOBS)
    if len(names) != 16:
        raise RuntimeError(f"expected 16 non-dedup headline queries, found {names}")
    names.append(DEDUP_OP)
    t0 = time.perf_counter()
    for table in TABLES:
        load_table(run.spark, sf_dir, table)
    run.layers["catalog.lake_ingest_s"] = time.perf_counter() - t0
    log(run, "lake ingest done")

    rng = random.Random(run.args.seed)
    for _ in range(WARM_ROUNDS):
        for name in rng.sample(names, len(names)):
            _op(run, catalog[name].fn, sf_dir, None)
        log(run, "warm-up round done")

    rounds = max(2, math.ceil(run.args.seconds / SECONDS_PER_ROUND))
    traced = bool(run.args.trace)
    if traced:
        # untraced and traced rounds in ABBA order, so a warm-up trend
        # cancels out of the overhead (their difference)
        rounds *= 2
    first_op = time.time()
    ops = []
    for r in range(rounds):
        trace_round = traced and r % 4 in (1, 2)
        for name in rng.sample(names, len(names)):
            group = f"perfbench:{r}:{name}" if trace_round else None
            pdf, t = _op(run, catalog[name].fn, sf_dir, group)
            op = {"name": name, "round": r, "traced": trace_round,
                  "digest": resultcheck.digest(pdf), **t}
            if group is not None:
                run.acc.drain()
                op["construct_jobs"] = len(run.acc.group_jobs(group + ":construct"))
                op["cost"] = run.acc.cost(
                    run.acc.group_jobs(group + ":construct") + run.acc.group_jobs(group + ":force")
                )
            ops.append(op)
        log(run, f"round {r}: {sum(op['ms'] for op in ops if op['round'] == r):.0f} ms")

    log(run, "measured phase done")
    oracle = resultcheck.oracle_digests(sf_dir, TABLES, {n: catalog[n].oracle for n in names})
    run.failures += wrong_ops(ops, oracle)

    plain = [op for op in ops if not op["traced"]]
    lat = [op["ms"] for op in plain]
    by_name: dict[str, list[float]] = {}
    for op in plain:
        by_name.setdefault(op["name"], []).append(op["ms"])
    norm = [op["ms"] / stats.median(by_name[op["name"]]) for op in plain]
    result = _latency_block(lat)
    result.update({
        "setup_s": first_op - run.args.spawned,
        "throughput_per_s": len(lat) / (sum(lat) / 1000),
        "attempted": len(ops),
        "failed": len(run.failures),
        "steadiness": dict(zip(("first_quarter", "last_quarter"), stats.quarters(norm))),
    })
    if traced:
        run.layers.update(_interactive_layers(run, ops))
    return result


def wrong_ops(ops: list[dict], oracle: dict[str, str]) -> list[str]:
    """One failure per op whose result digest differs from its oracle's."""
    return [
        f"{op['name']} round {op['round']}: result differs from its oracle"
        for op in ops
        if op["digest"] != oracle[op["name"]]
    ]


def _interactive_layers(run: Run, ops: list[dict]) -> dict:
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    tr = [op for op in ops if op["traced"]]
    dedup = [op for op in tr if op["name"] == DEDUP_OP]
    med = stats.median
    overhead = [
        med([op["ms"] for op in tr if op["name"] == name])
        - med([op["ms"] for op in ops if op["name"] == name and not op["traced"]])
        for name in {op["name"] for op in tr}
    ]
    return {
        "registry.construct_ms_p50": med([op["construct_ms"] for op in tr]),
        "registry.construct_jobs": sum(op["construct_jobs"] for op in tr) / len(tr),
        "dedup.construct_ms_p50": med([op["construct_ms"] for op in dedup]),
        "spark.plan_ms_p50": med([op["plan_ms"] for op in tr]),
        "spark.force_ms_p50": med([op["force_ms"] for op in tr]),
        "spark.jobs_per_op": sum(op["cost"]["jobs"] for op in tr) / len(tr),
        "spark.stages_per_op": sum(op["cost"]["stages"] for op in tr) / len(tr),
        "spark.tasks_per_op": sum(op["cost"]["tasks"] for op in tr) / len(tr),
        "spark.shuffle_bytes_per_op": sum(op["cost"]["shuffle_bytes"] for op in tr) / len(tr),
        "spark.busy_ratio": sum(op["cost"]["run_ms"] for op in tr)
        / (sum(op["ms"] for op in tr) * cores),
        "spark.failed_tasks": sum(op["cost"]["failed_tasks"] for op in tr),
        "trace.overhead_ms": med(overhead),
    }


def _latency_block(lat: list[float]) -> dict:
    value, pct, beyond = stats.tail(lat)
    return {
        "latency_ms_p50": stats.median(lat),
        "latency_ms_tail": value,
        "tail_percentile": pct,
        "tail_beyond": beyond,
        "latency_samples": len(lat),
    }


# --------------------------------------------------------------------- ingest


def _write_files(directory: str, prefix: str, files: list[list[str]]) -> None:
    os.makedirs(directory, exist_ok=True)
    for k, lines in enumerate(files):
        with open(os.path.join(directory, f"{prefix}-{k:05d}.json"), "w") as f:
            f.write("\n".join(lines) + "\n")


def _stream(
    run: Run, tag: str, seed: int, backlog: list[int], n_live: int, open_loop: bool = True
) -> dict:
    """Drain a pre-written backlog from "earliest", then stay live for
    ``n_live`` more files: fed by the open-loop generator process, or (for
    warm-up) written one per batch. Returns what the measurement needs; the
    query is stopped on return."""
    from finance_data_ingestion_pipeline_with_kafka_spark.sources.replay import (
        kafka_shaped_file_stream,
    )
    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.pipeline import (
        finnhub_pipeline,
    )
    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.sinks import (
        start_idempotent_parquet_sink,
    )

    base = os.path.join(run.root, tag)
    src, ckpt, sink = (os.path.join(base, d) for d in ("src", "ckpt", "sink"))
    backlog_ticks = ticks.generate(seed, backlog)
    _write_files(src, "backlog", backlog_ticks.files)
    live_ticks = ticks.generate(seed, [LIVE_SIZE] * n_live, start_index=sum(backlog))

    start = time.time()
    trades = finnhub_pipeline(kafka_shaped_file_stream(run.spark, src))
    query = start_idempotent_parquet_sink(trades, sink, ckpt, available_now=False)
    loadgen = None
    try:
        query.processAllAvailable()
        if not open_loop:
            for k, lines in enumerate(live_ticks.files):
                _write_files(src, f"live-{k:05d}", [lines])
                query.processAllAvailable()
        elif n_live:
            gen = subprocess.run(
                [sys.executable, os.path.join(HERE, "loadgen.py"),
                 "--out", src, "--tmp", os.path.join(base, "staging"),
                 "--seed", str(seed), "--files", str(n_live), "--size", str(LIVE_SIZE),
                 "--start-index", str(sum(backlog)), "--interval", str(LIVE_INTERVAL)],
                capture_output=True, text=True, timeout=n_live * LIVE_INTERVAL + 60,
                check=True,
            )
            loadgen = json.loads(gen.stdout.strip().splitlines()[-1])
            query.processAllAvailable()
    finally:
        query.stop()
    return {
        "start": start, "query": query, "ckpt": ckpt, "sink": sink,
        "backlog": backlog_ticks, "live": live_ticks, "loadgen": loadgen,
    }


def _sink_check(run: Run, sink: str, expected: set) -> tuple[int, int]:
    """(rows in the sink, wrong rows) — see ``ticks.sink_errors``."""
    from pyspark.sql import functions as F

    pdf = (
        run.spark.read.parquet(sink)
        .select("trade_conditions", "last_price", "symbol",
                F.unix_millis("datetime").alias("t"), "volume")
        .toPandas()
    )
    missing, extra = ticks.sink_errors(
        [(tuple(c), float(p), s, int(t), int(v)) for c, p, s, t, v in pdf.itertuples(index=False)],
        expected,
    )
    if extra or missing:
        run.failures.append(f"sink: {missing} expected rows missing, {extra} unexpected rows")
    return len(pdf), extra + missing


def ingest(run: Run) -> dict:
    run.session()
    seed = run.args.seed
    n_live = max(20, round(run.args.seconds / LIVE_INTERVAL))
    _stream(run, "warm", seed + 1_000_003, WARM_BACKLOG, WARM_LIVE_FILES, open_loop=False)
    log(run, "warm-up stream done")

    first_op = time.time()
    s = _stream(run, "measured", seed, BACKLOG, n_live)
    batches = streamlog.file_batches(s["ckpt"])
    commits = streamlog.commit_times(s["ckpt"])
    catchup_batch = max(batches[f"backlog-{k:05d}.json"] for k in range(len(BACKLOG)))
    catchup_s = commits[catchup_batch] - s["start"]
    latency = streamlog.file_latencies_ms(s["ckpt"])
    live = [latency[n] for n in sorted(latency)]
    if len(live) != n_live:
        raise RuntimeError(f"{len(live)} of {n_live} live files reached a committed batch")

    log(run, "measured stream done")
    expected = s["backlog"].expected | s["live"].expected
    rows, wrong = _sink_check(run, s["sink"], expected)
    n_msgs = s["backlog"].n_messages + s["live"].n_messages
    result = _latency_block(live)
    result.update({
        "setup_s": first_op - run.args.spawned,
        "throughput_per_s": s["backlog"].n_messages / catchup_s,
        "attempted": n_msgs,
        "failed": wrong,
        "steadiness": dict(zip(("first_quarter", "last_quarter"), stats.quarters(live))),
    })
    if run.args.trace:
        run.layers.update(_ingest_layers(run, s, catchup_batch, rows))
    return result


def _ingest_layers(run: Run, s: dict, catchup_batch: int, rows: int) -> dict:
    import pyarrow.parquet as pq

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    med = stats.median
    query = s["query"]
    progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
    dur = [p["durationMs"] for p in progress]
    live = [p for p in progress if p["batchId"] > catchup_batch]
    run.acc.drain()
    jobs = run.acc.batch_jobs(str(query.runId))
    costs = {b: run.acc.cost(ids) for b, ids in jobs.items()}
    live_costs = [costs[p["batchId"]] for p in live if p["batchId"] in costs]
    all_costs = list(costs.values())
    wall_ms = sum(d["triggerExecution"] for d in dur)

    files = []
    for root, _dirs, names in os.walk(s["sink"]):
        for name in names:
            if name.endswith(".parquet"):
                path = os.path.join(root, name)
                files.append((os.stat(path).st_mtime, os.path.getsize(path),
                              pq.read_metadata(path).num_rows))

    def started(p) -> float:
        return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()

    history = [sum(n for mtime, _b, n in files if mtime < started(p)) for p in live]
    state = progress[-1]["stateOperators"][0]
    return {
        "spark.jobs_per_op": med([c["jobs"] for c in all_costs]),
        "spark.stages_per_op": med([c["stages"] for c in all_costs]),
        "spark.tasks_per_op": med([c["tasks"] for c in all_costs]),
        "spark.shuffle_bytes_per_op": med([c["shuffle_bytes"] for c in all_costs]),
        "spark.busy_ratio": sum(c["run_ms"] for c in all_costs) / (wall_ms * cores),
        "spark.failed_tasks": sum(c["failed_tasks"] for c in all_costs),
        "replay.latest_offset_ms_p50": med([d.get("latestOffset", 0) for d in dur]),
        "stream.planning_ms_p50": med([d.get("queryPlanning", 0) for d in dur]),
        "stream.add_batch_ms_p50": med([d.get("addBatch", 0) for d in dur]),
        "stream.commit_ms_p50": med([d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur]),
        "stream.rows_per_batch_p50": med([p["numInputRows"] for p in progress]),
        "sinks.jobs_per_batch": med([c["jobs"] for c in live_costs]),
        "sinks.history_rows": med(history),
        "sinks.files_per_batch": len(files) / len(progress),
        "sinks.bytes_per_row": sum(b for _m, b, _n in files) / rows,
        "dedup_state.rows": state["numRowsTotal"],
        "dedup_state.bytes": state["memoryUsedBytes"],
        "pipeline.useful_ratio": rows / sum(p["numInputRows"] for p in progress),
        "loadgen.late_ms_max": s["loadgen"]["late_ms_max"],
        # everything above is read after the stream stopped; while it runs
        # a traced ingest does exactly what an untraced one does
        "trace.overhead_ms": 0.0,
    }


# ----------------------------------------------------------------------- main

WORKLOADS = {"ingest": ingest, "interactive": interactive}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--spawned", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    run = Run(args)
    try:
        result = WORKLOADS[args.workload](run)
        result["env"] = run.env()
    finally:
        if run.spark is not None:
            run.stop()
    log(run, "stopped")
    result["layers"] = run.layers
    result["failures"] = run.failures
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

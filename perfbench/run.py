"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

runs one workload in a fresh worker process and prints a readable report,
then, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. ``--seconds``
sizes the measured phase (rounds or live files), so two commits always do
the same work. Exit code 1 if any output was wrong.

Other modes:

* ``--workload all`` runs every workload once, one after the other;
* ``--repeat N`` runs each selected workload N times (seeds seed..seed+N-1)
  and prints each metric's median and interquartile spread against its bound.

Each run gets a fresh directory under ``.perfbench_tmp/`` in the checkout for
the generated inputs, lake cache, Spark local dirs, warehouse, checkpoints
and sinks; it is deleted afterwards, and every process the run started has
ended before the report is printed.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spec  # noqa: E402
import stats  # noqa: E402

WORKER_TIMEOUT_S = 170
#: Share of all CPU time the hypervisor gave to other guests during a run
#: above which the report flags the run: on a 4-vCPU VM, runs under 8-24%
#: steal read 1.2-1.8x slower than runs under 1%.
HIGH_STEAL = 0.05
PR_SET_CHILD_SUBREAPER = 36
#: Engine settings a run must not inherit from the caller's shell.
UNSET_ENV = (
    "SPARK_MASTER", "ENGINE_SHUFFLE_PARTITIONS", "ENGINE_SCAN_REPLICATE",
    "ENGINE_RELIABLE_CHECKPOINT", "ENGINE_LAKE_CACHE", "SPARK_GRAFT_SF_DIR",
)


def _loadavg() -> str:
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: time the hypervisor gave to
    other guests, which slows a run without any change to the program."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def _cpu_probe_ms() -> float:
    """Time of a fixed single-threaded hashing task. Other guests on the
    same physical cores can slow a run by 30% while /proc/stat shows no
    steal; this probe, taken before and after each run, shows it."""
    buf = b"x" * (1 << 20)
    t0 = time.perf_counter()
    for _ in range(100):
        hashlib.sha256(buf).digest()
    return (time.perf_counter() - t0) * 1000


def _reap_group(pgid: int, deadline: float) -> None:
    """Stop every process left in the worker's process group and reap them
    (this process is their subreaper, so orphans come back to it)."""
    sig = signal.SIGTERM
    while True:
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            pass
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return  # no child left at all
            if pid == 0:
                break
        if time.time() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.1)


def _terminate(signum, _frame) -> None:
    """Exit through ``run_once``'s cleanup, which stops the worker's
    processes; a repeated signal must not interrupt that cleanup."""
    signal.signal(signum, signal.SIG_IGN)
    sys.exit(128 + signum)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One worker process for one workload; returns its result."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    base = os.path.join(REPO, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{workload}-", dir=base)
    for d in ("local", "tmp", "lake"):
        os.makedirs(os.path.join(root, d))
    cpus = len(os.sched_getaffinity(0))
    env = {k: v for k, v in os.environ.items() if k not in UNSET_ENV}
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(root, "local"),
        "ENGINE_LAKE_DIR": os.path.join(root, "lake"),
        "TMPDIR": os.path.join(root, "tmp"),
        # every JVM of the run (spark-submit's launcher too) keeps its temp
        # files in the run dir, and writes no perf-data file to /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(root, 'tmp')}",
        "ENGINE_DRIVER_MEMORY": "2g",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    out = os.path.join(root, "result.json")
    load_before = _loadavg()
    probe_before = _cpu_probe_ms()
    steal0, total0 = _cpu_ticks()
    spawned = time.time()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
         "--root", root, "--spawned", repr(spawned), "--out", out],
        env=env, cwd=root, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True,
    )
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _reap_group(proc.pid, time.time() + 20)
        result = None
        if code == 0 and os.path.exists(out):
            with open(out) as f:
                result = json.load(f)
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run's directory is still there
    if result is None:
        reason = "timed out" if code is None else f"exited with code {code}"
        raise RuntimeError(f"{workload} worker {reason}")
    steal1, total1 = _cpu_ticks()
    result["env"].update({
        "loadavg_before": load_before,
        "loadavg_after": _loadavg(),
        "steal": (steal1 - steal0) / max(1, total1 - total0),
        "cpu_probe_ms": (probe_before + _cpu_probe_ms()) / 2,
    })
    result["wall_s"] = time.time() - spawned
    return result


def metrics_of(result: dict, trace: int) -> dict:
    if trace:
        values = {m["name"]: result["layers"].get(m["name"], 0.0) for m in spec.PER_LAYER}
    else:
        values = {m["name"]: result[m["name"]] for m in spec.END_TO_END}
    return {n: {"value": v, "unit": spec.UNITS[n]} for n, v in values.items()}


def _steal(result: dict) -> str:
    steal = result["env"]["steal"]
    return (f"steal={steal:.3f}" + (" (HIGH STEAL: slower host)" if steal > HIGH_STEAL else "")
            + f" cpu_probe={result['env']['cpu_probe_ms']:.1f}ms")


def report(workload: str, result: dict, trace: int) -> None:
    env = result["env"]
    print(f"== {workload}: cpus={env['cpus']} spark={env['spark']} java={env['java']} "
          f"loadavg {env['loadavg_before']} -> {env['loadavg_after']} {_steal(result)} "
          f"wall={result['wall_s']:.1f}s")
    for m in spec.END_TO_END:
        print(f"  {m['name']:<28} {result[m['name']]:>14.4f} {m['unit']}")
    print(f"  {'tail percentile':<28} {'p' + str(result['tail_percentile']):>14} "
          f"({result['tail_beyond']} of {result['latency_samples']} samples beyond)")
    fail_ratio = result["failed"] / result["attempted"]
    print(f"  {'fail_ratio':<28} {fail_ratio:>14.4f} ({result['failed']} of {result['attempted']})")
    s = result["steadiness"]
    print(f"  {'steadiness (1st/last qtr)':<28} {s['first_quarter']:>14.4f} / {s['last_quarter']:.4f}")
    if trace:
        for m in spec.PER_LAYER:
            v = result["layers"].get(m["name"])
            shown = "n/a" if v is None else f"{v:.4f}"
            moves, on = spec.MOVES[m["name"]]
            print(f"  {m['name']:<28} {shown:>14} {m['unit']:<6} moves {moves} on {on}")
    for failure in result["failures"]:
        print(f"  FAILED: {failure}")


def summary_line(results: dict[str, dict], trace: int) -> dict:
    failed = sum(r["failed"] for r in results.values())
    metrics = {}
    for wl, r in results.items():
        for n, m in metrics_of(r, trace).items():
            metrics[n if len(results) == 1 else f"{wl}.{n}"] = m
    return {
        "correct": failed == 0 and not any(r["failures"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": failed,
        "metrics": metrics,
    }


def repeat(workloads: list[str], seed: int, seconds: int, n: int) -> dict:
    """Steadiness evidence: n runs per workload, median and spread of each
    end-to-end metric against its bound (a third of the bound is the aim)."""
    out = {}
    for wl in workloads:
        runs = [run_once(wl, seed + i, seconds, 0) for i in range(n)]
        for i, r in enumerate(runs):
            print(f"  {wl} seed {seed + i}: " + " ".join(
                f"{m['name']}={r[m['name']]:.4f}" for m in spec.END_TO_END)
                + f" failed={r['failed']} wall={r['wall_s']:.1f}s {_steal(r)}")
        for m in spec.END_TO_END:
            name, bound = m["name"], m["bound"]
            med, q1, q3, sp = stats.spread([r[name] for r in runs])
            verdict = "ok" if sp < bound / 3 else ("within bound" if sp <= bound else "TOO NOISY")
            print(f"  {wl:<12} {name:<20} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                  f"spread {sp:.4f}  bound {bound}  {verdict}")
            out[f"{wl}.{name}"] = {"median": med, "spread": sp, "bound": bound}
        out[f"{wl}.failed"] = sum(r["failed"] for r in runs)
        out[f"{wl}.high_steal_runs"] = sum(r["env"]["steal"] > HIGH_STEAL for r in runs)
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(spec.WORKLOADS) + ["all"], required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0, help="steadiness mode: runs per workload")
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)

    if not os.path.isfile(os.path.join(
        REPO, "finance_data_ingestion_pipeline_with_kafka_spark", "__init__.py"
    )):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    workloads = sorted(spec.WORKLOADS) if args.workload == "all" else [args.workload]
    if args.repeat:
        summary = repeat(workloads, args.seed, args.seconds, args.repeat)
        print(json.dumps(summary))
        return 0 if all(v == 0 for k, v in summary.items() if k.endswith(".failed")) else 1
    results = {}
    for wl in workloads:
        results[wl] = run_once(wl, args.seed, args.seconds, args.trace)
        report(wl, results[wl], args.trace)
    line = summary_line(results, args.trace)
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

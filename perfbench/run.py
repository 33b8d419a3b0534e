"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Builds the workload's inputs from the
seed, starts a Spark session through the engine's own session factory,
sets up (see perfbench/README.md for what ``setup_s`` covers), measures for
``--seconds`` (at least one operation),
checks the engine's outputs, and prints one JSON object as the last line of
standard output. ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json; ``--trace 1`` records spans and the Spark stage ledger and
reports the per-layer metrics instead (and writes the spans to
perfbench/out/).

Everything the run writes (stores, checkpoints, Spark's local and warehouse
directories, the events-normalization cache, temp files) goes under one
fresh directory under perfbench/out/tmp/, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from procfs import PeakRss, children  # noqa: E402


#: the Spark JVM's heap, fixed (initial = maximum, touched at start) so that
#: peak_rss_mb moves with off-heap, Python and worker memory rather than
#: with when G1 decides to grow the heap. The engine's own default is 8g;
#: the benchmark's inputs fit in 2g, and heap use shows in jvm.heap_peak_mb.
HEAP = "2g"


def _isolate(run_dir: str, nproc: int) -> None:
    """Points every writer at `run_dir`, before Spark or the engine load."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "jtmp", "local", "warehouse", "cache")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_CACHE_DIR": dirs["cache"],
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_LOCAL_DIRS": dirs["local"],
        # no JVM, the launcher's included, writes hsperfdata under /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "TMPDIR": dirs["tmp"],
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--driver-java-options", shlex.quote(
                f"-Djava.io.tmpdir={dirs['jtmp']} -Xms{HEAP} -XX:+AlwaysPreTouch "
                # a fixed set of JIT compiler threads: one that exits takes
                # its CPU time out of procfs's JIT count (see cpu_between)
                "-XX:-UseDynamicNumberOfCompilerThreads -XX:-UsePerfData"),
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={dirs['warehouse']}"),
            "pyspark-shell",
        ]),
    })
    time.tzset()
    tempfile.tempdir = dirs["tmp"]
    os.chdir(run_dir)


def _stop_spark(spark) -> None:
    """Stops the session, then the gateway JVM and its Python workers, and
    waits for each to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    leftover = _descendants(proc.pid) if proc else []
    try:
        spark.stop()
        gw.shutdown()
    except Exception as exc:  # noqa: BLE001 — a broken gateway must not keep the JVM alive
        print(f"perfbench: stopping the session failed: {exc}", file=sys.stderr)
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in leftover:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _heap_pools(spark) -> list:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        for c in children(todo.pop()):
            out.append(c)
            todo.append(c)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        ap.error(f"--workload must be one of {names}")
    metrics = bench["per_layer"] if args.trace else bench["end_to_end"]

    nproc = len(os.sched_getaffinity(0))
    tmp_root = os.path.join(HERE, "out", "tmp")
    os.makedirs(tmp_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    cwd = os.getcwd()
    spark = None
    try:
        _isolate(run_dir, nproc)
        # the program under test: absent from a checkout that holds only the
        # benchmark, which then fails here, before printing any result
        from scraper_db_refine_merge_spark.session import get_spark

        import gen
        from spans import Tracer
        from workloads import WORKLOADS, Run

        with PeakRss() as rss:
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            session_s = time.perf_counter() - t0
            run = Run(spark, Tracer(spark, f"{args.workload}-{args.seed}", bool(args.trace)),
                      args.seed, args.seconds, gen.load_spec(), nproc)
            work = WORKLOADS[args.workload](run)
            # set-up: input generation, repeated (median); then the store
            # build and warm-up, once
            reps = run.spec[args.workload]["setup_repeats"]
            prep_s = []
            for r in range(reps):
                rep_dir = os.path.join(run_dir, f"rep{r}")
                t0 = time.perf_counter()
                state = work.prepare(rep_dir)
                prep_s.append(time.perf_counter() - t0)
                if r < reps - 1:
                    shutil.rmtree(rep_dir)
            t0 = time.perf_counter()
            work.warm(state)
            warm_s = time.perf_counter() - t0
            pools = _heap_pools(spark)
            for p in pools:
                p.resetPeakUsage()
            t0 = time.perf_counter()
            work.measure(state)
            measure_s = time.perf_counter() - t0
            # the sum of each pool's peak (an upper bound of the heap in use,
            # near the heap's size while the young generation fills), and the
            # old generation's peak: what outlived young collections
            peaks = {p.getName(): p.getPeakUsage().getUsed() / 2**20 for p in pools}
            run.layer["jvm.heap_peak_mb"] = sum(peaks.values())
            run.layer["jvm.old_gen_peak_mb"] = sum(v for k, v in peaks.items() if "Old" in k)
        t0 = time.perf_counter()
        work.check(state)
        print(f"perfbench {args.workload}: session {session_s:.1f}s, prepare "
              f"{', '.join(f'{x:.1f}' for x in prep_s)}s, warm-up {warm_s:.1f}s, measured "
              f"{run.loop_s:.1f}s (cpu {', '.join(f'{x:.1f}' for x in run.op_cpus)}s), traced "
              f"probes {measure_s - run.loop_s:.1f}s, check "
              f"{time.perf_counter() - t0:.1f}s", file=sys.stderr)
        run.e2e["setup_s"] = session_s + statistics.median(prep_s) + warm_s
        run.e2e["peak_rss_mb"] = rss.peak_mb
        run.layer["session.start_s"] = session_s
        run.layer["trace.self_ms"] = run.tracer.self_s * 1000.0
        got = run.layer if args.trace else run.e2e
        if args.trace:
            out_dir = os.path.join(HERE, "out")
            os.makedirs(out_dir, exist_ok=True)
            run.tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-s{args.seed}.jsonl"))
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            os.chdir(cwd)
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(tmp_root)
            except OSError:
                pass  # another run's directory is still there

    unknown = set(got) - {m["name"] for m in bench["per_layer"] + bench["end_to_end"]}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in metrics},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

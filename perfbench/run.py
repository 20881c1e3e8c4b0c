"""Seeded benchmark of the Rosetta spine: one workload per run.

    python3 perfbench/run.py --workload enrich_backfill --seed 1 --seconds 15 --trace 0

Run from the repository root. The run generates its inputs from the seed,
starts a Spark session through ``session.get_spark``, warms up, runs the
workload's operations back to back for ``--seconds``, checks every final
result against the registry's DuckDB oracle, and prints as its last line one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of ``spec.END_TO_END``;
with ``--trace 1`` they are the per-layer metrics of ``spec.PER_LAYER``, from
traced operations (spans, a streaming listener and the Spark event log) that
alternate with untraced ones in one session. The line before it holds the
host, the generator parameters and the input statistics.

Everything the run writes lives under ``.perfbench_tmp/`` in the working
directory and is removed at exit; the trace run's spans go to
``.perfbench_out/``. ``--write-spec`` rewrites ``BENCHMARK.json`` from
``spec.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import replace
from pathlib import Path
from statistics import median, quantiles

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "kafka_streams_rosetta_demo_spark"
# an operation that runs longer than this is stopped and counted as failed
OP_TIMEOUT_S = 90


def _host_memory_bytes() -> int:
    with open("/proc/meminfo", encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_host(tmp: Path) -> dict:
    """Size Spark from this host and keep its files under ``tmp``; must run
    before the package is imported (it reads ``SPARK_GRAFT_CPUS`` then)."""
    cpus = len(os.sched_getaffinity(0))
    mem = _host_memory_bytes()
    # a sixth of the host for the driver heap, between 1 and 4 GiB
    heap_gb = max(1, min(4, mem // (6 << 30)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # every JVM, the launcher's too: no hsperfdata file, temp files under tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return {"nproc": cpus, "mem_gb": round(mem / (1 << 30), 1), "driver_heap_gb": heap_gb}


def spark_conf(tmp: Path, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # a heap of fixed size: G1 otherwise grows the heap by run-time
        # heuristics, and the peak resident memory swings by a fifth from run
        # to run with them
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
    }
    if event_log:
        (tmp / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{tmp / 'eventlog'}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def cpu_times() -> list[int]:
    """The host's aggregate CPU jiffies (user, nice, system, idle, ..., steal)."""
    with open("/proc/stat", encoding="utf-8") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


class PeakRss:
    """Peak resident memory of this process plus its JVM child, from the
    kernel's high-water marks, which :meth:`reset` clears."""

    def __init__(self, pids: list[int]) -> None:
        self.pids = pids

    def reset(self) -> None:
        for pid in self.pids:
            with open(f"/proc/{pid}/clear_refs", "w", encoding="utf-8") as fh:
                fh.write("5")

    def read_mb(self) -> list[float]:
        """Each process's peak since the last reset, in MiB."""
        peaks = []
        for pid in self.pids:
            with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peaks.append(int(line.split()[1]) / 1024)
        return peaks


class Watchdog:
    """Stops the running stream and cancels Spark jobs of an operation that
    overruns; the operation then fails or returns early and counts as failed."""

    def __init__(self, spark, seconds: float) -> None:
        self.fired = False
        self._timer = threading.Timer(seconds, self._fire, args=(spark,))
        self._timer.daemon = True

    def _fire(self, spark) -> None:
        self.fired = True
        for q in spark.streams.active:
            q.stop()
        spark.sparkContext.cancelAllJobs()

    def __enter__(self):
        self._timer.start()
        return self

    def __exit__(self, *exc) -> None:
        self._timer.cancel()
        self._timer.join()


def measure(wl, seconds: float, tracers: list) -> tuple[list[list], int]:
    """Run rounds of operations back to back, one per tracer, while the next
    round is expected to end within ``seconds``; stop at the first failure.
    Every other round runs the tracers in reverse order, so that drift over
    the run (the JIT warming, the host's load) favours none of them. Returns
    each tracer's operations and the number that failed."""
    ops: list[list] = [[] for _ in tracers]
    rounds: list[float] = []
    start = time.perf_counter()
    while True:
        order = range(len(tracers)) if len(rounds) % 2 == 0 else reversed(range(len(tracers)))
        t0 = time.perf_counter()
        for i in order:
            try:
                with Watchdog(wl.spark, OP_TIMEOUT_S) as dog:
                    op = wl.op(tracers[i])
                if dog.fired:
                    raise TimeoutError(f"operation exceeded {OP_TIMEOUT_S}s")
            except Exception:
                traceback.print_exc()
                return ops, 1
            ops[i].append(op)
        rounds.append(time.perf_counter() - t0)
        if time.perf_counter() - start + median(rounds) > seconds:
            return ops, 0


def check(wl, ops: list, oracle) -> tuple[int, list[int]]:
    """Failed operations among ``ops`` and each checked result's row count.
    A drain is checked on its own; the batch plan is checked once, and a
    wrong answer fails all its repetitions."""
    failed, rows = 0, []
    for op in ops if wl.check_each else ops[:1]:
        try:
            table = wl.result(op)
            bad = oracle.mismatches(table)
            rows.append(table.num_rows)
        except Exception:
            traceback.print_exc()
            bad = 1
            rows.append(0)
        if bad:
            print(f"oracle mismatch: {bad} rows differ", file=sys.stderr)
            failed += 1 if wl.check_each else len(ops)
    return failed, rows


def end_to_end(ops: list, events: int, setup_s: float, peak_mb: float) -> dict:
    return {
        "setup_s": setup_s,
        "result_s": float(median(op.wall_s for op in ops)),
        "events_per_s": events * len(ops) / sum(op.wall_s for op in ops),
        "batch_p50_ms": float(median(c for op in ops for c in op.batch_ms)),
        "peak_rss_mb": peak_mb,
    }


def batch_p90_ms(ops: list) -> float:
    cycles = [c for op in ops for c in op.batch_ms]
    return quantiles(cycles, n=10)[8] if len(cycles) > 1 else cycles[0]


class Session:
    """The Spark session and the JVM behind it, which :meth:`close` ends."""

    def __init__(self, tmp: Path) -> None:
        self.tmp, self.spark = tmp, None

    def start(self, event_log: bool = False):
        from kafka_streams_rosetta_demo_spark.session import get_spark

        self.spark = get_spark("perfbench", extra_conf=spark_conf(self.tmp, event_log))
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def run(args, tmp: Path) -> int:
    host = pin_host(tmp)
    from .gen import generate
    from .spec import EXTRA_WORKLOADS, WORKLOADS

    spec = {**WORKLOADS, **EXTRA_WORKLOADS}[args.workload]
    params = spec["params"]
    data_dir, warm_dir = str(tmp / "data"), str(tmp / "warm")
    inputs = generate(data_dir, params, args.seed)

    import pyspark

    from kafka_streams_rosetta_demo_spark.queries import oracle_sql

    from .oracle import Oracle
    from .trace import NullTracer, Tracer, read_event_log
    from .workloads import KINDS

    kind = KINDS[args.workload]
    if kind.warm_files:
        # a short backlog of the workload's own shape, the same for every seed
        generate(warm_dir, replace(params, files=kind.warm_files), 0)

    session = Session(tmp)
    oracle = None
    try:
        t0 = time.perf_counter()
        spark = session.start(event_log=bool(args.trace))
        get_spark_s = time.perf_counter() - t0
        wl = kind(spark, data_dir, str(tmp), warm_dir)
        t1 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t1
        host.update({
            "spark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        })
        rss = PeakRss([os.getpid(), session.jvm_pid()])

        if not args.trace:
            rss.reset()
            cpu0 = cpu_times()
            (ops,), failed = measure(wl, args.seconds, [NullTracer()])
            peaks_mb = rss.read_mb()
            # CPU time the hypervisor gave to others while we measured
            used = [b - a for a, b in zip(cpu0, cpu_times())]
            host["steal_share"] = round(used[7] / max(sum(used), 1), 4)
            traced_ops = []
        else:
            # traced and untraced operations alternate in one session, so the
            # difference between them is the spans' and listener's cost
            tracer = Tracer(run_id=f"{args.workload}-seed{args.seed}-{os.getpid()}")
            # one more operation first, so that the first round starts warm:
            # the first operation after the warm-up still runs slower
            wl.op(NullTracer())
            (traced_ops, ops), failed = measure(wl, args.seconds, [tracer, NullTracer()])

        oracle = Oracle(data_dir, oracle_sql()[wl.oracle_query])
        bad, _ = check(wl, ops, oracle)
        bad_traced, traced_rows = check(wl, traced_ops, oracle) if traced_ops else (0, [])
        attempted = len(ops) + len(traced_ops) + failed
        failed += bad + bad_traced

        info = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "host": host, "params": params.to_dict(), "inputs": inputs,
            "ops": len(ops), "op_walls": [round(op.wall_s, 3) for op in ops],
            "batch_samples": sum(len(op.batch_ms) for op in ops),
            "batch_p90_ms": batch_p90_ms(ops) if ops else None,
            "batch_ms": [round(c) for op in ops for c in op.batch_ms],
            "nodata_batches": sum(op.nodata_batches for op in ops),
            "oracle_rows": oracle.rows(), "failed_frac": failed / attempted,
        }
        if args.trace and not failed:
            from .layers import layer_metrics

            session.spark.stop()  # completes the event log
            log = read_event_log(str(tmp / "eventlog"))
            setup = {"session.get_spark_s": get_spark_s, "session.warmup_s": warmup_s}
            if not wl.check_each:
                traced_rows = traced_rows * len(traced_ops)
            metrics = layer_metrics(tracer, traced_ops, ops, log, traced_rows, setup)
            out = ROOT / ".perfbench_out"
            out.mkdir(exist_ok=True)
            span_file = out / f"spans-{args.workload}-seed{args.seed}.json"
            tracer.dump(str(span_file))
            info["spans"] = str(span_file.relative_to(ROOT))
            info["traced_op_walls"] = [round(op.wall_s, 3) for op in traced_ops]
        elif args.trace:
            metrics = {}
        else:
            metrics = end_to_end(ops, inputs["events"], get_spark_s + warmup_s, sum(peaks_mb))
            info["peak_rss_mb"] = {"python": peaks_mb[0], "jvm": peaks_mb[1]}
    finally:
        if oracle is not None:
            oracle.close()
        session.close()

    from .spec import END_TO_END, PER_LAYER

    units = {n: v[0] for n, v in (PER_LAYER if args.trace else END_TO_END).items()}
    print(json.dumps(info))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items() if n in metrics},
    }))
    return 0 if failed == 0 else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="measuring time (default: spec.RUN_SECONDS)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-spec", action="store_true", help="rewrite BENCHMARK.json")
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"{PACKAGE} not found under {ROOT}: run from a repository checkout", file=sys.stderr)
        return 2
    from .spec import EXTRA_WORKLOADS, RUN_SECONDS, WORKLOADS, benchmark_json

    if args.write_spec:
        (ROOT / "BENCHMARK.json").write_text(json.dumps(benchmark_json(), indent=2) + "\n")
        return 0
    if args.seconds is None:
        args.seconds = RUN_SECONDS
    names = [*WORKLOADS, *EXTRA_WORKLOADS]
    if args.workload not in names:
        ap.error(f"--workload must be one of {', '.join(names)}")

    tmp = ROOT / ".perfbench_tmp" / f"{args.workload}-{os.getpid()}"
    tmp.mkdir(parents=True)
    try:
        return run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            tmp.parent.rmdir()
        except OSError:
            pass  # another run's directory is still there


if __name__ == "__main__":
    # run as a script: import this file as part of its package
    sys.path.insert(0, str(ROOT))
    from perfbench.run import main as package_main

    sys.exit(package_main())

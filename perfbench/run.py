"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_refresh --seed 1 --seconds 5 --trace 0

Run from the repository root. The run starts a fresh SparkSession on
``local[<cores>]``, runs one warm-up pass over the workload's keys
(``perfbench/workloads.py``) on the smaller ``WARMUP_SF`` input, then
a fixed number of timed passes sized to about ``--seconds`` of work on
a 4-core host (``workloads.timed_passes``), so that every run of a
workload does the same work. Each query is timed from the call to
``QUERIES[key](spark, sf_dir)`` until ``toPandas()`` on the returned
DataFrame has computed and collected every output column. The collected
results of every pass, warm-up included, are compared with the key's
DuckDB oracle after the session has stopped.

``--trace 1`` repeats the timed passes with tracing on and reports
the per-layer numbers of ``perfbench/layers.py`` instead of the
end-to-end ones, plus the tracing overhead (traced minus untraced
median query latency).

The input is the sf0.1 testdata directory the program reads by default
(``io.DEFAULT_SF_DIR``, overridable with ``SPARK_GRAFT_SF_DIR``); the
warm-up reads its ``WARMUP_SF`` sibling. The last line of stdout is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``; the line before it is a full report, which is also written
with the per-query rows to ``.perfbench/runs/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

T_START = time.perf_counter()

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_DIR = os.path.join(ROOT, ".perfbench")

# The warm-up pass reads this sibling of the timed input directory: the
# same tables at a tenth of the rows. It still pays the cold costs the
# timed passes must not see (class loading, JIT, codegen, first jobs),
# which do not depend on the row count, and skips the rest.
WARMUP_SF = "sf0.01"

END_TO_END_UNITS = {
    "query_p50_s": "s",
    "query_p90_s": "s",
    "queries_per_s": "1/s",
    "setup_s": "s",
}
# Units of the per-layer metrics, in the order the traced run reports them.
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "io.read_calls": "count",
    "io.read_s": "s",
    "io.read_jobs": "count",
    "io.jobs_per_read": "ratio",
    "plans.build_s": "s",
    "plans.build_self_s": "s",
    "plans.jobs": "count",
    "plans.run_ms": "ms",
    "plans.cpu_ms": "ms",
    "plans.shuffle_write_bytes": "bytes",
    "plans.build_share": "ratio",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.cpu_ratio": "ratio",
    "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.failed_tasks": "count",
    "sinks.write_calls": "count",
    "sinks.write_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "sinks.write_amplification": "ratio",
    "streaming.batches": "count",
    "streaming.batch_p50_ms": "ms",
    "streaming.input_rows": "count",
    "trace.overhead_p50_s": "s",
}


def parse_args(argv=None) -> argparse.Namespace:
    from workloads import WORKLOADS
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nearest_rank(values: list[float], q: int) -> float:
    """The q-th percentile by nearest rank: the smallest sample that at
    least q% of the samples do not exceed. With few samples of keys of
    very different cost, interpolating would mix two keys' latencies."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q / 100 * len(ordered)) - 1)]


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def start_spark(cores: int, ram_mb: int):
    """The program's session on ``local[cores]``, with the JVM heap
    sized to a quarter of RAM (at most 4 GiB) and every temporary file
    kept under the work directory."""
    from quickbooks_aws_etl_pipeline_spark.session import get_spark
    tmp = os.path.join(WORK_DIR, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # left by an earlier, killed run
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # Every JVM spark-submit starts, its launcher included, keeps its
    # temporary files here and writes no hsperfdata under /tmp.
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = java_opts
    tempfile.tempdir = None
    heap_mb = max(1024, min(4096, ram_mb // 4))
    return get_spark("perfbench", master=f"local[{cores}]", extra_conf={
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }), heap_mb


def _stat(pid: int | str) -> tuple[str, int] | None:
    """(state, parent pid) of a process, None once it has ended."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state, ppid = fh.read().rsplit(")", 1)[1].split()[:2]
    except (OSError, ValueError):
        return None
    return None if state in ("Z", "X") else (state, int(ppid))


def _descendants(pid: int) -> set[int]:
    """Every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        st = _stat(entry) if entry.isdigit() else None
        if st is not None:
            children.setdefault(st[1], []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait until the JVM
    and the Python workers it started have ended."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = gateway.proc
    spawned = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while spawned and time.monotonic() < deadline:
        spawned = {p for p in spawned if _stat(p) is not None}
        time.sleep(0.05)
    for p in spawned:
        os.kill(p, signal.SIGKILL)


def materialize(df):
    """The timed action: compute and collect every output column."""
    return df.toPandas()


class Runner:
    """Runs passes of one workload and keeps every query's outcome."""

    def __init__(self, spark, sf_dir: str, queries):
        self.spark = spark
        self.sf_dir = sf_dir
        self.queries = queries
        self.records: list[dict] = []

    def run_pass(self, pass_no: int, keys: list[str], phase: str,
                 tracer=None, sf_dir: str | None = None) -> list[dict]:
        sf_dir = sf_dir or self.sf_dir
        out = []
        for key in keys:
            rec = {"pass": pass_no, "phase": phase, "key": key,
                   "sf_dir": sf_dir}
            t0 = time.perf_counter()
            try:
                if tracer:
                    tracer.begin(pass_no, key)
                df = self.queries[key](self.spark, sf_dir)
                t1 = time.perf_counter()
                if tracer:
                    tracer.built()
                result = materialize(df)
                t2 = time.perf_counter()
                if tracer:
                    rec["layers"] = tracer.end(df, t1 - t0, t2 - t1)
            except Exception as exc:  # a failing key is counted, not fatal
                if tracer:
                    tracer.abort()
                traceback.print_exc()
                rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
            else:
                rec.update(build_s=t1 - t0, action_s=t2 - t1,
                           latency_s=t2 - t0, result=result)
            out.append(rec)
        self.records.extend(out)
        return out

    def run_timed(self, orders, passes: range, phase: str,
                  tracer=None) -> tuple[list[dict], float]:
        """Run ``passes``; return their records and total wall."""
        recs: list[dict] = []
        t0 = time.perf_counter()
        for n in passes:
            recs += self.run_pass(n, next(orders), phase, tracer)
        return recs, time.perf_counter() - t0

    def check(self, oracles, standing: dict[str, str]) -> None:
        """Compare every collected result with the oracle of its key and
        sf directory (``oracles[sf_dir]``); frees the results. Sets
        ``status`` on each record."""
        from oracle import mismatch
        for rec in self.records:
            if "status" in rec:
                continue
            if "error" in rec:
                rec["status"] = "error"
                continue
            want = oracles[rec["sf_dir"]].result(rec["key"])
            diff = mismatch(rec.pop("result"), want)
            if diff is None:
                rec["status"] = "ok"
            else:
                rec["status"] = "mismatch"
                rec["mismatch"] = diff
                rec["standing_failure"] = rec["key"] in standing


def latency_metrics(recs: list[dict], wall: float) -> dict[str, float]:
    lat = [r["latency_s"] for r in recs if "latency_s" in r]
    if not lat:
        raise RuntimeError("no timed query completed")
    return {"query_p50_s": statistics.median(lat),
            "query_p90_s": nearest_rank(lat, 90),
            "queries_per_s": len(lat) / wall,
            "samples": len(lat)}


def host_info(spark, cores: int, ram_mb: int, heap_mb: int) -> dict:
    import pyspark
    return {"cores": cores, "ram_mb": ram_mb, "heap_mb": heap_mb,
            "python": platform.python_version(),
            "spark": pyspark.__version__,
            "java": spark._jvm.System.getProperty("java.version"),
            "machine": platform.machine()}


def _terminate(signum, frame):
    """On SIGTERM, unwind through ``main``'s ``finally`` so that the
    session, its JVM and its Python workers are stopped."""
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    try:
        from quickbooks_aws_etl_pipeline_spark.io import DEFAULT_SF_DIR
        from quickbooks_aws_etl_pipeline_spark.plans import QUERIES
        from oracle import OracleCache
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    from workloads import STANDING_FAILURES, pass_orders, timed_passes
    sf_dir = DEFAULT_SF_DIR
    warm_dir = os.path.join(os.path.dirname(sf_dir), WARMUP_SF)
    for d in (sf_dir, warm_dir):
        if not os.path.isdir(d):
            print(f"perfbench: input directory {d} is missing", file=sys.stderr)
            return 2

    cores = len(os.sched_getaffinity(0))
    ram_mb = _mem_total_mb()
    phase_s = {"imports_s": time.perf_counter() - T_START}
    t_session = time.perf_counter()
    spark, heap_mb = start_spark(cores, ram_mb)
    session_s = time.perf_counter() - t_session
    try:
        runner = Runner(spark, sf_dir, QUERIES)
        orders = pass_orders(args.workload, args.seed)
        runner.run_pass(0, next(orders), "warmup", sf_dir=warm_dir)
        setup_s = time.perf_counter() - T_START
        phase_s["warmup_s"] = setup_s - session_s - phase_s["imports_s"]
        n = timed_passes(args.workload, args.seconds)
        recs, wall = runner.run_timed(orders, range(1, n + 1), "timed")
        phase_s["timed_s"] = wall
        e2e = latency_metrics(recs, wall)
        peak_rss = _peak_rss_mb() + _peak_rss_mb(
            spark._jvm.ProcessHandle.current().pid())
        layers = None
        if args.trace:
            from layers import Tracer, pass_layers
            tracer = Tracer(spark)
            with tracer.installed():
                traced, twall = runner.run_timed(
                    orders, range(n + 1, 2 * n + 1), "traced", tracer)
            phase_s["traced_s"] = twall
            per_pass: dict[int, list[dict]] = {}
            for r in traced:
                if "layers" in r:
                    per_pass.setdefault(r["pass"], []).append(r["layers"])
            sums = [pass_layers(rows, session_s) for rows in per_pass.values()]
            layers = {k: statistics.median(s[k] for s in sums) for k in sums[0]}
            layers["session.peak_rss_mb"] = peak_rss
            layers["trace.overhead_p50_s"] = (
                latency_metrics(traced, twall)["query_p50_s"] - e2e["query_p50_s"])
        host = host_info(spark, cores, ram_mb, heap_mb)
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark)
        phase_s["stop_s"] = time.perf_counter() - t_stop

    t_check = time.perf_counter()
    runner.check({d: OracleCache(d, os.path.join(WORK_DIR, "oracle"))
                  for d in (sf_dir, warm_dir)}, STANDING_FAILURES)
    phase_s["check_s"] = time.perf_counter() - t_check
    attempted = len(runner.records)
    failed = sum(r["status"] != "ok" for r in runner.records)
    unexpected = [r for r in runner.records
                  if r["status"] == "error"
                  or (r["status"] == "mismatch" and not r["standing_failure"])]
    e2e["setup_s"] = setup_s
    end_to_end = {k: {"value": e2e[k], "unit": u}
                  for k, u in END_TO_END_UNITS.items()}
    per_layer = ({k: {"value": layers[k], "unit": u}
                  for k, u in PER_LAYER_UNITS.items()} if args.trace else None)
    report = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "input": os.path.basename(sf_dir), "host": host,
        "end_to_end": {**end_to_end,
                       "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
                       "failed_ratio": {"value": failed / attempted,
                                        "unit": "ratio"}},
        "samples": e2e["samples"],
        "timed_passes": n,
        "phases": {"session_s": session_s, **phase_s},
        "per_layer": per_layer,
        "mismatches": {r["key"]: r["mismatch"] for r in runner.records
                       if r["status"] == "mismatch"},
        "errors": {r["key"]: r["error"] for r in runner.records
                   if r["status"] == "error"},
        "standing_failures": STANDING_FAILURES,
    }
    os.makedirs(os.path.join(WORK_DIR, "runs"), exist_ok=True)
    detail = os.path.join(WORK_DIR, "runs",
                          f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(detail, "w") as fh:
        json.dump({**report, "queries": runner.records}, fh, indent=1)
    print(json.dumps({**report, "detail": os.path.relpath(detail, ROOT)}))
    print(json.dumps({"correct": not unexpected, "attempted": attempted,
                      "failed": failed,
                      "metrics": per_layer if args.trace else end_to_end}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

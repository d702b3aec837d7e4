"""Per-layer tracing, applied from outside the program.

One ``Tracer`` records, for every query it wraps, a row of per-layer
numbers:

- ``io``: calls, wall and Spark jobs of ``io.read_table``;
- ``sinks``: calls, wall, bytes and files of the public write functions
  in ``sinks``, and their bytes over the size of the parquet files
  ``read_table`` opened (Spark's ``inputBytes`` misses parquet's
  vectored reads);
- ``plans``: wall, jobs and stage metrics of the ``QUERIES`` builder,
  which includes its ``io`` and ``sinks`` calls;
- ``catalyst``: analysis, optimization and planning time of the
  returned DataFrame, from its ``QueryPlanningTracker``;
- ``exec``: wall, jobs and stage metrics of the final action;
- ``streaming``: micro-batches seen by a ``StreamingQueryListener``.

Jobs are attributed through job-group tags (one group per query and
phase) and read back from Spark's status store. The ``io`` and
``sinks`` functions are wrapped at every module that imported them, so
untraced runs execute the program unchanged.
"""

from __future__ import annotations

import functools
import inspect
import os
import statistics
import sys
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

from quickbooks_aws_etl_pipeline_spark import io as program_io
from quickbooks_aws_etl_pipeline_spark import sinks as program_sinks

PACKAGE = program_io.__name__.rpartition(".")[0]
SINK_FUNCTIONS = ("write_parquet", "write_csv", "overwrite_table",
                  "append_table", "compact_parquet", "write_sorted_by")

# Stage fields summed per phase: StageData accessor -> row suffix.
_STAGE_FIELDS = {
    "executorRunTime": "run_ms",
    "executorCpuTime": "cpu_ns",
    "jvmGcTime": "gc_ms",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "diskBytesSpilled": "spill_bytes",
    "outputBytes": "output_bytes",
    "numTasks": "tasks",
    "numFailedTasks": "failed_tasks",
}


class _BatchListener(StreamingQueryListener):
    def __init__(self, tracer: "Tracer"):
        self._tracer = tracer

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        row = self._tracer.current
        if row is not None:
            row["batch_ms"].append(event.progress.batchDuration)
            row["streaming_input_rows"] += event.progress.numInputRows

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _new_row(pass_no: int, key: str) -> dict:
    return {"pass": pass_no, "key": key,
            "io_calls": 0, "io_s": 0.0, "io_file_bytes": 0,
            "sinks_calls": 0, "sinks_s": 0.0, "sinks_files": 0,
            "batch_ms": [], "streaming_input_rows": 0}


def _data_files_since(path: str | None, since: float) -> int:
    """Data files under ``path`` modified at or after ``since``."""
    if not path or not os.path.exists(path):
        return 0
    n = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            if os.path.getmtime(os.path.join(root, f)) >= since:
                n += 1
    return n


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self.current: dict | None = None
        self._group: str | None = None

    # -- job groups -------------------------------------------------------
    def _set_group(self, group: str | None) -> None:
        self._group = group
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def _gid(self, phase: str) -> str:
        r = self.current
        return f"perfbench-{r['pass']}-{r['key']}-{phase}"

    def _phase_stats(self, phases: tuple[str, ...]) -> dict:
        """Jobs and summed stage metrics of the current query's groups."""
        jvm = self.spark._jvm
        no_status = jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        out = {"jobs": 0, "stages": 0, **{v: 0 for v in _STAGE_FIELDS.values()}}
        seen: set[int] = set()
        for phase in phases:
            for job_id in self.sc.statusTracker().getJobIdsForGroup(self._gid(phase)):
                out["jobs"] += 1
                stage_ids = self._store.job(job_id).stageIds()
                for i in range(stage_ids.length()):
                    sid = stage_ids.apply(i)
                    if sid in seen:
                        continue
                    seen.add(sid)
                    attempts = self._store.stageData(sid, False, no_status,
                                                     False, no_quantiles)
                    for a in range(attempts.length()):
                        s = attempts.apply(a)
                        if s.status().toString() == "SKIPPED":
                            continue
                        out["stages"] += 1
                        for field, name in _STAGE_FIELDS.items():
                            out[name] += getattr(s, field)()
        return out

    # -- io / sinks wrappers ---------------------------------------------
    def _wrap(self, layer: str, fn):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            row = self.current
            if row is None:
                return fn(*args, **kwargs)
            outer = self._group
            self._set_group(self._gid(layer))
            t0 = time.time()
            p0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                row[f"{layer}_s"] += time.perf_counter() - p0
                row[f"{layer}_calls"] += 1
                self._set_group(outer)
                bound = sig.bind(*args, **kwargs).arguments
                if layer == "io":
                    row["io_file_bytes"] += os.path.getsize(
                        program_io.table_path(bound["sf_dir"], bound["name"]))
                else:
                    out = bound.get("path") or bound.get("dst")
                    # mtime resolution is coarser than perf_counter
                    row["sinks_files"] += _data_files_since(out, t0 - 1.0)
        return traced

    @contextmanager
    def installed(self):
        """Wrap ``read_table`` and the sink writers wherever the
        program's modules imported them, and listen to streams."""
        targets = {(program_io, "read_table"): "io"}
        targets.update({(program_sinks, n): "sinks" for n in SINK_FUNCTIONS})
        patched = []
        for (owner, name), layer in targets.items():
            orig = getattr(owner, name)
            wrapper = self._wrap(layer, orig)
            for mod in list(sys.modules.values()):
                if (getattr(mod, "__name__", "").startswith(PACKAGE)
                        and getattr(mod, name, None) is orig):
                    setattr(mod, name, wrapper)
                    patched.append((mod, name, orig))
        listener = _BatchListener(self)
        self.spark.streams.addListener(listener)
        try:
            yield self
        finally:
            self.spark.streams.removeListener(listener)
            for mod, name, orig in patched:
                setattr(mod, name, orig)

    # -- one query --------------------------------------------------------
    def begin(self, pass_no: int, key: str) -> None:
        self.current = _new_row(pass_no, key)
        self._set_group(self._gid("build"))

    def built(self) -> None:
        self._set_group(self._gid("action"))

    def abort(self) -> None:
        """Drop the current query's row after it raised."""
        self._set_group(None)
        self.current = None

    def end(self, df, build_s: float, action_s: float) -> dict:
        """Close the current query after its action and return its row;
        ``df`` is the DataFrame the builder returned, the walls are the
        builder's and the action's."""
        r = self.current
        r.update(build_s=build_s, action_s=action_s)
        self._set_group(None)
        # status store and stream progress are filled by the listener bus
        self._jsc.listenerBus().waitUntilEmpty(60_000)
        phases = df._jdf.queryExecution().tracker().phases()
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            r[f"catalyst_{name}_s"] = (opt.get().durationMs() / 1000.0
                                       if opt.isDefined() else 0.0)
        r["plans"] = self._phase_stats(("build", "io", "sinks"))
        r["io"] = self._phase_stats(("io",))
        r["sinks"] = self._phase_stats(("sinks",))
        r["exec"] = self._phase_stats(("action",))
        self.current = None
        return r


def pass_layers(rows: list[dict], session_s: float) -> dict[str, float]:
    """Per-layer totals of one traced pass (sums over its keys)."""
    def tot(field, phase=None):
        return sum(r[phase][field] if phase else r[field] for r in rows)

    build_s, action_s, io_s = tot("build_s"), tot("action_s"), tot("io_s")
    io_calls, io_jobs = tot("io_calls"), tot("jobs", "io")
    exec_run_ms, exec_cpu_ms = tot("run_ms", "exec"), tot("cpu_ns", "exec") / 1e6
    sinks_bytes = tot("output_bytes", "sinks")
    read_bytes = tot("io_file_bytes")
    batches = [ms for r in rows for ms in r["batch_ms"]]
    return {
        "session.start_s": session_s,
        "io.read_calls": io_calls,
        "io.read_s": io_s,
        "io.read_jobs": io_jobs,
        "io.jobs_per_read": io_jobs / io_calls if io_calls else 0.0,
        "plans.build_s": build_s,
        "plans.build_self_s": build_s - io_s,
        "plans.jobs": tot("jobs", "plans"),
        "plans.run_ms": tot("run_ms", "plans"),
        "plans.cpu_ms": tot("cpu_ns", "plans") / 1e6,
        "plans.shuffle_write_bytes": tot("shuffle_write_bytes", "plans"),
        "plans.build_share": (build_s / (build_s + action_s)
                              if build_s + action_s else 0.0),
        "catalyst.analysis_s": tot("catalyst_analysis_s"),
        "catalyst.optimization_s": tot("catalyst_optimization_s"),
        "catalyst.planning_s": tot("catalyst_planning_s"),
        "exec.action_s": action_s,
        "exec.jobs": tot("jobs", "exec"),
        "exec.stages": tot("stages", "exec"),
        "exec.tasks": tot("tasks", "exec"),
        "exec.run_ms": exec_run_ms,
        "exec.cpu_ms": exec_cpu_ms,
        "exec.cpu_ratio": exec_cpu_ms / exec_run_ms if exec_run_ms else 0.0,
        "exec.gc_ms": tot("gc_ms", "exec"),
        "exec.shuffle_read_bytes": tot("shuffle_read_bytes", "exec"),
        "exec.shuffle_write_bytes": tot("shuffle_write_bytes", "exec"),
        "exec.spill_bytes": tot("spill_bytes", "exec"),
        "exec.failed_tasks": tot("failed_tasks", "exec"),
        "sinks.write_calls": tot("sinks_calls"),
        "sinks.write_s": tot("sinks_s"),
        "sinks.bytes_written": sinks_bytes,
        "sinks.files_written": tot("sinks_files"),
        "sinks.write_amplification": (sinks_bytes / read_bytes
                                      if read_bytes else 0.0),
        "streaming.batches": len(batches),
        "streaming.batch_p50_ms": statistics.median(batches) if batches else 0.0,
        "streaming.input_rows": tot("streaming_input_rows"),
    }

"""Traced-run recorder: spans around the calls into the engine's public
functions, plus Spark's own stage metrics, measured from outside.

Spans are recorded by swapping module attributes for wrappers. Names the
compiler binds with ``from … import`` at import time are patched in the
compiler module, where its call sites look them up; names that modules
import lazily inside functions are patched in their defining module.

Spark is lazy, so most execution happens inside a sink span. Spark jobs
are attributed to the innermost open span by job-id range: at every span
boundary the recorder reads the scheduler's job counter, and the jobs
started since the previous boundary belong to the span that was
innermost in between. The benchmark drives the engine from one thread,
so the ranges never interleave. Per-stage metrics come from the status
store (``statusStore().lastStageAttempt``), which Spark keeps with the
web UI disabled.

Spans stay in memory until ``dump`` writes them once, at the end.
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

PKG = "orion_etl_oracle_to_postgres_spark"

# (module where the name is looked up, attribute, span name)
TRACED = [
    ("compiler", "run_table", "compiler.run_table"),
    ("compiler", "compile_table", "compiler.compile_table"),
    ("compiler", "run_error_checks", "compiler.run_error_checks"),
    ("compiler", "resolve_source", "sources.resolve_source"),
    ("sources", "read_file_table", "sources.read_file_table"),
    ("sources.files", "read_file_table", "sources.read_file_table"),
    ("sources", "read_jdbc_table", "sources.read_jdbc_table"),
    ("sources.jdbc", "read_jdbc_table", "sources.read_jdbc_table"),
    ("compiler", "external_lookup", "operators.lookups.external_lookup"),
    ("compiler", "self_lookup", "operators.lookups.self_lookup"),
    ("compiler", "apply_validations", "operators.validations.apply_validations"),
    ("operators.dedup", "minhash_near_dups", "operators.dedup.minhash_near_dups"),
    ("operators.dedup", "_verify_jaccard", "operators.dedup.verify_jaccard"),
    ("operators.dedup", "near_dup_clusters", "operators.dedup.near_dup_clusters"),
    ("operators.dedup", "_large_star", "operators.dedup.cc_round"),
    ("operators.dedup", "ngram_overlap_pairs", "operators.dedup.ngram_overlap_pairs"),
    ("operators.text", "quality_expr", "operators.text.quality_expr"),
    ("compiler", "resolve_sink", "sinks.resolve_sink"),
    ("sinks", "write_file_table", "sinks.write_file_table"),
    ("sinks", "write_jdbc_table", "sinks.write_jdbc_table"),
]
SINK_SPANS = {"sinks.resolve_sink", "sinks.write_file_table", "sinks.write_jdbc_table"}

# the per-layer metrics a traced run reports, in BENCHMARK.json order
LAYER_METRICS = {
    "session.get_spark_s": "s",
    "session.peak_rss_mb": "MB",
    "spec.load_job_spec_s": "s",
    "runner.smoke_check_s": "s",
    "compiler.compile_table_s": "s",
    "compiler.error_checks_s": "s",
    "compiler.eager_jobs": "count",
    "compiler.eager_s": "s",
    "sources.files.read_calls": "count",
    "sources.files.scan_rows": "rows",
    "sources.files.scan_bytes": "bytes",
    "sources.files.scan_busy_s": "s",
    "sources.jdbc.read_calls": "count",
    "sources.jdbc.scan_tasks": "count",
    "sources.jdbc.scan_busy_s": "s",
    "operators.lookups.dims": "count",
    "operators.lookups.broadcast_bytes": "bytes",
    "operators.validations.rejected_rows": "rows",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.pair_yield": "ratio",
    "operators.dedup.cc_rounds": "count",
    "operators.text.decontam_rejects": "rows",
    "operators.text.quality_rejects": "rows",
    "sinks.files.write_s": "s",
    "sinks.files.files_written": "count",
    "sinks.files.bytes_written": "bytes",
    "sinks.files.bytes_per_input_byte": "ratio",
    "sinks.jdbc.write_s": "s",
    "sinks.jdbc.rows_per_s": "rows/s",
    "sinks.jdbc.write_tasks": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_busy_s": "s",
    "exec.task_cpu_s": "s",
    "exec.core_util": "ratio",
    "exec.no_task_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.skew": "ratio",
    "exec.failed_tasks": "count",
    "trace.job_s_p50": "s",
}


def _opt_ms(opt) -> int | None:
    """A Scala ``Option[java.util.Date]`` as epoch milliseconds."""
    return opt.get().getTime() if opt.isDefined() else None


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of ``[start, end)`` intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Recorder:
    """Span recorder for one engine process. ``install`` patches the
    traced names for one iteration, ``uninstall`` restores them."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self._last_job = self._job_counter()
        self._patched: list[tuple[object, str, object]] = []
        self.iteration: int | None = None
        # per-iteration captures the counters read after the iteration
        self._captured: dict[str, list] = {}

    def _job_counter(self) -> int:
        return self._jsc.dagScheduler().numTotalJobs()

    def _attribute_jobs(self) -> None:
        now = self._job_counter()
        if now > self._last_job and self._stack:
            self._stack[-1]["jobs"].extend(range(self._last_job, now))
        self._last_job = now

    @contextmanager
    def span(self, name: str):
        self._attribute_jobs()
        s = {
            "id": self._next_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "iteration": self.iteration,
            "name": name,
            "start": time.perf_counter(),
            "epoch_ms": int(time.time() * 1000),
            "jobs": [],
        }
        self._next_id += 1
        self._stack.append(s)
        try:
            yield s
        finally:
            self._attribute_jobs()
            s["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                result = fn(*args, **kwargs)
            self._capture(name, args, result)
            return result

        return traced

    def _capture(self, name: str, args: tuple, result) -> None:
        """Keep what the post-iteration counters need: compiled tables (for
        validation counters), lookup dimensions (for their size), and the
        dedup candidate / verified pair frames (for their counts)."""
        keep = {
            "compiler.compile_table": lambda: result,
            "operators.lookups.external_lookup": lambda: args[3],
            "operators.dedup.verify_jaccard": lambda: args[0],
            "operators.dedup.minhash_near_dups": lambda: result,
        }.get(name)
        if keep is not None:
            self._captured.setdefault(name, []).append(keep())

    def install(self) -> None:
        self._captured = {}
        for mod, attr, name in TRACED:
            owner = importlib.import_module(f"{PKG}.{mod}")
            fn = getattr(owner, attr)
            self._patched.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)

    # -- per-iteration layer metrics ---------------------------------------

    def iteration_metrics(self, it: int, root: dict, cores: int, out: Path,
                          jdbc_rows: int) -> dict:
        """Layer metrics of iteration ``it`` whose root span is ``root``.
        Runs after the iteration (its extra Spark jobs fall outside every
        span and are attributed to nothing)."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        spans = [s for s in self.spans if s["iteration"] == it]
        by_id = {s["id"]: s for s in spans}

        def ancestors(s):
            while s is not None:
                yield s
                s = by_id.get(s["parent"])

        def total(name):
            return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

        def count(name):
            return sum(1 for s in spans if s["name"] == name)

        children: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                children[s["parent"]] = children.get(s["parent"], 0.0) + s["end"] - s["start"]

        # every job of the iteration, with the span it ran under
        jobs, stages = {}, {}
        for s in spans:
            for j in s["jobs"]:
                jobs[j] = s
        job_time = {}
        for j in jobs:
            jd = store.job(j)
            t0, t1 = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            job_time[j] = (t1 - t0) / 1000.0 if t0 is not None and t1 is not None else 0.0
            ids = jd.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in stages:
                    continue
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — skipped stages have no attempt
                    continue
                if str(sd.status()) not in ("COMPLETE", "FAILED"):
                    continue
                stages[sid] = (j, sd)

        def stage_sum(pred, field):
            return sum(getattr(sd, field)() for _, sd in stages.values() if pred(sd))

        files_in = lambda sd: sd.inputBytes() > 0  # noqa: E731
        jdbc_in = lambda sd: sd.inputBytes() == 0 and sd.inputRecords() > 0  # noqa: E731
        every = lambda sd: True  # noqa: E731

        eager = [
            j for j, s in jobs.items()
            if not any(a["name"] in SINK_SPANS for a in ancestors(s))
            and any(a["name"] == "compiler.run_table" for a in ancestors(s))
        ]
        jdbc_write_jobs = {
            j for j, s in jobs.items() if s["name"] == "sinks.write_jdbc_table"
        }

        m: dict[str, float] = {}
        m["spec.load_job_spec_s"] = total("spec.load_job_spec")
        m["runner.smoke_check_s"] = total("runner.smoke_check")
        m["compiler.compile_table_s"] = sum(
            s["end"] - s["start"] - children.get(s["id"], 0.0)
            for s in spans if s["name"] == "compiler.compile_table"
        )
        m["compiler.error_checks_s"] = total("compiler.run_error_checks")
        m["compiler.eager_jobs"] = len(eager)
        m["compiler.eager_s"] = sum(job_time[j] for j in eager)
        m["sources.files.read_calls"] = count("sources.read_file_table")
        m["sources.files.scan_rows"] = stage_sum(files_in, "inputRecords")
        m["sources.files.scan_bytes"] = stage_sum(files_in, "inputBytes")
        m["sources.files.scan_busy_s"] = stage_sum(files_in, "executorRunTime") / 1000.0
        m["sources.jdbc.read_calls"] = count("sources.read_jdbc_table")
        m["sources.jdbc.scan_tasks"] = stage_sum(jdbc_in, "numTasks")
        m["sources.jdbc.scan_busy_s"] = stage_sum(jdbc_in, "executorRunTime") / 1000.0

        cap = self._captured
        m["operators.lookups.dims"] = count("operators.lookups.external_lookup")
        m["operators.lookups.broadcast_bytes"] = sum(
            int(str(d._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
            for d in cap.get("operators.lookups.external_lookup", [])
        )
        m["operators.validations.rejected_rows"] = sum(
            obs.get.get("violations", 0) or 0
            for c in cap.get("compiler.compile_table", [])
            for _, obs in c.validation_metrics
        )
        cand = sum(d.count() for d in cap.get("operators.dedup.verify_jaccard", []))
        ver = sum(d.count() for d in cap.get("operators.dedup.minhash_near_dups", []))
        m["operators.dedup.candidate_pairs"] = cand
        m["operators.dedup.verified_pairs"] = ver
        m["operators.dedup.pair_yield"] = ver / cand if cand else 0.0
        m["operators.dedup.cc_rounds"] = count("operators.dedup.cc_round")
        m["operators.text.decontam_rejects"] = _parquet_rows(out / "corpus_decontam_rejects")
        m["operators.text.quality_rejects"] = _parquet_rows(out / "corpus_quality_rejects")

        parts = [p for p in out.glob("*/*.parquet")] if out.is_dir() else []
        written = sum(p.stat().st_size for p in parts)
        m["sinks.files.write_s"] = total("sinks.write_file_table")
        m["sinks.files.files_written"] = len(parts)
        m["sinks.files.bytes_written"] = written
        m["sinks.files.bytes_per_input_byte"] = (
            written / m["sources.files.scan_bytes"] if m["sources.files.scan_bytes"] else 0.0
        )
        jw = total("sinks.write_jdbc_table")
        m["sinks.jdbc.write_s"] = jw
        m["sinks.jdbc.rows_per_s"] = jdbc_rows / jw if jw else 0.0
        m["sinks.jdbc.write_tasks"] = sum(
            sd.numTasks() for j, sd in stages.values() if j in jdbc_write_jobs
        )

        wall = root["end"] - root["start"]
        busy = stage_sum(every, "executorRunTime") / 1000.0
        t0 = root["epoch_ms"]
        active = _union_ms([
            (max(_opt_ms(sd.firstTaskLaunchedTime()), t0), _opt_ms(sd.completionTime()))
            for _, sd in stages.values()
            if sd.firstTaskLaunchedTime().isDefined() and sd.completionTime().isDefined()
        ]) / 1000.0
        m["exec.jobs"] = len(jobs)
        m["exec.stages"] = len(stages)
        m["exec.tasks"] = stage_sum(every, "numTasks")
        m["exec.task_busy_s"] = busy
        m["exec.task_cpu_s"] = stage_sum(every, "executorCpuTime") / 1e9
        m["exec.core_util"] = busy / (wall * cores) if wall else 0.0
        m["exec.no_task_s"] = max(0.0, wall - active)
        m["exec.shuffle_write_bytes"] = stage_sum(every, "shuffleWriteBytes")
        m["exec.shuffle_read_bytes"] = stage_sum(every, "shuffleReadBytes")
        m["exec.spill_bytes"] = stage_sum(every, "memoryBytesSpilled") + stage_sum(
            every, "diskBytesSpilled"
        )
        m["exec.skew"] = self._skew(store, stages)
        m["exec.failed_tasks"] = stage_sum(every, "numFailedTasks")
        self._captured = {}
        for s in spans:
            s["job_ids"] = sorted(set(s.pop("jobs")))
        return m

    @staticmethod
    def _skew(store, stages: dict) -> float:
        """Slowest ÷ median task duration in the stage with the most task
        time (1.0 = perfectly even)."""
        if not stages:
            return 0.0
        sid, (_, sd) = max(stages.items(), key=lambda kv: kv[1][1].executorRunTime())
        tasks = store.taskList(sid, sd.attemptId(), 100_000)
        durs = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                durs.append(d.get())
        med = statistics.median(durs) if durs else 0
        return max(durs) / med if med else 0.0

    def dump(self, path: Path) -> None:
        """Write every span as one JSON line (times relative to the first)."""
        if not self.spans:
            return
        base = min(s["start"] for s in self.spans)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps({
                    "id": s["id"], "parent": s["parent"], "iteration": s["iteration"],
                    "name": s["name"], "start_s": round(s["start"] - base, 6),
                    "end_s": round(s["end"] - base, 6),
                    "spark_jobs": s.get("job_ids", s.get("jobs", [])),
                }) + "\n")


def _parquet_rows(d: Path) -> int:
    import pyarrow.parquet as pq

    if not d.is_dir():
        return 0
    return sum(pq.ParquetFile(p).metadata.num_rows for p in d.glob("*.parquet"))

"""Engine side of one benchmark run, in a fresh process.

``python3 job.py <plan.json>`` imports the package, builds the session
with ``session.get_spark`` and prints ``READY <jvm pid>``; the parent
times process start → that line as the set-up. Then it runs the
workload's jobs in a closed loop, the runner's own sequence without
argparse:
``spec.load_job_spec`` → ``runner.smoke_check`` → ``compiler.run_job``,
one job after another, each iteration starting when the previous one has
finished. The first iteration is the cold job; warm iterations follow
until the plan's seconds are used. Targets are reset and outputs checked
between iterations, outside the timed region. The result goes to the
parent as one ``RESULT <json>`` line on stdout.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

T_START = time.perf_counter()


def _vm_hwm_kb(pid: int | str) -> int:
    """Peak resident set size (VmHWM) of ``pid`` in KiB, 0 if gone."""
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_s(pid: int | str) -> float:
    """User + system CPU seconds of ``pid`` (all its threads), 0 if gone."""
    try:
        fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def steal_s() -> float:
    """Host-wide CPU steal seconds so far, from /proc/stat."""
    try:
        fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def main(plan_path: str) -> int:
    plan = json.loads(Path(plan_path).read_text())
    sys.path.insert(0, plan["root"])
    sys.path.insert(0, str(Path(__file__).resolve().parent))

    from orion_etl_oracle_to_postgres_spark import compiler, runner, spec
    from orion_etl_oracle_to_postgres_spark.session import get_spark
    from orion_etl_oracle_to_postgres_spark.sources.jdbc import read_jdbc_table
    from orion_etl_oracle_to_postgres_spark.spec import JdbcConnectorSpec

    t_import = time.perf_counter()
    spark = get_spark(master=plan["master"])
    t_ready = time.perf_counter()
    jvm = spark._jvm
    jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
    print(f"READY {jvm_pid}", flush=True)

    import duckdb

    from check import check_files, check_target
    from tracer import LAYER_METRICS, Recorder

    spark.sparkContext.setLogLevel("ERROR")
    out = Path(plan["out"])
    targets = plan["targets"]
    expected = plan["expected"]
    file_targets = [t for t, kind in targets.items() if kind == "files"]
    jdbc_targets = [t for t, kind in targets.items() if kind == "jdbc"]
    con = duckdb.connect()
    recorder = Recorder(spark) if plan["trace"] else None

    def reset_targets() -> None:
        # file targets start absent in every iteration; the JDBC target
        # keeps the previous (identical) load, which the next load
        # truncates and reloads — the nightly truncate-and-reload state
        if out.exists():
            shutil.rmtree(out)

    def check_outputs() -> list[str]:
        try:
            errors = check_files(con, out, expected, file_targets)
            for t in jdbc_targets:
                arrow = read_jdbc_table(spark, JdbcConnectorSpec(url=plan["jdbc_url"]), t).toArrow()
                con.register("jdbc_out", arrow)
                reason = check_target(con, t, "SELECT * FROM jdbc_out", expected[t])
                con.unregister("jdbc_out")
                if reason:
                    errors.append(reason)
        except Exception as e:  # noqa: BLE001 — unreadable output fails the check
            errors = [f"output unreadable: {e}"]
        return errors

    def run_iteration(it: int, traced: bool) -> dict:
        """One closed-loop iteration. Returns its record: wall seconds,
        the engine's CPU seconds and the host's steal seconds over it, and
        the ``run_job`` results; ``wall`` is None when a job raised."""
        reset_targets()
        span = recorder.span if traced else lambda name: contextlib.nullcontext()
        rec = {"wall": None, "results": {}}
        c0, s0 = cpu_s(jvm_pid) + cpu_s("self"), steal_s()
        if traced:
            recorder.iteration = it
            recorder.install()
        try:
            t0 = time.perf_counter()
            with span("iteration") as root:
                for cfg in plan["configs"]:
                    with span("spec.load_job_spec"):
                        job = spec.load_job_spec(cfg)
                    with span("runner.smoke_check"):
                        runner.smoke_check(spark, job)
                    with span("compiler.run_job"):
                        rec["results"].update(compiler.run_job(spark, job))
            rec["wall"] = time.perf_counter() - t0
            rec["root"] = root
        except Exception:  # noqa: BLE001 — a failed job is counted, the loop goes on
            traceback.print_exc()
        finally:
            if traced:
                recorder.uninstall()
        rec["cpu"] = cpu_s(jvm_pid) + cpu_s("self") - c0
        rec["steal"] = steal_s() - s0
        return rec

    records: list[dict] = []
    layer_samples: list[dict] = []
    errors_seen: list[str] = []
    deadline = T_START + plan["deadline_s"]
    warm_start = None
    while True:
        it = len(records)
        rec = run_iteration(it, recorder is not None)
        errors = ["run_job raised"] if rec["wall"] is None else check_outputs()
        rec["ok"] = not errors
        if errors:
            errors_seen.extend(errors)
            print(f"iteration {it}: output check FAILED: {errors}", file=sys.stderr)
        root = rec.pop("root", None)  # the iteration's span when traced
        if root is not None:
            jdbc_rows = sum(rec["results"].get(t, 0) for t in jdbc_targets)
            m = recorder.iteration_metrics(it, root, plan["cores"], out, jdbc_rows)
            if it > 0:
                layer_samples.append(m)
        records.append(rec)
        now = time.perf_counter()
        if warm_start is None:
            warm_start = now
        # warm iterations attempted, failed or not
        enough = now - warm_start >= plan["seconds"] and it >= plan["min_warm"]
        if enough or now >= deadline:
            break

    peak_mb = (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024.0
    host = {
        "master": plan["master"],
        "spark": spark.version,
        "jvm": str(jvm.java.lang.System.getProperty("java.version")),
        "python": sys.version.split()[0],
    }
    result = {
        "iterations": [{k: r[k] for k in ("wall", "cpu", "steal", "ok")} for r in records],
        "errors": errors_seen[:5],
        "peak_rss_mb": peak_mb,
        "host": host,
    }
    if recorder is not None:
        layers = {
            k: statistics.median([s[k] for s in layer_samples]) if layer_samples else 0.0
            for k in LAYER_METRICS
            if k not in ("session.get_spark_s", "session.peak_rss_mb", "trace.job_s_p50")
        }
        layers["session.get_spark_s"] = t_ready - t_import
        layers["session.peak_rss_mb"] = peak_mb
        result["layers"] = layers
        result["layer_samples"] = len(layer_samples)
        recorder.dump(Path(plan["trace_file"]))
    # the parent stops this process group as soon as it has the result
    print("RESULT " + json.dumps(result), flush=True)
    con.close()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))

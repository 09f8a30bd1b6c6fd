"""Job-level benchmark of the declarative ETL engine.

    python3 perfbench/run.py --workload migrate_jdbc --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Generates the workload's inputs from the
seed (numpy/pyarrow, cached under ``.perfbench/cache``), computes the
oracle digests, writes the job specs, then starts a fresh engine process
(``job.py``) that builds the session and runs the jobs in a closed loop
for ``--seconds``. Prints every metric with its unit and sample count,
each iteration's raw timings, a host-state record and, as the last line,
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "orion_etl_oracle_to_postgres_spark"

MIN_WARM = 1  # warm iterations even if --seconds runs out first
RUN_TIMEOUT_S = 170  # the whole run, including input generation

sys.path.insert(0, str(HERE))
from job import steal_s  # noqa: E402


def _loadavg() -> list[float]:
    try:
        return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    except OSError:
        return []


def unstolen(wall: float, steal: float) -> float:
    """Wall seconds minus the host's CPU steal over the same interval,
    per CPU: the time the interval would have taken had no other tenant
    taken this machine's CPUs. Steal is summed over all CPUs, and the
    engine spreads its threads over all of them."""
    return wall - steal / os.cpu_count()


def _running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (a zombie has)."""
    try:
        return Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _stop(proc: subprocess.Popen, jvm_pid: int | None) -> None:
    """Stop the engine process, its JVM and anything else they started
    (one process group), and wait until the JVM has exited."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(200):
        if jvm_pid is None or not _running(jvm_pid):
            return
        try:
            os.kill(jvm_pid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def _engine(plan_file: Path, work: Path, env: dict, log, deadline: float) -> tuple[float, dict]:
    """Run one engine process; return (set-up seconds net of steal, its
    result). The process is stopped as soon as its result arrives."""
    t0, s0 = time.perf_counter(), steal_s()
    proc = subprocess.Popen(
        [sys.executable, str(HERE / "job.py"), str(plan_file)],
        cwd=work, env=env, stdout=subprocess.PIPE, stderr=log,
        text=True, start_new_session=True,
    )
    setup, jvm_pid, result = None, None, None
    try:
        for line in proc.stdout:
            if setup is None and line.startswith("READY "):
                setup = unstolen(time.perf_counter() - t0, steal_s() - s0)
                jvm_pid = int(line.split()[1])
            elif line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
                break
            if time.perf_counter() > deadline:
                raise TimeoutError("engine process overran the run deadline")
    finally:
        _stop(proc, jvm_pid)
    if setup is None or result is None:
        raise RuntimeError(f"engine process exited with {proc.returncode}")
    return setup, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["migrate_jdbc", "curate_corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    t_run = time.perf_counter()
    deadline = t_run + RUN_TIMEOUT_S

    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"error: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    import gen
    import workloads
    from tracer import LAYER_METRICS

    steal0, load0 = steal_s(), _loadavg()
    state = ROOT / ".perfbench"
    t_gen = time.perf_counter()
    inputs, meta = gen.ensure_inputs(state / "cache", args.workload, args.seed)
    exp_file = inputs / "expected.json"
    if not exp_file.is_file():
        exp_file.write_text(json.dumps(workloads.expected_digests(args.workload, inputs, meta)))
    expected = json.loads(exp_file.read_text())
    gen_s = time.perf_counter() - t_gen

    work = state / f"run-{args.workload}"
    if work.exists():
        shutil.rmtree(work)
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True)
    cores = len(os.sched_getaffinity(0))
    configs = workloads.write_specs(args.workload, inputs, work / "out", work / "specs", cores)
    # rows one iteration reads: every input table, plus the rows the
    # extract job reads back from the database
    rows_per_iter = meta["rows"] + expected.get("events_db", {}).get("rows", 0)

    env = dict(os.environ)
    env.update({
        "PYTHONPATH": str(ROOT),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        # JVM temp files stay in the run directory; no perf-data file elsewhere
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    })
    env.pop("SPARK_GRAFT_CPUS", None)
    plan_file = work / "plan.json"
    plan_file.write_text(json.dumps({
        "root": str(ROOT), "master": f"local[{cores}]", "cores": cores,
        "configs": configs, "out": str(work / "out"),
        "targets": workloads.TARGETS[args.workload], "expected": expected,
        "trace": bool(args.trace), "trace_file": str(work / "trace.jsonl"),
        "seconds": args.seconds, "min_warm": MIN_WARM,
        "jdbc_url": workloads.DERBY_URL,
        "deadline_s": RUN_TIMEOUT_S - 10 - (time.perf_counter() - t_run),
    }))
    with open(work / "engine.log", "w") as log:
        try:
            setup, res = _engine(plan_file, work, env, log, deadline)
        except (RuntimeError, TimeoutError, json.JSONDecodeError) as e:
            log.flush()
            tail = (work / "engine.log").read_text().splitlines()[-30:]
            print("\n".join(tail), file=sys.stderr)
            print(f"error: {e}", file=sys.stderr)
            return 1

    its = res["iterations"]
    attempted = len(its)
    failed = sum(not r["ok"] for r in its)
    cold = its[0]
    warm = [unstolen(r["wall"], r["steal"]) for r in its[1:] if r["wall"] is not None]
    if cold["wall"] is None or not warm:
        print(f"error: no successful job to time ({res['errors']})", file=sys.stderr)
        return 1
    e2e = {
        "setup_s": (setup, "s", 1),
        "cold_job_s": (unstolen(cold["wall"], cold["steal"]), "s", 1),
        "job_s_p50": (statistics.median(warm), "s", len(warm)),
        "rows_per_s": (rows_per_iter * len(warm) / sum(warm), "rows/s", len(warm)),
        "success_ratio": ((attempted - failed) / attempted, "ratio", attempted),
    }
    host = {
        "nproc": cores, **res["host"],
        "loadavg_start": load0, "loadavg_end": _loadavg(),
        "cpu_steal_s": round(steal_s() - steal0, 3),
    }

    print(f"workload {args.workload}  seed {args.seed}  "
          f"inputs {meta['rows']} rows / {meta['bytes']} bytes  "
          f"(prepared in {gen_s:.2f} s)")
    for name, (v, unit, n) in e2e.items():
        print(f"  {name:<16} {v:>14.4f} {unit:<7} n={n}")
    print(f"  failed_ratio     {failed / attempted:>14.4f} ratio   n={attempted}")
    print(f"  peak_rss_mb      {res['peak_rss_mb']:>14.4f} MB      n=1")
    print(f"  tail percentile: not reported ({len(warm)} warm samples; "
          "a p90 needs >= 100)")
    print(f"  output check: {'PASS' if failed == 0 else 'FAIL'} "
          f"({attempted - failed}/{attempted} iterations match the oracle)"
          + (f"  {res['errors']}" if res["errors"] else ""))
    for i, r in enumerate(its):
        wall = "failed" if r["wall"] is None else f"{r['wall']:.3f} s"
        print(f"  iteration {i}: wall {wall}  engine cpu {r['cpu']:.2f} s  "
              f"host steal {r['steal']:.2f} s")
    print("host " + json.dumps(host))
    if args.trace:
        layers = {**res["layers"], "trace.job_s_p50": e2e["job_s_p50"][0]}
        for name, unit in LAYER_METRICS.items():
            print(f"  {name:<38} {layers[name]:>16.4f} {unit}")
        print(f"  ({res['layer_samples']} traced warm iterations; spans in "
              f"{work / 'trace.jsonl'})")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_METRICS.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

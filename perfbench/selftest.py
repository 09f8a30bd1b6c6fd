"""Self-test of the output check, without the engine.

    python3 perfbench/selftest.py

For every workload it writes the oracle's own result as the "engine
output" (which must pass), then corrupts one value in one row, drops a
row and duplicates a row of each target in turn; each of those must be
flagged. Exits non-zero if any case is judged wrongly.
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import workloads  # noqa: E402
from check import check_files  # noqa: E402


def _corrupt(t: pa.Table, row: int) -> pa.Table:
    """Change one value of ``row`` in the table's last column."""
    i = t.num_columns - 1
    col = t.column(i).combine_chunks()
    v = col[row].as_py()
    if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
        new = (v or "") + "x"
    else:
        new = (v or 0) + 1
    mask = pa.array([j == row for j in range(len(col))])
    return t.set_column(i, t.field(i), pc.if_else(mask, pa.scalar(new, col.type), col))


def main() -> int:
    state = HERE.parent / ".perfbench" / "selftest"
    shutil.rmtree(state, ignore_errors=True)
    bad = 0
    for w in gen.GENERATORS:
        inputs, meta = gen.ensure_inputs(state / "cache", w, seed=7, scale=0.1)
        expected = workloads.expected_digests(w, inputs, meta)
        out = state / w / "out"
        with duckdb.connect() as con:
            for target, sql in workloads.oracle(con, w, inputs, meta).items():
                (out / target).mkdir(parents=True)
                con.execute(f"COPY ({sql}) TO '{out / target / 'part-0.parquet'}' (FORMAT PARQUET)")
        targets = list(expected)
        cases = [("oracle output", None)]
        for t in targets:
            cases += [(f"{t}: one value changed", (t, "value")),
                      (f"{t}: one row dropped", (t, "drop")),
                      (f"{t}: one row duplicated", (t, "dup"))]
        for label, change in cases:
            saved = None
            if change:
                f = out / change[0] / "part-0.parquet"
                saved = pq.read_table(f)
                row = saved.num_rows // 2
                new = {
                    "value": lambda: _corrupt(saved, row),
                    "drop": lambda: pa.concat_tables([saved.slice(0, row), saved.slice(row + 1)]),
                    "dup": lambda: pa.concat_tables([saved, saved.slice(row, 1)]),
                }[change[1]]()
                pq.write_table(new, f)
            with duckdb.connect() as con:
                errors = check_files(con, out, expected, targets)
            ok = bool(errors) == bool(change)
            bad += not ok
            print(f"{'ok ' if ok else 'BAD'} {w}: {label}: "
                  f"{'flagged: ' + errors[0] if errors else 'passes'}")
            if saved is not None:
                pq.write_table(saved, f)
    shutil.rmtree(state, ignore_errors=True)
    print("selftest", "FAILED" if bad else "passed")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

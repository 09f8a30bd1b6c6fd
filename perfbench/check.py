"""Output check: row count plus an order-insensitive value hash per target.

Every value is cast to text by DuckDB on both sides (oracle and engine
output), NULL gets its own marker, a row hashes as the joined text of
its columns in a fixed order, and a table's digest is the exact sum of
its row hashes. The sum is insensitive to row order and file layout but
not to a changed, missing or duplicated row.
"""

from __future__ import annotations

from pathlib import Path

NULL = "\u2400"  # ␀, a marker no generated value contains


def _q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def digest(con, relation_sql: str, columns: list[str]) -> tuple[int, str]:
    """``(rows, hash)`` of ``relation_sql`` over ``columns`` (in order)."""
    parts = ", ".join(
        f"coalesce(CAST({_q(c)} AS VARCHAR), '{NULL}')" for c in columns
    )
    rows, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash(concat_ws(chr(31), {parts}))::HUGEINT), 0) "
        f"FROM ({relation_sql})"
    ).fetchone()
    return int(rows), str(h)


def check_target(con, name: str, relation_sql: str, want: dict) -> str | None:
    """Compare one written target with its oracle digest. Returns None when
    it matches, else a one-line reason. Reject tables carry extra audit
    columns, so for them only the oracle's columns must be present."""
    have = [r[0] for r in con.execute(f"DESCRIBE {relation_sql}").fetchall()]
    cols = want["columns"]
    missing = [c for c in cols if c not in have]
    extra = [c for c in have if c not in cols]
    if missing or (extra and not name.endswith("_rejects")):
        return f"{name}: columns {have} != expected {cols}"
    rows, h = digest(con, relation_sql, cols)
    if rows != want["rows"]:
        return f"{name}: {rows} rows, expected {want['rows']}"
    if h != want["hash"]:
        return f"{name}: value hash differs ({rows} rows)"
    return None


def check_files(con, out: Path, expected: dict, targets: list[str]) -> list[str]:
    """Check the file targets under ``out``; returns mismatch reasons."""
    errors = []
    for t in targets:
        d = out / t
        if not any(d.glob("*.parquet")):
            errors.append(f"{t}: no output files under {d}")
            continue
        reason = check_target(con, t, f"SELECT * FROM read_parquet('{d}/*.parquet')", expected[t])
        if reason:
            errors.append(reason)
    return errors

"""The workloads: job specs (YAML, the user's declarative surface) and
the engine-independent oracle for every target they write.

A workload is a list of jobs run back to back in one iteration; each job
is a ``config.yaml`` plus per-table YAMLs, written the way a user lays
them out (``global.tables_folder`` + ``table_files``).

The oracle for ``migrate_jdbc`` is DuckDB SQL over the generated input
files, written from the reference semantics of each rule (``strip`` =
trim spaces, lookups compare keys as text and return ``min(value)`` per
key, range rules are inclusive, ...). The oracle for ``curate_corpus``
is the generator's planted ground truth.
"""

from __future__ import annotations

import json
from pathlib import Path

DERBY_URL = "jdbc:derby:memory:perfbench;create=true"
DERBY_PING = "SELECT 1 AS ping FROM SYSIBM.SYSDUMMY1"

CODE_RE = "^[A-Z]+-[0-9]{4}$"

# -- migrate_jdbc: load into the database, then a partitioned extract ------

JDBC_LOAD = {
    "events_db": {
        "source_table": "events",
        "target_schema": None,  # Derby has no 'public' schema
        "where": "GRP < 45",
        "mappings": [
            # a fail-fast rule: checked by one eager pass before the write
            {"source": "ID", "target": "ID",
             "validation": [{"type": "range", "pattern": ">= 1", "on_fail": "error"}]},
            {"source": "NAME", "target": "NAME", "transform": "strip,upper"},
            # default on_missing (error): an eager anti-join count pre-write
            {"source": "GRP", "target": "GRP_NAME",
             "lookup": {"table": "groups", "key_column": "GRP_ID",
                        "value_column": "GRP_NAME"}},
            # the larger dimension, broadcast by external_lookup's default
            {"source": "ACCOUNT_ID", "target": "TIER",
             "lookup": {"table": "accounts", "key_column": "ACCOUNT_ID",
                        "value_column": "TIER", "on_missing": "null"}},
            # self-lookup: the table's own output resolves the parent
            {"source": "PARENT_ID", "target": "PARENT_NAME",
             "lookup": {"table": "events_db", "key_column": "ID",
                        "value_column": "NAME"}},
            {"source": "CODE", "target": "CODE",
             "validation": [{"type": "regex", "pattern": CODE_RE}]},
            {"source": "VAL", "target": "VAL",
             "validation": [{"type": "range", "pattern": "0-950", "on_fail": "skip"}]},
            {"source": "ACCOUNT_ID", "target": "ACCOUNT_ID",
             "validation": [{"type": "lookup", "on_fail": "skip",
                             "lookup": {"table": "accounts", "key_column": "ACCOUNT_ID"}}]},
        ],
    },
}
JDBC_EXTRACT = {
    "events_extract": {
        "source_table": "events_db",
        "partition_column": "ID",
        "num_partitions": None,  # filled with the core count
        "where": "VAL < 800",
        "mappings": [
            {"source": "ID", "target": "id"},
            {"source": "NAME", "target": "name", "transform": "lower"},
            {"source": "GRP_NAME", "target": "grp_name"},
            {"source": "TIER", "target": "tier"},
            {"source": "PARENT_NAME", "target": "parent_name"},
            {"source": "VAL", "target": "val"},
        ],
    },
}


def _dim(table: str, key: str, value: str) -> str:
    """A lookup dimension as the engine sees it: text key, min(value)."""
    return (
        f"(SELECT CAST({key} AS VARCHAR) AS k, min({value}) AS v "
        f"FROM {table} GROUP BY 1)"
    )


_LOADED = f"""
    WITH f AS (
        SELECT e.ID, upper(trim(e.NAME)) AS NAME, g.v AS GRP_NAME,
               a.v AS TIER, e.PARENT_ID,
               CASE WHEN e.CODE IS NULL OR regexp_matches(e.CODE, '{CODE_RE}')
                    THEN e.CODE END AS CODE,
               e.VAL, e.ACCOUNT_ID
        FROM events e
        LEFT JOIN {_dim('groups', 'GRP_ID', 'GRP_NAME')} g
          ON CAST(e.GRP AS VARCHAR) = g.k
        LEFT JOIN {_dim('accounts', 'ACCOUNT_ID', 'TIER')} a
          ON CAST(e.ACCOUNT_ID AS VARCHAR) = a.k
        WHERE e.GRP < 45
          AND (e.VAL IS NULL OR e.VAL BETWEEN 0 AND 950)
          AND (e.ACCOUNT_ID IS NULL OR CAST(e.ACCOUNT_ID AS VARCHAR) IN
               (SELECT CAST(ACCOUNT_ID AS VARCHAR) FROM accounts)))
    SELECT f.ID, f.NAME, f.GRP_NAME, f.TIER, p.v AS PARENT_NAME, f.CODE,
           f.VAL, f.ACCOUNT_ID
    FROM f
    LEFT JOIN (SELECT ID AS k, min(NAME) AS v FROM f
               WHERE NAME IS NOT NULL GROUP BY 1) p
      ON f.PARENT_ID = p.k"""

MIGRATE_JDBC_ORACLE = {
    "events_db": _LOADED,
    "events_extract": f"""
        SELECT ID AS id, lower(NAME) AS name, GRP_NAME AS grp_name,
               TIER AS tier, PARENT_NAME AS parent_name, VAL AS val
        FROM ({_LOADED}) WHERE VAL < 800""",
}

# -- curate_corpus: dedup → decontaminate → quality_filter -----------------

CURATE_TABLES = {
    "corpus_clean": {
        "source_table": "docs",
        "mappings": [
            {"source": "doc_id", "target": "doc_id"},
            {"source": "text", "target": "text"},
        ],
        "dedup": {"method": "minhash", "text_column": "text",
                  "id_column": "doc_id", "threshold": 0.8},
        "decontaminate": {"benchmark_table": "bench", "text_column": "text",
                          "id_column": "doc_id", "ngram": 13,
                          "benchmark_where": "suite = 'heldout'",
                          "reject_table": "corpus_decontam_rejects"},
        "quality_filter": {"text_column": "text", "min_quality": 0.5,
                           "reject_table": "corpus_quality_rejects"},
    },
}

# every target a workload writes, and where its rows live (files or jdbc)
TARGETS = {
    "migrate_jdbc": {"events_db": "jdbc", "events_extract": "files"},
    "curate_corpus": {
        "corpus_clean": "files",
        "corpus_decontam_rejects": "files",
        "corpus_quality_rejects": "files",
    },
}


def _write_job(root: Path, connectors: dict, tables: dict) -> Path:
    """Write ``config.yaml`` + one YAML per table; return the config path.
    JSON is valid YAML, so the files are written with ``json.dumps``."""
    (root / "tables").mkdir(parents=True, exist_ok=True)
    files = []
    for target, body in tables.items():
        spec = {"target_table": target, **body}
        f = f"{target}.yaml"
        (root / "tables" / f).write_text(json.dumps(spec, indent=1))
        files.append(f)
    cfg = {"global": {"tables_folder": "tables", "table_files": files,
                      "connectors": connectors}}
    (root / "config.yaml").write_text(json.dumps(cfg, indent=1))
    return root / "config.yaml"


def write_specs(workload: str, inputs: Path, out: Path, specs: Path, cores: int) -> list[str]:
    """Write the workload's job specs under ``specs``; return the config
    paths in the order one iteration runs them."""
    src = {"base_path": str(inputs / "src")}
    dst = {"base_path": str(out)}
    derby = {"url": DERBY_URL, "ping_sql": DERBY_PING}
    if workload == "migrate_jdbc":
        extract = json.loads(json.dumps(JDBC_EXTRACT))
        extract["events_extract"]["num_partitions"] = cores
        jobs = [
            ("load", {"source_files": src, "target_jdbc": derby}, JDBC_LOAD),
            ("extract", {"source_jdbc": derby, "target_files": dst}, extract),
        ]
    elif workload == "curate_corpus":
        jobs = [("curate", {"source_files": src, "target_files": dst}, CURATE_TABLES)]
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return [str(_write_job(specs / name, conns, tables)) for name, conns, tables in jobs]


def oracle(con, workload: str, inputs: Path, meta: dict) -> dict[str, str]:
    """Register the inputs as DuckDB views on ``con``; return the oracle
    query of every target."""
    src = inputs / "src"
    for t in meta["tables"]:
        f = src / f"{t}.parquet"
        path = str(f) if f.is_file() else str(src / t / "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    if workload == "migrate_jdbc":
        return dict(MIGRATE_JDBC_ORACLE)
    truth = meta["truth"]
    queries = {}
    for target, key in (("corpus_clean", "kept"),
                        ("corpus_decontam_rejects", "decontam_rejects"),
                        ("corpus_quality_rejects", "quality_rejects")):
        ids = truth[key] or [-1]
        cols = "doc_id, text" if target == "corpus_clean" else "doc_id"
        queries[target] = (
            f"SELECT {cols} FROM docs WHERE doc_id IN "
            f"(SELECT unnest([{','.join(map(str, ids))}]))"
        )
    return queries


def expected_digests(workload: str, inputs: Path, meta: dict) -> dict:
    """The oracle's digests: ``{target: {"columns", "rows", "hash"}}``."""
    import duckdb

    from check import digest

    out = {}
    with duckdb.connect() as con:
        for target, sql in oracle(con, workload, inputs, meta).items():
            cols = [r[0] for r in con.execute(f"DESCRIBE {sql}").fetchall()]
            rows, h = digest(con, sql, cols)
            out[target] = {"columns": cols, "rows": rows, "hash": h}
    return out

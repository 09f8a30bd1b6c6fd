"""Seeded input generator for the job-level benchmark.

Pure numpy/pyarrow: nothing here starts a JVM, so generating inputs never
warms the engine before ``setup_s``/``cold_job_s`` are measured. The same
``(workload, seed, scale)`` always yields byte-identical parquet inputs;
outputs are cached under ``<cache>/<workload>-s<seed>-x<scale>-<tag>/`` and a
``meta.json`` written last marks the entry complete.

Each generator returns a ``meta`` dict: per-table row and byte counts and,
for ``curate_corpus``, the planted ground truth the output check uses.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale 1.0, kept small so that a whole run, JVM start and
# cold job included, stays within about a minute; see README.md.
MIGRATE_ROWS = 10_000
ACCOUNTS = 5_000
GROUPS = 50
CURATE_DOCS = 1_000
CURATE_WORDS_PER_DOC = 120
BENCH_ROWS = 300
CACHE_KEEP = 3

_SYLLABLES = [
    "ka", "lo", "mi", "ne", "ru", "ta", "shi", "po", "ve", "zu", "an", "el",
    "or", "is", "um", "be", "do", "fa", "gi", "ho", "ju", "qu", "ri", "sa",
]


def _write(table: pa.Table, path: Path, parts: int = 1) -> int:
    """Write ``table`` as one parquet file, or as a directory of ``parts``
    files when ``parts > 1``. Returns the bytes written."""
    if parts == 1:
        pq.write_table(table, path.with_suffix(".parquet"))
        return path.with_suffix(".parquet").stat().st_size
    path.mkdir()
    step = -(-table.num_rows // parts)
    total = 0
    for i in range(parts):
        f = path / f"part-{i:03d}.parquet"
        pq.write_table(table.slice(i * step, step), f)
        total += f.stat().st_size
    return total


def _padded(rng: np.random.Generator, words: np.ndarray) -> list[str]:
    """Surround names with 0-2 spaces per side (what ``strip`` removes)."""
    left = rng.integers(0, 3, len(words))
    right = rng.integers(0, 3, len(words))
    return [" " * a + str(w) + " " * b for w, a, b in zip(words, left, right)]


def _names(rng: np.random.Generator, n: int, syll: int = 3) -> np.ndarray:
    parts = rng.choice(_SYLLABLES, size=(n, syll))
    return np.array(["".join(p) for p in parts])


def _mixed_case(rng: np.random.Generator, words: np.ndarray) -> list[str]:
    flips = rng.random(len(words)) < 0.5
    return [w.upper() if f else w.capitalize() for w, f in zip(words, flips)]


def gen_migrate_jdbc(out: Path, rng: np.random.Generator, scale: float) -> dict:
    """An event table plus two lookup dimensions. The load job moves the
    events into the database through every declarative rule kind; the
    extract job reads them back. Column names are upper case, as an
    unquoted ``CREATE TABLE`` in Derby/Oracle yields them.

    Planted defects (so every rule does work): unknown accounts,
    malformed codes, out-of-range values and parents outside the load."""
    n = max(8, int(MIGRATE_ROWS * scale))
    n_acc = max(8, int(ACCOUNTS * scale))
    src = out / "src"
    src.mkdir(parents=True)
    acc = rng.integers(1, n_acc + 1, n)
    acc[rng.random(n) < 0.02] = n_acc + 1_000_000  # not in the dimension
    code = np.array(
        [f"{a}-{d:04d}" for a, d in zip(_names(rng, n, 1), rng.integers(0, 10_000, n))],
        dtype=object,
    )
    for i in np.nonzero(rng.random(n) < 0.5)[0]:
        code[i] = code[i].upper()  # lower-case codes fail the regex
    parent = rng.integers(1, n + 1, n).astype(object)
    parent[rng.random(n) < 0.2] = None
    tables = {
        "events": (pa.table({
            "ID": pa.array(np.arange(1, n + 1), pa.int64()),
            "NAME": _padded(rng, _names(rng, n)),
            "GRP": pa.array(rng.integers(0, GROUPS, n), pa.int32()),
            "ACCOUNT_ID": pa.array(acc, pa.int64()),
            "PARENT_ID": pa.array(parent.tolist(), pa.int64()),
            "CODE": code.tolist(),
            "VAL": np.round(rng.uniform(0.0, 1_000.0, n), 3),
        }), 4),
        "groups": (pa.table({
            "GRP_ID": pa.array(np.arange(GROUPS), pa.int32()),
            "GRP_NAME": _mixed_case(rng, _names(rng, GROUPS, 2)),
        }), 1),
        "accounts": (pa.table({
            "ACCOUNT_ID": pa.array(np.arange(1, n_acc + 1), pa.int64()),
            "TIER": rng.choice(["bronze", "silver", "gold", "platinum"], n_acc).tolist(),
        }), 1),
    }
    meta = {"tables": {}}
    for name, (t, parts) in tables.items():
        meta["tables"][name] = {"rows": t.num_rows, "bytes": _write(t, src / name, parts)}
    return meta


def _vocab(rng: np.random.Generator, size: int = 6_000) -> np.ndarray:
    words = set()
    while len(words) < size:
        k = int(rng.integers(2, 5))
        words.add("".join(rng.choice(_SYLLABLES, k)))
    return np.array(sorted(words))


def _shingles(tokens: list[str], n: int = 3) -> set[str]:
    return {" ".join(tokens[i:i + n]) for i in range(len(tokens) - n + 1)}


def _jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def gen_curate_corpus(out: Path, rng: np.random.Generator, scale: float) -> dict:
    """A document corpus with planted structure and its ground truth:

    * near-duplicate clusters (~20 % of docs): a base document plus 1-4
      copies that each replace one word, so every copy is within
      Jaccard >= 0.93 of the base (3-word shingles), far above the 0.8
      dedup threshold; unrelated documents share almost no shingles;
    * contaminated docs (~3 %): a 20-word passage copied from a
      ``heldout`` benchmark row; decoys (~2 %) copy from a ``public``
      row, which ``benchmark_where`` excludes, so they must survive;
    * low-quality docs (~5 %): long digit/symbol tokens scoring ~0.2
      against the 0.5 quality bar; normal prose scores ~0.95.

    Expected output = singletons + decoys + each cluster's minimum id,
    minus contaminated and low-quality docs."""
    n_docs = max(50, int(CURATE_DOCS * scale))
    W = CURATE_WORDS_PER_DOC
    vocab = _vocab(rng)
    zipf = 1.0 / (np.arange(len(vocab)) + 20.0)
    zipf /= zipf.sum()

    def prose(k: int) -> list[str]:
        return list(rng.choice(vocab, size=k, p=zipf))

    bench_text = [prose(30) for _ in range(BENCH_ROWS)]
    suites = np.where(np.arange(BENCH_ROWS) % 2 == 0, "heldout", "public")

    docs: list[list[str]] = []
    kind: list[str] = []
    cluster_of: list[int] = []
    n_cluster_docs = int(n_docs * 0.20)
    cid = 0
    while sum(1 for k in kind if k == "cluster") < n_cluster_docs:
        base = prose(W)
        size = int(rng.integers(2, 6))
        for j in range(size):
            d = list(base)
            if j:
                pos = int(rng.integers(0, W))
                while d[pos] == base[pos]:
                    d[pos] = str(rng.choice(vocab))
            docs.append(d)
            kind.append("cluster")
            cluster_of.append(cid)
        cid += 1
    heldout = np.nonzero(suites == "heldout")[0]
    public = np.nonzero(suites == "public")[0]
    for label, frac, pool in (("contaminated", 0.03, heldout), ("decoy", 0.02, public)):
        for _ in range(int(n_docs * frac)):
            b = bench_text[int(rng.choice(pool))]
            start = int(rng.integers(0, 30 - 20 + 1))
            d = prose(W - 20)
            at = int(rng.integers(0, len(d) + 1))
            docs.append(d[:at] + b[start:start + 20] + d[at:])
            kind.append(label)
            cluster_of.append(-1)
    for _ in range(int(n_docs * 0.05)):
        toks = [
            f"{int(rng.integers(10**5, 10**6))}#%&{int(rng.integers(10**4, 10**5))}"
            for _ in range(40)
        ]
        docs.append(toks)
        kind.append("lowq")
        cluster_of.append(-1)
    while len(docs) < n_docs:
        docs.append(prose(W))
        kind.append("single")
        cluster_of.append(-1)

    # shuffle ids so cluster members, and their minimum, land anywhere
    ids = rng.permutation(len(docs)) + 1
    min_jaccard = 1.0
    members: dict[int, list[int]] = {}
    for i, c in enumerate(cluster_of):
        if c >= 0:
            members.setdefault(c, []).append(i)
    for idx in members.values():
        for j in idx[1:]:
            min_jaccard = min(min_jaccard, _jaccard(docs[idx[0]], docs[j]))
    if min_jaccard < 0.93:
        raise RuntimeError(f"planted cluster Jaccard {min_jaccard:.3f} too close to 0.8")

    losers = {
        int(ids[j])
        for idx in members.values()
        for j in idx
        if ids[j] != min(ids[k] for k in idx)
    }
    contaminated = {int(ids[i]) for i, k in enumerate(kind) if k == "contaminated"}
    lowq = {int(ids[i]) for i, k in enumerate(kind) if k == "lowq"}
    kept = sorted(set(int(x) for x in ids) - losers - contaminated - lowq)

    text = [" ".join(d) + "." for d in docs]
    src = out / "src"
    src.mkdir(parents=True)
    t = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": text})
    t = t.take(pa.array(np.argsort(ids)))
    b = pa.table({
        "bench_id": pa.array(np.arange(1, BENCH_ROWS + 1), pa.int64()),
        "suite": suites.tolist(),
        "text": [" ".join(x) for x in bench_text],
    })
    meta = {"tables": {}}
    for name, tbl, parts in (("docs", t, 4), ("bench", b, 1)):
        meta["tables"][name] = {"rows": tbl.num_rows, "bytes": _write(tbl, src / name, parts)}
    meta["truth"] = {
        "kept": kept,
        "decontam_rejects": sorted(contaminated),
        "quality_rejects": sorted(lowq),
        "clusters": len(members),
        "cluster_docs": sum(len(v) for v in members.values()),
        "min_cluster_jaccard": round(min_jaccard, 4),
    }
    return meta


GENERATORS = {
    "migrate_jdbc": gen_migrate_jdbc,
    "curate_corpus": gen_curate_corpus,
}


def ensure_inputs(cache: Path, workload: str, seed: int, scale: float = 1.0) -> tuple[Path, dict]:
    """Return ``(dir, meta)`` for the workload's inputs, generating them on
    a cache miss. Keeps the ``CACHE_KEEP`` most recently used entries per
    workload so repeated runs do not fill the disk. The key includes a
    digest of this file, so a changed generator never reads stale inputs."""
    tag = hashlib.sha1(Path(__file__).read_bytes()).hexdigest()[:8]
    d = cache / f"{workload}-s{seed}-x{scale:g}-{tag}"
    meta_file = d / "meta.json"
    if meta_file.is_file():
        os.utime(meta_file)
        return d, json.loads(meta_file.read_text())
    if d.exists():
        shutil.rmtree(d)
    d.mkdir(parents=True)
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    meta = GENERATORS[workload](d, rng, scale)
    meta.update(workload=workload, seed=seed, scale=scale)
    meta["rows"] = sum(t["rows"] for t in meta["tables"].values())
    meta["bytes"] = sum(t["bytes"] for t in meta["tables"].values())
    meta_file.write_text(json.dumps(meta))
    entries = sorted(
        (p for p in cache.glob(f"{workload}-s*") if (p / "meta.json").is_file()),
        key=lambda p: (p / "meta.json").stat().st_mtime,
        reverse=True,
    )
    for old in entries[CACHE_KEEP:]:
        shutil.rmtree(old, ignore_errors=True)
    return d, meta

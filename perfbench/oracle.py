"""DuckDB oracle answers for the query workload.

Each catalog query with a DuckDB twin (``catalog.ORACLES``) is answered
by DuckDB over the same parquet files the engine reads, and both sides
are normalised by ``tools/oracle_check.py``'s ``_normalize`` (imported,
not copied): columns sorted by name, rows sorted, every cell printed at
full precision.

DuckDB needs about 15 s for the iterative gates, so answers are
cached per checkout under ``perfbench/.cache``. The cache key covers the
DuckDB version, each query's SQL and the bytes of every data file, so a
changed oracle or input recomputes it.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
from pathlib import Path


def _digest(paths: list[Path], sqls: dict[str, str]) -> str:
    import duckdb

    h = hashlib.sha256(duckdb.__version__.encode())
    for p in sorted(paths):
        h.update(p.name.encode())
        h.update(hashlib.sha256(p.read_bytes()).digest())
    for name in sorted(sqls):
        h.update(name.encode())
        h.update(sqls[name].encode())
    return h.hexdigest()[:24]


def answers(data_dir: Path, cache_dir: Path, tmp_dir: Path,
            sqls: dict[str, str]) -> dict[str, tuple]:
    """``{query: (sorted_cols, sorted_rows)}`` for every query in ``sqls``.

    A missing cache entry is computed in a child process, so DuckDB's
    memory and threads never mix with the measured process."""
    files = sorted(data_dir.glob("*.parquet"))
    cache = cache_dir / f"oracle-{_digest(files, sqls)}.json"
    if not cache.is_file():
        request = tmp_dir / "oracle-request.json"
        request.write_text(json.dumps({
            "files": [str(f) for f in files], "cache": str(cache),
            "tmp_dir": str(tmp_dir), "sqls": sqls,
        }))
        subprocess.run([sys.executable, __file__, str(request)], check=True, timeout=900)
    raw = json.loads(cache.read_text())
    return {n: (v[0], [tuple(r) for r in v[1]]) for n, v in raw.items()}


def _compute(request: dict) -> None:
    import duckdb
    from tools.oracle_check import _normalize

    con = duckdb.connect(config={"temp_directory": request["tmp_dir"]})
    try:
        for f in map(Path, request["files"]):
            con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
        out = {}
        for name, sql in request["sqls"].items():
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[name] = _normalize(cols, cur.fetchall())
    finally:
        con.close()
    cache = Path(request["cache"])
    cache.parent.mkdir(parents=True, exist_ok=True)
    tmp = cache.with_suffix(f".{os.getpid()}.tmp")
    tmp.write_text(json.dumps({n: [c, r] for n, (c, r) in out.items()}))
    os.replace(tmp, cache)


def check(name: str, cols: list[str], rows: list[tuple], expected: tuple) -> str | None:
    """None when the engine's result equals the oracle's, else a reason."""
    from tools.oracle_check import _normalize

    got_cols, got_rows = _normalize(cols, rows)
    want_cols, want_rows = expected
    if got_cols != list(want_cols):
        return f"{name}: columns {got_cols} != {list(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"{name}: {len(got_rows)} rows != {len(want_rows)}"
    if got_rows != list(want_rows):
        diff = next(a for a, b in zip(got_rows, want_rows) if a != b)
        return f"{name}: values differ, first {diff}"
    return None


if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    _compute(json.loads(Path(sys.argv[1]).read_text()))

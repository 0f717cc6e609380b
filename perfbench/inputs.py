"""Seeded inputs, DuckDB oracle fingerprints and output checks.

Inputs come from ``tools/datagen_sf.generate`` with that module's
``SEED`` set to the benchmark's seed; the tool itself is not edited.
Generated tables are cached per (sf, seed) under the checkout's
``.perfbench/data`` directory, so only the first run of a seed pays for
generation, and generation time goes into no metric.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def generate(work: str, sf: float, seed: int) -> str:
    """Return the directory holding the seeded tables, generating it
    on first use. Writes into a temporary sibling and renames, so an
    interrupted generation never leaves a partial cache entry."""
    out = os.path.join(work, "data", f"sf{sf:g}-seed{seed}")
    if os.path.isdir(out):
        return out
    import datagen_sf

    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    datagen_sf.SEED = seed
    with contextlib.redirect_stdout(io.StringIO()):
        datagen_sf.generate(sf, tmp)
    os.rename(tmp, out)
    return out


def table_sizes(data_dir: str) -> dict[str, tuple[int, int]]:
    """{table: (rows, bytes)} read from the parquet footers."""
    import pyarrow.parquet as pq

    out = {}
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        out[t] = (pq.ParquetFile(path).metadata.num_rows, os.path.getsize(path))
    return out


def duck(data_dir: str, tmp_dir: str):
    """A DuckDB connection with one view per generated table, its
    spill directory inside the run's work directory."""
    import duckdb

    os.makedirs(tmp_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"PRAGMA temp_directory='{tmp_dir}'")
    con.execute("PRAGMA memory_limit='1GB'")
    con.execute("PRAGMA threads=2")
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
        )
    return con


def fingerprint(cols: list[str], rows: list) -> dict:
    """Order-insensitive fingerprint: lower-cased sorted column names,
    row count and ``tools/check_oracle.table_fingerprint``'s hash."""
    from check_oracle import table_fingerprint

    cols_l = [c.lower() for c in cols]
    h, _ = table_fingerprint(cols_l, [tuple(r) for r in rows])
    return {"cols": sorted(cols_l), "rows": len(rows), "hash": h}


def oracle_fingerprints(con, sqls: dict[str, str]) -> dict[str, dict]:
    """Run each DuckDB twin and fingerprint its result."""
    out = {}
    for name, sql in sqls.items():
        rel = con.sql(sql)
        out[name] = fingerprint(rel.columns, rel.fetchall())
    return out


def mismatch(expected: dict, got: dict) -> str | None:
    """Why ``got`` differs from ``expected``, or None if it matches."""
    for key in ("cols", "rows", "hash"):
        if expected[key] != got[key]:
            return f"{key}: expected {expected[key]!r}, got {got[key]!r}"
    return None


class Tally:
    """Operations attempted and failed. An operation fails when it
    raises or when its output fails its check; either way the run goes
    on and the failure is counted in ``failed_frac``."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, name: str, problem: str | None = None) -> None:
        self.attempted += 1
        if problem is not None:
            self.failed += 1
            self.problems.append(f"{name}: {problem}")

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

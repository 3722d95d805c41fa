"""Query output checks against the registry's DuckDB oracles.

Both sides are reduced to the same digest: row count, sorted column names
and the canonicalized multiset of values (``tests.oracle_harness._canon``:
floats to 1e-9, order-insensitive). The DuckDB side is slow and its inputs
are read-only, so its digest is cached on disk, keyed by the oracle SQL
plus the content hash of every fixture file.
"""

from __future__ import annotations

import hashlib
import json
import os

from tests.oracle_harness import _canon, duck_connection

from data_pipeline_eng_project_1_spark.sources.catalog import TABLES


def digest(rows, cols) -> dict:
    h = hashlib.sha256()
    for row in _canon([tuple(r) for r in rows], list(cols)):
        h.update(repr(row).encode())
        h.update(b"\n")
    return {"rows": len(rows), "cols": sorted(cols), "sha256": h.hexdigest()}


def fixture_identity(sf_dir: str) -> str:
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(sf_dir, f"{name}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


class OracleCache:
    """DuckDB oracle digests for one fixture directory, cached in a JSON
    file shared by runs in the same checkout."""

    def __init__(self, sf_dir: str, cache_path: str):
        self.sf_dir = sf_dir
        self.cache_path = cache_path
        self.identity = fixture_identity(sf_dir)
        self._con = None
        try:
            with open(cache_path) as f:
                self._cache = json.load(f)
        except FileNotFoundError:
            self._cache = {}

    def expected(self, oracle_sql: str) -> dict:
        key = hashlib.sha256(
            (oracle_sql + "\0" + self.identity).encode()).hexdigest()
        if key not in self._cache:
            if self._con is None:
                self._con = duck_connection(self.sf_dir)
            rows = self._con.execute(oracle_sql).fetchall()
            cols = [d[0] for d in self._con.description]
            self._cache[key] = digest(rows, cols)
        return self._cache[key]

    def save(self) -> None:
        tmp = f"{self.cache_path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(self._cache, f)
        os.replace(tmp, self.cache_path)
        if self._con is not None:
            self._con.close()
            self._con = None

"""Output checks against the program's DuckDB oracles.

A result is reduced to a digest after the canonicalisation the
repository's oracle suite uses (``tests/oracle_compare.py``: columns
sorted by name, dtypes normalised, rows sorted by every column). The
oracle side is computed once and cached, keyed by the checksum of the
fixture files and the oracle SQL text.

The fixture is the program's own sf0.1 table set (the one its oracle
suite and ``bench.py`` read), committed under ``fixture/sf0.1`` so the
benchmark reads nothing outside its checkout.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import importlib.util
import json
import math
import os

import numpy as np
import pandas as pd

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture", "sf0.1")
TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def fixture_checksum() -> str:
    """SHA-256 over the fixture files, in ``TABLE_NAMES`` order."""
    h = hashlib.sha256()
    for name in TABLE_NAMES:
        with open(os.path.join(FIXTURE_DIR, f"{name}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _load_canon(root: str):
    path = os.path.join(root, "tests", "oracle_compare.py")
    spec = importlib.util.spec_from_file_location("_bench_oracle_compare", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._canon


def _norm(v):
    """One cell as a JSON-stable value. Numbers compare by value, as the
    oracle suite's ``==`` does: an integral float and an int agree."""
    if v is None or v is pd.NA or v is pd.NaT:
        return None
    if isinstance(v, (bool, np.bool_)):
        return ["b", bool(v)]
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return None
        if f.is_integer() and abs(f) < 2**53:
            return int(f)
        return repr(f)
    if isinstance(v, (pd.Timestamp, dt.datetime, dt.date)):
        return ["t", v.isoformat()]
    if isinstance(v, str):
        return v
    return ["r", repr(v)]


class Digester:
    def __init__(self, root: str) -> None:
        self._canon = _load_canon(root)

    def digest(self, frame: pd.DataFrame) -> str:
        canon = self._canon(frame)
        body = {
            "columns": list(canon.columns),
            "rows": len(canon),
            "values": [[_norm(v) for v in canon[c].tolist()] for c in canon.columns],
        }
        return hashlib.sha256(json.dumps(body, separators=(",", ":")).encode()).hexdigest()


class OracleCache:
    """Oracle digests on disk, one JSON object per fixture checksum."""

    def __init__(self, cache_dir: str, digester: Digester) -> None:
        self.checksum = fixture_checksum()
        self.path = os.path.join(cache_dir, f"oracle-{self.checksum[:16]}.json")
        self.digester = digester
        self._con = None
        try:
            with open(self.path) as f:
                self.entries: dict[str, str] = json.load(f)
        except (OSError, ValueError):
            self.entries = {}

    def _key(self, name: str, sql: str) -> str:
        return name + ":" + hashlib.sha256((self.checksum + sql).encode()).hexdigest()[:16]

    def expected(self, name: str, sql: str) -> str:
        key = self._key(name, sql)
        if key not in self.entries:
            self.entries[key] = self.digester.digest(self._connection().execute(sql).fetchdf())
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.entries, f, indent=0, sort_keys=True)
            os.replace(tmp, self.path)
        return self.entries[key]

    def _connection(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in TABLE_NAMES:
                p = os.path.join(FIXTURE_DIR, f"{t}.parquet")
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return self._con

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None

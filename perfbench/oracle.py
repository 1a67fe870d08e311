"""Correctness references: DuckDB oracle hashes and recall@5.

A result is compared as an order-insensitive hash of its canonical rows
(columns sorted by name, every cell rendered with its type), plus its row
count and column names. An ANN result is compared by recall@5 against the
exact kNN oracle's neighbours. Both are cached on disk keyed by op, the
hash of its oracle SQL and the fingerprint of the input tables, because
some oracles take far longer than the op itself.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from datetime import date, datetime
from decimal import Decimal

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return "f:0.0" if v == 0.0 else f"f:{v!r}"
    if isinstance(v, Decimal):
        return "d:" + format(v.normalize(), "f")
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, datetime):
        return "t:" + v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return "D:" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={_cell(v[k])}" for k in sorted(v)) + "}"
    return "s:" + str(v)


def result_hash(cols: list[str], rows: list[tuple]) -> dict:
    """Row count, sorted column names and an order-insensitive value hash."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(rows), "cols": sorted(cols), "hash": h.hexdigest()}


def data_fingerprint(data_dir: str) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


class OracleCache:
    """DuckDB oracle results for one input set, computed once and kept on disk."""

    def __init__(self, cache_dir: str, data_dir: str):
        self.cache_dir = cache_dir
        self.data_dir = data_dir
        self.fingerprint = data_fingerprint(data_dir)
        self._con = None
        os.makedirs(cache_dir, exist_ok=True)

    def _connection(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return self._con

    def expected(self, op: str, sql: str) -> dict:
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = os.path.join(self.cache_dir, f"{op}-{key}-{self.fingerprint}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        cur = self._connection().execute(sql)
        cols = [d[0] for d in cur.description]
        out = result_hash(cols, cur.fetchall())
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, path)
        return out

    def top5(self, op: str, sql: str) -> dict[int, set[int]]:
        """Neighbour set per query of an exact kNN oracle, the reference an
        ANN result's recall is measured against."""
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = os.path.join(self.cache_dir, f"{op}-{key}-{self.fingerprint}-top5.json")
        if not os.path.exists(path):
            cur = self._connection().execute(sql)
            cols = [d[0] for d in cur.description]
            qi, ni = cols.index("vec_id"), cols.index("neighbor_id")
            found = top5([(r[qi], r[ni]) for r in cur.fetchall()])
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                json.dump({str(q): sorted(n) for q, n in found.items()}, f)
            os.replace(tmp, path)
        with open(path) as f:
            return {int(q): set(n) for q, n in json.load(f).items()}

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def top5(rows: list[tuple]) -> dict[int, set[int]]:
    """``(vec_id, neighbor_id, ...)`` rows -> neighbour set per query."""
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r[0], set()).add(r[1])
    return out


def recall_at5(exact: dict[int, set[int]], ann: dict[int, set[int]]) -> float:
    """Share of the exact top-5 the ANN result recovers, over the queries
    the ANN result answers (a sampled probe answers only some)."""
    hits = total = 0
    for q, found in ann.items():
        truth = exact.get(q, set())
        hits += len(truth & found)
        total += 5
    return hits / total if total else 0.0

"""DuckDB oracle results, computed once per dataset and checked per run.

Each query's oracle SQL runs on DuckDB over the same parquet files the
Spark side reads. The canonical result (columns, type kinds, rows
normalized exactly as tests/oracle_utils does) is cached next to the
data, keyed by the SQL text, so a run pays only the comparison. The
comparison has `tests/oracle_utils.assert_parity` semantics: scalar
output columns only, same column names, same type kinds, same row
count, same canonical values; an empty result passes only where
`EMPTY_OK` allows it at this scale, and then its non-vacuity probe runs.
"""

from __future__ import annotations

import hashlib
import json
import os

from tests.oracle_utils import EMPTY_OK, _kind, normalize

from job_market_research_spark.io import TABLES


def _connect(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _cache_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, "oracle", f"{name}.json")


def _sha(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()


def build(sf_dir: str, oracles: dict[str, str]) -> None:
    """Compute and cache every oracle result whose SQL is not cached yet."""
    todo = {}
    for name, sql in oracles.items():
        path = _cache_path(sf_dir, name)
        if os.path.exists(path):
            with open(path) as f:
                if json.load(f)["sql_sha"] == _sha(sql):
                    continue
        todo[name] = sql
    if not todo:
        return
    os.makedirs(os.path.join(sf_dir, "oracle"), exist_ok=True)
    con = _connect(sf_dir)
    try:
        for name, sql in todo.items():
            rel = con.sql(sql)
            cols = list(rel.columns)
            kinds = {c: _kind(str(t)) for c, t in zip(cols, rel.types)}
            rows = normalize(cols, rel.fetchall())
            tmp = _cache_path(sf_dir, name) + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"sql_sha": _sha(sql), "columns": cols, "kinds": kinds, "rows": rows}, f)
            os.replace(tmp, _cache_path(sf_dir, name))
    finally:
        con.close()


def load(sf_dir: str, name: str) -> dict:
    with open(_cache_path(sf_dir, name)) as f:
        return json.load(f)


def mismatch(spark, df, rows: list[tuple], expected: dict, name: str, sf_dir: str) -> str | None:
    """None when Spark's collected `rows` of `df` match the cached oracle
    result; otherwise the reason they do not."""
    fields = df.schema.fields
    complex_cols = [f.name for f in fields if f.dataType.typeName() in ("array", "map", "struct")]
    if complex_cols:
        return f"complex-typed output columns {complex_cols}"
    cols = [f.name for f in fields]
    if sorted(cols) != sorted(expected["columns"]):
        return f"columns spark={sorted(cols)} oracle={sorted(expected['columns'])}"
    kinds = {f.name: _kind(f.dataType.simpleString()) for f in fields}
    bad = {c: (kinds[c], k) for c, k in expected["kinds"].items() if kinds[c] != k}
    if bad:
        return f"type kinds (spark, oracle) differ: {bad}"
    if not rows:
        key = (name, os.path.basename(os.path.normpath(sf_dir)))
        if key not in EMPTY_OK:
            return "empty result: the comparison would be vacuous"
        con = _connect(sf_dir)
        try:
            EMPTY_OK[key](spark, con, sf_dir)
        except AssertionError as e:
            return f"non-vacuity probe failed: {e}"
        finally:
            con.close()
    if len(rows) != len(expected["rows"]):
        return f"row count spark={len(rows)} oracle={len(expected['rows'])}"
    got = [list(r) for r in normalize(cols, rows)]
    if got != expected["rows"]:
        diffs = [(a, b) for a, b in zip(got, expected["rows"]) if a != b][:3]
        return f"value mismatch; first diffs: {diffs}"
    return None

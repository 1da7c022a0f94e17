"""Output checks of the benchmark, run outside the timed loop.

Catalog queries are compared with their DuckDB oracle SQL
(``all_oracle_sql()``) over the same generated tables, order-insensitively
and by column name, as ``tests/conftest.py::canonical_rows`` does. The
``run_all`` artifacts are read back from disk and compared with the
``pedri_run_all_*`` oracle SQL, whose fixture path is swapped for the
season corpus. Every iteration's artifacts must hash the same.
"""

from __future__ import annotations

import csv
import hashlib
import json
import math
import os
import threading

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canonical_rows(columns, rows):
    """Sort columns by name, canonicalize values, sort rows (the comparison
    of tests/conftest.py::canonical_rows)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def canon(v):
        if v is None:
            return "\x00NULL"
        if isinstance(v, bool):
            return str(int(v))
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return repr(round(v, 9))
        return str(v)

    out = [tuple(canon(r[i]) for i in order) for r in rows]
    out.sort()
    return [columns[i] for i in order], out


def compare(cols, rows, ocols, orows) -> str | None:
    """None when the result matches the oracle, else a short reason."""
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"{len(rows)} rows != oracle {len(orows)}"
    _, a = canonical_rows(list(cols), rows)
    _, b = canonical_rows(list(ocols), orows)
    bad = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
    if bad:
        return f"{len(bad)} rows differ; first: {a[bad[0]]} != {b[bad[0]]}"
    return None


def _oracle(con, sql: str, timeout_s: float):
    """Run oracle SQL, interrupting it after ``timeout_s``."""
    timer = threading.Timer(timeout_s, con.interrupt)
    timer.start()
    try:
        res = con.sql(sql)
        return list(res.columns), [tuple(r) for r in res.fetchall()]
    finally:
        timer.cancel()


def check_catalog(sf_dir: str, results: dict, oracle_sql: dict, timeout_s: float = 60.0) -> dict[str, str]:
    """Compare collected catalog results {name: (cols, rows)} with their
    oracles; returns {name: reason} for every mismatch."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        bad = {}
        for name, (cols, rows) in results.items():
            try:
                ocols, orows = _oracle(con, oracle_sql[name], timeout_s)
            except (duckdb.Error, RuntimeError) as exc:
                bad[name] = f"oracle failed: {type(exc).__name__}: {exc}"[:300]
                continue
            reason = compare(cols, rows, ocols, orows)
            if reason:
                bad[name] = reason
        return bad
    finally:
        con.close()


# ---- run_all artifacts ----------------------------------------------------

# artifact key in run_all's returned map -> oracle query that pins it
ARTIFACT_ORACLES = {
    "basic_csv": "pedri_run_all_basic_csv",
    "summary_csv": "pedri_run_all_summary_csv",
    "match_ids_txt": "pedri_run_all_match_ids",
    "profile_json": "pedri_run_all_profile_json",
}


def _typed(v: str):
    """A CSV cell as Spark wrote it: empty is NULL, integers carry no
    point, doubles always do."""
    if v == "":
        return None
    for cast in (int, float):
        try:
            return cast(v)
        except ValueError:
            pass
    return v


def _read_artifact(kind: str, path: str):
    """(columns, rows) of an artifact file, with ``row_idx`` holding the
    physical row order, as the oracle queries expect."""
    if kind.endswith("_csv"):
        with open(path, newline="") as f:
            reader = csv.reader(f)
            header = next(reader)
            rows = [tuple(_typed(v) for v in r) for r in reader]
    elif kind == "match_ids_txt":
        with open(path) as f:
            header, rows = ["value"], [(line.rstrip("\n"),) for line in f]
    else:
        with open(path) as f:
            recs = json.load(f)
        header = ["match_id", "team_name", "minutes", "position"]
        rows = [tuple(r.get(c) for c in header) for r in recs]
    if kind == "summary_csv":
        return header, rows
    return ["row_idx"] + header, [(i,) + r for i, r in enumerate(rows)]


def check_artifacts(artifacts: dict, corpus: str, fixture_dir: str, oracle_sql: dict,
                    timeout_s: float = 90.0) -> dict[str, str]:
    """Compare run_all's artifact files with the oracle SQL over the corpus."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    bad = {}
    try:
        for kind, qname in ARTIFACT_ORACLES.items():
            sql = oracle_sql[qname]
            if fixture_dir not in sql:
                bad[kind] = f"oracle {qname} does not read {fixture_dir}"
                continue
            try:
                ocols, orows = _oracle(con, sql.replace(fixture_dir, corpus), timeout_s)
            except (duckdb.Error, RuntimeError) as exc:
                bad[kind] = f"oracle failed: {type(exc).__name__}: {exc}"[:300]
                continue
            cols, rows = _read_artifact(kind, artifacts[kind])
            reason = compare(cols, rows, ocols, orows)
            if reason:
                bad[kind] = reason
        return bad
    finally:
        con.close()


def digests(artifacts: dict) -> dict[str, str]:
    """sha256 of every artifact file, keyed by artifact name."""
    out = {}
    for name, path in sorted(artifacts.items()):
        with open(path, "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out

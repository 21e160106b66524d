"""Output checks.  They run outside the timed regions, and every op
execution is checked, so a wrong answer is counted as a failure."""

from __future__ import annotations

import glob
import math
import os

import pyarrow.parquet as pq


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def canon_rows(rows, cols) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name and rows as a sorted multiset — the
    exact-compare rule of the catalog's oracle-parity tests."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return [cols[i] for i in order], sorted(out, key=repr)


def compare(got, want, what: str) -> str | None:
    """None when ``got`` equals ``want`` (both ``(cols, rows)`` as given
    by ``canon_rows``), else a one-line reason."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"{what}: columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{what}: {len(gr)} rows != {len(wr)}"
    if gr != wr:
        bad = next(i for i, (a, b) in enumerate(zip(gr, wr)) if a != b)
        return f"{what}: row {bad} differs: {gr[bad]!r} != {wr[bad]!r}"
    return None


class Oracle:
    """DuckDB over the same parquet files the Spark ops read (one
    directory of part files per table)."""

    def __init__(self, data_dir: str):
        import duckdb

        from fotmobdatapipeline_spark.sources.registry import TABLES

        self._con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet", "*.parquet")
            self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def canon(self, sql: str):
        res = self._con.execute(sql)
        cols = [d[0] for d in res.description]
        return canon_rows(res.fetchall(), cols)

    def close(self) -> None:
        self._con.close()


def _parquet_files(path: str) -> list[str]:
    # Datasets are directories named <table>.parquet; keep only files.
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return [f for f in files if os.path.isfile(f)]


def parquet_rows(path: str) -> int:
    return sum(pq.read_metadata(f).num_rows for f in _parquet_files(path))


def tree_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) of the parquet files under ``path``."""
    files = _parquet_files(path)
    return len(files), sum(os.path.getsize(f) for f in files)


def check_shot_load(out_dir: str, leaderboard_rows, expected: dict) -> str | None:
    """Fact rows = shots, looker rows = fact rows, and the top-10
    leaderboard equal to the generator's pure-Python answer."""
    fact = parquet_rows(os.path.join(out_dir, "fact_table"))
    if fact != expected["fact_rows"]:
        return f"shot_load: fact_table {fact} rows != {expected['fact_rows']} shots"
    looker = parquet_rows(os.path.join(out_dir, "looker_data"))
    if looker != expected["looker_rows"]:
        return f"shot_load: looker_data {looker} rows != {expected['looker_rows']}"
    got = [
        (r["player_name"], r["total_xg"], r["total_xgot"], r["shots"], r["sga"])
        for r in leaderboard_rows
    ]
    want = [tuple(x) for x in expected["leaderboard"]]
    if got != want:
        return f"shot_load: leaderboard {got[:2]}... != {want[:2]}..."
    return None


def check_star_load(out_dir: str, lineitem_rows: int) -> str | None:
    """Row conservation: lineitem -> sales_fact -> sales_reporting."""
    fact = parquet_rows(os.path.join(out_dir, "sales_fact"))
    rep = parquet_rows(os.path.join(out_dir, "sales_reporting"))
    if not lineitem_rows == fact == rep:
        return f"star_load: lineitem {lineitem_rows} / sales_fact {fact} / sales_reporting {rep}"
    return None

"""Output checks that do not trust the code under test.

Sink checks read the written Parquet files with pyarrow, never through
Spark or the package; query checks compare each registry result with its
DuckDB oracle over the same input files.
"""

from __future__ import annotations

import glob
import math
import os

import numpy as np
import pyarrow.parquet as pq


def _data_files(root: str) -> list[str]:
    return [
        p
        for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        if not os.path.basename(p).startswith((".", "_"))
    ]


def topic_files(out_dir: str, topic: str) -> list[str]:
    """Data files of a topic table and its schema-version siblings
    (`<topic>_v<fingerprint>`): together they are what a reader sees."""
    roots = [os.path.join(out_dir, topic)] + sorted(glob.glob(os.path.join(out_dir, f"{topic}_v*")))
    return [f for r in roots for f in _data_files(r)]


def sink_keys(files: list[str]) -> np.ndarray:
    """(partition, offset) key of every row, packed into one int64
    (partition in the top bits)."""
    parts = []
    for f in files:
        t = pq.read_table(f, columns=["kafka_partition", "kafka_offset"])
        parts.append(
            t["kafka_partition"].to_numpy().astype(np.int64) << 48
            | t["kafka_offset"].to_numpy().astype(np.int64)
        )
    return np.concatenate(parts) if parts else np.empty(0, np.int64)


def check_topic(out_dir: str, topic: str, expected: np.ndarray) -> list[str]:
    """The topic's keys in the sink must be exactly the `expected` keys
    (sorted, distinct), each present once. Returns the problems found."""
    got = sink_keys(topic_files(out_dir, topic))
    uniq, counts = np.unique(got, return_counts=True)
    problems = []
    if (counts > 1).any():
        problems.append(f"{topic}: {int((counts - 1).sum())} duplicate rows")
    missing = np.setdiff1d(expected, uniq, assume_unique=True).size
    extra = np.setdiff1d(uniq, expected, assume_unique=True).size
    if missing or extra:
        problems.append(f"{topic}: {missing} keys missing, {extra} unexpected")
    return problems


def files_size(files: list[str]) -> tuple[int, int]:
    """(on-disk bytes, rows) of Parquet data files."""
    return (
        sum(os.path.getsize(f) for f in files),
        sum(pq.ParquetFile(f).metadata.num_rows for f in files),
    )


# -- registry queries against DuckDB ------------------------------------------
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duck_connection(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "0" if v == 0 else f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def _canonical(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def matches_oracle(df, con, sql: str) -> str | None:
    """None when the Spark result equals the oracle's as a multiset of
    rows (columns matched by name, floats to 9 significant digits);
    otherwise a short description of the first difference."""
    s_cols, s_rows = _canonical(df.columns, [tuple(r) for r in df.collect()])
    res = con.execute(sql)
    d_cols, d_rows = _canonical([d[0] for d in res.description], res.fetchall())
    if s_cols != d_cols:
        return f"columns {s_cols} != {d_cols}"
    if s_rows != d_rows:
        diff = next(((a, b) for a, b in zip(s_rows, d_rows) if a != b), None)
        return f"rows {len(s_rows)} vs {len(d_rows)}, first diff {diff}"
    return None

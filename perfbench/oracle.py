"""Order-insensitive result hashing and the DuckDB oracle.

Results from Spark and from DuckDB are both reduced to a sorted list
of canonical string tuples (integers and floats stay distinguishable,
midnight timestamps compare equal to dates) and hashed, the rule the
repository's oracle check applies. All of this runs outside the timed
region.
"""

from __future__ import annotations

import hashlib
import os
import re

import numpy as np
import pandas as pd


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, (pd.Timestamp, np.datetime64)) or (
        hasattr(v, "isoformat") and not isinstance(v, str)
    ):
        ts = pd.Timestamp(v)
        if ts is pd.NaT:
            return "NULL"
        if ts.tzinfo is None and ts == ts.normalize():
            return ts.strftime("%Y-%m-%d")
        return ts.isoformat(sep=" ")
    if isinstance(v, (float, np.floating)):
        return "NaN" if v != v else f"{float(v):.6f}"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if pd.isna(v):
        return "NULL"
    return str(v)


def result_hash(df: pd.DataFrame) -> str:
    """Row count, sorted column names and values, hashed."""
    cols = sorted(df.columns)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in df[cols].itertuples(index=False)
    )
    h = hashlib.sha256(f"{len(rows)}|{','.join(cols)}".encode())
    for row in rows:
        h.update(row.encode())
        h.update(b"\x1e")
    return h.hexdigest()


def _connect(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    for t in tables:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def duckdb_answers(data_dir: str, tables, sql_by_name: dict[str, str]) -> dict[str, pd.DataFrame]:
    """Run each oracle query in DuckDB over the parquet in ``data_dir``."""
    con = _connect(data_dir, tables)
    try:
        return {name: con.execute(sql).fetchdf() for name, sql in sql_by_name.items()}
    finally:
        con.close()


def banded_pairs_answer(data_dir: str, sql: str) -> pd.DataFrame:
    """The answer of the banded near-duplicate query (s06).

    DuckDB runs the query's own ``buckets`` step (the LSH bucket of
    each vector in each table); the candidate join and the rounded
    cosine filter that follow it in the SQL are done here in numpy.
    On 2,000 vectors there are about 0.5M candidate pairs, and DuckDB's
    list lambdas over them take minutes and several GB.
    """
    head, sep, tail = sql.partition("),\ncand AS (")
    threshold = re.search(r"WHERE cosine >= ([0-9.]+)\s*$", tail)
    if not sep or not threshold:
        raise RuntimeError("the banded query no longer ends in `cand` and a cosine filter")
    con = _connect(data_dir, ("embeddings",))
    try:
        buckets = con.execute(head + ")\nSELECT vec_id, t, bucket FROM buckets").fetchdf()
        emb = con.execute("SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").fetchdf()
    finally:
        con.close()
    pairs = buckets.merge(buckets, on=["t", "bucket"])
    pairs = pairs[pairs.vec_id_x < pairs.vec_id_y][["vec_id_x", "vec_id_y"]].drop_duplicates()
    row = pd.Series(np.arange(len(emb)), index=emb.vec_id)
    vecs = np.array(emb.embedding.tolist(), dtype=np.float32).astype(np.float64)
    a = vecs[row[pairs.vec_id_x].to_numpy()]
    b = vecs[row[pairs.vec_id_y].to_numpy()]
    cosine = np.round(
        np.einsum("ij,ij->i", a, b)
        / (np.sqrt(np.einsum("ij,ij->i", a, a)) * np.sqrt(np.einsum("ij,ij->i", b, b))),
        4,
    )
    out = pd.DataFrame({
        "vec_a": pairs.vec_id_x.to_numpy(), "vec_b": pairs.vec_id_y.to_numpy(), "cosine": cosine,
    })
    return out[out.cosine >= float(threshold.group(1))].reset_index(drop=True)

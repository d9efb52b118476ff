"""Independent references the benchmark checks every timed output
against, after timing stops.

* Registry queries: each query's DuckDB oracle over the same generated
  tables, compared with ``tools/compare.compare_frames``.
* BM25 requests: the engine's ``_BM25_ORACLE`` with its ``consulta``
  CTE replaced by the request's terms, over the indexed documents.
* Dense requests: numpy probe + exact integer rerank over the stored
  centroid and posting tables.
* Dedup state: a partition of doc_ids compared with a fresh build.
"""

from __future__ import annotations

import os
import re

import duckdb
import numpy as np
import pandas as pd

from etl_python_airflow_bigquery_spark.tables import TABLES
from tools.compare import compare_frames  # noqa: F401 — the registry-row check


def _scan(path: str) -> str:
    if os.path.isdir(path):
        return f"read_parquet('{path}/*.parquet')"
    return f"read_parquet('{path}')"


def duckdb_con(sf_dir: str, extra_docs: list[str] = ()) -> duckdb.DuckDBPyConnection:
    """Views over the generated tables. ``extra_docs``: parquet files
    whose documents join the ``documents`` view (the held-out set
    after it has been ingested)."""
    con = duckdb.connect()
    for t in TABLES:
        sql = f"SELECT * FROM {_scan(os.path.join(sf_dir, f'{t}.parquet'))}"
        if t == "documents":
            for p in extra_docs:
                sql += f" UNION ALL SELECT * FROM {_scan(p)}"
        con.execute(f"CREATE VIEW {t} AS {sql}")
    return con


def bm25_sql(terms: list[str]) -> str:
    """``_BM25_ORACLE`` with the fixed selective-term query replaced by
    ``terms``."""
    from etl_python_airflow_bigquery_spark.queries.text import _BM25_ORACLE

    lits = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    sql, n = re.subn(
        r"consulta AS \(.*?\),\npesos AS",
        f"consulta AS (SELECT token, df FROM df WHERE token IN ({lits})),\npesos AS",
        _BM25_ORACLE,
        flags=re.S,
    )
    if n != 1:
        raise RuntimeError("BM25 oracle no longer has a replaceable consulta CTE")
    return sql


def int_vectors(x: np.ndarray) -> np.ndarray:
    """The engine's scaled-int vector: floor(double(x) * 1e6)."""
    return np.floor(x.astype(np.float64) * 1e6).astype(np.int64)


class DenseOracle:
    """Probe + exact rerank over the stored IVF tables, in numpy."""

    def __init__(self, cent: pd.DataFrame, post: pd.DataFrame):
        cent = cent.sort_values("celda")
        self.celdas = cent["celda"].to_numpy(np.int64)
        self.c = np.stack([np.asarray(v, np.int64) for v in cent["sv"]])
        self.ids = post["vec_id"].to_numpy(np.int64)
        self.cell = post["celda"].to_numpy(np.int64)
        self.ev = np.stack([np.asarray(v, np.int64) for v in post["ev"]])
        self.nc = (self.ev * self.ev).sum(1)

    def search(self, qid: int, qv: np.ndarray, nprobe: int, topk: int) -> list[tuple[int, float]]:
        d2 = ((self.c - qv) ** 2).sum(1)
        probed = self.celdas[np.lexsort((self.celdas, d2))[:nprobe]]
        m = np.isin(self.cell, probed) & (self.ids != qid)
        return _rank(self.ids[m], self.ev[m], self.nc[m], qv, topk)

    def exact(self, qid: int, qv: np.ndarray, topk: int) -> list[int]:
        m = self.ids != qid
        return [i for i, _ in _rank(self.ids[m], self.ev[m], self.nc[m], qv, topk)]


def _rank(ids, ev, nc, qv, topk) -> list[tuple[int, float]]:
    dot = ev @ qv
    nq = float(qv @ qv)
    cos = dot.astype(np.float64) / np.sqrt(nq * nc.astype(np.float64))
    order = np.lexsort((ids, -cos))[:topk]
    return [(int(ids[i]), float(cos[i])) for i in order]


def check_dense(got: pd.DataFrame, want: dict[int, list[tuple[int, float]]]) -> list[str]:
    probs = []
    for qid, exp in want.items():
        rows = got[got["query_id"] == qid].sort_values("pos")
        ids = rows["cand_id"].tolist()
        if ids != [i for i, _ in exp] or rows["pos"].tolist() != list(range(1, len(exp) + 1)):
            probs.append(f"query {qid}: got {ids[:5]} want {[i for i, _ in exp][:5]}")
            continue
        if not np.allclose(rows["cos"].to_numpy(), [c for _, c in exp], rtol=0, atol=1e-12):
            probs.append(f"query {qid}: cosine values differ")
    if set(got["query_id"]) - set(want):
        probs.append("rows for queries not asked")
    return probs


def partition(labels: pd.DataFrame) -> set[frozenset]:
    """Clusters with ≥2 members as a set of doc_id sets."""
    g = labels.groupby("cluster_id")["doc_id"].apply(frozenset)
    return {s for s in g if len(s) > 1}

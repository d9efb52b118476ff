"""The benchmark's own checks: seeded inputs are reproducible and vary
with the seed, and BENCHMARK.json records the metrics run.py reports.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os

from perfbench import gen
from perfbench.layers import END_TO_END, PER_LAYER
from perfbench.run import ROOT, tail


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = gen.generate(5, str(tmp_path / "a"))
    b = gen.generate(5, str(tmp_path / "b"))
    assert _digest(a.root) == _digest(b.root)


def test_different_seeds_give_different_batches_and_requests(tmp_path):
    a = gen.generate(5, str(tmp_path / "a"))
    b = gen.generate(6, str(tmp_path / "b"))
    assert a.ingest_docs != b.ingest_docs
    assert a.ingest_vecs != b.ingest_vecs
    assert a.ingest_days != b.ingest_days
    assert a.requests != b.requests
    assert _digest(a.root) != _digest(b.root)


def test_held_out_split_is_a_partition(tmp_path):
    import pyarrow.parquet as pq

    inp = gen.generate(9, str(tmp_path / "x"))
    base = set(pq.read_table(os.path.join(inp.sf_dir, "documents.parquet"))
               .column("doc_id").to_pylist())
    held = set(pq.read_table(inp.docs_heldout).column("doc_id").to_pylist())
    source = pq.read_table(os.path.join(gen.DATA, "documents.parquet"))
    assert not base & held
    assert base | held == set(source.column("doc_id").to_pylist())
    ingested = [i for b in inp.ingest_docs for i in b]
    assert len(ingested) == len(set(ingested)) and set(ingested) <= held
    assert len(held) - len(ingested) < gen.BATCH
    assert {len(b) for b in inp.ingest_docs} == {len(b) for b in inp.ingest_vecs} == {gen.BATCH}
    assert {len(w) for w in inp.ingest_days} == {gen.WINDOW_DAYS}
    days = [d for w in inp.ingest_days for d in w]
    assert len(days) == len(set(days)) > 30 - gen.WINDOW_DAYS
    assert len(inp.ingest_docs) == len(inp.ingest_vecs) == len(inp.ingest_days)


def test_bm25_has_common_and_rare_terms_with_positive_idf(tmp_path):
    """The engine's idf: floor(log2((n*1000) // (df*1000 + 500))). The
    topic words give BM25 terms that score, common ones included."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    inp = gen.generate(3, str(tmp_path / "x"))
    texts = pa.concat_tables([
        pq.read_table(os.path.join(inp.sf_dir, "documents.parquet")),
        pq.read_table(inp.docs_heldout),
    ]).column("text").to_pylist()
    n = len(texts)
    df: dict[str, int] = {}
    for t in texts:
        for w in set(t.split(" ")):
            df[w] = df.get(w, 0) + 1

    def idf(w: str) -> int:
        return int(math.floor(math.log2((n * 1000) // (df[w] * 1000 + 500))))

    scoring = [w for w in df if idf(w) > 0]
    assert any(df[w] >= 0.1 * n for w in scoring)  # a common term scores
    assert any(df[w] <= 3 for w in scoring)  # and so do rare ones
    terms = [t for r in inp.requests[:200] for t in r["terms"]]
    assert sum(t in df and idf(t) > 0 for t in terms) > len(terms) / 2


def test_tail_is_the_highest_percentile_with_ten_beyond():
    assert tail([3.0, 1.0, 2.0]) == (3.0, "max of 3")
    v, which = tail([float(i) for i in range(40)])
    assert v == 29.0 and which == "p75.0 of 40"


def test_benchmark_json_records_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"])
            for m in bench["end_to_end"]] == [tuple(m) for m in END_TO_END]
    assert [(m["name"], m["unit"], m["better"])
            for m in bench["per_layer"]] == [tuple(m) for m in PER_LAYER]
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_bm25_oracle_takes_the_request_terms():
    from perfbench.oracle import bm25_sql

    sql = bm25_sql(["dup", "a"])
    assert "WHERE token IN ('dup', 'a')" in sql
    assert "ORDER BY df, token" not in sql  # the registry query's own term pick is gone

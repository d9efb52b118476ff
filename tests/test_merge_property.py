"""Property evidence for TxTable.merge's upsert semantics (the K4 MERGE
`writes.merge_upsert(tx=True)` commits through): on random target and
source tables, with and without an existing table, the anti-join +
union implementation must equal the obvious row-at-a-time reference
model — the source row wins per key, and unmatched rows on either side
are kept. Key collisions and the empty-table first load are exactly
where a join rewrite can drift from upsert semantics — so they are
executed here, not assumed."""

from __future__ import annotations

import shutil
import tempfile

from hypothesis import given, settings, strategies as st

from etl_python_airflow_bigquery_spark.operators.txlog import TxTable

fila = st.tuples(
    st.integers(min_value=0, max_value=9),   # key: small range → collisions
    st.integers(min_value=-5, max_value=5),
)


def _unique_by_key(rows):
    seen, out = set(), []
    for k, v in rows:
        if k not in seen:
            seen.add(k)
            out.append((k, v))
    return out


def _reference(target, source):
    """Row-at-a-time upsert: every source row replaces the target row
    with its key; unmatched target and source rows are kept."""
    out = dict(target)
    out.update(source)
    return out


@settings(max_examples=20, deadline=None)
@given(
    target=st.lists(fila, min_size=0, max_size=8).map(_unique_by_key),
    source=st.lists(fila, min_size=0, max_size=8).map(_unique_by_key),
    seeded=st.booleans(),
)
def test_merge_upsert_equals_reference(spark_prop, target, source, seeded):
    spark = spark_prop
    d = tempfile.mkdtemp(prefix="merge_prop_")
    try:
        t = TxTable(d + "/t")
        if seeded:
            t.overwrite(spark.createDataFrame(target, "k bigint, v bigint"))
        else:
            target = []  # first load: merge into a table with no commits
        src = spark.createDataFrame(source, "k bigint, v bigint")
        t.merge(spark, src, ["k"])
        rows = t.read(spark).collect()
        got = {r["k"]: r["v"] for r in rows}
        assert len(rows) == len(got)  # one row per key
        assert got == _reference(target, source)
    finally:
        shutil.rmtree(d, ignore_errors=True)

"""Incremental materialized-view maintenance (operators/incremental.py):
delta-sized refresh over the txlog change feed, atomic checkpointing,
loud rebuild on non-incremental history."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_python_airflow_bigquery_spark.operators.incremental import (
    refresh_mart_counts,
)
from etl_python_airflow_bigquery_spark.operators.txlog import TxTable


def _batch(spark, lo, hi):
    return spark.range(lo, hi).select(
        (F.col("id") % 3).cast("int").alias("g"),
        F.col("id").alias("v"),
    )


def _full(spark, src):
    return {
        (r["g"], r["n"], r["sum_v"])
        for r in src.read(spark)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("v").alias("sum_v"),
        )
        .collect()
    }


def _mart(spark, dst):
    return {(r["g"], r["n"], r["sum_v"]) for r in dst.read(spark).collect()}


def test_incremental_equals_full_recompute(spark, tmp_path):
    src = TxTable(str(tmp_path / "src"))
    dst = TxTable(str(tmp_path / "mart"))
    src.overwrite(_batch(spark, 0, 10))
    mode, up = refresh_mart_counts(spark, src, dst, ["g"], ["v"])
    assert (mode, up) == ("delta", 0)
    assert _mart(spark, dst) == _full(spark, src)
    # two more appends, ONE refresh folds both versions
    src.append(_batch(spark, 10, 25))
    src.append(_batch(spark, 25, 30))
    mode, up = refresh_mart_counts(spark, src, dst, ["g"], ["v"])
    assert (mode, up) == ("delta", 2)
    assert _mart(spark, dst) == _full(spark, src)
    # caught up: noop, nothing committed
    v_before = dst.version()
    assert refresh_mart_counts(spark, src, dst, ["g"], ["v"]) == ("noop", 2)
    assert dst.version() == v_before


def test_checkpoint_commits_atomically_with_data(spark, tmp_path):
    src = TxTable(str(tmp_path / "src"))
    dst = TxTable(str(tmp_path / "mart"))
    src.overwrite(_batch(spark, 0, 5))
    refresh_mart_counts(spark, src, dst, ["g"])
    m = dst._manifest(dst.version())
    assert m["upstream_version"] == 0
    # time travel still works on the mart, and the OLD manifest carries
    # the OLD checkpoint — state and data can never disagree
    src.append(_batch(spark, 5, 9))
    refresh_mart_counts(spark, src, dst, ["g"])
    assert dst._manifest(0)["upstream_version"] == 0
    assert dst._manifest(1)["upstream_version"] == 1


def test_rewrite_triggers_loud_rebuild(spark, tmp_path):
    src = TxTable(str(tmp_path / "src"))
    dst = TxTable(str(tmp_path / "mart"))
    src.overwrite(_batch(spark, 0, 10))
    refresh_mart_counts(spark, src, dst, ["g"], ["v"])
    # a MERGE rewrites data: the feed past the checkpoint is poisoned,
    # the refresh must fall back to a full recompute and SAY so
    src.merge(
        spark,
        spark.range(0, 4).select(
            (F.col("id") % 3).cast("int").alias("g"),
            (F.col("id") + 100).alias("v"),
        ),
        key_cols=["g", "v"],
    )
    mode, up = refresh_mart_counts(spark, src, dst, ["g"], ["v"])
    assert mode == "rebuild"
    assert _mart(spark, dst) == _full(spark, src)
    # and the feed is healthy again from the new checkpoint on
    src.append(_batch(spark, 50, 55))
    mode, _ = refresh_mart_counts(spark, src, dst, ["g"], ["v"])
    assert mode == "delta"
    assert _mart(spark, dst) == _full(spark, src)


def test_change_feed_drives_incremental_dedup_probe(spark, sf_dir, tmp_path):
    """E2E composition: corpus lives in a TxTable, a daily batch lands as
    an append, the CHANGE FEED yields exactly that batch, and the batch
    probes the corpus's hash index (the dedup_incremental read path) —
    the full incremental-ingest loop where per-day cost is O(batch),
    never O(corpus)."""
    from etl_python_airflow_bigquery_spark.tables import load_table

    corpus_tx = TxTable(str(tmp_path / "corpus"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus_tx.overwrite(docs)  # v0: initial corpus
    # day-2 batch: two clones of existing docs + one genuinely new doc
    base = docs.limit(2).collect()
    batch = spark.createDataFrame(
        [
            (1_000_001, base[0]["text"]),          # exact clone
            (1_000_002, base[1]["text"]),          # exact clone
            (1_000_003, "texto nuevo sin duplicado alguno"),
        ],
        "doc_id bigint, text string",
    )
    corpus_tx.append(batch)  # v1
    # the feed returns exactly the appended batch — the probe's input
    delta = corpus_tx.changes(spark, since_version=0)
    assert delta.count() == 3
    # probe: delta hashes equi-join the PRIOR corpus snapshot's hash index
    prior = corpus_tx.read(spark, version=0).select(
        F.col("doc_id").alias("viejo"), F.md5("text").alias("h")
    )
    clasificado = (
        delta.select("doc_id", F.md5("text").alias("h"))
        .join(prior, "h", "left")
        .groupBy("doc_id")
        .agg(F.min("viejo").alias("dup_de"))
    )
    got = {r["doc_id"]: r["dup_de"] for r in clasificado.collect()}
    assert got[1_000_001] == base[0]["doc_id"]
    assert got[1_000_002] == base[1]["doc_id"]
    assert got[1_000_003] is None  # nuevo


def test_gate_feeds_incremental_maintenance(spark, sf_dir, tmp_path):
    """Full pipeline composition: validated streaming ingest → the clean
    table's change feed → incremental mart maintenance. The quarantined
    batch never reaches the mart; a later refresh after more ingest is
    delta-sized."""
    import os

    from etl_python_airflow_bigquery_spark.operators.txlog import TxTable
    from etl_python_airflow_bigquery_spark.streaming.jobs import (
        run_validated_ingest,
    )
    from etl_python_airflow_bigquery_spark.tables import load_table

    src = str(tmp_path / "src")
    os.makedirs(src)
    base = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    base.limit(40).coalesce(1).write.parquet(src + "/f1.parquet")
    spark.createDataFrame(
        [(1, None, "view", 1.0)],
        "event_id bigint, user_id bigint, event_type string, value double",
    ).coalesce(1).write.parquet(src + "/f2.parquet")  # quarantined

    out = str(tmp_path / "out")
    run_validated_ingest(spark, src, out, str(tmp_path / "ck"))
    datos = TxTable(out + "/datos")
    mart = TxTable(str(tmp_path / "mart"))
    mode, _ = refresh_mart_counts(spark, datos, mart, ["event_type"])
    assert mode == "delta"
    esperado = {
        (r["event_type"], r["n"])
        for r in datos.read(spark)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .collect()
    }
    assert {(r["event_type"], r["n"]) for r in mart.read(spark).collect()} \
        == esperado
    # second ingest wave → the mart refresh consumes only the delta
    base.limit(60).coalesce(1).write.parquet(src + "/f3.parquet")
    run_validated_ingest(spark, src, out, str(tmp_path / "ck"))
    mode, _ = refresh_mart_counts(spark, datos, mart, ["event_type"])
    assert mode == "delta"
    total = sum(r["n"] for r in mart.read(spark).collect())
    assert total == 100  # 40 + 60 clean rows, quarantine excluded


def test_mart_over_mart_chain_with_cascading_rebuild(spark, tmp_path):
    """ROADMAP candidate E: hour-tier mart emits a delta LOG; a day-tier
    mart folds the log with weight_col='n'. Appends flow delta-sized
    down both stages; an upstream rewrite cascades a LOUD rebuild
    through the chain via NonIncrementalHistory — and both marts equal
    full recomputes at every step."""
    src = TxTable(str(tmp_path / "src"))
    m1 = TxTable(str(tmp_path / "m1"))
    log1 = TxTable(str(tmp_path / "m1_delta"))
    m2 = TxTable(str(tmp_path / "m2"))

    def tick():
        mode1, _ = refresh_mart_counts(
            spark, src, m1, ["g"], ["v"], delta_log=log1
        )
        mode2, _ = refresh_mart_counts(spark, log1, m2, [], weight_col="n")
        return mode1, mode2

    src.overwrite(_batch(spark, 0, 12))            # v0
    assert tick() == ("delta", "delta")
    src.append(_batch(spark, 12, 30))              # v1
    src.append(_batch(spark, 30, 37))              # v2
    m1_mode, m2_mode = tick()
    assert (m1_mode, m2_mode) == ("delta", "delta")
    assert _mart(spark, m1) == _full(spark, src)
    # the global day-tier total equals the source row count
    assert m2.read(spark).collect()[0]["n"] == src.read(spark).count()
    # upstream REWRITE: both stages must rebuild, loudly, and re-agree
    src.merge(
        spark,
        spark.range(0, 3).select(
            (F.col("id") % 3).cast("int").alias("g"),
            (F.col("id") + 500).alias("v"),
        ),
        key_cols=["g", "v"],
    )
    m1_mode, m2_mode = tick()
    assert (m1_mode, m2_mode) == ("rebuild", "rebuild")
    assert _mart(spark, m1) == _full(spark, src)
    assert m2.read(spark).collect()[0]["n"] == src.read(spark).count()
    # and the chain is healthy (delta-sized) again afterwards
    src.append(_batch(spark, 100, 110))
    assert tick() == ("delta", "delta")
    assert m2.read(spark).collect()[0]["n"] == src.read(spark).count()

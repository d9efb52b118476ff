"""Concurrent multi-table maintenance failure soak (VERDICT r12 #7):
ingest, compaction, and vacuum interleave ACROSS the three index
families plus a streaming sink in one schedule, with crashes injected
mid-flip — and through all of it every pinned reader keeps serving its
snapshot and every replay is a no-op."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_python_airflow_bigquery_spark.operators import txlog as txmod
from etl_python_airflow_bigquery_spark.tables import load_table


class _KillOnce:
    """Monkeypatch hook: raise on the FIRST manifest flip (os.link)
    whose target lives under ``victim_dir`` — the kill-mid-flip
    injection; later flips (the retry) pass through."""

    def __init__(self, victim_dir: str):
        self.victim_dir = os.path.abspath(victim_dir)
        self.killed = False
        self.real_link = txmod.os.link

    def __call__(self, src, dst, *a, **k):
        if not self.killed and os.path.abspath(dst).startswith(self.victim_dir):
            self.killed = True
            raise OSError("injected crash mid-flip")
        return self.real_link(src, dst, *a, **k)


def test_interleaved_multi_table_soak(spark, sf_dir, tmp_path, monkeypatch):
    """One schedule drives all three stored-index families + a fenced
    sink through ingest → compact → vacuum cycles with per-table
    mid-flip kills. Invariants held across every cycle:

    * a version-pinned ANN serve and a version-pinned lexical serve
      return their captured rankings after every compaction/vacuum of
      ANY table (tags are GC roots; maintenance of one table never
      perturbs another's snapshot);
    * a killed flip leaves NO trace — the table still reads its
      pre-crash version, and the retried operation commits cleanly;
    * replaying a fenced sink batch is a no-op (version unchanged);
    * the on-disk version history stays bounded by keep+slack."""
    from etl_python_airflow_bigquery_spark.operators import ann_index as ai
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        _tables as ann_tables,
    )
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        add_to_ivf_index,
        build_ivf_index,
        pin_index_version,
        search_ivf_index,
    )
    from etl_python_airflow_bigquery_spark.operators.lex_index import (
        _postings as lex_postings,
    )
    from etl_python_airflow_bigquery_spark.operators.lex_index import (
        add_to_lex_index,
        build_lex_index,
        pin_lex_version,
        search_bm25_lex_index,
    )
    from etl_python_airflow_bigquery_spark.operators.txlog import TxTable
    from etl_python_airflow_bigquery_spark.queries.similarity import (
        _int_vectors,
    )

    # tight shared maintenance policy so the soak exercises many cycles
    monkeypatch.setattr(ai, "_COMPACT_FILE_GATE", 4)
    monkeypatch.setattr(ai, "_AUTO_VACUUM_KEEP", 3)
    monkeypatch.setattr(ai, "_AUTO_VACUUM_SLACK", 2)
    monkeypatch.setattr(ai, "_AUTO_VACUUM_RETENTION_S", 0.0)

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    ann_path = str(tmp_path / "ann")
    lex_path = str(tmp_path / "lex")
    sink = TxTable(str(tmp_path / "sink"))

    build_ivf_index(spark, emb.where(F.col("vec_id") % 2 == 0), ann_path)
    build_lex_index(spark, docs.where(F.col("doc_id") % 2 == 0), lex_path)
    sink.overwrite(spark.range(5).toDF("k"))

    # pinned readers: capture the snapshot each must keep serving
    pin_ann = pin_index_version(ann_path, "soak_ann")
    pin_lex = pin_lex_version(lex_path, "soak_lex")
    consultas = _int_vectors(emb.where(F.col("vec_id") < 3)).select(
        F.col("vec_id").alias("query_id"), F.col("ev").alias("qv")
    ).localCheckpoint(eager=True)
    terms = [
        r["token"]
        for r in docs.limit(1)
        .select(F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "").limit(3).collect()
    ]
    quiero_ann = sorted(map(tuple, search_ivf_index(
        spark, consultas, ann_path, nprobe=2, version=pin_ann
    ).collect()))
    quiero_lex = sorted(map(tuple, search_bm25_lex_index(
        spark, terms, lex_path, version=pin_lex
    ).collect()))
    assert quiero_ann and quiero_lex

    emb_lote = emb.where(F.col("vec_id") % 2 == 1).limit(16)
    doc_lote = docs.where(F.col("doc_id") % 2 == 1).limit(16)
    app = "soak_sink"

    _, vec_tx = ann_tables(ann_path)
    post_tx = lex_postings(lex_path)

    for ciclo in range(8):
        # one table per cycle gets its NEXT flip killed; the schedule
        # rotates the victim so every family absorbs crashes
        victim = [vec_tx, post_tx, sink][ciclo % 3]
        killer = _KillOnce(victim.path)
        monkeypatch.setattr(txmod.os, "link", killer)
        v_antes = victim.version()
        try:
            with pytest.raises(OSError, match="injected"):
                if victim is vec_tx:
                    add_to_ivf_index(spark, emb_lote.select(
                        (F.col("vec_id") + F.lit(1_000_000 * (ciclo + 1)))
                        .alias("vec_id"), "embedding",
                    ), ann_path)
                elif victim is post_tx:
                    add_to_lex_index(spark, doc_lote.select(
                        (F.col("doc_id") + F.lit(1_000_000 * (ciclo + 1)))
                        .alias("doc_id"), "text",
                    ), lex_path)
                else:
                    sink.append(spark.range(3).toDF("k"), txn=(app, ciclo))
        finally:
            monkeypatch.setattr(txmod.os, "link", killer.real_link)
        # the killed flip left no trace: version unchanged, reads clean
        assert victim.version() == v_antes
        victim.read(spark).count()

        # retries + the other tables' normal maintenance, interleaved
        add_to_ivf_index(spark, emb_lote.select(
            (F.col("vec_id") + F.lit(1_000_000 * (ciclo + 1)))
            .alias("vec_id"), "embedding",
        ), ann_path)
        add_to_lex_index(spark, doc_lote.select(
            (F.col("doc_id") + F.lit(1_000_000 * (ciclo + 1)))
            .alias("doc_id"), "text",
        ), lex_path)
        v_sink = sink.append(spark.range(3).toDF("k"), txn=(app, ciclo))
        # fenced replay of the SAME batch is a no-op
        assert sink.append(spark.range(3).toDF("k"), txn=(app, ciclo)) == v_sink
        if ciclo % 2 == 1:
            sink.optimize_compact(spark)
            sink.vacuum(keep_versions=3, retention_s=0.0)

        # both pinned serves still return the captured rankings
        got_ann = sorted(map(tuple, search_ivf_index(
            spark, consultas, ann_path, nprobe=2, version=pin_ann
        ).collect()))
        got_lex = sorted(map(tuple, search_bm25_lex_index(
            spark, terms, lex_path, version=pin_lex
        ).collect()))
        assert got_ann == quiero_ann, f"cycle {ciclo}: pinned ANN moved"
        assert got_lex == quiero_lex, f"cycle {ciclo}: pinned lex moved"

    # histories stayed bounded by keep+slack (+1 in-flight)
    assert len(vec_tx._versions()) <= 3 + 2 + 1
    assert len(post_tx._versions()) <= 3 + 2 + 1
    # current snapshots reflect every successful cycle's data
    assert vec_tx.read(spark).count() > emb.where(
        F.col("vec_id") % 2 == 0
    ).count()
    assert sink.read(spark).count() == 5 + 3 * 8


def test_dedup_state_maintenance_soak(spark, sf_dir, tmp_path, monkeypatch):
    """The dedup-state lane (VERDICT r13 #7): continuous fenced ingest
    into the FOUR state tables with a mid-flip kill rotated across all
    of them, compaction + keep/slack auto-vacuum firing under a tight
    policy, and through every cycle:

    * the killed ingest leaves a PARTIAL commit (this operator mutates
      four tables in sequence — exactly the ADVICE-r13 failure), and
      the fenced retry completes it with NO double-applied table:
      per-doc row counts stay exact, so _verify_jaccard's arrays never
      inflate;
    * a pin_dedup_version label snapshot keeps serving yesterday's
      cluster view byte-stable across every later fold, compaction,
      and vacuum;
    * exact-dup detection stays sound at the end (a clone of a stored
      doc still classifies 'exacto' — the symptom duplicated state
      rows would break)."""
    from etl_python_airflow_bigquery_spark.operators import ann_index as ai
    from etl_python_airflow_bigquery_spark.operators.dedup_state import (
        _tables as dd_tables,
    )
    from etl_python_airflow_bigquery_spark.operators.dedup_state import (
        build_dedup_state,
        ingest_dedup_state,
        pin_dedup_version,
        read_dedup_labels,
    )

    monkeypatch.setattr(ai, "_COMPACT_FILE_GATE", 4)
    monkeypatch.setattr(ai, "_AUTO_VACUUM_KEEP", 3)
    monkeypatch.setattr(ai, "_AUTO_VACUUM_SLACK", 2)
    monkeypatch.setattr(ai, "_AUTO_VACUUM_RETENTION_S", 0.0)

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "estado")
    build_dedup_state(spark, docs.where(F.col("doc_id") % 10 != 0), path)
    h_tx, s_tx, a_tx, e_tx = dd_tables(path)
    n_base = h_tx.read(spark).count()

    pins = pin_dedup_version(path, "soak_dd")
    ayer = sorted(map(tuple, read_dedup_labels(
        spark, path, version=pins["etiquetas"]
    ).collect()))
    assert ayer

    lote_base = docs.where(F.col("doc_id") % 10 == 0).limit(40)
    app = "soak_dd"
    ingeridos = 0
    tablas = [e_tx, h_tx, s_tx, a_tx]  # the ingest's write order
    for ciclo in range(4):
        lote = lote_base.select(
            (F.col("doc_id") + F.lit(1_000_000 * (ciclo + 1))).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        )
        # kill the NEXT flip of a rotating victim table mid-ingest —
        # the write order means later victims leave earlier tables
        # already committed (the partial-failure shape the fence exists
        # for)
        killer = _KillOnce(tablas[ciclo % 4].path)
        monkeypatch.setattr(txmod.os, "link", killer)
        try:
            with pytest.raises(OSError, match="injected"):
                ingest_dedup_state(spark, lote, path, txn=(app, ciclo)).count()
        finally:
            monkeypatch.setattr(txmod.os, "link", killer.real_link)

        # fenced retry completes the partial commit; no table double-
        # applies: one hash row and one array row per doc, exactly
        ingest_dedup_state(spark, lote, path, txn=(app, ciclo)).count()
        ingeridos += lote.count()
        assert h_tx.read(spark).count() == n_base + ingeridos
        assert a_tx.read(spark).groupBy("doc_id").count().where(
            F.col("count") > 1
        ).count() == 0

        # yesterday's pinned cluster view is byte-stable through folds,
        # compaction, and auto-vacuum
        got = sorted(map(tuple, read_dedup_labels(
            spark, path, version=pins["etiquetas"]
        ).collect()))
        assert got == ayer, f"cycle {ciclo}: pinned labels moved"

    # version histories stayed bounded (pinned roots excepted)
    assert len(s_tx._versions()) <= 3 + 2 + 2
    # the tiers stay sound: clones of stored docs classify exacto
    clones = lote_base.limit(3).select(
        (F.col("doc_id") + F.lit(9_000_000)).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    got = ingest_dedup_state(spark, clones, path, txn=(app, 99))
    assert got.where(F.col("estado") == "exacto").count() == 3

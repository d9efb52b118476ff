"""Maintenance runbook pipeline (orchestration.maintenance_pipeline):
the G1-G6 task graph that composes mart signature refresh, index
compaction/vacuum, and probe recalibration."""

from __future__ import annotations


def test_maintenance_pipeline_runs_the_operational_runbook(
    spark, sf_dir, tmp_path
):
    """maintenance_pipeline: marts refresh behind their signature gate,
    both indexes compact/vacuum behind their gates, and the ANN index
    comes out CALIBRATED (nprobe_calibrado recorded) — one manifest,
    every task ok. Without index paths the index chains skip cleanly."""
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        build_ivf_index,
        read_index_meta,
    )
    from etl_python_airflow_bigquery_spark.operators.lex_index import (
        build_lex_index,
    )
    from etl_python_airflow_bigquery_spark.orchestration import (
        maintenance_pipeline,
    )
    from etl_python_airflow_bigquery_spark.tables import load_table

    idx = str(tmp_path / "idx")
    lex = str(tmp_path / "lex")
    build_ivf_index(spark, load_table(spark, sf_dir, "embeddings"), idx)
    build_lex_index(spark, load_table(spark, sf_dir, "documents"), lex)

    m = maintenance_pipeline(spark, sf_dir, index_path=idx, lex_path=lex)
    assert m.ok, (m.statuses, m.errors)
    assert m.statuses["ann_calibrado"] == "ok"
    meta = read_index_meta(idx)
    assert meta["nprobe_calibrado"] >= 1
    assert 0 <= meta["recall_mili_calibrado"] <= 1000

    # no index paths: the index chains are gate-skipped, marts still run
    m2 = maintenance_pipeline(spark, sf_dir)
    assert m2.ok
    assert m2.statuses["ann_compacto"] == "skipped"
    assert m2.statuses["ann_calibrado"] == "skipped"
    assert m2.statuses["lex_vacuum"] == "skipped"
    assert m2.statuses["marts_frescos"] == "ok"


def test_maintenance_ann_compaction_preserves_cell_pruning(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ADVICE-r12 (medium): the runbook's ann_compacto must bin-pack
    into ~k/8 celda-range-clustered files like add_to_ivf_index's own
    compaction — NOT into one full-range file, which would defeat the
    serve path's per-cell file pruning. After a maintenance compaction
    of a fragmented posting tail, a probed-cell read must still touch a
    strict subset of the manifest's files."""
    from pyspark.sql import functions as F

    from etl_python_airflow_bigquery_spark.operators import ann_index as ai
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        _tables,
        add_to_ivf_index,
        build_ivf_index,
        read_index_meta,
    )
    from etl_python_airflow_bigquery_spark.orchestration import (
        maintenance_pipeline,
    )
    from etl_python_airflow_bigquery_spark.tables import load_table

    from etl_python_airflow_bigquery_spark.queries import similarity as sim

    idx = str(tmp_path / "idx")
    emb = load_table(spark, sf_dir, "embeddings")
    # small corpus: shrink the per-cell target so k is production-like
    # (k//8 > 1) and the compaction policy's multi-file layout is
    # observable at test scale
    monkeypatch.setattr(sim, "CELL_TARGET", 10)
    build_ivf_index(spark, emb.where(F.col("vec_id") % 2 == 0), idx)
    k = int(read_index_meta(idx)["k"])
    assert k // 8 > 1  # the policy target is a MULTI-file layout here

    # fragment the posting tail without triggering add's own compaction
    # (default gate stays high during the adds)
    base = emb.where(F.col("vec_id") % 2 == 1).limit(24)
    for i in range(8):
        lote = base.select(
            (F.col("vec_id") + F.lit(1_000_000 * (i + 1))).alias("vec_id"),
            "embedding",
        )
        add_to_ivf_index(spark, lote, idx)

    _, vec_tx = _tables(idx)
    antes = len(vec_tx._manifest(vec_tx.version())["files"])
    assert antes > k // 8  # genuinely fragmented

    # now let the RUNBOOK compact it (gate lowered so ann_compacto fires)
    monkeypatch.setattr(ai, "_COMPACT_FILE_GATE", 2)
    m = maintenance_pipeline(spark, sf_dir, index_path=idx)
    assert m.statuses["ann_compacto"] == "ok"

    files = vec_tx._manifest(vec_tx.version())["files"]
    assert 1 < len(files) <= antes  # NOT collapsed into one file
    # per-cell pruning survives: a single-cell probe reads fewer files
    celda0 = vec_tx.read(spark).select("celda").first()["celda"]
    pruned = vec_tx.read_in(spark, "celda", [celda0])
    assert 0 < len(pruned.inputFiles()) < len(files)


def test_operational_rehearsal_end_to_end(spark, sf_dir, tmp_path):
    """VERDICT r12 #4: the full operational rehearsal as ONE task graph
    — base builds, change-feed batches land, both indexes grow through
    their streaming ingests (txn-fenced), the dedup state folds every
    batch, the mart's last-two-days window rewrites, and the hybrid
    serve answers from the GROWN indexes. Every stage ok, per-stage
    walls recorded, and the post-run state reflects the whole feed."""
    from pyspark.sql import functions as F

    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        _tables as ann_tables,
    )
    from etl_python_airflow_bigquery_spark.operators.dedup_state import (
        read_dedup_labels,
    )
    from etl_python_airflow_bigquery_spark.operators.lex_index import (
        lex_meta_current,
    )
    from etl_python_airflow_bigquery_spark.operators.txlog import TxTable
    from etl_python_airflow_bigquery_spark.orchestration import (
        operational_rehearsal,
    )
    from etl_python_airflow_bigquery_spark.tables import load_table

    work = str(tmp_path / "rehearsal")
    m = operational_rehearsal(spark, sf_dir, work, n_batches=3)
    assert m.ok, (m.statuses, m.errors)
    assert set(m.statuses) == {
        "base", "ingesta_ann", "ingesta_lex", "dedup_lotes",
        "mart_refresco", "servir",
    }
    assert all(m.statuses[t] == "ok" for t in m.statuses)
    assert all(m.timings_s[t] > 0 for t in m.statuses)

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    # the lexical index ingested the whole doc feed (n == corpus)
    assert lex_meta_current(spark, work + "/lex")["n"] == docs.count()

    # the ANN postings grew by the feed's NON-duplicate arrivals only
    # (the semantic gate may drop near-dups): base < count <= corpus
    _, vec_tx = ann_tables(work + "/ann")
    n_post = vec_tx.read(spark).count()
    n_base = emb.where(F.col("vec_id") % 10 != 0).count()
    assert n_base < n_post <= emb.count()

    # the dedup labels cover batch docs that joined clusters
    etiquetas = read_dedup_labels(spark, work + "/dedup")
    assert etiquetas.where(F.col("doc_id") % 10 == 0).count() >= 0
    assert etiquetas.count() > 0

    # the serve drained fused rankings for both anchors
    servido = TxTable(work + "/servido").read(spark)
    assert servido.select("query_id").distinct().count() == 2
    assert servido.count() > 0

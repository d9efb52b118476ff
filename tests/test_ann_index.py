"""Persistent ANN index lifecycle (operators/ann_index.py): build once,
serve from the stored tables only, append without refit, recall against
brute force."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_python_airflow_bigquery_spark.operators.ann_index import (
    add_to_ivf_index,
    build_ivf_index,
    index_meta_current,
    search_ivf_index,
)
from etl_python_airflow_bigquery_spark.queries.similarity import _int_vectors
from etl_python_airflow_bigquery_spark.tables import load_table


def _queries_from(spark, emb, every=25):
    return _int_vectors(emb.where(F.col("vec_id") % every == 0)).select(
        F.col("vec_id").alias("query_id"), F.col("ev").alias("qv")
    )


def test_build_serve_and_recall(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    stats = build_ivf_index(spark, emb, str(tmp_path / "idx"))
    assert stats["n"] > 0 and stats["k"] >= 1 and stats["version"] == 0
    consultas = _queries_from(spark, emb)
    got = search_ivf_index(spark, consultas, str(tmp_path / "idx"))
    rows = got.collect()
    assert rows, "search returned nothing"
    # positions are a clean 1..k ranking per query
    per_q: dict = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["pos"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())
    # determinism: a second search from the same snapshot is identical
    again = {(r["query_id"], r["cand_id"], r["pos"]) for r in
             search_ivf_index(spark, consultas, str(tmp_path / "idx")).collect()}
    assert again == {(r["query_id"], r["cand_id"], r["pos"]) for r in rows}
    # recall@3 against brute-force exact cosine (same query set)
    ent = _int_vectors(emb)
    a = consultas
    b = ent.select(F.col("vec_id").alias("cand_id"), F.col("ev").alias("cv"))
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, v: acc + v,
    )
    nq = F.aggregate(F.zip_with(F.col("qv"), F.col("qv"), lambda x, y: x * y),
                     F.lit(0).cast("long"), lambda acc, v: acc + v)
    nc = F.aggregate(F.zip_with(F.col("cv"), F.col("cv"), lambda x, y: x * y),
                     F.lit(0).cast("long"), lambda acc, v: acc + v)
    from pyspark.sql import Window
    exact = (
        a.crossJoin(b)
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id",
                (dot.cast("double") / F.sqrt(nq.cast("double") * nc.cast("double"))).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    true3 = {(r["query_id"], r["cand_id"]) for r in
             exact.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 3).collect()}
    got3 = {(r["query_id"], r["cand_id"]) for r in rows}
    recall = len(true3 & got3) / len(true3)
    assert recall >= 0.3, recall


def test_append_serves_new_vectors_without_refit(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(spark, emb, path)
    # append an exact CLONE of vector 0 under a new id — assignment runs
    # against the stored centroids only
    clon = emb.where(F.col("vec_id") == 0).select(
        F.lit(9_000_000).cast("long").alias("vec_id"), "embedding", "label"
    )
    v = add_to_ivf_index(spark, clon, path)
    assert v == 1  # one manifest flip on the posting table
    # a query at vector 0 must now find its clone at pos 1 with cos ~ 1
    consultas = _queries_from(spark, emb.where(F.col("vec_id") == 0), every=1)
    top = search_ivf_index(spark, consultas, path).where(F.col("pos") == 1).collect()
    assert len(top) == 1
    assert top[0]["cand_id"] == 9_000_000
    assert abs(top[0]["cos"] - 1.0) < 1e-9
    # time travel: the pre-append snapshot still serves (without the clone)
    from etl_python_airflow_bigquery_spark.operators.txlog import TxTable
    old = TxTable(f"{path}/vectores").read(spark, version=0)
    assert old.where(F.col("vec_id") == 9_000_000).count() == 0


def test_maintenance_preserves_search_results(spark, sf_dir, tmp_path):
    """Table maintenance on the posting table (compaction) must not
    change what the index serves — OPTIMIZE is a physical rewrite, the
    search results are the contract."""
    from etl_python_airflow_bigquery_spark.operators.txlog import TxTable

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(spark, emb, path)
    consultas = _queries_from(spark, emb)
    antes = {(r["query_id"], r["cand_id"], r["pos"]) for r in
             search_ivf_index(spark, consultas, path).collect()}
    TxTable(f"{path}/vectores", stats_cols=["celda"]).optimize_compact(spark)
    despues = {(r["query_id"], r["cand_id"], r["pos"]) for r in
               search_ivf_index(spark, consultas, path).collect()}
    assert antes == despues


@pytest.mark.parametrize("crash", [False, True], ids=["clean", "crash"])
def test_streaming_ingest_grows_the_index(
    spark, sf_dir, tmp_path, monkeypatch, crash
):
    """ROADMAP candidate C: embeddings stream into the persistent index
    batch-by-batch (stored-centroid assignment, one manifest flip per
    micro-batch); a clone arriving via the STREAM becomes searchable.
    ``crash``: the first micro-batch's add lands and the batch then
    fails before the stream commits it; the rerun from the same
    checkpoint redelivers it, and the txn fence keeps it from
    appending or counting twice."""
    import os

    from etl_python_airflow_bigquery_spark.operators import ann_index
    from etl_python_airflow_bigquery_spark.operators.txlog import TxTable
    from etl_python_airflow_bigquery_spark.streaming.jobs import run_ann_ingest

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(spark, emb.where(F.col("vec_id") % 2 == 0), path)
    v0 = TxTable(f"{path}/vectores").version()
    # the stream delivers the odd half in two files, one per micro-batch
    src = str(tmp_path / "stream")
    os.makedirs(src)
    impar = emb.where(F.col("vec_id") % 2 == 1)
    impar.where(F.col("vec_id") % 4 == 1).coalesce(1).write.parquet(src + "/f1.parquet")
    clon = emb.where(F.col("vec_id") == 0).select(
        F.lit(7_000_001).cast("long").alias("vec_id"), "embedding", "label"
    )
    impar.where(F.col("vec_id") % 4 == 3).unionByName(clon).coalesce(1).write.parquet(
        src + "/f2.parquet"
    )
    if crash:
        real = ann_index.add_to_ivf_index

        def add_then_crash(*args, **kwargs):
            v = real(*args, **kwargs)
            monkeypatch.setattr(ann_index, "add_to_ivf_index", real)
            raise RuntimeError(f"crash after flip {v}")

        monkeypatch.setattr(ann_index, "add_to_ivf_index", add_then_crash)
        with pytest.raises(Exception, match="crash after flip"):
            run_ann_ingest(spark, src, path, str(tmp_path / "ck"))
        assert TxTable(f"{path}/vectores").version() == v0 + 1
    run_ann_ingest(spark, src, path, str(tmp_path / "ck"))
    # two micro-batches = two manifest flips
    vec_tx = TxTable(f"{path}/vectores")
    assert vec_tx.version() == v0 + 2
    assert vec_tx.read(spark).groupBy("vec_id").count().where(
        F.col("count") > 1
    ).count() == 0
    assert index_meta_current(spark, path)["n"] == emb.count() + 1
    consultas = _queries_from(spark, emb.where(F.col("vec_id") == 0), every=1)
    top = search_ivf_index(spark, consultas, path).where(F.col("pos") == 1).collect()
    assert top and top[0]["cand_id"] == 7_000_001
    assert abs(top[0]["cos"] - 1.0) < 1e-9


def test_streaming_ingest_compacts_midstream(spark, sf_dir, tmp_path):
    """Soak: a long-running streaming ingest crosses the posting-table
    file gate INSIDE foreachBatch — compaction fires mid-stream as its
    own manifest flip, the final manifest is small, everything streamed
    before AND after the compaction stays searchable, and a checkpoint
    replay of the drained stream is still a no-op with the compaction
    commit sitting in the middle of the version history."""
    import os

    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        _COMPACT_FILE_GATE,
    )
    from etl_python_airflow_bigquery_spark.operators.txlog import TxTable
    from etl_python_airflow_bigquery_spark.streaming.jobs import run_ann_ingest

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(spark, emb, path)
    tx = TxTable(f"{path}/vectores")
    base_files = len(tx._manifest(tx.version())["files"])

    # enough one-file micro-batches to cross the gate at least once
    src = str(tmp_path / "stream")
    os.makedirs(src)
    n_batches = _COMPACT_FILE_GATE - base_files + 3
    total = 0
    for i in range(n_batches):
        lote = emb.where(
            (F.col("vec_id") >= 2 * i) & (F.col("vec_id") < 2 * i + 2)
        ).select(
            (F.col("vec_id") + 8_000_000 + 10 * i).alias("vec_id"),
            "embedding",
            "label",
        )
        total += lote.count()
        lote.coalesce(1).write.parquet(f"{src}/f{i:03d}.parquet")
    run_ann_ingest(spark, src, path, str(tmp_path / "ck"))

    # walk SURVIVING manifests: the ingest-triggered auto-vacuum
    # (VERDICT r11 #3) reclaims superseded history past the keep+slack
    # gate, so version 0 may be gone — the compaction commit is pinned
    # within whatever history remains
    vivas = tx._versions()
    assert len(vivas) <= 8 + 8 + 1  # auto-vacuum actually bounded history
    ops = [tx._manifest(v)["op"] for v in vivas]
    assert "optimize_compact" in ops  # fired mid-stream
    m = tx._manifest(tx.version())
    assert len(m["files"]) < _COMPACT_FILE_GATE
    # row conservation: base corpus + every streamed arrival
    n_base = emb.count()
    assert tx.read(spark).count() == n_base + total
    # an arrival streamed BEFORE the compaction is still searchable
    consultas = _queries_from(spark, emb.where(F.col("vec_id") == 0), every=1)
    top = search_ivf_index(spark, consultas, path).where(
        F.col("pos") == 1
    ).collect()
    assert top and top[0]["cand_id"] == 8_000_000  # clone of vec 0, batch 0
    # replaying the drained stream is a no-op: the stream checkpoint is
    # this path's idempotency authority, and the compaction commit in
    # the middle of the history does not confuse it
    v_antes = tx.version()
    run_ann_ingest(spark, src, path, str(tmp_path / "ck"))
    assert tx.version() == v_antes
    assert tx.read(spark).count() == n_base + total


def test_recall_drift_across_versions(spark, sf_dir, tmp_path):
    """Version-pinned serving + drift: the pre-append snapshot still
    answers, and a query whose neighborhood the appended clone invades
    shows top-k overlap < 1000 while untouched queries stay at 1000."""
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        recall_drift,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(spark, emb, path)
    clon = emb.where(F.col("vec_id") == 0).select(
        F.lit(8_000_000).cast("long").alias("vec_id"), "embedding", "label"
    )
    add_to_ivf_index(spark, clon, path)
    consultas = _queries_from(spark, emb, every=25)
    drift = recall_drift(spark, consultas, path, v_old=0)
    rows = {r["query_id"]: r["solape_mili"] for r in drift.collect()}
    assert rows, "no drift rows"
    # query 0's top-k changed: its exact clone entered at pos 1
    assert rows[0] < 1000
    # and overall most neighborhoods were untouched by one vector
    touched = sum(1 for v in rows.values() if v < 1000)
    assert touched <= max(1, len(rows) // 2)


def test_indexed_hybrid_matches_brute_at_full_probe(spark, sf_dir, tmp_path):
    """busqueda_hibrida_indexada IS the registry query's promised
    production path: same shared lexical frame, same shared fusion
    algebra, dense side served from the stored IVF tables. At full
    probe (nprobe >= cells) the posting coverage equals the brute scan
    and the fused output matches row for row. (The index stores
    per-element 1e6-floored ints while the brute path floors per-term
    at 1e12 — a near-tie in the dense top-10 could in principle order
    differently; on this corpus it does not, and if a future testdata
    drop introduces such a tie this assertion points exactly there.)
    Default-nprobe serving keeps the lexical provenance identical and
    is checked for high fused-set recall rather than exact order."""
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        build_ivf_index,
        busqueda_hibrida_indexada,
    )
    from etl_python_airflow_bigquery_spark.queries.similarity import (
        busqueda_hibrida,
    )
    from etl_python_airflow_bigquery_spark.tables import load_table

    path = str(tmp_path / "idx")
    build_ivf_index(spark, load_table(spark, sf_dir, "embeddings"), path)
    brute = sorted(tuple(r) for r in busqueda_hibrida(spark, sf_dir).collect())
    full = sorted(
        tuple(r)
        for r in busqueda_hibrida_indexada(
            spark, sf_dir, path, nprobe=10_000
        ).collect()
    )
    assert full == brute
    dflt = busqueda_hibrida_indexada(spark, sf_dir, path).collect()
    brute_docs = {r[0] for r in brute}
    assert len({r["doc_id"] for r in dflt} & brute_docs) >= 7
    # lexical provenance is the SAME frame on both paths
    lex_brute = {(r[0], r[3]) for r in brute if r[3] is not None}
    lex_dflt = {
        (r["doc_id"], r["pos_lex"]) for r in dflt if r["pos_lex"] is not None
    }
    assert lex_dflt >= lex_brute or lex_brute >= lex_dflt


def test_streaming_semdedup_gate(spark, sf_dir, tmp_path):
    """run_semdedup_ingest: the in-stream SemDeDup gate against the
    STORED index — a clone of an indexed vector is dropped, a novel
    vector is kept, a within-batch duplicate pair keeps the min id, and
    a crash replay (checkpoint wiped, same file redelivered) is fenced
    into a no-op by the manifest's txnAppId/txnVersion."""
    import os
    import shutil

    from etl_python_airflow_bigquery_spark.operators.txlog import TxTable
    from etl_python_airflow_bigquery_spark.streaming.jobs import (
        run_semdedup_ingest,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(spark, emb.where(F.col("vec_id") % 2 == 0), path)
    vec_tx = TxTable(f"{path}/vectores")
    v0, n0 = vec_tx.version(), vec_tx.read(spark).count()

    # one micro-batch: a clone of INDEXED vector 0 (cos = 1.0 -> dup vs
    # stored), a genuinely distinct vector (vec 1 is NOT indexed; corpus
    # max pairwise cos ~0.47 < tau=0.9 -> novel), and an identical copy
    # of it (within-batch dup -> larger id dropped)
    src = str(tmp_path / "stream")
    os.makedirs(src)
    clon = emb.where(F.col("vec_id") == 0).select(
        F.lit(8_000_000).cast("long").alias("vec_id"), "embedding", "label"
    )
    novel = emb.where(F.col("vec_id") == 1).select(
        F.lit(8_000_001).cast("long").alias("vec_id"), "embedding", "label"
    )
    novel_dup = emb.where(F.col("vec_id") == 1).select(
        F.lit(8_000_002).cast("long").alias("vec_id"), "embedding", "label"
    )
    clon.unionByName(novel).unionByName(novel_dup).coalesce(1).write.parquet(
        src + "/f1.parquet"
    )
    run_semdedup_ingest(spark, src, path, str(tmp_path / "ck"), tau=0.9)

    assert vec_tx.version() == v0 + 1  # one atomic flip
    nuevos = {
        r["vec_id"]
        for r in vec_tx.read(spark).where(F.col("vec_id") >= 8_000_000).collect()
    }
    assert nuevos == {8_000_001}  # clone + within-batch dup both dropped
    assert vec_tx.read(spark).count() == n0 + 1

    # crash replay: wipe the checkpoint, redeliver the same file — the
    # txn fence turns the replayed batch 0 into a no-op
    shutil.rmtree(str(tmp_path / "ck"))
    run_semdedup_ingest(spark, src, path, str(tmp_path / "ck"), tau=0.9)
    assert vec_tx.version() == v0 + 1
    assert vec_tx.read(spark).count() == n0 + 1


def test_assign_2probe_matches_numpy_top2(spark, sf_dir):
    """_assign_cells_2probe: rango-1 equals _assign_cells' primary and
    rango-2 equals numpy's second argmin ((d2, sid) tie-break), in BOTH
    dispatch forms (literal fold below LITERAL_ASSIGN_MAX, broadcast
    two-pass min-struct above)."""
    import numpy as np

    from etl_python_airflow_bigquery_spark.queries.similarity import (
        _assign_cells,
        _assign_cells_2probe,
        _kmeans_fit,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    enteros = _int_vectors(emb).localCheckpoint(eager=True)
    rows = enteros.collect()
    ids = [r["vec_id"] for r in rows]
    mat = np.array([r["ev"] for r in rows], dtype=np.int64)

    def check(cent):
        sids = np.array(sorted(cent), dtype=np.int64)
        cm = np.array([cent[s] for s in sorted(cent)], dtype=np.int64)
        d2 = ((mat[:, None, :] - cm[None, :, :]) ** 2).sum(axis=2)
        # (d2, sid) lexicographic top-2
        order = np.lexsort((np.broadcast_to(sids, d2.shape), d2), axis=1)
        want1 = {v: int(sids[order[i, 0]]) for i, v in enumerate(ids)}
        want2 = {v: int(sids[order[i, 1]]) for i, v in enumerate(ids)}
        got = _assign_cells_2probe(enteros, cent).collect()
        got1 = {r["vec_id"]: r["celda"] for r in got if r["rango"] == 1}
        got2 = {r["vec_id"]: r["celda"] for r in got if r["rango"] == 2}
        assert got1 == want1
        assert got2 == want2
        prim = {r["vec_id"]: r["celda"]
                for r in _assign_cells(enteros, cent).collect()}
        assert got1 == prim  # rango 1 IS the 1-probe assign

    # literal form: the policy fit (k ~ 5 at this sf)
    check(_kmeans_fit(spark, enteros, 1))
    # broadcast form: >256 synthetic centroids from the vectors themselves
    big = {int(r["vec_id"]): list(r["ev"]) for r in rows[:300]}
    assert len(big) > 256
    check(big)


def test_semdedup_gate_2probe_catches_boundary_twin(spark, tmp_path):
    """Round-9 ingest-gate upgrade: an arrival whose stored near-twin
    sits JUST ACROSS its primary cell's boundary is still dropped,
    because the duplicate check probes the arrival's two nearest cells.
    Hand-built index (two colinear cells), so the geometry is exact:
    the stored twin is NOT in the arrival's primary cell (the 1-probe
    gate would admit it — asserted), cos(arrival, twin) = 1.0 >= tau."""
    import os

    from etl_python_airflow_bigquery_spark.operators.ann_index import _tables
    from etl_python_airflow_bigquery_spark.operators.txlog import TxTable
    from etl_python_airflow_bigquery_spark.queries.similarity import (
        DIM,
        _assign_cells,
    )
    from etl_python_airflow_bigquery_spark.streaming.jobs import (
        run_semdedup_ingest,
    )

    def vec(x0: float) -> list[float]:
        return [x0] + [0.0] * (DIM - 1)

    # arrival at 130 µ-units on dim 0; stored twin at 110; cells at 110
    # (A, id 0) and 136 (B, id 1): primary(arrival) = B (d2 ~ 36 vs
    # ~400), second probe = A where the twin lives; cos = 1 (colinear)
    path = str(tmp_path / "idx")
    cent_tx, vec_tx = _tables(path)
    sv_a = [110] + [0] * (DIM - 1)
    sv_b = [136] + [0] * (DIM - 1)
    cent_tx.overwrite(spark.createDataFrame(
        [(0, sv_a), (1, sv_b)], "celda long, sv array<bigint>"
    ))
    vec_tx.overwrite(spark.createDataFrame(
        [(1, 0, [110] + [0] * (DIM - 1))],
        "vec_id long, celda long, ev array<bigint>",
    ))

    src = str(tmp_path / "stream")
    os.makedirs(src)
    arrivals = spark.createDataFrame(
        [
            (9_000_000, vec(130e-6), 0),  # boundary twin of stored vec 1
            (9_000_001, [0.0, 0.5] + [0.0] * (DIM - 2), 0),  # novel
        ],
        "vec_id long, embedding array<float>, label int",
    )
    arrivals.coalesce(1).write.parquet(src + "/f1.parquet")

    # premise: the twin's PRIMARY cell (B) is not the stored twin's (A),
    # so a 1-cell check would never see the stored vector
    ent = _int_vectors(arrivals.where(F.col("vec_id") == 9_000_000))
    prim = _assign_cells(ent, {0: sv_a, 1: sv_b}).collect()[0]["celda"]
    assert prim == 1

    run_semdedup_ingest(spark, src, path, str(tmp_path / "ck"), tau=0.9)
    got = {r["vec_id"] for r in TxTable(f"{path}/vectores").read(spark).collect()}
    assert 9_000_000 not in got  # boundary twin dropped via the 2nd probe
    assert 9_000_001 in got  # novel admitted
    assert 1 in got  # stored row untouched


def test_indexed_maxsim_matches_brute_at_full_probe(spark, sf_dir, tmp_path):
    """busqueda_maxsim_indexada IS puntuacion_maxsim's promised
    production path: with nprobe >= the stored cell count, candidate
    generation covers every posting and the exact rerank reproduces the
    brute registry query row for row; at small nprobe the output stays
    well-formed (contiguous positions per query, scores non-increasing)
    and every result is also in the brute top set's doc universe."""
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        busqueda_maxsim_indexada,
    )
    from etl_python_airflow_bigquery_spark.queries import REGISTRY

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    info = build_ivf_index(spark, emb, path)

    brute = {
        (r["q_doc"], r["c_doc"], r["pos"], r["puntaje"])
        for r in REGISTRY["puntuacion_maxsim"].fn(spark, sf_dir).collect()
    }
    full = {
        (r["q_doc"], r["c_doc"], r["pos"], r["puntaje"])
        for r in busqueda_maxsim_indexada(
            spark, sf_dir, path, nprobe=info["k"]
        ).collect()
    }
    assert full == brute

    low = busqueda_maxsim_indexada(spark, sf_dir, path, nprobe=1).collect()
    assert low
    por_q = {}
    for r in low:
        por_q.setdefault(r["q_doc"], []).append((r["pos"], r["puntaje"]))
    for q, rows in por_q.items():
        rows.sort()
        assert [p for p, _ in rows] == list(range(1, len(rows) + 1))
        scores = [s for _, s in rows]
        assert scores == sorted(scores, reverse=True)


def test_label_propagation_matches_numpy_vote(spark, sf_dir, tmp_path):
    """etiquetar_por_vecinos: arrivals take the majority label of their
    k nearest indexed neighbors under the 2-probe candidate rule —
    checked against a numpy replay of the same rule (2 probed cells,
    top-k by (d2, vec_id), vote by (count DESC, label ASC)), and an
    exact clone of a stored vector must vote its twin's neighborhood."""
    import numpy as np

    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        _stored_centroids,
        etiquetar_por_vecinos,
    )
    from etl_python_airflow_bigquery_spark.queries.similarity import (
        _int_vectors,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(spark, emb, path)
    labels = emb.select("vec_id", "label")

    # arrivals: 5 fixture vectors re-shipped under new ids (their old
    # rows are IN the index, so the nearest neighbor is the twin itself)
    base = emb.where(F.col("vec_id") % 97 == 0).limit(5)
    arrivals = base.select(
        (F.col("vec_id") + 7_000_000).alias("vec_id"), "embedding"
    )
    got = {
        r["vec_id"]: (r["label_pred"], r["votos"])
        for r in etiquetar_por_vecinos(spark, arrivals, path, labels).collect()
    }
    assert set(got) == {r["vec_id"] + 7_000_000 for r in base.collect()}

    # numpy replay of the exact rule
    cent = _stored_centroids(spark, path)
    sids = np.array(sorted(cent), dtype=np.int64)
    cm = np.array([cent[s] for s in sorted(cent)], dtype=np.int64)
    stored = _int_vectors(emb).collect()
    sid_v = np.array([r["vec_id"] for r in stored], dtype=np.int64)
    mat = np.array([r["ev"] for r in stored], dtype=np.int64)
    cell_of = {}
    d2s = ((mat[:, None, :] - cm[None, :, :]) ** 2).sum(axis=2)
    order = np.lexsort((np.broadcast_to(sids, d2s.shape), d2s), axis=1)
    for i, v in enumerate(sid_v):
        cell_of[int(v)] = int(sids[order[i, 0]])
    lab = {r["vec_id"]: r["label"] for r in labels.collect()}
    arr = _int_vectors(arrivals).collect()
    for r in arr:
        ev = np.array(r["ev"], dtype=np.int64)
        d2c = ((cm - ev) ** 2).sum(axis=1)
        probe = set(sids[np.lexsort((sids, d2c))][:2].tolist())
        cands = [(int(((mat[i] - ev) ** 2).sum()), int(sid_v[i]))
                 for i in range(len(sid_v))
                 if cell_of[int(sid_v[i])] in probe]
        cands.sort()
        top = [v for _, v in cands[:3]]
        counts: dict[int, int] = {}
        for v in top:
            counts[lab[v]] = counts.get(lab[v], 0) + 1
        want = sorted(counts.items(), key=lambda t: (-t[1], t[0]))[0]
        assert got[r["vec_id"]] == (want[0], want[1]), r["vec_id"]


def test_index_meta_tracks_size_without_corpus_rescan(spark, sf_dir, tmp_path):
    """ADVICE r9/r10: build persists {'n','k','version','vec_basis',
    'dense_ids'}; add_to_ivf_index keeps n+version current; the maxsim
    serve path derives its query modulus from the FROZEN build basis
    (never a corpus-wide distinct count, and never the growing n) and
    still matches the brute query — covered by the full-probe test; here
    the meta lifecycle itself is pinned."""
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        read_index_meta,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    info = build_ivf_index(spark, emb, path)
    meta = read_index_meta(path)
    assert meta == {
        "n": info["n"],
        "k": info["k"],
        "version": info["version"],
        "vec_basis": info["n"],  # TESTDATA ids are dense 0..n-1
        "dense_ids": True,
    }
    clon = emb.where(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 9_000_000).alias("vec_id"), "embedding", "label"
    )
    v2 = add_to_ivf_index(spark, clon, path)
    despues = read_index_meta(path)
    assert despues["n"] == info["n"] + 3
    assert despues["version"] == v2
    # ADVICE r10: the query-sampling basis does NOT move with arbitrary-
    # id growth — qmod stays pinned to the build corpus
    assert despues["vec_basis"] == info["n"]
    assert despues["dense_ids"] is True


def test_streaming_adds_compact_posting_table(spark, sf_dir, tmp_path):
    """VERDICT r10 #7: sustained small adds must not accumulate one
    file per batch forever. Past the file gate, add_to_ivf_index
    bin-packs the small tail RANGE-CLUSTERED on celda in one manifest
    flip: the manifest shrinks, search results are identical, the
    per-file celda min/max stay tight (pruning survives), and
    index_meta's n/version stay consistent with the postings."""
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        _COMPACT_FILE_GATE,
        _tables,
        index_meta_current,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    info = build_ivf_index(spark, emb, path)
    _, vec_tx = _tables(path)
    consultas = _queries_from(spark, emb)

    # stream tiny batches until a compaction fires
    added, batch, compacted = 0, 0, False
    while not compacted and batch < 3 * _COMPACT_FILE_GATE:
        lo = batch * 2
        clon = emb.where(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 2)
        ).select(
            (F.col("vec_id") + 9_000_000 + lo).alias("vec_id"),
            "embedding",
            "label",
        )
        added += 2
        batch += 1
        v = add_to_ivf_index(spark, clon, path)
        m = vec_tx._manifest(v)
        compacted = m["op"] == "optimize_compact"
    assert compacted, "gate never fired"

    n_files = len(m["files"])
    assert n_files < _COMPACT_FILE_GATE  # the scan reads fewer files
    # byte-identity through the flip: the compaction's PARENT manifest
    # (the append that tripped the gate) holds exactly the same rows, so
    # serving either snapshot must return identical results
    pre = {(r["query_id"], r["cand_id"], r["pos"])
           for r in search_ivf_index(spark, consultas, path,
                                     version=v - 1).collect()}
    post = {(r["query_id"], r["cand_id"], r["pos"])
            for r in search_ivf_index(spark, consultas, path).collect()}
    assert post == pre
    # range-clustering kept per-file celda stats tight: compacted files
    # cover DISJOINT celda ranges (a coalesce would make them all span
    # the full range)
    spans = sorted(
        (e["stats"]["celda"][0], e["stats"]["celda"][1])
        for e in m["files"]
        if e.get("stats", {}).get("celda") is not None
    )
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2 or (lo1, hi1) == (lo2, _hi2), spans
    # meta consistent with the postings through the compaction flip
    meta = index_meta_current(spark, path)
    assert meta["n"] == info["n"] + added
    assert meta["version"] == vec_tx.version()


def test_index_meta_current_self_heals_stale_n(spark, sf_dir, tmp_path):
    """ADVICE r10: the json size cache is decoupled from the posting
    append — a crash between them (simulated by rolling the cache back)
    leaves n stale. index_meta_current detects the version mismatch,
    recounts n from the CURRENT posting snapshot, heals the cache, and
    preserves the frozen policy fields."""
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        _write_meta,
        index_meta_current,
        read_index_meta,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    info = build_ivf_index(spark, emb, path)
    clon = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 9_000_000).alias("vec_id"), "embedding", "label"
    )
    add_to_ivf_index(spark, clon, path)
    # simulate the crash window: append landed, meta write did not
    stale = read_index_meta(path)
    stale["n"] = info["n"]
    stale["version"] = info["version"]
    _write_meta(path, stale)

    healed = index_meta_current(spark, path)
    assert healed["n"] == info["n"] + 5
    assert healed["version"] == info["version"] + 1
    assert healed["vec_basis"] == info["n"]  # policy fields preserved
    assert healed["dense_ids"] is True
    # the heal is persisted: a second read is the cheap cache hit
    assert read_index_meta(path) == healed


def test_compacted_index_serves_from_pruned_files(spark, sf_dir, tmp_path):
    """Round 11: the serve path's file pruning, end to end — after a
    celda-range-clustered compaction the posting files carry DISJOINT
    celda spans, a single-cell read scans a strict subset of the files,
    and search results are unchanged through compaction + pruning."""
    from etl_python_airflow_bigquery_spark.operators.ann_index import _tables

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(spark, emb, path)
    _, vec_tx = _tables(path)
    # a few streamed batches so there IS a small tail to bin-pack
    for i in range(3):
        clon = emb.where(
            (F.col("vec_id") >= 2 * i) & (F.col("vec_id") < 2 * i + 2)
        ).select(
            (F.col("vec_id") + 7_500_000 + 10 * i).alias("vec_id"),
            "embedding",
            "label",
        )
        add_to_ivf_index(spark, clon, path)
    consultas = _queries_from(spark, emb)
    pre = {(r["query_id"], r["cand_id"], r["pos"])
           for r in search_ivf_index(spark, consultas, path).collect()}

    v = vec_tx.optimize_compact(spark, n_files=4, cluster_col="celda")
    m = vec_tx._manifest(v)
    spans = sorted(
        tuple(e["stats"]["celda"])
        for e in m["files"]
        if e.get("stats", {}).get("celda") is not None
    )
    assert len(spans) >= 2
    for (_l1, h1), (l2, _h2) in zip(spans, spans[1:]):
        assert h1 <= l2, spans  # range clustering: disjoint per-file spans
    # a one-cell read scans a strict subset of the compacted files
    pruned = vec_tx.read_in(spark, "celda", [spans[0][0]])
    assert 0 < len(pruned.inputFiles()) < len(m["files"])
    # identical serving through compaction + the pruned read path
    post = {(r["query_id"], r["cand_id"], r["pos"])
            for r in search_ivf_index(spark, consultas, path).collect()}
    assert post == pre


def test_streaming_label_ingest_matches_batch(spark, sf_dir, tmp_path):
    """run_label_ingest: arrivals labeled in-stream equal the one-shot
    batch etiquetar_por_vecinos row for row (votes depend only on the
    arrival and the STORED postings, never on batch-mates), the labeled
    table lands one manifest flip per batch, and replaying the drained
    stream is a no-op (txn fence + checkpoint)."""
    import os

    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        etiquetar_por_vecinos,
    )
    from etl_python_airflow_bigquery_spark.operators.txlog import TxTable
    from etl_python_airflow_bigquery_spark.streaming.jobs import (
        run_label_ingest,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    stored = emb.where(F.col("vec_id") % 10 != 7)
    arrivals = emb.where(F.col("vec_id") % 10 == 7).select(
        "vec_id", "embedding", "label"
    )
    path = str(tmp_path / "idx")
    build_ivf_index(spark, stored, path)
    labels = stored.select("vec_id", "label")

    # batch reference
    want = sorted(
        map(tuple, etiquetar_por_vecinos(
            spark, arrivals.select("vec_id", "embedding"), path, labels
        ).collect())
    )
    assert want  # fixture has arrivals

    # stream the arrivals in two files -> two micro-batches
    src = str(tmp_path / "stream")
    os.makedirs(src)
    arrivals.where(F.col("vec_id") < 250).coalesce(1).write.parquet(
        src + "/f1.parquet"
    )
    arrivals.where(F.col("vec_id") >= 250).coalesce(1).write.parquet(
        src + "/f2.parquet"
    )
    out = str(tmp_path / "labeled")
    run_label_ingest(spark, src, path, labels, out, str(tmp_path / "ck"))

    tx = TxTable(out)
    assert tx.version() == 1  # two batches, one flip each
    got = sorted(map(tuple, tx.read(spark).collect()))
    assert got == want  # batch/stream equivalence, exact

    # replay: drained stream + fence -> nothing moves
    run_label_ingest(spark, src, path, labels, out, str(tmp_path / "ck"))
    assert tx.version() == 1
    assert sorted(map(tuple, tx.read(spark).collect())) == want


def test_vacuum_index_reclaims_superseded_files(spark, sf_dir, tmp_path):
    """vacuum_index: after streamed growth + compaction, files only
    superseded manifests reference are reclaimed, current searches are
    unchanged, and a version inside the kept horizon still serves while
    one beyond it is gone (the pinned-snapshot contract the generous
    default horizon protects)."""
    import os

    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        _tables,
        vacuum_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(spark, emb, path)
    _, vec_tx = _tables(path)
    for i in range(4):  # superseded appends + their files
        clon = emb.where(F.col("vec_id") == i).select(
            (F.col("vec_id") + 6_000_000).alias("vec_id"), "embedding", "label"
        )
        add_to_ivf_index(spark, clon, path)
    vec_tx.optimize_compact(spark, n_files=2, cluster_col="celda")
    consultas = _queries_from(spark, emb)
    antes = {(r["query_id"], r["cand_id"], r["pos"])
             for r in search_ivf_index(spark, consultas, path).collect()}

    n_files_antes = len(os.listdir(vec_tx.data_dir))
    # keep only the compacted head: every superseded append file (still
    # referenced by the PRE-compaction manifest until now) reclaims
    removed = vacuum_index(path, keep_versions=1, retention_s=0.0)
    assert removed["vectores"] > 0
    assert len(os.listdir(vec_tx.data_dir)) < n_files_antes
    # current serving unchanged
    despues = {(r["query_id"], r["cand_id"], r["pos"])
               for r in search_ivf_index(spark, consultas, path).collect()}
    assert despues == antes
    # a snapshot pinned AFTER the vacuum horizon moves on still serves:
    # grow once more, then read the pre-growth version
    clon = emb.where(F.col("vec_id") == 9).select(
        (F.col("vec_id") + 6_500_000).alias("vec_id"), "embedding", "label"
    )
    v_nuevo = add_to_ivf_index(spark, clon, path)
    assert search_ivf_index(
        spark, consultas, path, version=v_nuevo - 1
    ).count() > 0
    # beyond the vacuumed horizon: the pinned read fails LOUDLY, never
    # silently wrong
    import pytest

    with pytest.raises(FileNotFoundError):
        vec_tx._manifest(0)


def test_build_meta_basis_handles_vec_id_zero(spark, sf_dir, tmp_path):
    """ADVICE r11: a corpus whose max vec_id is 0 (single vector, id 0)
    must record vec_basis=1 / dense_ids=True — the old `or -1` treated
    the legitimate 0 as falsy and forced the serve-path fallback count."""
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        read_index_meta,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") == 0)
    assert emb.count() == 1
    path = str(tmp_path / "idx0")
    build_ivf_index(spark, emb, path)
    meta = read_index_meta(path)
    assert meta["vec_basis"] == 1
    assert meta["dense_ids"] is True


def test_index_cache_eviction_reclaims_dirs(spark, sf_dir, monkeypatch):
    """ADVICE r11: evicting / clearing the session index cache must
    rmtree the mkdtemp index dirs, not leak one per eviction."""
    import os as _os

    from etl_python_airflow_bigquery_spark.queries import serving

    serving.clear_session_caches()
    monkeypatch.setattr(serving, "_INDEX_CACHE_MAX", 1)
    p1 = serving._served_index(spark, sf_dir, "evict_a")
    assert _os.path.isdir(p1)
    p2 = serving._served_index(spark, sf_dir, "evict_b")  # evicts p1
    assert not _os.path.exists(p1)  # reclaimed, not leaked
    assert _os.path.isdir(p2)
    serving.clear_session_caches()
    assert not _os.path.exists(p2)  # clear reclaims too


def test_auto_vacuum_soak_bounded_files_and_pinned_reader(
    spark, sf_dir, tmp_path, monkeypatch
):
    """VERDICT r12 #3 (auto-vacuum policy): a long ingest+compact soak
    must leave a BOUNDED on-disk file count (superseded manifests/files
    reclaimed by the ingest-triggered vacuum), while a version-pinned
    reader (the recall-drift contract, via pin_index_version's tag)
    survives every one of those concurrent vacuums byte-for-byte."""
    import os as _os

    from etl_python_airflow_bigquery_spark.operators import ann_index as ai

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    ai.build_ivf_index(spark, emb.where(F.col("vec_id") % 2 == 0), path)
    pinned_v = ai.pin_index_version(path, "release_v0")
    _, vec_tx = ai._tables(path)
    quiero = sorted(
        r["vec_id"] for r in
        vec_tx.read(spark, version=pinned_v).select("vec_id").collect()
    )

    # tight policy so the soak exercises many vacuum cycles quickly;
    # retention 0 = no in-flight writers in this single-threaded test
    monkeypatch.setattr(ai, "_AUTO_VACUUM_KEEP", 3)
    monkeypatch.setattr(ai, "_AUTO_VACUUM_SLACK", 2)
    monkeypatch.setattr(ai, "_AUTO_VACUUM_RETENTION_S", 0.0)

    def files_on_disk():
        n = 0
        for raiz, _d, files in _os.walk(path):
            n += len(files)
        return n

    conteos = []
    base = emb.where(F.col("vec_id") % 2 == 1).limit(40)
    for i in range(24):
        lote = base.select(
            (F.col("vec_id") + F.lit(1_000_000 * (i + 1))).alias("vec_id"),
            "embedding",
        )
        ai.add_to_ivf_index(spark, lote, path)
        conteos.append(files_on_disk())

    # bounded: the soak's tail is not growing one-file-per-ingest — the
    # last count is no bigger than the max seen mid-soak, and well under
    # the unreclaimed total (24 appends + compaction rewrites)
    assert conteos[-1] <= max(conteos)
    sin_vacuum = 2 * 24  # >=1 data file + 1 manifest per append, no GC
    assert conteos[-1] < sin_vacuum
    # the vacuum actually ran: fewer than KEEP+SLACK manifests remain
    # live plus the pinned root
    assert len(vec_tx._versions()) <= 3 + 2 + 1

    # the pinned snapshot survived every concurrent vacuum
    got = sorted(
        r["vec_id"] for r in
        vec_tx.read(spark, version=pinned_v).select("vec_id").collect()
    )
    assert got == quiero
    # and the tag is the thing protecting it: unpin + one more ingest
    # cycle reclaims it
    ai.unpin_index_version(path, "release_v0")
    lote = base.select(
        (F.col("vec_id") + F.lit(99_000_000)).alias("vec_id"), "embedding"
    )
    ai.add_to_ivf_index(spark, lote, path)
    import pytest as _pytest
    with _pytest.raises((FileNotFoundError, ValueError)):
        vec_tx.read(spark, version=pinned_v).collect()


def test_streaming_hybrid_serve_matches_batch(spark, sf_dir, tmp_path):
    """run_hybrid_serve (ROADMAP r11 (d)): query anchors served
    in-stream equal the one-shot batch busqueda_hibrida_indexada_multi
    row for row (a query's fused ranking depends only on the query and
    the STORED corpus/index, never on batch-mates), the served table
    lands one manifest flip per batch, and replaying the drained stream
    is a no-op (txn fence + checkpoint). The single-anchor batch serve
    is also the multi form's degenerate case (one algebra, two faces)."""
    import os

    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        busqueda_hibrida_indexada,
        busqueda_hibrida_indexada_multi,
    )
    from etl_python_airflow_bigquery_spark.operators.txlog import TxTable
    from etl_python_airflow_bigquery_spark.streaming.jobs import (
        run_hybrid_serve,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(spark, emb, path)

    qids_l = [0, 7, 19]
    qids = spark.createDataFrame([(q,) for q in qids_l], "query_id BIGINT")
    want = sorted(
        map(tuple, busqueda_hibrida_indexada_multi(
            spark, sf_dir, path, qids
        ).collect())
    )
    assert want

    # the single-anchor serve is the degenerate case of the multi form
    uno = spark.createDataFrame([(0,)], "query_id BIGINT")
    multi0 = sorted(
        (r["doc_id"], r["pos_fusion"], r["pos_lex"], r["pos_vec"])
        for r in busqueda_hibrida_indexada_multi(
            spark, sf_dir, path, uno
        ).collect()
    )
    solo = sorted(
        (r["doc_id"], r["pos_fusion"], r["pos_lex"], r["pos_vec"])
        for r in busqueda_hibrida_indexada(spark, sf_dir, path).collect()
    )
    assert multi0 == solo

    # stream the anchors in two files -> two micro-batches
    src = str(tmp_path / "stream")
    os.makedirs(src)
    spark.createDataFrame([(0,), (7,)], "query_id BIGINT").coalesce(
        1
    ).write.parquet(src + "/f1.parquet")
    spark.createDataFrame([(19,)], "query_id BIGINT").coalesce(
        1
    ).write.parquet(src + "/f2.parquet")
    out = str(tmp_path / "servido")
    run_hybrid_serve(spark, src, sf_dir, path, out, str(tmp_path / "ck"))

    tx = TxTable(out)
    assert tx.version() == 1  # two batches, one flip each
    got = sorted(map(tuple, tx.read(spark).collect()))
    assert got == want  # batch/stream equivalence, exact

    # replay: drained stream + fence -> nothing moves
    run_hybrid_serve(spark, src, sf_dir, path, out, str(tmp_path / "ck"))
    assert tx.version() == 1
    assert sorted(map(tuple, tx.read(spark).collect())) == want


def test_calibrate_index_records_and_serves_the_chosen_rung(
    spark, sf_dir, tmp_path
):
    """calibrate_index picks the cheapest ladder rung meeting the recall
    target, records it in the index metadata, and parameterless
    search_ivf_index serves AT that rung from then on (explicit nprobe
    still wins). The chosen rung's recall, recomputed independently,
    meets the target unless the rung is the ladder's most accurate."""
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        calibrate_index,
        read_index_meta,
        search_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(spark, emb, path)
    consultas = _queries_from(spark, emb)

    ladder = (1, 2, 4)
    rung = calibrate_index(
        spark, consultas, path, ladder=ladder, target_mili=900
    )
    meta = read_index_meta(path)
    assert rung in ladder
    assert meta["nprobe_calibrado"] == rung
    assert 0 <= meta["recall_mili_calibrado"] <= 1000
    if rung != max(ladder):
        assert meta["recall_mili_calibrado"] >= 900

    # the default serve now runs at the calibrated rung
    auto = sorted(map(tuple, search_ivf_index(
        spark, consultas, path
    ).collect()))
    explicit = sorted(map(tuple, search_ivf_index(
        spark, consultas, path, nprobe=rung
    ).collect()))
    assert auto == explicit
    # and an explicit override still wins (rung-1 differs when rung > 1)
    if rung > 1:
        uno = sorted(map(tuple, search_ivf_index(
            spark, consultas, path, nprobe=1
        ).collect()))
        assert uno != auto


def test_calibrate_index_caps_ladder_at_cell_count(spark, sf_dir, tmp_path):
    """A tiny corpus has fewer cells than the ladder's top rungs —
    calibration must not pay identical serves past k, and the recorded
    rung can never exceed the cell count."""
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        calibrate_index,
        read_index_meta,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 8)
    path = str(tmp_path / "idx")
    build_ivf_index(spark, emb, path)
    k = read_index_meta(path)["k"]
    consultas = _queries_from(spark, emb, every=1)
    rung = calibrate_index(
        spark, consultas, path, ladder=(1, 2, 4, 8), target_mili=1001
    )  # unreachable target -> most accurate rung, still capped at k
    assert rung <= max(1, k)


def test_calibrate_index_survives_missing_meta(spark, sf_dir, tmp_path):
    """ADVICE r12 (low): on a pre-meta index (no index_meta.json — the
    case the top of calibrate_index already tolerates) the final
    metadata RMW must not crash after paying for the full brute pass:
    the measured rung persists into a fresh meta file."""
    import os

    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        _meta_path,
        calibrate_index,
        read_index_meta,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(spark, emb, path)
    os.remove(_meta_path(path))  # simulate a pre-meta / legacy index

    consultas = _queries_from(spark, emb)
    rung = calibrate_index(
        spark, consultas, path, ladder=(1, 2), target_mili=900
    )
    meta = read_index_meta(path)  # file exists again
    assert meta["nprobe_calibrado"] == rung
    assert 0 <= meta["recall_mili_calibrado"] <= 1000


def test_serve_context_parity_both_legs(spark, sf_dir, tmp_path):
    """make_serve_context (VERDICT r12 #1): the stream-static serve
    context is an OPTIMIZATION, never a semantics change — the hybrid
    multi serve with ctx equals the self-contained form row for row,
    with and without a stored lexical index, and search_ivf_index with
    ctx equals the plain serve."""
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        busqueda_hibrida_indexada_multi,
        make_serve_context,
        search_ivf_index,
    )
    from etl_python_airflow_bigquery_spark.operators.lex_index import (
        build_lex_index,
    )
    from etl_python_airflow_bigquery_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(spark, emb, path)
    lex = str(tmp_path / "lex")
    build_lex_index(spark, load_table(spark, sf_dir, "documents"), lex)

    qids_l = [0, 7, 19]
    qids = spark.createDataFrame([(q,) for q in qids_l], "query_id BIGINT")

    # hybrid serve, stored-lex leg: ctx vs no ctx
    ctx = make_serve_context(spark, path, lex_path=lex)
    a = sorted(map(tuple, busqueda_hibrida_indexada_multi(
        spark, sf_dir, path, qids, lex_path=lex
    ).collect()))
    b = sorted(map(tuple, busqueda_hibrida_indexada_multi(
        spark, sf_dir, path, qids, lex_path=lex, ctx=ctx
    ).collect()))
    assert a == b and a

    # hybrid serve, inline-corpus leg: ctx (dense side only) vs no ctx
    ctx2 = make_serve_context(spark, path)
    c = sorted(map(tuple, busqueda_hibrida_indexada_multi(
        spark, sf_dir, path, qids
    ).collect()))
    d = sorted(map(tuple, busqueda_hibrida_indexada_multi(
        spark, sf_dir, path, qids, ctx=ctx2
    ).collect()))
    assert c == d and c

    # raw dense serve: ctx centroids/nprobe vs table-read centroids
    consultas = _queries_from(spark, emb)
    e = sorted(map(tuple, search_ivf_index(spark, consultas, path).collect()))
    f = sorted(map(tuple, search_ivf_index(
        spark, consultas, path, ctx=ctx
    ).collect()))
    assert e == f and e


def test_explicit_nprobe_beats_ctx(spark, sf_dir, tmp_path):
    """ADVICE r13: an explicitly passed nprobe must win over the serve
    context's resolved value — a caller passing both used to silently
    get the (possibly stale) ctx rung. With a 1-probe ctx, an explicit
    full-width nprobe must reproduce the full-probe serve."""
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        busqueda_hibrida_indexada_multi,
        make_serve_context,
        read_index_meta,
    )
    from etl_python_airflow_bigquery_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(spark, emb, path)
    k = int(read_index_meta(path)["k"])
    qids = spark.createDataFrame([(0,), (7,)], "query_id BIGINT")

    ctx = make_serve_context(spark, path, nprobe=1)
    assert ctx["nprobe"] == 1
    full = sorted(map(tuple, busqueda_hibrida_indexada_multi(
        spark, sf_dir, path, qids, nprobe=k
    ).collect()))
    con_ctx = sorted(map(tuple, busqueda_hibrida_indexada_multi(
        spark, sf_dir, path, qids, nprobe=k, ctx=ctx
    ).collect()))
    assert con_ctx == full and full
    if k > 1:
        # and with NO explicit value the ctx rung applies (1-probe serve
        # genuinely differs from the full probe on this corpus, or the
        # precedence test would be vacuous)
        solo_ctx = sorted(map(tuple, busqueda_hibrida_indexada_multi(
            spark, sf_dir, path, qids, ctx=ctx
        ).collect()))
        assert solo_ctx != full or k == 1


def test_hybrid_serve_passes_nprobe_through_unresolved(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ADVICE r13: run_hybrid_serve must NOT pre-resolve nprobe=None to
    the engine default — None has to reach make_serve_context so a
    calibrate_index'd index streams at its measured rung."""
    from etl_python_airflow_bigquery_spark.operators import ann_index as ai
    from etl_python_airflow_bigquery_spark.streaming.jobs import (
        run_hybrid_serve,
    )

    visto: list = []

    def _captura(spark_, path_, lex_path=None, nprobe="MISSING", **kw):
        visto.append(nprobe)
        raise RuntimeError("stop-after-capture")

    monkeypatch.setattr(ai, "make_serve_context", _captura)
    try:
        run_hybrid_serve(
            spark, str(tmp_path / "src"), sf_dir, str(tmp_path / "idx"),
            str(tmp_path / "out"), str(tmp_path / "ck"),
        )
    except RuntimeError as e:
        assert "stop-after-capture" in str(e)
    assert visto == [None]


def test_calibrate_index_auto_extends_ladder_to_target(
    spark, sf_dir, tmp_path, monkeypatch
):
    """r13: a fixed ladder topping out under the recall target is a
    geometry property, not a ceiling — calibration must climb past the
    ladder (geometrically, capped at the cell count) until the target
    is met. With target 1000 the climb provably terminates at a full
    probe (all k cells = the exact ranking), so the calibrated rung
    serves recall 1000 by construction."""
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        calibrate_index,
        read_index_meta,
    )
    from etl_python_airflow_bigquery_spark.queries import similarity as sim

    # many small cells so nprobe=1 is genuinely lossy
    monkeypatch.setattr(sim, "CELL_TARGET", 10)
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(spark, emb, path)
    k = int(read_index_meta(path)["k"])
    assert k > 2

    consultas = _queries_from(spark, emb)
    rung = calibrate_index(
        spark, consultas, path, ladder=(1,), target_mili=1000
    )
    meta = read_index_meta(path)
    assert rung > 1  # extended past the given ladder
    assert rung <= k
    assert meta["recall_mili_calibrado"] == 1000

"""Persistent ANN index: TRAIN ONCE, SERVE MANY — the IVF index as a
pair of transactional tables.

Every registered ANN query (similarity_ivf_kmeans / _search / the PQ
family) fits its quantizer inline so the DuckDB oracle can replay the
whole computation. Production does not: the index is built offline,
STORED, and then served/appended without ever refitting. This module is
that lifecycle over the engine's own txlog tables:

* ``build_ivf_index``  — Lloyd's fit (the similarity.py trainer, same
  corpus-size-derived k policy) → two TxTables under ``path``:
  ``centroides`` (k rows: celda, sv) and ``vectores`` (vec_id, celda,
  ev — the assigned posting lists WITH the scaled-int vectors, so
  serving never needs the source).
* ``add_to_ivf_index`` — the incremental path: new vectors assign
  against the STORED centroids (map-only literal argmin) and append to
  the posting table — one manifest flip, no refit, no corpus rescan.
* ``search_ivf_index`` — probes the ``nprobe`` nearest stored cells and
  exact-reranks by integer cosine. The plan touches ONLY the index
  tables: snapshot-isolated, time-travelable, and independent of the
  original embeddings source by construction.

At 100 TB: centroids stay ≤ K_CAP×DIM ints (a broadcast); the posting
table is the corpus re-keyed by cell — searches read nprobe/k of it,
and the txlog's per-file stats on ``celda`` (stats_cols) let the scan
prune untouched cells' files entirely.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_python_airflow_bigquery_spark.functions import in_literals, local_df
from etl_python_airflow_bigquery_spark.operators.txlog import TxTable
from etl_python_airflow_bigquery_spark.queries.similarity import (
    _KMEANS_ITERS,
    _NPROBE,
    _SEARCH_K,
    _assign_cells,
    _centroid_values_df,
    _int_vectors,
    _kmeans_fit,
    cosine_from_ints,
)


# Driver-collect guard of the probe (``_probe``): a query batch of up to
# this many vectors collects to the driver and ranks the stored
# centroids there; a larger one (a checkpoint-loss replay can redeliver
# every anchor file in one availableNow batch) ranks them in a Spark
# window instead — the same discipline as
# dedup_state._PROBE_COLLECT_CAP / lex_index._CONSULTA_COLLECT_CAP.
_ANCHOR_COLLECT_CAP = 4096


def _tables(path: str) -> tuple[TxTable, TxTable]:
    return (
        TxTable(f"{path}/centroides"),
        TxTable(f"{path}/vectores", stats_cols=["celda"]),
    )


def _meta_path(path: str) -> str:
    return os.path.join(path, "index_meta.json")


def _write_meta(path: str, meta: dict) -> None:
    import json
    import uuid as _uuid

    tmp = os.path.join(path, f"_tmp_meta_{_uuid.uuid4().hex[:8]}.json")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, _meta_path(path))


def read_index_meta(path: str) -> dict:
    """Index-level metadata written at build time and maintained by
    ``add_to_ivf_index``: {'n': stored vector count, 'k': cell count,
    'version': posting-table version ``n`` was computed at,
    'vec_basis': the BUILD corpus's dense-id basis (max vec_id + 1),
    'dense_ids': whether the build ids were verifiably dense}. Serving
    paths that need a corpus-size-derived policy constant (ADVICE r9:
    ``busqueda_maxsim_indexada``'s query modulus) read it from HERE —
    never by recounting the source corpus at serve time. ``vec_basis``
    is FROZEN at build on purpose: the query-sampling modulus is a
    corpus policy, and growing the index (``add_to_ivf_index`` accepts
    arbitrary vec_ids) must not silently move which docs are queries
    (ADVICE r10). NOTE: raw, possibly version-stale for 'n' — callers
    that need 'n' consistent with the CURRENT postings use
    ``index_meta_current``."""
    import json

    with open(_meta_path(path)) as fh:
        return json.load(fh)


def index_meta_current(spark: SparkSession, path: str) -> dict:
    """``read_index_meta`` with the self-healing 'n' contract (ADVICE
    r10): the json cache is a read-modify-write decoupled from the
    posting-table append, so a crash between ``vec_tx.append`` and
    ``_write_meta`` — or two concurrent adds losing an increment —
    leaves 'n' stale. The cache therefore carries the posting-table
    VERSION it was computed at; on mismatch this recounts 'n' from the
    current snapshot and heals the cache. Policy fields (vec_basis,
    dense_ids, k) are preserved — only 'n'/'version' heal."""
    _, vec_tx = _tables(path)
    v = vec_tx.version()
    meta = read_index_meta(path)
    if meta.get("version") == v:
        return meta
    meta["n"] = vec_tx.read(spark).count()
    meta["version"] = v
    _write_meta(path, meta)
    return meta


def build_ivf_index(
    spark: SparkSession, emb: DataFrame, path: str, iters: int = _KMEANS_ITERS
) -> dict:
    """Fit + assign + persist. Returns {'n', 'k', 'version'}."""
    enteros = _int_vectors(emb).localCheckpoint(eager=False)
    # one pass yields BOTH build-meta scalars (count for the seed/k
    # policy, max id for vec_basis) — previously two separate jobs
    n, _mx = enteros.agg(
        F.count(F.lit(1)), F.max("vec_id")
    ).first()
    cent = _kmeans_fit(spark, enteros, iters, n=n)
    cent_tx, vec_tx = _tables(path)
    cent_df = _centroid_values_df(spark, cent).select(
        F.col("seed_id").alias("celda"), "sv"
    )
    # keep_ev: the posting frame (vec_id, celda, ev) comes straight off
    # the map-only assign — the former join(enteros) shuffled both
    # sides once per build (guide §2.4)
    asignados = _assign_cells(enteros, cent, keep_ev=True).select(
        "vec_id", "celda", "ev"
    )
    # centroids commit BEFORE postings: an in-place rebuild must never
    # expose new postings against the old centroids to a live reader
    # (the centroid write is k rows, so ordering costs nothing)
    cent_tx.overwrite(cent_df)
    v = vec_tx.overwrite(asignados)
    # vec_basis: the build corpus's id basis (max vec_id + 1), the
    # EXPLICIT doc-count basis for per-doc serve policies (ADVICE r10 —
    # 'n' grows with adds of arbitrary vec_ids, so ceil(n/G) silently
    # diverges from the corpus doc count the brute twins use).
    # dense_ids records whether basis == n, i.e. whether max+1 is
    # verifiably the distinct-id count; serve paths fall back to a
    # corpus count when it is not.
    # explicit None check — `or -1` would treat a legitimate max vec_id
    # of 0 (single-vector corpus) as falsy and force the serve-path
    # fallback count (ADVICE r11).
    basis = (_mx if _mx is not None else -1) + 1
    _write_meta(
        path,
        {
            "n": n,
            "k": len(cent),
            "version": v,
            "vec_basis": basis,
            "dense_ids": basis == n,
        },
    )
    return {"n": n, "k": len(cent), "version": v}


# Stored centroid rows per index, keyed by the centroid table's version
# and that version's uuid-named data files: an in-place rebuild commits
# a new centroid version, so the next read misses instead of probing the
# old centroids against the new postings, and the file names tell apart
# an index deleted and rebuilt at the same version number. Values are
# k-bounded (≤ K_CAP×DIM ints); queries.serving.clear_session_caches
# clears them.
_CENT_CACHE: dict[tuple, dict[int, list[int]]] = {}
_CENT_CACHE_MAX = 8


def _stored_centroids(spark: SparkSession, path: str) -> dict[int, list[int]]:
    """{celda: sv} of the current centroid version — the one centroid
    source of the add, calibrate, label and probe paths."""
    cent_tx, _ = _tables(path)
    v, m = cent_tx._head()
    key = (os.path.abspath(path), v, tuple(TxTable._names(m.get("files", []))))
    cent = _CENT_CACHE.get(key)
    if cent is None:
        cent = dict(sorted(
            (int(r["celda"]), [int(x) for x in r["sv"]])
            for r in cent_tx.read(spark, version=v).collect()
        ))
        while len(_CENT_CACHE) >= _CENT_CACHE_MAX:
            _CENT_CACHE.pop(next(iter(_CENT_CACHE)))
        _CENT_CACHE[key] = cent
    return cent


# Posting-table file-count gate for the compaction trigger: a streaming
# ingest appends one manifest of small files per batch, and past this
# many files the per-file overhead (footer reads, task scheduling)
# starts to dominate the probe scan. 32 ≈ one compaction per ~30 batches
# at one file/batch — the rewrite cost stays bounded by the small tail.
_COMPACT_FILE_GATE = 32


def add_to_ivf_index(
    spark: SparkSession,
    emb_new: DataFrame,
    path: str,
    txn: tuple[str, int] | None = None,
) -> int:
    """Incremental index growth: assign the new batch against the STORED
    centroids and append its postings — cost O(batch·k), one atomic
    manifest flip, never a refit. (Centroid drift under sustained skewed
    growth is the operational signal to schedule a rebuild; the two
    tables' versions make before/after recall measurable.)

    COMPACTION (VERDICT r10 #7): once the posting manifest holds
    ``_COMPACT_FILE_GATE``+ files, the small tail bin-packs into
    ~k/8 files RANGE-CLUSTERED on ``celda`` — one manifest flip,
    byte-identical data, and the per-file celda min/max stay tight so
    the serve path's file pruning survives (a plain coalesce would
    interleave cells and defeat it). index_meta stays version-stamped
    through the flip; a crash between steps self-heals via
    ``index_meta_current``.

    ``txn=(app_id, batch_id)``: the append's idempotency fence
    (``TxTable.append``). A batch the postings already recorded is
    skipped whole — no append, no size-cache increment — so a
    micro-batch replayed after a crash between the flip and the
    stream's checkpoint commit is a no-op."""
    _, vec_tx = _tables(path)
    if txn is not None and vec_tx.txn_version(txn[0]) >= txn[1]:
        return vec_tx.version()
    cent = _stored_centroids(spark, path)
    enteros = _int_vectors(emb_new).localCheckpoint(eager=False)
    n_batch = enteros.count()
    nuevos = _assign_cells(enteros, cent, keep_ev=True).select(
        "vec_id", "celda", "ev"
    )
    v = vec_tx.append(nuevos, txn=txn)
    if len(vec_tx._manifest(v)["files"]) >= _COMPACT_FILE_GATE:
        v = vec_tx.optimize_compact(
            spark, n_files=max(1, len(cent) // 8), cluster_col="celda"
        )
    try:  # keep the serve-time size cache current without a rescan.
        # This RMW is best-effort by design: the cache carries the
        # posting version it describes, so a crash right here — or a
        # concurrent add's lost increment — is caught by
        # ``index_meta_current``'s version check and healed by a
        # snapshot recount (ADVICE r10). vec_basis is intentionally NOT
        # updated: it is the build corpus's query-sampling basis, and
        # arbitrary-id growth must not move it.
        meta = read_index_meta(path)
        meta["n"] = meta.get("n", 0) + n_batch
        meta["version"] = v
        _write_meta(path, meta)
    except FileNotFoundError:
        pass  # pre-meta index (built before r10) — serve paths fall back
    # auto-vacuum (VERDICT r11 #3): reclaim superseded manifests/files
    # once the version count passes the keep+slack gate; pinned (tagged)
    # snapshots and the keep horizon survive by vacuum's GC-root rules.
    maybe_auto_vacuum(path)
    return v


def _resolve_nprobe(path: str, nprobe: int | None) -> int:
    """Probe width: explicit > the rung ``calibrate_index`` recorded in
    the index metadata > the engine constant ``_NPROBE``."""
    if nprobe is not None:
        return int(nprobe)
    try:
        return int(read_index_meta(path).get("nprobe_calibrado", _NPROBE))
    except FileNotFoundError:
        return _NPROBE


def _probe(
    spark: SparkSession, queries: DataFrame, path: str, nprobe: int
) -> tuple[DataFrame, DataFrame, list[int]]:
    """The ``nprobe`` nearest stored cells of every (query_id, qv) query
    by integer L2, ties broken by seed_id. Returns (queries, qcells
    (query_id, celda), celdas: the distinct probed cells).

    The form follows the batch's observed size. Up to
    ``_ANCHOR_COLLECT_CAP`` queries collect to the driver and rank the
    centroids there: Python ints are exact and the magnitudes (scaled
    components² × dim) sit far inside int64, so the order equals the
    Spark window's long arithmetic, and the serve runs no Spark job
    before its fused plan beyond the collect. The collected queries and
    qcells return as broadcast local relations: RDD-backed relations
    carry unknown stats, and without the hint the planner broadcasts the
    POSTINGS side of the celda join (a cell is ~n/k vectors) instead
    (guide §3.1). Past the cap the ranking runs as a Spark window over
    the broadcast centroids, the only form that serves an over-cap
    batch."""
    cent = _stored_centroids(spark, path)
    filas = queries.limit(_ANCHOR_COLLECT_CAP + 1).collect()
    if len(filas) <= _ANCHOR_COLLECT_CAP:
        filas = [(int(r["query_id"]), [int(x) for x in r["qv"]]) for r in filas]
        pares = [
            (qid, sid)
            for qid, qv in filas
            for _, sid in sorted(
                (sum((x - y) * (x - y) for x, y in zip(qv, sv)), sid)
                for sid, sv in cent.items()
            )[:nprobe]
        ]
        return (
            F.broadcast(
                local_df(spark, filas, "query_id BIGINT, qv ARRAY<BIGINT>")
            ),
            F.broadcast(local_df(spark, pares, "query_id BIGINT, celda BIGINT")),
            sorted({sid for _, sid in pares}),
        )
    cent_df = local_df(
        spark, list(cent.items()), "seed_id BIGINT, sv ARRAY<BIGINT>"
    )
    qdist = queries.crossJoin(F.broadcast(cent_df)).select(
        "query_id",
        "seed_id",
        F.aggregate(
            F.zip_with(F.col("qv"), F.col("sv"), lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("d2"),
    )
    wq = Window.partitionBy("query_id").orderBy("d2", "seed_id")
    qcells = (
        qdist.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= nprobe)
        .select("query_id", F.col("seed_id").alias("celda"))
        .localCheckpoint(eager=False)  # consumed by prune AND join
    )
    celdas = [r["celda"] for r in qcells.select("celda").distinct().collect()]
    return queries, qcells, celdas


def _rerank(
    spark: SparkSession,
    queries: DataFrame,
    qcells: DataFrame,
    celdas: list[int],
    path: str,
    topk: int,
    version: int | None,
) -> DataFrame:
    """Exact integer-cosine top-k of each query over the postings of its
    probed cells (``_probe``'s output), at posting ``version``. FILE
    PRUNING, ENFORCED (round 11): the probed cell set is bounded (≤
    min(k, queries×nprobe) ids), so the read opens ONLY the posting
    files whose celda stats admit a probed cell — on a compacted
    (celda-range-clustered) table ~nprobe/k of the files. read_in keeps
    the residual IN filter, and un-statted files are always read."""
    _, vec_tx = _tables(path)
    postings = vec_tx.read_in(spark, "celda", celdas, version=version)
    norma = lambda c: F.aggregate(  # noqa: E731
        F.zip_with(F.col(c), F.col(c), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    cands = (
        qcells.join(postings, "celda")
        .where(F.col("vec_id") != F.col("query_id"))
        .join(queries, "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            F.aggregate(
                F.zip_with(F.col("qv"), F.col("ev"), lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("dot"),
            norma("qv").alias("nq"),
            norma("ev").alias("nc"),
        )
        .withColumn("cos", cosine_from_ints(F.col("dot"), F.col("nq"), F.col("nc")))
    )
    wr = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return (
        cands.withColumn("pos", F.row_number().over(wr))
        .where(F.col("pos") <= topk)
        .select("query_id", "cand_id", F.col("pos").cast("bigint").alias("pos"), "cos")
    )


def search_ivf_index(
    spark: SparkSession,
    queries: DataFrame,
    path: str,
    nprobe: int | None = None,
    topk: int = _SEARCH_K,
    version: int | None = None,
) -> DataFrame:
    """``queries``: (query_id, qv: array<bigint>) — scaled-int vectors
    (route raw embeddings through ``_int_vectors`` first). Probes the
    nprobe nearest stored cells per query (``_probe`` sizes its form to
    the batch), exact integer-cosine rerank, top-k. Reads ONLY the index
    tables; ``version`` pins the POSTING snapshot (time-travel serving —
    centroids are append-invariant, so the latest centroid table serves
    every posting version). The posting read is manifest-stats
    FILE-PRUNED to the probed cells (round 11) — on a compacted,
    celda-range-clustered table the scan touches ~nprobe/k of the files,
    not the table.

    ``nprobe=None`` (the default) resolves to the index's CALIBRATED
    rung when ``calibrate_index`` has recorded one in the metadata,
    else the engine constant ``_NPROBE`` — so a deployment that ran the
    calibration once serves at its measured recall target without every
    call site knowing the number; explicit values always win. The rung
    is read per call, so a recalibration reaches the next serve."""
    queries, qcells, celdas = _probe(
        spark, queries, path, _resolve_nprobe(path, nprobe)
    )
    return _rerank(spark, queries, qcells, celdas, path, topk, version)


def recall_drift(
    spark: SparkSession,
    queries: DataFrame,
    path: str,
    v_old: int,
    v_new: int | None = None,
    topk: int = _SEARCH_K,
) -> DataFrame:
    """RECALL-DRIFT MONITORING across index versions — the operational
    signal that decides when streamed growth (run_ann_ingest) has
    drifted far enough from the stored centroids to schedule a rebuild:
    per query, the top-k overlap between the ``v_old`` posting snapshot
    and ``v_new`` (default latest), in floor-milli. A fleet-wide drop in
    ``solape_mili`` without a data incident means new vectors are
    landing in ill-fitting cells. Both searches read pinned snapshots of
    the SAME tables — no recompute, no refit.

    The probe is HOISTED: centroids are append-invariant, so the two
    searches' probed-cell sets are identical — one ``_probe`` (one query
    collect under the anchor cap) serves both reranks."""
    queries, qcells, celdas = _probe(
        spark, queries, path, _resolve_nprobe(path, None)
    )
    viejo = _rerank(spark, queries, qcells, celdas, path, topk, v_old)
    nuevo = _rerank(spark, queries, qcells, celdas, path, topk, v_new)
    a = viejo.groupBy("query_id").agg(
        F.collect_set("cand_id").alias("top_viejo")
    )
    b = nuevo.groupBy("query_id").agg(
        F.collect_set("cand_id").alias("top_nuevo")
    )
    return a.join(b, "query_id").select(
        "query_id",
        F.size("top_viejo").cast("bigint").alias("k_viejo"),
        F.size("top_nuevo").cast("bigint").alias("k_nuevo"),
        F.expr(
            "CAST((1000 * size(array_intersect(top_viejo, top_nuevo)))"
            " div greatest(size(top_nuevo), 1) AS BIGINT)"
        ).alias("solape_mili"),
    )


def calibrate_index(
    spark: SparkSession,
    queries: DataFrame,
    path: str,
    ladder: tuple[int, ...] = (1, 2, 3, 4),
    topk: int = _SEARCH_K,
    target_mili: int = 900,
) -> int:
    """CALIBRATE the serving probe count against a recall target and
    RECORD it in the index metadata (the operator face of the
    registered ``calibracion_sondas`` row): serve ``queries`` (sampled,
    fixed-size — the caller's recall-measurement set) at every ladder
    rung, measure micro-averaged recall@k against the brute
    integer-cosine ranking over the STORED vectors, pick the cheapest
    rung whose floor-milli recall meets ``target_mili`` (the most
    accurate rung if none does), write it as ``nprobe_calibrado`` via
    the metadata RMW, and return it. ``search_ivf_index`` then uses the
    recorded rung whenever the caller does not pass an explicit nprobe.
    Cost: |ladder| sampled serves + one brute pass of queries × stored
    vectors (sample-bounded; the brute leg is the recall ceiling)."""
    _, vec_tx = _tables(path)
    try:  # rungs past the cell count are the same serve — don't pay twice
        k_celdas = int(read_index_meta(path).get("k", 0)) or None
    except FileNotFoundError:
        k_celdas = None
    if not k_celdas:  # pre-meta index: count the stored centroids
        k_celdas = len(_stored_centroids(spark, path)) or None
    if k_celdas:
        capped = tuple(r for r in ladder if r <= k_celdas) or (k_celdas,)
        ladder = capped
    stored = vec_tx.read(spark).select("vec_id", "ev")
    norma = lambda c: F.aggregate(  # noqa: E731
        F.zip_with(F.col(c), F.col(c), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    pares = (
        stored.join(
            F.broadcast(queries), F.col("vec_id") != F.col("query_id")
        )
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            F.aggregate(
                F.zip_with(F.col("qv"), F.col("ev"), lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("dot"),
            norma("qv").alias("nq"),
            norma("ev").alias("nc"),
        )
        .withColumn(
            "cos", cosine_from_ints(F.col("dot"), F.col("nq"), F.col("nc"))
        )
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("cand_id")
    )
    verdad = (
        pares.withColumn("pos", F.row_number().over(wv))
        .where(F.col("pos") <= topk)
        .select("query_id", "cand_id")
        .localCheckpoint()
    )
    total = verdad.count()
    medido: dict[int, int] = {}
    elegido = None

    def _mide(rung: int) -> int:
        servida = search_ivf_index(
            spark, queries, path, nprobe=rung, topk=topk
        ).select("query_id", "cand_id")
        hits = servida.join(verdad, ["query_id", "cand_id"]).count()
        return (1000 * hits) // total if total else 1000

    for rung in sorted(ladder):
        medido[rung] = _mide(rung)
        if medido[rung] >= target_mili:
            elegido = rung  # cheapest qualifying rung — stop paying
            break
    if elegido is None and k_celdas and max(medido) < k_celdas:
        # AUTO-EXTEND (r13): the fixed ladder topping out under target
        # is a GEOMETRY property, not a ceiling — probing all k cells
        # is the exact ranking (recall 1000 by construction), so the
        # target is always reachable. Climb geometrically from the
        # ladder's top until the target is met or the rung covers every
        # cell; each extra rung costs one sampled serve, and the
        # calibrated output stays "cheapest rung that meets the target"
        # instead of silently under-delivering (sf0.1 natural geometry:
        # rungs 1-4 of k=20 measure <=708 milli; the extension finds
        # the true qualifying rung).
        rung = max(medido) * 2
        while True:
            rung = min(rung, k_celdas)
            medido[rung] = _mide(rung)
            if medido[rung] >= target_mili:
                elegido = rung
                break
            if rung >= k_celdas:
                break
            rung *= 2
    if elegido is None:  # unreachable target: the most accurate rung wins
        elegido = max(medido, key=lambda r: (medido[r], -r))
    try:
        meta = read_index_meta(path)
    except FileNotFoundError:
        # pre-meta index (tolerated at the top of this function): the
        # measured rung must still persist — an empty meta is healed by
        # index_meta_current on the next versioned read (ADVICE r12)
        meta = {}
    meta["nprobe_calibrado"] = int(elegido)
    meta["recall_mili_calibrado"] = int(medido[elegido])
    _write_meta(path, meta)
    return int(elegido)


def busqueda_hibrida_indexada_multi(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    qids: DataFrame,
    nprobe: int | None = None,
    corpus=None,
    lex_path: str | None = None,
) -> DataFrame:
    """The hybrid retrieval query SERVED FROM THE STORED INDEX, for a
    QUERY SET — the one stored-index hybrid serve: the registry row
    ``busqueda_hibrida_indexada`` runs it as a one-query batch, the
    streaming hybrid job (streaming/jobs.py ``run_hybrid_serve``) inside
    foreachBatch. ``qids`` (query_id) are more-like-this anchors, the
    lexical ranker is the shared multi-query BM25 frame (or, with
    ``lex_path``, the same algebra served from the stored postings), the
    dense ranker probes the stored IVF tables (``search_ivf_index`` is
    multi-query native, file-pruned to the probed cells), and the fusion
    is the shared ``rrf_fuse_hibrida_multi``. With ``nprobe`` ≥ the
    stored cell count the probe covers every posting and the output
    matches the brute ``busqueda_hibrida`` row for row (pinned by test;
    the one theoretical divergence is a dense-top-10 near-tie under the
    index's coarser per-element quantization). Output: (query_id,
    doc_id, rrf_micro, pos_fusion, pos_lex, pos_vec), ≤ top-k rows per
    query. A query's result depends only on itself and the STORED
    corpus/index — never on batch-mates — which is what makes the
    streaming drain equal the one-shot batch call exactly."""
    from etl_python_airflow_bigquery_spark.queries.similarity import (
        hibrida_lexical_top_multi,
        rrf_fuse_hibrida_multi,
    )
    from etl_python_airflow_bigquery_spark.queries.text import _BM25_TOP
    from etl_python_airflow_bigquery_spark.tables import load_table

    if lex_path is not None:
        # stored-postings lexical serve: per-batch work is the anchors'
        # term lookups + their terms' posting files, never a tf rebuild
        from etl_python_airflow_bigquery_spark.operators.lex_index import (
            hibrida_lexical_top_multi_indexada,
        )

        ids = [r["query_id"] for r in qids.select("query_id").collect()]
        lex = hibrida_lexical_top_multi_indexada(spark, sf_dir, lex_path, ids)
    else:
        ids = None
        lex = hibrida_lexical_top_multi(spark, sf_dir, qids, corpus=corpus)
    emb = load_table(spark, sf_dir, "embeddings")
    if ids is not None and len(ids) <= _ANCHOR_COLLECT_CAP:
        # anchors known on the driver: a LITERAL IN predicate reaches
        # the parquet scan (row-group pruned). Past the cap the literal
        # list is unbounded, so the broadcast left-semi form serves the
        # batch instead.
        anclas = emb.where(in_literals("vec_id", [int(q) for q in ids]))
    else:
        anclas = emb.join(
            F.broadcast(qids), emb["vec_id"] == qids["query_id"], "left_semi"
        )
    consultas = _int_vectors(anclas).select(
        F.col("vec_id").alias("query_id"), F.col("ev").alias("qv")
    )
    vec = search_ivf_index(
        spark, consultas, path, nprobe=nprobe, topk=_BM25_TOP
    ).select(
        "query_id", F.col("cand_id").alias("doc_id"),
        F.col("pos").alias("pos_vec"),
    )
    return rrf_fuse_hibrida_multi(lex, vec)


def busqueda_maxsim_indexada(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    nprobe: int = _NPROBE,
) -> DataFrame:
    """MULTI-VECTOR (ColBERT MaxSim) retrieval SERVED FROM THE STORED
    INDEX — the production path ``puntuacion_maxsim``'s docstring
    promises, executed with the PLAID/ColBERTv2 two-stage shape:

    1. CANDIDATE GENERATION from the index: every query TOKEN probes
       its ``nprobe`` nearest stored cells; any document with a token
       in a probed cell becomes a candidate — the posting scan reads
       nprobe/k of the table (file-pruned on ``celda`` stats), never
       the corpus.
    2. EXACT RERANK: candidates' FULL token sets come from the source
       embeddings and score with the registry query's exact integer
       MaxSim (per-query-token max, per-pair sum) — so a candidate is
       never scored on a partial token set, and with nprobe ≥ the
       stored cell count the output matches the brute
       ``puntuacion_maxsim`` row for row (test-pinned).

    The recall knob is candidate generation only: a missed candidate is
    a doc NONE of whose tokens landed in any probed cell of any query
    token — the multi-token analogue of IVF probe recall."""
    from etl_python_airflow_bigquery_spark.queries.similarity import (
        _MAXSIM_G,
        _MAXSIM_K,
        _MAXSIM_Q,
        scaled_dot,
    )
    from etl_python_airflow_bigquery_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    toks = emb.select(
        F.expr(f"vec_id div {_MAXSIM_G}").alias("doc_id"), "vec_id", "embedding"
    )
    # Corpus size for the query-modulus policy comes from the INDEX
    # metadata (ADVICE r9): serving must never pay a corpus-wide
    # distinct().count() just to pick its query docs. The basis is
    # ``vec_basis`` — the BUILD corpus's max vec_id + 1, frozen at build
    # — NOT the raw vector count 'n' (ADVICE r10: 'n' grows under
    # add_to_ivf_index with arbitrary vec_ids, which would silently move
    # qmod away from the brute ``puntuacion_maxsim``'s corpus-derived
    # value). With the dense surrogate ids TESTDATA.md documents,
    # ceil(vec_basis/G) IS the distinct (vec_id div G) count; when the
    # build ids were not dense the meta says so and we pay the one
    # corpus count the policy then genuinely requires.
    try:
        meta = read_index_meta(path)
    except FileNotFoundError:  # pre-meta index — one-time legacy fallback
        meta = {}
    basis = meta.get("vec_basis", meta.get("n"))
    if basis is not None and meta.get("dense_ids", True):
        n_docs = -(-basis // _MAXSIM_G)
    else:
        n_docs = toks.select("doc_id").distinct().count()
    qmod = max(1, n_docs // _MAXSIM_Q)
    qtoks = toks.where(F.col("doc_id") % qmod == 0).select(
        F.col("doc_id").alias("q_doc"),
        F.col("vec_id").alias("q_vec"),
        F.col("embedding").alias("q_emb"),
    ).localCheckpoint(eager=False)

    # stage 1: probe cells per query token against the STORED centroids
    # (the shared ``_probe``), candidates from the stored postings only,
    # file-pruned to the probed cells (see search_ivf_index)
    _, vec_tx = _tables(path)
    q_int = _int_vectors(
        qtoks.select(F.col("q_vec").alias("vec_id"),
                     F.col("q_emb").alias("embedding"))
    ).select(F.col("vec_id").alias("query_id"), F.col("ev").alias("qv"))
    _, qcells, celdas = _probe(spark, q_int, path, nprobe)
    probed = qcells.withColumnRenamed("query_id", "q_vec")
    postings = vec_tx.read_in(spark, "celda", celdas).select(
        "celda", F.expr(f"vec_id div {_MAXSIM_G}").alias("c_doc")
    )
    cand = (
        probed.join(postings, "celda")
        .join(
            F.broadcast(qtoks.select("q_vec", "q_doc").distinct()), "q_vec"
        )
        .where(F.col("c_doc") != F.col("q_doc"))
        .select("q_doc", "c_doc")
        .distinct()
    )

    # stage 2: exact rerank on the candidates' FULL token sets (source
    # embeddings), with the registry query's integer MaxSim
    ctoks = toks.select(
        F.col("doc_id").alias("c_doc"),
        F.col("embedding").alias("c_emb"),
    )
    dots = (
        cand.join(ctoks, "c_doc")
        .join(F.broadcast(qtoks), "q_doc")
        .select(
            "q_doc",
            "c_doc",
            "q_vec",
            scaled_dot(F.col("q_emb"), F.col("c_emb")).alias("dot"),
        )
    )
    maxsim = dots.groupBy("q_doc", "c_doc", "q_vec").agg(
        F.max("dot").alias("mejor")
    )
    puntajes = maxsim.groupBy("q_doc", "c_doc").agg(
        F.sum("mejor").alias("puntaje")
    )
    wr = Window.partitionBy("q_doc").orderBy(F.col("puntaje").desc(), "c_doc")
    return (
        puntajes.withColumn("pos", F.row_number().over(wr))
        .where(F.col("pos") <= _MAXSIM_K)
        .select(
            "q_doc",
            "c_doc",
            F.col("pos").cast("bigint").alias("pos"),
            F.col("puntaje").cast("bigint").alias("puntaje"),
        )
    )


def etiquetar_por_vecinos(
    spark: SparkSession,
    arrivals: DataFrame,
    path: str,
    labels_df: DataFrame,
    k: int = 3,
) -> DataFrame:
    """LABEL PROPAGATION AT INGEST — ``clasificador_knn``'s stored-index
    face: new vectors (vec_id, embedding) take the majority label of
    their k nearest INDEXED neighbors, with candidates drawn from each
    arrival's TWO nearest stored cells (the round-9 2-probe discipline —
    a neighbor just across the primary cell's border still votes).
    ``labels_df`` (vec_id, label) carries the stored corpus's labels —
    kept OUT of the posting table on purpose: labels revise on their own
    cadence (re-annotation, taxonomy moves) and joining them at vote
    time means a label fix never requires rewriting postings.

    Returns (vec_id, label_pred, votos) — votos is the winning label's
    count (≤ k), the per-arrival confidence a weak-supervision gate
    thresholds on. Deterministic end to end: integer L2, (d2, vec_id)
    neighbor tie-break, (count DESC, label ASC) vote tie-break — the
    exact clasificador_knn conventions, so batch evaluation and ingest
    propagation can never disagree about a vote."""
    from etl_python_airflow_bigquery_spark.queries.similarity import (
        _assign_cells_2probe,
    )

    cent = _stored_centroids(spark, path)
    _, vec_tx = _tables(path)
    enteros = _int_vectors(arrivals).localCheckpoint(eager=False)
    probes = (
        _assign_cells_2probe(enteros, cent)
        .select("vec_id", "celda")
        .localCheckpoint(eager=False)
    )
    # the DISTINCT probed-cell set is ≤ k ids no matter the arrival
    # batch size — collect it and stats-prune the posting read (the
    # search_ivf_index file-pruning discipline)
    celdas = [r["celda"] for r in probes.select("celda").distinct().collect()]
    postings = vec_tx.read_in(spark, "celda", celdas).select(
        "celda",
        F.col("vec_id").alias("vecino"),
        F.col("ev").alias("ev_s"),
    )
    d2 = F.aggregate(
        F.zip_with(F.col("ev"), F.col("ev_s"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    cand = (
        probes.join(postings, "celda")
        .select("vec_id", "vecino")
        .distinct()  # a neighbor reachable via both probes votes once
        .join(enteros, "vec_id")
        # postings is one row per stored vector, so no distinct here —
        # a corpus-wide distinct on the vector column would shuffle the
        # whole posting table for nothing
        .join(postings.select("vecino", "ev_s"), "vecino")
        .select("vec_id", "vecino", d2.alias("d2"))
    )
    wk = Window.partitionBy("vec_id").orderBy("d2", "vecino")
    knn = (
        cand.withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= k)
        .select("vec_id", "vecino")
    )
    votos = (
        knn.join(
            labels_df.select(F.col("vec_id").alias("vecino"), "label"),
            "vecino",
        )
        .groupBy("vec_id", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wv = Window.partitionBy("vec_id").orderBy(F.col("n").desc(), "label")
    return (
        votos.withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("label").cast("bigint").alias("label_pred"),
            F.col("n").cast("bigint").alias("votos"),
        )
    )


def pin_index_version(path: str, name: str, version: int | None = None) -> int:
    """PIN a posting/centroid snapshot against vacuum (VERDICT r11 #3):
    tags are GC roots at the table layer, so a pinned version's manifest
    and data files survive ANY vacuum horizon until ``unpin_index_version``
    — the contract version-pinned serving (``search_ivf_index(version=)``,
    ``recall_drift``'s old-version read) relies on under auto-vacuum.
    Pins the VECTORS version given (default: current) and the CURRENT
    centroids version under the same name; returns the pinned vectors
    version."""
    cent_tx, vec_tx = _tables(path)
    v = vec_tx.version() if version is None else version
    vec_tx.create_tag(name, v)
    cent_tx.create_tag(name, cent_tx.version())
    return v


def unpin_index_version(path: str, name: str) -> None:
    """Release a ``pin_index_version`` pin; the next vacuum may reclaim
    the snapshot once it falls outside the keep horizon."""
    cent_tx, vec_tx = _tables(path)
    vec_tx.delete_tag(name)
    cent_tx.delete_tag(name)


# Auto-vacuum policy (VERDICT r11 #3): under continuous ingest, every
# append supersedes a posting manifest and every compaction supersedes
# its small tail — without reclamation the data dir grows without bound
# while the LIVE file set stays flat. Ingest triggers vacuum_index once
# the manifest count exceeds keep + slack. SAFETY, by construction of
# TxTable.vacuum's GC roots: the last _AUTO_VACUUM_KEEP versions, every
# TAGGED (pinned) version, every WAP-staged batch, and any unreferenced
# file younger than the retention window all survive — so a serve that
# pinned its snapshot via pin_index_version can never lose it, and a
# merely version-pinned reader has a keep_versions=8 horizon (the
# generous default documented on vacuum_index). The slack keeps the
# policy from vacuuming on EVERY post-horizon append (amortized one
# reclaim per _AUTO_VACUUM_SLACK ingests).
_AUTO_VACUUM_KEEP = 8
_AUTO_VACUUM_SLACK = 8
_AUTO_VACUUM_RETENTION_S = 3600.0


def maybe_auto_vacuum(path: str) -> dict | None:
    """Run ``vacuum_index`` iff the posting table's manifest count
    exceeds the keep+slack gate. Returns the vacuum stats when it ran,
    None when gated off. Called from ``add_to_ivf_index`` (and therefore
    from every streaming ingest job that grows the index)."""
    _, vec_tx = _tables(path)
    if len(vec_tx._versions()) < _AUTO_VACUUM_KEEP + _AUTO_VACUUM_SLACK:
        return None
    return vacuum_index(
        path,
        keep_versions=_AUTO_VACUUM_KEEP,
        retention_s=_AUTO_VACUUM_RETENTION_S,
    )


def vacuum_index(
    path: str, keep_versions: int = 8, retention_s: float = 3600.0
) -> dict:
    """INDEX MAINTENANCE, final stage of the lifecycle (build → ingest →
    compact → VACUUM): reclaim the posting and centroid files that no
    surviving version references — under streaming ingest every append
    supersedes the previous manifest and every compaction supersedes its
    small tail, so the data dir otherwise grows without bound even
    though the LIVE file set stays flat.

    ``keep_versions`` defaults GENEROUSLY (8, vs the table layer's 1) on
    purpose: version-pinned serving is a first-class index feature —
    ``search_ivf_index(version=...)`` and ``recall_drift`` read OLD
    posting snapshots, and a vacuum that drops a snapshot a serving job
    still pins breaks it loudly (FileNotFoundError on the manifest).
    Keep the horizon wider than the oldest pinned snapshot; tag a
    version (txlog ``tag``) to exempt it from any horizon. Returns
    {'centroides': n_removed, 'vectores': n_removed}."""
    cent_tx, vec_tx = _tables(path)
    return {
        "centroides": cent_tx.vacuum(keep_versions, retention_s),
        "vectores": vec_tx.vacuum(keep_versions, retention_s),
    }

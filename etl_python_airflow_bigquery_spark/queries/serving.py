"""Stored-index SERVING queries — the train-once/serve-many lifecycle
as first-class registry rows (VERDICT r10 #3).

The ANN family's registered queries fit their quantizers INLINE so the
DuckDB oracle can replay everything; production does not — the index is
built offline, persisted (operators/ann_index.py: two transactional
tables + index_meta), and then served without refitting. Until round 11
that lifecycle had module tests only; these wrappers give it
CORRECTNESS rows: each builds (once per session, content-fingerprinted)
the persistent IVF index for the dataset's embeddings into a temp
directory, then runs the SERVE-side operator against the stored tables
— and the oracle replays build+serve deterministically in SQL (the
``similarity_ivf_search`` pattern: the same integer Lloyd rounds
unrolled as CTEs, then the probe/rerank algebra).

Reference scope: the reference repo has no vector serving; this extends
the engine's LLM-data-pipeline surface (SURVEY §2 NN2/O7) with the
part of the ANN story a retrieval user hits first.
"""

from __future__ import annotations

import os as _os
import shutil as _shutil
import tempfile as _tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_python_airflow_bigquery_spark.functions import overlap
from etl_python_airflow_bigquery_spark.queries import register
from etl_python_airflow_bigquery_spark.queries.similarity import (
    _D2_SQL,
    _KMEANS_ITERS,
    _MAXSIM_G,
    _MAXSIM_K,
    _MAXSIM_Q,
    _NPROBE,
    _emb,
    _kmeans_ctes,
    _path_signature,
    _scaled_dot_sql,
)

# Arrivals split for the label-propagation serve: vectors with
# vec_id ≡ 7 (mod 10) are ARRIVALS (unlabeled, to classify); the rest
# are the STORED corpus the index is built on and whose labels vote.
# Integer-modulus split so both engines select identical sets with no
# sampling state. The residue is 7, NOT 0, on purpose: the k-means seed
# set is the multiples of seed_mod, and when seed_mod is itself a
# multiple of 10 a residue-0 arrival split would swallow EVERY seed —
# leaving the stored fit to the Spark-side empty-seed sentinel, which
# has no SQL mirror. Residue 7 keeps vec_id 0 (always a seed) stored.
_ETIQ_MOD = 10
_ETIQ_RESIDUE = 7
_ETIQ_K = 3

# ---------------------------------------------------------------------------
# Session index cache: TRAIN ONCE, SERVE MANY — one persistent index per
# (variant, dataset content) per process, the _KMEANS_CACHE discipline.
# Keyed by the embeddings source's content fingerprint so a rewritten
# dataset never serves stale centroids; values are temp dirs holding the
# two txlog tables + index_meta.json.
# ---------------------------------------------------------------------------
_INDEX_CACHE: dict[tuple[str, str, str], str] = {}
_INDEX_CACHE_MAX = 4


def _served_index(
    spark: SparkSession, sf_dir: str, tag: str, where=None
) -> str:
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        build_ivf_index,
    )

    key = (tag, _os.path.abspath(sf_dir), _path_signature(sf_dir))
    hit = _INDEX_CACHE.get(key)
    if hit is not None and _os.path.isdir(hit):
        return hit
    emb = _emb(spark, sf_dir)
    if where is not None:
        emb = emb.where(where)
    path = _tempfile.mkdtemp(prefix=f"svc_idx_{tag}_")
    build_ivf_index(spark, emb, path)
    while len(_INDEX_CACHE) >= _INDEX_CACHE_MAX:
        # reclaim the evicted mkdtemp index dir — a long session cycling
        # many datasets would otherwise leak one persisted IVF index per
        # eviction (ADVICE r11).
        _shutil.rmtree(
            _INDEX_CACHE.pop(next(iter(_INDEX_CACHE))), ignore_errors=True
        )
    _INDEX_CACHE[key] = path
    return path


def clear_session_caches() -> None:
    """Timed harnesses clear this before measuring (the bench honesty
    invariant) so a serve-path timing always includes its build. The
    discarded index dirs are reclaimed — same leak as eviction
    (ADVICE r11)."""
    while _INDEX_CACHE:
        _shutil.rmtree(
            _INDEX_CACHE.pop(next(iter(_INDEX_CACHE))), ignore_errors=True
        )
    _SERVE_CTX_CACHE.clear()


# ---------------------------------------------------------------------------
# Session serve-context cache (VERDICT r13 #5 / ROADMAP r14 #3): the
# stream-static state make_serve_context hoists for the STREAMING serve
# (centroid local relations, lexical corpus constants, the lazily
# checkpointed lengths table) is just as static for a RESIDENT BATCH
# serving tier — one context per (index, lex index) per session, reused
# across busqueda_maxsim/hibrida/bm25_indexada + etiquetar_por_vecinos
# calls. Cold calls still pay it (cleared with the index caches — the
# bench's headline numbers keep their cold contract; the families
# `serve_ctx` entry pins the ctx-warm walls).
# ---------------------------------------------------------------------------
_SERVE_CTX_CACHE: dict[tuple, object] = {}


def _served_ctx(spark: SparkSession, index_path: str, lex_path=None) -> dict:
    key = ("ctx", index_path, lex_path)
    hit = _SERVE_CTX_CACHE.get(key)
    if hit is not None:
        return hit
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        make_serve_context,
    )

    ctx = make_serve_context(spark, index_path, lex_path=lex_path)
    _SERVE_CTX_CACHE[key] = ctx
    return ctx


# ---------------------------------------------------------------------------
# MaxSim served from the stored index, at PRODUCTION nprobe
# ---------------------------------------------------------------------------

_IT = _KMEANS_ITERS


def _maxsim_indexada_oracle() -> str:
    """Build+serve replayed in SQL: the index build is the deterministic
    Lloyd fit + full-corpus assignment (cent{_IT} / asig{_IT+1} — exactly
    what ``build_ivf_index`` persists), and the serve is the PLAID
    two-stage shape at nprobe={_NPROBE}: every query token probes its
    nprobe nearest stored cells, any document with a token in a probed
    cell becomes a candidate, and candidates rerank with the exact
    integer MaxSim on their FULL token sets."""
    return (
        "WITH "
        + ",\n".join(_kmeans_ctes(_IT))
        + f""",
toks AS (
    SELECT vec_id // {_MAXSIM_G} AS doc_id, vec_id, embedding
    FROM embeddings
),
qmod AS (
    SELECT greatest(1, (count(DISTINCT doc_id)) // {_MAXSIM_Q}) AS m
    FROM toks
),
qtoks AS (
    SELECT t.doc_id AS q_doc, t.vec_id AS q_vec, t.embedding AS q_emb
    FROM toks t, qmod WHERE t.doc_id % qmod.m = 0
),
qint AS (
    SELECT q.q_vec, e.ev AS qv
    FROM qtoks q JOIN enteros e ON e.vec_id = q.q_vec
),
qdist AS (
    SELECT qi.q_vec, c.seed_id,
           {_D2_SQL.format(a="qi.qv", b="c.sv")} AS d2
    FROM qint qi CROSS JOIN cent{_IT} c
),
probed AS (
    SELECT q_vec, seed_id AS celda FROM (
        SELECT q_vec, seed_id,
               row_number() OVER (PARTITION BY q_vec ORDER BY d2, seed_id)
                   AS rn
        FROM qdist) WHERE rn <= {_NPROBE}
),
postings AS (
    SELECT celda, vec_id // {_MAXSIM_G} AS c_doc FROM asig{_IT + 1}
),
cand AS (
    SELECT DISTINCT q.q_doc, p.c_doc
    FROM probed pr
    JOIN postings p USING (celda)
    JOIN qtoks q ON q.q_vec = pr.q_vec
    WHERE p.c_doc != q.q_doc
),
dots AS (
    SELECT c.q_doc, c.c_doc, q.q_vec,
           {_scaled_dot_sql("q.q_emb", "t.embedding")} AS dot
    FROM cand c
    JOIN toks t ON t.doc_id = c.c_doc
    JOIN qtoks q ON q.q_doc = c.q_doc
),
maxsim AS (
    SELECT q_doc, c_doc, q_vec, max(dot) AS mejor
    FROM dots GROUP BY 1, 2, 3
),
puntajes AS (
    SELECT q_doc, c_doc, sum(mejor) AS puntaje
    FROM maxsim GROUP BY 1, 2
)
SELECT q_doc, c_doc,
       CAST(pos AS BIGINT) AS pos,
       CAST(puntaje AS BIGINT) AS puntaje
FROM (
    SELECT q_doc, c_doc, puntaje,
           row_number() OVER (PARTITION BY q_doc
                              ORDER BY puntaje DESC, c_doc) AS pos
    FROM puntajes
) WHERE pos <= {_MAXSIM_K}"""
    )


@register("busqueda_maxsim_indexada", oracle=_maxsim_indexada_oracle(),
          ops=("NN2", "O7", "A1"), bench=True, driver=False)
def busqueda_maxsim_indexada_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-VECTOR (ColBERT MaxSim) retrieval SERVED FROM THE STORED
    INDEX at production nprobe — the registered face of
    ``operators/ann_index.busqueda_maxsim_indexada`` (VERDICT r10 #3:
    the train-once/serve-many lifecycle gets a CORRECTNESS row). The
    index is built ONCE per session into a temp dir (two txlog tables +
    metadata) and the serve plan touches ONLY the stored tables for
    candidate generation: per query token, the {_NPROBE} nearest stored
    cells; per candidate, exact integer-MaxSim rerank on full token
    sets from the source. At 100 TB the posting scan reads nprobe/k of
    the table (file-pruned on ``celda`` stats) — never the corpus —
    and the brute ``puntuacion_maxsim`` twin is the recall ceiling the
    full-probe test pins. Oracle: build+serve unrolled (Lloyd CTEs +
    probe + rerank)."""
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        busqueda_maxsim_indexada,
    )

    path = _served_index(spark, sf_dir, "full")
    return busqueda_maxsim_indexada(
        spark, sf_dir, path, nprobe=_NPROBE, ctx=_served_ctx(spark, path)
    )


# ---------------------------------------------------------------------------
# Recall drift across posting versions — the rebuild-scheduling signal
# ---------------------------------------------------------------------------

_INT_DOT_SQL = (
    "CAST(list_sum(list_transform(generate_series(1, {dim}), "
    "k -> {a}[k] * {b}[k])) AS BIGINT)"
)

_DRIFT_N = 50  # clones appended as the v0 -> v1 growth batch


def _drift_oracle() -> str:
    """Build + grow + two-version search replay: v0 postings are the
    build assignment, v1 adds {_DRIFT_N} id-shifted clones assigned
    against the STORED centroids (add_to_ivf_index's no-refit
    contract), and each policy query's top-k at both snapshots reduces
    to the floor-milli overlap — the drift metric, exactly
    ``recall_drift``'s algebra."""
    from etl_python_airflow_bigquery_spark.queries.similarity import (
        DIM,
        _NPROBE,
        _SEARCH_K,
    )

    dot = lambda a, b: _INT_DOT_SQL.format(dim=DIM, a=a, b=b)  # noqa: E731
    d2 = _D2_SQL.format
    return (
        "WITH "
        + ",\n".join(_kmeans_ctes(_IT))
        + f""",
arr AS (SELECT vec_id + 9000000 AS vec_id, ev FROM enteros
        WHERE vec_id < {_DRIFT_N}),
darr AS (SELECT a.vec_id, c.seed_id, {d2(a="a.ev", b="c.sv")} AS d2
         FROM arr a CROSS JOIN cent{_IT} c),
aarr AS (SELECT vec_id, seed_id AS celda FROM (
           SELECT vec_id, seed_id,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2, seed_id) AS rn
           FROM darr) WHERE rn = 1),
post0 AS (SELECT vec_id, celda FROM asig{_IT + 1}),
post1 AS (SELECT vec_id, celda FROM post0
          UNION ALL SELECT vec_id, celda FROM aarr),
ev_all AS (SELECT vec_id, ev FROM enteros
           UNION ALL SELECT vec_id, ev FROM arr),
nn_all AS (SELECT vec_id, {dot("ev", "ev")} AS nn FROM ev_all),
consultas AS (SELECT vec_id AS query_id, ev AS qv FROM enteros
              WHERE vec_id % (SELECT query_mod FROM params) = 0),
qd AS (SELECT q.query_id, c.seed_id,
              {d2(a="q.qv", b="c.sv")} AS d2
       FROM consultas q CROSS JOIN cent{_IT} c),
qcells AS (SELECT query_id, seed_id AS celda FROM (
             SELECT query_id, seed_id,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY d2, seed_id) AS rn
             FROM qd) WHERE rn <= {_NPROBE}),
top0 AS (SELECT query_id, cand_id FROM (
           SELECT qc.query_id, p.vec_id AS cand_id,
                  row_number() OVER (
                      PARTITION BY qc.query_id
                      ORDER BY CAST({dot("q.qv", "e.ev")} AS DOUBLE)
                               / sqrt(CAST(nq.nn AS DOUBLE)
                                      * CAST(nc.nn AS DOUBLE)) DESC,
                               p.vec_id) AS pos
           FROM qcells qc
           JOIN post0 p USING (celda)
           JOIN consultas q ON q.query_id = qc.query_id
           JOIN ev_all e ON e.vec_id = p.vec_id
           JOIN nn_all nq ON nq.vec_id = qc.query_id
           JOIN nn_all nc ON nc.vec_id = p.vec_id
           WHERE p.vec_id != qc.query_id
         ) WHERE pos <= {_SEARCH_K}),
top1 AS (SELECT query_id, cand_id FROM (
           SELECT qc.query_id, p.vec_id AS cand_id,
                  row_number() OVER (
                      PARTITION BY qc.query_id
                      ORDER BY CAST({dot("q.qv", "e.ev")} AS DOUBLE)
                               / sqrt(CAST(nq.nn AS DOUBLE)
                                      * CAST(nc.nn AS DOUBLE)) DESC,
                               p.vec_id) AS pos
           FROM qcells qc
           JOIN post1 p USING (celda)
           JOIN consultas q ON q.query_id = qc.query_id
           JOIN ev_all e ON e.vec_id = p.vec_id
           JOIN nn_all nq ON nq.vec_id = qc.query_id
           JOIN nn_all nc ON nc.vec_id = p.vec_id
           WHERE p.vec_id != qc.query_id
         ) WHERE pos <= {_SEARCH_K}),
s0 AS (SELECT query_id, list(DISTINCT cand_id) AS top_viejo
       FROM top0 GROUP BY 1),
s1 AS (SELECT query_id, list(DISTINCT cand_id) AS top_nuevo
       FROM top1 GROUP BY 1)
SELECT s0.query_id,
       CAST(len(top_viejo) AS BIGINT) AS k_viejo,
       CAST(len(top_nuevo) AS BIGINT) AS k_nuevo,
       CAST((1000 * len(list_intersect(top_viejo, top_nuevo)))
            // greatest(len(top_nuevo), 1) AS BIGINT) AS solape_mili
FROM s0 JOIN s1 USING (query_id)"""
    )


@register("deriva_recall_indexada", oracle=_drift_oracle(),
          ops=("NN2", "O7", "A3"), driver=True, bench=True)
def deriva_recall_indexada(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECALL-DRIFT MONITORING across stored-index versions — the
    registered face of ``operators/ann_index.recall_drift``, the
    operational signal that decides when streamed growth has drifted
    far enough from the stored centroids to schedule a rebuild. The
    lifecycle replayed end to end: build (v0), grow by {_DRIFT_N}
    id-shifted clones assigned against the STORED centroids (v1 — the
    add_to_ivf_index no-refit path), then every policy query's top-k
    overlap between the two PINNED posting snapshots in floor-milli.
    Clones tie with their originals on cosine and lose the cand_id
    tie-break, so the drift is deterministic and the oracle replays it
    exactly. This row builds a FRESH index every call (never the shared
    session cache — it mutates its index, and a second call against a
    mutated cache would double the growth batch)."""
    import tempfile as _tf

    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        add_to_ivf_index,
        build_ivf_index,
        pin_index_version,
        recall_drift,
    )
    from etl_python_airflow_bigquery_spark.queries.similarity import (
        _int_vectors,
        _query_mod,
    )

    emb = _emb(spark, sf_dir)
    path = _tf.mkdtemp(prefix="svc_idx_drift_")
    build_ivf_index(spark, emb, path)  # -> posting v0
    # PIN the baseline snapshot before growing: under the auto-vacuum
    # ingest policy (VERDICT r11 #3) a long-lived old-version read must
    # hold a tag — tags are vacuum GC roots, so v0 provably survives
    # however many ingest+vacuum cycles land before this monitor runs.
    pin_index_version(path, "drift_baseline", version=0)
    clones = emb.where(F.col("vec_id") < _DRIFT_N).select(
        (F.col("vec_id") + 9_000_000).alias("vec_id"), "embedding"
    )
    add_to_ivf_index(spark, clones, path)  # -> posting v1
    enteros = _int_vectors(emb)
    n = enteros.count()
    consultas = enteros.where(F.col("vec_id") % _query_mod(n) == 0).select(
        F.col("vec_id").alias("query_id"), F.col("ev").alias("qv")
    )
    return recall_drift(spark, consultas, path, v_old=0, v_new=1)


# ---------------------------------------------------------------------------
# Hybrid lexical+dense retrieval served from the stored index
# ---------------------------------------------------------------------------


def _hibrida_indexada_oracle() -> str:
    """Build+serve replay for the hybrid: the shared BM25 lexical chain
    (one definition with the brute oracle — `_hibrida_lex_ctes`), a
    dense side that probes the {np} nearest STORED cells and reranks
    only their postings by integer cosine over the stored int vectors
    (exactly `search_ivf_index`'s algebra — NOT the brute query's
    raw-embedding scaled dot: the index quantizes per element, and the
    oracle must mirror what serving actually computes), and the shared
    RRF fusion tail."""
    from etl_python_airflow_bigquery_spark.queries.similarity import (
        DIM,
        _HIB_Q,
        _hibrida_fusion_sql,
        _hibrida_lex_ctes,
    )
    from etl_python_airflow_bigquery_spark.queries.text import _BM25_TOP

    dot = lambda a, b: _INT_DOT_SQL.format(dim=DIM, a=a, b=b)  # noqa: E731
    return (
        "WITH "
        + ",\n".join(_kmeans_ctes(_IT))
        + ",\n"
        + _hibrida_lex_ctes()
        + f""",
q_int AS (SELECT ev AS qv FROM enteros WHERE vec_id = {_HIB_Q}),
qd AS (
    SELECT c.seed_id, {_D2_SQL.format(a="q.qv", b="c.sv")} AS d2
    FROM q_int q CROSS JOIN cent{_IT} c
),
probed AS (
    SELECT seed_id AS celda FROM (
        SELECT seed_id,
               row_number() OVER (ORDER BY d2, seed_id) AS rn
        FROM qd) WHERE rn <= {_NPROBE}
),
nvec AS (SELECT vec_id, {dot("ev", "ev")} AS nn FROM enteros),
vec AS (
    SELECT vec_id AS doc_id, pos_vec FROM (
        SELECT a.vec_id,
               row_number() OVER (
                   ORDER BY CAST({dot("q.qv", "e.ev")} AS DOUBLE)
                            / sqrt(CAST(nq.nn AS DOUBLE)
                                   * CAST(nc.nn AS DOUBLE)) DESC,
                            a.vec_id) AS pos_vec
        FROM asig{_IT + 1} a
        JOIN probed p ON p.celda = a.celda
        JOIN enteros e ON e.vec_id = a.vec_id
        CROSS JOIN q_int q
        JOIN nvec nq ON nq.vec_id = {_HIB_Q}
        JOIN nvec nc ON nc.vec_id = a.vec_id
        WHERE a.vec_id != {_HIB_Q}
    ) WHERE pos_vec <= {_BM25_TOP}
),
"""
        + _hibrida_fusion_sql()
    )


@register("busqueda_hibrida_indexada", oracle=_hibrida_indexada_oracle(),
          ops=("NN2", "O7"), driver=True, bench=True)
def busqueda_hibrida_indexada_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID lexical+dense retrieval SERVED FROM THE STORED INDEX at
    production nprobe — the registered face of
    ``operators/ann_index.busqueda_hibrida_indexada``. The lexical
    ranker is the shared BM25 frame, the dense ranker probes the
    persisted IVF tables instead of scanning the corpus (reads
    nprobe/k of the postings, file-pruned on celda stats), and the
    fusion is the shared ``rrf_fuse_hibrida`` — one algebra for the
    brute and served paths. The oracle replays build+serve at the SAME
    nprobe, ranking the probed postings by the index's integer-vector
    cosine (the serving path's arithmetic, not the brute raw-embedding
    dot), so this row value-checks the SELECTIVE probe itself — not
    just the full-probe degenerate case the module test pins."""
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        busqueda_hibrida_indexada,
    )

    path, lex = _served_indexes(spark, sf_dir)
    return busqueda_hibrida_indexada(
        spark, sf_dir, path, nprobe=_NPROBE, lex_path=lex,
        ctx=_served_ctx(spark, path, lex_path=lex),
    )


# ---------------------------------------------------------------------------
# Label propagation at ingest, served from the stored index
# ---------------------------------------------------------------------------

_STORED_WHERE = f"vec_id % {_ETIQ_MOD} != {_ETIQ_RESIDUE}"
_ARRIVAL_WHERE = f"vec_id % {_ETIQ_MOD} = {_ETIQ_RESIDUE}"


def _etiquetar_oracle() -> str:
    """Build+serve replay for the weak-supervision ingest gate: the
    index fits on the STORED subset (every vec_id not ≡ 0 mod
    {_ETIQ_MOD}; the k/seed policy derives from the subset count exactly
    like the Spark-side fit over the filtered frame), arrivals 2-probe
    their nearest stored cells, candidates are the stored postings in
    probed cells, k={_ETIQ_K} by (d2, vecino), majority label by
    (count DESC, label)."""
    return (
        "WITH "
        + ",\n".join(_kmeans_ctes(_IT, where=_STORED_WHERE))
        + f""",
arr AS (
    SELECT e.vec_id, e.ev FROM (
        SELECT vec_id,
               {_int_sql_expr()} AS ev
        FROM embeddings WHERE {_ARRIVAL_WHERE}) e
),
adist AS (
    SELECT a.vec_id, c.seed_id,
           {_D2_SQL.format(a="a.ev", b="c.sv")} AS d2
    FROM arr a CROSS JOIN cent{_IT} c
),
aprobes AS (
    SELECT vec_id, seed_id AS celda FROM (
        SELECT vec_id, seed_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, seed_id)
                   AS rn
        FROM adist) WHERE rn <= 2
),
cand AS (
    SELECT DISTINCT p.vec_id, s.vec_id AS vecino
    FROM aprobes p JOIN asig{_IT + 1} s ON s.celda = p.celda
),
d2v AS (
    SELECT c.vec_id, c.vecino,
           {_D2_SQL.format(a="a.ev", b="e.ev")} AS d2
    FROM cand c
    JOIN arr a ON a.vec_id = c.vec_id
    JOIN enteros e ON e.vec_id = c.vecino
),
knn AS (
    SELECT vec_id, vecino FROM (
        SELECT vec_id, vecino,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, vecino)
                   AS rn
        FROM d2v) WHERE rn <= {_ETIQ_K}
),
votos AS (
    SELECT k.vec_id, lab.label, count(*) AS n
    FROM knn k JOIN embeddings lab ON lab.vec_id = k.vecino
    GROUP BY 1, 2
)
SELECT vec_id,
       CAST(label AS BIGINT) AS label_pred,
       CAST(n AS BIGINT) AS votos
FROM (
    SELECT vec_id, label, n,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY n DESC, label) AS rn
    FROM votos
) WHERE rn = 1"""
    )


def _int_sql_expr() -> str:
    from etl_python_airflow_bigquery_spark.queries.similarity import (
        _scaled_int_sql,
    )

    return _scaled_int_sql("embedding")


@register("etiquetar_por_vecinos", oracle=_etiquetar_oracle(),
          ops=("NN2", "A1", "O7"), driver=True, bench=True)
def etiquetar_por_vecinos_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABEL PROPAGATION AT INGEST served from the stored index — the
    registered face of ``operators/ann_index.etiquetar_por_vecinos``
    (VERDICT r10 #3). The corpus splits deterministically: vectors with
    vec_id ≡ {_ETIQ_RESIDUE} (mod {_ETIQ_MOD}) are the ARRIVALS; the rest
    are the STORED corpus the index is built on (once per session) and
    whose labels vote. Each arrival 2-probes its nearest stored cells
    (a voter just across the primary cell's border still counts),
    candidates come ONLY from the stored postings in probed cells, and
    the k={_ETIQ_K} nearest stored neighbors vote by majority —
    (count DESC, label) tie-break, so batch evaluation and ingest
    propagation can never disagree. Labels live OUTSIDE the posting
    table (joined at vote time) so re-annotation never rewrites
    postings. Oracle: subset Lloyd fit + 2-probe + vote unrolled."""
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        etiquetar_por_vecinos,
    )

    emb = _emb(spark, sf_dir)
    path = _served_index(
        spark, sf_dir, "stored", where=F.expr(_STORED_WHERE)
    )
    arrivals = emb.where(F.expr(_ARRIVAL_WHERE)).select("vec_id", "embedding")
    labels = emb.where(F.expr(_STORED_WHERE)).select("vec_id", "label")
    return etiquetar_por_vecinos(
        spark, arrivals, path, labels, k=_ETIQ_K,
        ctx=_served_ctx(spark, path),
    )


# ---------------------------------------------------------------------------
# BM25 served from the stored LEXICAL (inverted-postings) index
# ---------------------------------------------------------------------------

_LEX_CACHE: dict[tuple[str, str], str] = {}


def _served_lex_index(spark: SparkSession, sf_dir: str) -> str:
    """Session-cached persistent lexical index over the dataset's
    documents — the _served_index discipline (content-fingerprinted,
    cleared by clear_session_caches so timed serves pay their build)."""
    from etl_python_airflow_bigquery_spark.operators.lex_index import (
        build_lex_index,
    )
    from etl_python_airflow_bigquery_spark.tables import load_table

    key = (_os.path.abspath(sf_dir), _path_signature(sf_dir))
    hit = _LEX_CACHE.get(key)
    if hit is not None and _os.path.isdir(hit):
        return hit
    path = _tempfile.mkdtemp(prefix="svc_lex_")
    build_lex_index(spark, load_table(spark, sf_dir, "documents"), path)
    while len(_LEX_CACHE) >= _INDEX_CACHE_MAX:
        _shutil.rmtree(
            _LEX_CACHE.pop(next(iter(_LEX_CACHE))), ignore_errors=True
        )
    _LEX_CACHE[key] = path
    return path


def _served_indexes(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(IVF index path, lexical index path) for the dataset. The two
    builds are INDEPENDENT (IVF over embeddings, the lexical postings
    over documents), so they overlap (guide §2.6); each session-caches
    under its own key."""
    return overlap(
        lambda: _served_index(spark, sf_dir, "full"),
        lambda: _served_lex_index(spark, sf_dir),
    )


_clear_vec_caches = clear_session_caches


def clear_session_caches() -> None:  # noqa: F811 — deliberate extension
    """Vector index cache + lexical index cache, one clear."""
    _clear_vec_caches()
    while _LEX_CACHE:
        _shutil.rmtree(
            _LEX_CACHE.pop(next(iter(_LEX_CACHE))), ignore_errors=True
        )


def _bm25_indexada_oracle() -> str:
    """The brute BM25 oracle verbatim: the lexical index is EXACT (no
    probe approximation — the posting lists are the corpus inverted),
    so the served ranking must equal busqueda_bm25's row for row."""
    from etl_python_airflow_bigquery_spark.queries.text import _BM25_ORACLE

    return _BM25_ORACLE


@register("busqueda_bm25_indexada", oracle=_bm25_indexada_oracle(),
          ops=("TX1", "O7", "A3"), driver=True)
def busqueda_bm25_indexada(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 RANKED RETRIEVAL SERVED FROM THE STORED INVERTED INDEX
    (operators/lex_index.py) — the lexical twin of the ANN serving
    rows, and the production shape busqueda_bm25's inline tf/dl
    rebuild stands in for: the postings persist once (token-range-
    clustered txlog table), and a search reads ONLY the query terms'
    posting files (read_in stats pruning, pinned by module test).
    Query-term derivation (most selective tokens above the 5% df
    floor) and the integer k1/b/log2-idf scoring are the brute query's
    exact algebra over the stored postings, so the output is
    row-identical to busqueda_bm25 and the oracle is the SAME SQL —
    the exactness of the index IS the correctness claim."""
    from etl_python_airflow_bigquery_spark.operators.lex_index import (
        _postings,
        lex_meta_current,
        search_bm25_lex_index,
    )
    from etl_python_airflow_bigquery_spark.queries.text import (
        _BM25_TERMS,
        _BM25_TOP,
    )

    path = _served_lex_index(spark, sf_dir)
    # term derivation = busqueda_bm25's (selective above the 5% floor),
    # computed from the stored postings — serve setup, not per-request
    # work: a production deployment derives/caches its query terms, so
    # the derived list joins the session serve-context cache (VERDICT
    # r13 #5) and a warm serve pays only the terms' posting reads
    terms = _SERVE_CTX_CACHE.get(("terms", path))
    if terms is None:
        n = lex_meta_current(spark, path)["n"]
        df_t = _postings(path).read(spark).groupBy("token").agg(
            F.count(F.lit(1)).alias("df")
        )
        terms = [
            r["token"]
            for r in df_t.where(F.col("df") * 20 >= n)
            .orderBy("df", "token")
            .limit(_BM25_TERMS)
            .collect()
        ]
        _SERVE_CTX_CACHE[("terms", path)] = terms
    return search_bm25_lex_index(spark, terms, path, topk=_BM25_TOP)


# ---------------------------------------------------------------------------
# Probe calibration — pick nprobe from a recall TARGET, not folklore
# ---------------------------------------------------------------------------

_CAL_LADDER = (1, 2, 3, 4)  # candidate nprobe rungs (3 = production _NPROBE)
_CAL_TARGET_MILI = 900  # accept the cheapest rung with recall@k >= 0.900


def _calibracion_oracle() -> str:
    """Build + ladder-serve replay: the Lloyd CTEs rebuild the stored
    index, each policy query's cells get a PROBE RANK (one pass — a
    candidate found via the rank-r cell is visible to every rung
    nprobe >= r, so one ranked candidate set serves all rungs), the
    brute ranking over the same integer algebra is the ground truth,
    and per rung the served top-k's overlap with the truth reduces to
    the floor-milli recall."""
    from etl_python_airflow_bigquery_spark.queries.similarity import (
        DIM,
        _SEARCH_K,
    )

    dot = lambda a, b: _INT_DOT_SQL.format(dim=DIM, a=a, b=b)  # noqa: E731
    d2 = _D2_SQL.format
    max_np = max(_CAL_LADDER)
    rungs = ", ".join(str(np_) for np_ in _CAL_LADDER)
    return (
        "WITH "
        + ",\n".join(_kmeans_ctes(_IT))
        + f""",
nn_all AS (SELECT vec_id, {dot("ev", "ev")} AS nn FROM enteros),
consultas AS (SELECT vec_id AS query_id, ev AS qv FROM enteros
              WHERE vec_id % (SELECT query_mod FROM params) = 0),
qd AS (SELECT q.query_id, c.seed_id, {d2(a="q.qv", b="c.sv")} AS d2
       FROM consultas q CROSS JOIN cent{_IT} c),
qrank AS (SELECT query_id, seed_id AS celda, rn FROM (
            SELECT query_id, seed_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY d2, seed_id) AS rn
            FROM qd) WHERE rn <= {max_np}),
post AS (SELECT vec_id, celda FROM asig{_IT + 1}),
cand AS (SELECT qr.query_id, p.vec_id AS cand_id, min(qr.rn) AS rango
         FROM qrank qr JOIN post p USING (celda)
         WHERE p.vec_id != qr.query_id
         GROUP BY 1, 2),
puntuada AS (SELECT c.query_id, c.cand_id, c.rango,
                    CAST({dot("q.qv", "e.ev")} AS DOUBLE)
                        / sqrt(CAST(nq.nn AS DOUBLE)
                               * CAST(nc.nn AS DOUBLE)) AS cos
             FROM cand c
             JOIN consultas q ON q.query_id = c.query_id
             JOIN enteros e ON e.vec_id = c.cand_id
             JOIN nn_all nq ON nq.vec_id = c.query_id
             JOIN nn_all nc ON nc.vec_id = c.cand_id),
verdad AS (SELECT query_id, cand_id FROM (
             SELECT q.query_id, e.vec_id AS cand_id,
                    row_number() OVER (
                        PARTITION BY q.query_id
                        ORDER BY CAST({dot("q.qv", "e.ev")} AS DOUBLE)
                                 / sqrt(CAST(nq.nn AS DOUBLE)
                                        * CAST(nc.nn AS DOUBLE)) DESC,
                                 e.vec_id) AS pos
             FROM consultas q
             JOIN enteros e ON e.vec_id != q.query_id
             JOIN nn_all nq ON nq.vec_id = q.query_id
             JOIN nn_all nc ON nc.vec_id = e.vec_id
           ) WHERE pos <= {_SEARCH_K}),
rungs AS (SELECT unnest([{rungs}]) AS nprobe),
servida AS (SELECT nprobe, query_id, cand_id FROM (
              SELECT r.nprobe, p.query_id, p.cand_id,
                     row_number() OVER (PARTITION BY r.nprobe, p.query_id
                                        ORDER BY p.cos DESC, p.cand_id)
                         AS pos
              FROM rungs r JOIN puntuada p ON p.rango <= r.nprobe
            ) WHERE pos <= {_SEARCH_K}),
aciertos AS (SELECT r.nprobe, CAST(count(g.query_id) AS BIGINT) AS hits
             FROM rungs r
             LEFT JOIN (SELECT s.nprobe, s.query_id FROM servida s
                        JOIN verdad v USING (query_id, cand_id)) g
               ON g.nprobe = r.nprobe
             GROUP BY 1),
total AS (SELECT count(*) AS t FROM verdad),
recalls AS (SELECT nprobe,
                   CAST((1000 * hits) // t AS BIGINT) AS recall_mili
            FROM aciertos, total),
minimo AS (SELECT min(nprobe) AS np_min FROM recalls
           WHERE recall_mili >= {_CAL_TARGET_MILI})
SELECT CAST(r.nprobe AS BIGINT) AS nprobe, r.recall_mili,
       COALESCE(r.nprobe = m.np_min, FALSE) AS elegida
FROM recalls r, minimo m"""
    )


@register("calibracion_sondas", oracle=_calibracion_oracle(),
          ops=("NN2", "O7", "A3"), driver=False)
def calibracion_sondas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROBE CALIBRATION against the stored index: serve the policy
    query set at every rung of an nprobe ladder, measure recall@k of
    each rung against the brute integer-cosine ground truth, and flag
    the CHEAPEST rung meeting the recall target — nprobe chosen from a
    measured recall/cost curve instead of folklore. Completes the
    serving lifecycle's tuning loop: deriva_recall_indexada says WHEN
    the stored fit has drifted (rebuild signal); this says HOW MANY
    cells a serve must probe to hit its recall budget (the knob a
    100 TB deployment actually turns, since serve cost is linear in
    nprobe while recall saturates).

    Scale shape: the ladder reuses ONE index (the shared session-cache
    build — calibration never mutates) and each rung is the production
    ``search_ivf_index`` serve itself on the FIXED-SIZE sampled query
    set, so the whole calibration costs |ladder| sampled serves plus
    one brute pass over queries × corpus — the brute leg is the
    recall ceiling and is sample-bounded, never corpus × corpus. The
    per-rung hit counts are single-row aggregates unioned into a
    |ladder|-row frame; the argmin rung derives with a broadcast
    one-row cross join (no window, no collect)."""
    from functools import reduce

    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        search_ivf_index,
    )
    from etl_python_airflow_bigquery_spark.queries.similarity import (
        _SEARCH_K,
        _int_vectors,
        _query_mod,
        cosine_from_ints,
    )

    path = _served_index(spark, sf_dir, "full")
    emb = _emb(spark, sf_dir)
    enteros = _int_vectors(emb).localCheckpoint(eager=False)
    consultas = (
        enteros.where(F.col("vec_id") % _query_mod(emb.count()) == 0)
        .select(F.col("vec_id").alias("query_id"), F.col("ev").alias("qv"))
        .localCheckpoint(eager=False)
    )
    norma = lambda c: F.aggregate(  # noqa: E731
        F.zip_with(F.col(c), F.col(c), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    pares = (
        enteros.join(
            F.broadcast(consultas), F.col("vec_id") != F.col("query_id")
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
    from pyspark.sql import Window

    wv = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("cand_id")
    )
    verdad = (
        pares.withColumn("pos", F.row_number().over(wv))
        .where(F.col("pos") <= _SEARCH_K)
        .select("query_id", "cand_id")
        .localCheckpoint(eager=False)
    )
    partes = []
    for np_ in _CAL_LADDER:
        servida = search_ivf_index(
            spark, consultas, path, nprobe=np_
        ).select("query_id", "cand_id")
        partes.append(
            servida.join(verdad, ["query_id", "cand_id"])
            .agg(F.count(F.lit(1)).alias("hits"))
            .select(
                F.lit(np_).cast("bigint").alias("nprobe"), "hits"
            )
        )
    hits = reduce(lambda a, b: a.unionByName(b), partes)
    total = verdad.agg(F.count(F.lit(1)).alias("t"))
    recalls = hits.crossJoin(F.broadcast(total)).select(
        "nprobe",
        F.expr("(1000 * hits) div t").cast("bigint").alias("recall_mili"),
    )
    minimo = recalls.where(
        F.col("recall_mili") >= _CAL_TARGET_MILI
    ).agg(F.min("nprobe").alias("np_min"))
    return recalls.crossJoin(F.broadcast(minimo)).select(
        "nprobe",
        "recall_mili",
        F.coalesce(
            F.col("nprobe") == F.col("np_min"), F.lit(False)
        ).alias("elegida"),
    )

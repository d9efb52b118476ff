"""The two workloads. Each one sets up (timed as ``setup_s``), runs its
closed-loop ops, then checks every timed output against ``oracle``
after the clock stops.

* ``audiencia_curacion``, the daily batch: one op is one pass over the
  RDF audience marts and the LLM-data curation pipeline, all rows
  returned, in a fresh session, as a scheduled daily run makes it.
* ``ingesta_servicio``, the intraday cycle: one op is one held-out
  batch landed as files, ingested into the lex and IVF indexes, folded
  into the dedup state and its day window refreshed in the events mart,
  then read by hybrid requests (a BM25 leg, then a dense leg) against
  the state it left.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import gen, oracle
from perfbench.gen import Inputs
from perfbench.trace import Tracer

# The RDF audience marts. programas_live stays out: it drops
# zero-length sessions (operators/intervals.py keeps only e_us > s_us)
# while its oracle keeps them, so it disagrees whenever an event has
# value 0.0. It joins this list once the engine is fixed.
AUDIENCIA = (
    "indicadores_total",
    "funnel_vip",
    "bloques_pivot",
    "superposicion_hora",
    "superposicion_programas",
    "sessionization",
    "rollup_periodos",
    "pricing_summary",
)
CURACION = (
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "corpus_desduplicado",
    "similarity_lsh",
    "similarity_ivf_kmeans",
    "dedup_semantico",
    "embudo_curacion",
    "mezcla_idiomas",
    "evaluacion_recuperacion",
)
# query -> engine module: the layer a query's per-layer metrics are named by
QUERY_MODULES = {
    "indicadores_total": "core",
    "funnel_vip": "joins",
    "bloques_pivot": "reshape",
    "superposicion_hora": "marts",
    "superposicion_programas": "programas_q",
    "sessionization": "lifecycle",
    "rollup_periodos": "extras",
    "pricing_summary": "core",
    "dedup_ngram_jaccard": "dedup",
    "dedup_minhash_lsh": "dedup",
    "corpus_desduplicado": "dedup",
    "similarity_lsh": "similarity",
    "similarity_ivf_kmeans": "similarity",
    "dedup_semantico": "similarity",
    "embudo_curacion": "curation",
    "mezcla_idiomas": "text",
    "evaluacion_recuperacion": "text",
}
NPROBE = 3
TOPK = 10
WARMUP_BATCHES = 1  # ingest cycles run during set-up
WARMUP_REQUESTS = 1  # extra requests during set-up, after the warm-up cycle
REQUESTS_PER_CYCLE = 2


@dataclass
class Run:
    spark: object
    inp: Inputs
    tr: Tracer
    seconds: float
    tmp: str
    setup_s: float = 0.0  # set-up after the session start
    ops_s: list[float] = field(default_factory=list)
    window_ms: tuple[float, float] = (0.0, 0.0)  # the timed part, epoch ms
    timed_end: float = 0.0  # perf_counter when the timed part ended
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    layer: dict = field(default_factory=dict)  # workload-specific per-layer values
    rss_mb: float = 0.0

    def call(self, name: str, fn):
        """One call into the engine; ``fn(span)`` returns its output.
        A raising call counts as failed and returns None."""
        self.attempted += 1
        with self.tr.span(name) as sp:
            try:
                return fn(sp)
            except Exception as exc:  # noqa: BLE001 — counted, reported, run continues
                self.failed += 1
                self.problems.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                return None

    def end_setup(self, t0: float, keep_span=lambda name: True) -> None:
        """Close set-up: its calls do not count as attempts, and only the
        spans ``keep_span`` accepts (the builds) stay in the trace."""
        self.setup_s += time.perf_counter() - t0
        self.attempted = self.failed = 0
        self.tr.spans[:] = [s for s in self.tr.spans if keep_span(s.name)]

    def timed_loop(self, op, more, before=None) -> None:
        """Run ``op()`` back to back while ``more()`` holds (the
        workload's fixed amount of work) and the ``seconds`` budget is
        not spent; ``before()`` runs untimed ahead of each op."""
        t_end = time.perf_counter() + self.seconds
        self.window_ms = (time.time() * 1000.0, 0.0)
        while more():
            if before is not None:
                before()
            t = time.perf_counter()
            op()
            self.ops_s.append(time.perf_counter() - t)
            if time.perf_counter() >= t_end:
                break
        self.window_ms = (self.window_ms[0], time.time() * 1000.0)
        self.timed_end = time.perf_counter()
        self.rss_mb = peak_rss_mb(self.spark)


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of this driver process plus its JVM."""
    kb = 0
    for pid in (os.getpid(), spark.sparkContext._gateway.proc.pid):
        with open(f"/proc/{pid}/status") as f:
            kb += sum(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


def _pdf(df, sp):
    """Collect a result to the client; remember the frame for its
    Catalyst phase times."""
    if sp is not None:
        sp.frames.append(df)
    return df.toPandas()


def _subset(table: pa.Table, col: str, ids) -> pa.Table:
    return table.filter(pc.is_in(table.column(col), value_set=pa.array(ids, pa.int64())))


def _ids(path: str, col: str) -> set[int]:
    return set(pq.read_table(path, columns=[col]).column(0).to_pylist())


# -- audiencia_curacion -----------------------------------------------------

def audiencia_curacion(run: Run) -> None:
    from etl_python_airflow_bigquery_spark.queries import REGISTRY
    from etl_python_airflow_bigquery_spark.queries.dedup import clear_session_caches
    from etl_python_airflow_bigquery_spark.queries.marts import atomos_usuario_mart

    spark, sf = run.spark, run.inp.sf_dir
    names = AUDIENCIA + CURACION
    results: list[dict] = []

    def one_pass() -> None:
        results.append({
            q: run.call(f"queries.{QUERY_MODULES[q]}.{q}",
                        lambda sp, fn=REGISTRY[q].fn: _pdf(fn(spark, sf), sp))
            for q in names
        })

    t0 = time.perf_counter()
    with run.tr.span("catalog.mart.build"):
        atomos_usuario_mart(spark, sf)
    clear_session_caches()
    run.end_setup(t0)

    # one pass: the caches start empty and are shared within the pass
    run.timed_loop(one_pass, more=lambda: not results)

    con = oracle.duckdb_con(sf)
    for q in names:
        want = con.execute(REGISTRY[q].oracle).fetchdf()
        for i, res in enumerate(results):
            if res[q] is not None and (probs := oracle.compare_frames(res[q], want)):
                run.problems.append(f"{q} pass {i}: {probs}")


# -- ingesta_servicio -------------------------------------------------------

class _Client:
    """Issues hybrid requests (a BM25 leg, then a dense leg) through the
    engine's public serve calls and keeps every answer, with the ingest
    cycle it was asked after, for the check."""

    def __init__(self, run: Run, lex: str, ivf: str):
        self.run, self.lex, self.ivf = run, lex, ivf
        emb = pq.read_table(run.inp.emb_heldout).to_pandas()
        self.qv = {
            int(i): oracle.int_vectors(np.asarray(v, np.float32))
            for i, v in zip(emb["vec_id"], emb["embedding"])
        }
        self.answers: list[tuple[int, dict, object, object]] = []
        self.lat_ms: dict[str, list[float]] = {"bm25": [], "dense": []}

    def request(self, cycle: int, req: dict) -> None:
        from etl_python_airflow_bigquery_spark.operators.ann_index import search_ivf_index
        from etl_python_airflow_bigquery_spark.operators.lex_index import search_bm25_lex_index

        spark, run = self.run.spark, self.run
        rows = pd.DataFrame({"query_id": req["ids"], "qv": [self.qv[i] for i in req["ids"]]})

        def dense(sp):
            # a pandas frame goes to the JVM as Arrow: no Python worker job
            q = spark.createDataFrame(rows, "query_id BIGINT, qv ARRAY<BIGINT>")
            return _pdf(search_ivf_index(spark, q, self.ivf, nprobe=NPROBE, topk=TOPK), sp)

        t0 = time.perf_counter()
        lex = run.call("lex_index.search", lambda sp: _pdf(
            search_bm25_lex_index(spark, req["terms"], self.lex, topk=TOPK), sp))
        t1 = time.perf_counter()
        ann = run.call("ann_index.search", dense)
        self.lat_ms["bm25"].append((t1 - t0) * 1000)
        self.lat_ms["dense"].append((time.perf_counter() - t1) * 1000)
        self.answers.append((cycle, req, lex, ann))

    def check(self, sf_dir: str, docs_in: list[list[str]], vecs_in: list[set[int]]) -> float:
        """Check every kept answer against the oracles over the state of
        its cycle: ``docs_in[c]`` are the parquet files of documents
        ingested by cycle ``c``, ``vecs_in[c]`` the vectors indexed by
        then. Returns the dense answers' recall@10 against exact brute
        force."""
        from etl_python_airflow_bigquery_spark.operators.ann_index import _tables

        spark, problems = self.run.spark, self.run.problems
        cent_tx, vec_tx = _tables(self.ivf)
        cent, post = cent_tx.read(spark).toPandas(), vec_tx.read(spark).toPandas()
        if set(post["vec_id"].tolist()) != vecs_in[-1]:
            problems.append("the IVF index holds another vector set than was added")
        cons: dict[int, object] = {}
        dense: dict[int, oracle.DenseOracle] = {}
        bm25: dict[tuple, object] = {}
        hits = total = 0
        for c, req, lex, ann in self.answers:
            if c not in cons:
                cons[c] = oracle.duckdb_con(sf_dir, docs_in[c])
                dense[c] = oracle.DenseOracle(
                    cent, post[post["vec_id"].isin(vecs_in[c])])
            if lex is not None:
                key = (c, tuple(req["terms"]))
                if key not in bm25:
                    bm25[key] = cons[c].execute(oracle.bm25_sql(req["terms"])).fetchdf()
                if probs := oracle.compare_frames(lex, bm25[key]):
                    problems.append(f"bm25 {req['terms']} after cycle {c}: {probs}"[:500])
            if ann is not None:
                want = {i: dense[c].search(i, self.qv[i], NPROBE, TOPK) for i in req["ids"]}
                if probs := oracle.check_dense(ann, want):
                    problems.append(f"dense {req['ids']} after cycle {c}: {probs}"[:500])
                for i in req["ids"]:
                    exact = set(dense[c].exact(i, self.qv[i], TOPK))
                    hits += len(exact & {v for v, _ in want[i]})
                    total += len(exact)
        return hits / total if total else 0.0


def _dir_bytes(paths: list[str]) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for root in paths for d, _, fs in os.walk(root) for f in fs
    )


def ingesta_servicio(run: Run) -> None:
    from etl_python_airflow_bigquery_spark.catalog import mart_name
    from etl_python_airflow_bigquery_spark.operators.ann_index import build_ivf_index
    from etl_python_airflow_bigquery_spark.operators.dedup_state import (
        build_dedup_state,
        ingest_dedup_state,
        read_dedup_labels,
    )
    from etl_python_airflow_bigquery_spark.operators.lex_index import build_lex_index
    from etl_python_airflow_bigquery_spark.queries import REGISTRY
    from etl_python_airflow_bigquery_spark.queries.marts import (
        eventos_usuario_mart,
        refresh_eventos_usuario_mart,
    )
    from etl_python_airflow_bigquery_spark.streaming.jobs import run_ann_ingest, run_lex_ingest
    from etl_python_airflow_bigquery_spark.tables import load_table

    spark, inp, tmp = run.spark, run.inp, run.tmp
    lex, ivf, dd = (os.path.join(tmp, n) for n in ("lex", "ivf", "dedup"))
    feed_d, feed_v = os.path.join(tmp, "feed_docs"), os.path.join(tmp, "feed_vecs")
    ck_d, ck_v = os.path.join(tmp, "ck_docs"), os.path.join(tmp, "ck_vecs")
    os.makedirs(feed_d)
    os.makedirs(feed_v)
    mart = os.path.join(tmp, "warehouse", mart_name("eventos_usuario", inp.sf_dir))
    stores = [lex, ivf, dd, mart]
    run.tr.state_roots = stores[:3]  # the txlog tables

    t0 = time.perf_counter()
    docs = load_table(spark, inp.sf_dir, "documents")
    with run.tr.span("lex_index.build"):
        build_lex_index(spark, docs, lex)
    with run.tr.span("ann_index.build"):
        build_ivf_index(spark, load_table(spark, inp.sf_dir, "embeddings"), ivf)
    with run.tr.span("dedup_state.build"):
        build_dedup_state(spark, docs, dd)
    with run.tr.span("catalog.mart.build"):
        eventos_usuario_mart(spark, inp.sf_dir)

    docs_t, vecs_t = pq.read_table(inp.docs_heldout), pq.read_table(inp.emb_heldout)
    ev_t = pq.read_table(inp.events_heldout)
    ev_day = pa.array(gen.event_days(ev_t))
    client = _Client(run, lex, ivf)
    stream = iter(inp.requests)
    landed = [0]
    done: list[int] = []
    dup = [0, 0]
    split = {"write": [], "read": []}

    def land() -> None:
        """A batch arrives: files in the two feeds and in the events table."""
        b = len(done)
        for table, path in (
            (_subset(docs_t, "doc_id", inp.ingest_docs[b]), f"{feed_d}/b{b:03d}.parquet"),
            (_subset(vecs_t, "vec_id", inp.ingest_vecs[b]), f"{feed_v}/b{b:03d}.parquet"),
            (ev_t.filter(pc.is_in(ev_day, value_set=pa.array(inp.ingest_days[b], pa.int64()))),
             f"{inp.sf_dir}/events.parquet/ingest-{b:03d}.parquet"),
        ):
            pq.write_table(table, path)
            landed[0] += os.path.getsize(path)
        done.append(b)

    def cycle() -> None:
        b = done[-1]
        t = time.perf_counter()
        run.call("streaming.lex_ingest", lambda sp: run_lex_ingest(spark, feed_d, lex, ck_d))
        run.call("streaming.ann_ingest", lambda sp: run_ann_ingest(spark, feed_v, ivf, ck_v))
        out = run.call("dedup_state.fold", lambda sp: _pdf(ingest_dedup_state(
            spark, spark.read.parquet(f"{feed_d}/b{b:03d}.parquet"), dd), sp))
        run.call("catalog.mart_refresh", lambda sp: refresh_eventos_usuario_mart(
            spark, inp.sf_dir, inp.ingest_days[b], covers_source_changes=True))
        t_write = time.perf_counter()
        for _ in range(REQUESTS_PER_CYCLE):
            client.request(b, next(stream))
        split["write"].append(t_write - t)
        split["read"].append(time.perf_counter() - t_write)
        if out is not None:
            dup[0] += int((out["estado"] != "nuevo").sum())
            dup[1] += len(out)

    # warm-up: whole cycles and then more requests, so the timed cycles
    # pay no first-call planning and JIT (BM25 latency drifts down over
    # the first requests of a session)
    for _ in range(WARMUP_BATCHES):
        land()
        cycle()
    for _ in range(WARMUP_REQUESTS):
        client.request(done[-1], next(stream))
    run.end_setup(t0, lambda name: name.endswith(".build"))
    client.lat_ms = {"bm25": [], "dense": []}
    split = {"write": [], "read": []}
    dup[:] = [0, 0]

    stored0, landed[0] = _dir_bytes(stores), 0
    run.timed_loop(cycle, more=lambda: len(done) < len(inp.ingest_docs), before=land)
    timed = done[WARMUP_BATCHES:]
    n_docs = sum(len(inp.ingest_docs[b]) for b in timed)
    run.layer["stored_bytes_per_input_byte"] = (_dir_bytes(stores) - stored0) / landed[0]
    run.layer["docs_per_s"] = n_docs / sum(split["write"])
    run.layer["dup_share"] = dup[0] / max(dup[1], 1)
    run.layer["write_s"] = split["write"]
    run.layer["read_s"] = split["read"]
    run.layer.update({f"{k}_ms": v for k, v in client.lat_ms.items()})

    # the check, after the clock: every answer (warm-up ones too) against
    # the state of its cycle, then the state after the last batch
    run.tr.enabled = False
    stored = _ids(os.path.join(inp.sf_dir, "embeddings.parquet"), "vec_id")
    docs_in, vecs_in = [], []
    for b in done:
        docs_in.append([f"{feed_d}/b{i:03d}.parquet" for i in done[: b + 1]])
        stored = stored | set(inp.ingest_vecs[b])
        vecs_in.append(stored)
    run.layer["recall_at_10"] = client.check(inp.sf_dir, docs_in, vecs_in)

    new_docs = os.path.join(tmp, "ingested_docs.parquet")
    pq.write_table(_subset(docs_t, "doc_id", [i for b in done for i in inp.ingest_docs[b]]),
                   new_docs)
    fresh = os.path.join(tmp, "dedup_fresh")
    build_dedup_state(spark, docs.unionByName(spark.read.parquet(new_docs)), fresh)
    got = oracle.partition(read_dedup_labels(spark, dd).toPandas())
    want = oracle.partition(read_dedup_labels(spark, fresh).toPandas())
    if got != want:
        run.problems.append(f"dedup labels differ from a fresh build: "
                            f"{len(got ^ want)} clusters differ")
    perfil = REGISTRY["perfil_usuario_bucketed"]
    if probs := oracle.compare_frames(
        perfil.fn(spark, inp.sf_dir).toPandas(),
        oracle.duckdb_con(inp.sf_dir).execute(perfil.oracle).fetchdf(),
    ):
        run.problems.append(f"perfil_usuario_bucketed after ingest: {probs}")


WORKLOADS = {
    "audiencia_curacion": audiencia_curacion,
    "ingesta_servicio": ingesta_servicio,
}

"""Persistent LEXICAL index: the inverted-postings twin of the ANN
index (operators/ann_index.py) — BM25 serving without a corpus rescan.

Every registered BM25 query (busqueda_bm25 / busqueda_invertida / the
hybrid's lexical leg) rebuilds tf/dl from the documents table inline so
the DuckDB oracle can replay the whole computation. Production does
not: an inverted index is built offline, STORED, and served per query —
the scan cost of a search is the QUERY TERMS' posting lists, not the
corpus. This module is that lifecycle over ONE txlog table plus a
metadata file:

* ``postings`` (token, doc_id, tf, dl) — range-clustered on token so
  per-file token min/max stats stay tight. The document length rides
  every posting row, so a serve reads tf AND dl from the already-pruned
  posting files with no per-serve join.
* ``lex_meta.json`` — the corpus constants (n docs, Σ dl) of each live
  postings version. A missing entry (a crash between a flip and the
  meta write, a compaction run elsewhere, a pinned version whose entry
  was pruned) is recomputed from that snapshot's distinct (doc_id, dl)
  rows: one path serves current reads, pinned reads and crash recovery.

* ``build_lex_index`` — one token explode → one postings overwrite.
* ``add_to_lex_index`` — incremental growth: the new documents'
  postings append as ONE manifest flip (atomic: there is no second
  table to fall out of step with), then compact past the shared
  ann_index file gate so stats pruning survives streamed ingest.
* ``search_bm25_lex_index`` — the serve: reads ONLY the query terms'
  posting files (``TxTable.read_in`` stats pruning on token), derives
  idf from those postings, scores with the engine's integer BM25
  (``queries.text.bm25_scorer`` — the index is EXACT, not approximate:
  served output equals the brute query row for row), and returns top-k
  via TakeOrderedAndProject.

* ``pin_lex_version`` / ``vacuum_lex_index`` / ``maybe_auto_vacuum_lex``
  — the same operational lifecycle as the ANN index (one shared
  keep+slack policy): ingest-triggered reclamation of superseded
  posting history, with tags as GC roots so a pinned time-travel serve
  provably survives any vacuum horizon. ``streaming.jobs.run_lex_ingest``
  is the continuous face: batch-only tokenize per micro-batch, flip,
  compact past the gate, vacuum past the horizon.

A postings snapshot without ``dl`` is refused (``build_lex_index``
rebuilds it): appending dl-carrying rows onto it would read the old
files' dl as NULL.

At 100 TB: postings are token-clustered so a 3-term query touches the
files covering 3 token ranges; the only corpus-scale work happened
once, at build.
"""

from __future__ import annotations

import json
import os
import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_python_airflow_bigquery_spark.functions import (
    in_literals,
    local_df,
    ranked_topk,
)
from etl_python_airflow_bigquery_spark.operators.txlog import TxTable

# Target file count for the token-range clustering of the postings
# table: enough ranges that a few-term query prunes most files, few
# enough that per-file overhead stays negligible.
_LEX_FILES = 16


def _postings(path: str) -> TxTable:
    return TxTable(f"{path}/postings", stats_cols=["token"])


def _meta_path(path: str) -> str:
    return os.path.join(path, "lex_meta.json")


def _write_meta(path: str, meta: dict) -> None:
    tmp = os.path.join(path, f"_tmp_meta_{_uuid.uuid4().hex[:8]}.json")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, _meta_path(path))


def _read_counts(path: str) -> dict[str, list[int]]:
    """The metadata map {postings version: [n, dl_total]}; {} when the
    file does not exist yet."""
    try:
        with open(_meta_path(path)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def _record(path: str, post_tx: TxTable, counts: dict) -> None:
    """Persist ``counts`` pruned to the versions whose manifest still
    exists, so the map stays bounded by the (vacuumed) history. A lost
    concurrent update only drops entries, and a dropped entry is
    recomputed on demand."""
    vivos = {str(v) for v in post_tx._versions()}
    _write_meta(path, {k: x for k, x in counts.items() if k in vivos})


def _checked_version(path: str, post_tx: TxTable, version: int | None) -> int:
    """Resolve ``version`` (default: current) and refuse a postings
    snapshot that predates the ``dl`` column."""
    v = post_tx.version() if version is None else version
    if v >= 0:
        campos = json.loads(post_tx._manifest(v)["schema"])["fields"]
        if not any(c["name"] == "dl" for c in campos):
            raise ValueError(
                f"lex index {path!r}: postings version {v} has no dl "
                "column; rebuild the index with build_lex_index"
            )
    return v


def _counts(lengths: DataFrame) -> list[int]:
    """[n, dl_total] of a (doc_id, dl) frame with one row per document."""
    fila = lengths.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("t")
    ).first()
    return [int(fila["n"]), int(fila["t"] or 0)]


def _constants(v: int, n: int, dl_total: int) -> dict:
    return {
        "n": n,
        "dl_total": dl_total,
        "avgdl_mili": ((dl_total * 1000) // n if n else 1) or 1,
        "version": v,
    }


def lex_meta_current(
    spark: SparkSession, path: str, version: int | None = None
) -> dict:
    """Corpus constants of one postings version (default: current):
    {'n': doc count, 'dl_total': Σ doc lengths, 'avgdl_mili':
    (dl_total*1000) div n, 'version'}. Serve paths read them from the
    metadata, never by recounting the source (the ann_index
    read_index_meta contract); a version without an entry recounts
    from its own postings snapshot — the distinct (doc_id, dl) rows —
    and the entry is written back."""
    post_tx = _postings(path)
    v = _checked_version(path, post_tx, version)
    counts = _read_counts(path)
    if str(v) not in counts:
        counts[str(v)] = _counts(
            post_tx.read(spark, version=v).select("doc_id", "dl").distinct()
        )
        _record(path, post_tx, counts)
    return _constants(v, *counts[str(v)])


def _inherit(
    path: str, post_tx: TxTable, v: int, n: int, dl_total: int
) -> None:
    """Record version ``v``'s counts as its manifest parent's plus
    (n, dl_total). The parent comes from the manifest, not from a read
    taken before the commit, so an interleaved writer cannot skew it;
    an unknown parent leaves ``v`` unrecorded (recounted on demand)."""
    counts = _read_counts(path)
    base = counts.get(str(post_tx._manifest(v)["parent"]))
    if base is not None:
        counts[str(v)] = [base[0] + n, base[1] + dl_total]
    _record(path, post_tx, counts)


def _postings_frame(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(postings, lengths) from a documents frame — the one token
    explode; identical algebra to the inline BM25 queries
    (queries/text.py busqueda_bm25, similarity.hibrida_corpus_stats).

    The postings rows carry the document length DENORMALIZED
    (token, doc_id, tf, dl): BM25's per-row score needs dl, and storing
    it next to tf means every serve reads it from the already-pruned
    posting files (guide §6/§3 — a separate lengths table would be a
    corpus-sized join on every query). The (doc_id, dl) frame is
    returned for the corpus-constant aggregate only. tf is checkpointed
    because BOTH the dl aggregate and the postings join consume it."""
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).where(F.col("token") != "")
    tf = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    ).localCheckpoint(eager=False)
    dl = tf.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("dl")
    ).localCheckpoint(eager=False)
    return tf.join(dl, "doc_id").select("token", "doc_id", "tf", "dl"), dl


def build_lex_index(spark: SparkSession, docs: DataFrame, path: str) -> dict:
    """Tokenize + invert + persist. Returns the new version's corpus
    constants (the ``lex_meta_current`` dict).

    The corpus-constant aggregate runs FIRST: its job finalizes the
    shared tf and dl checkpoints, so the postings write reads blocks
    instead of re-tokenizing the corpus."""
    postings, dl = _postings_frame(docs)
    post_tx = _postings(path)
    n, dl_total = _counts(dl)
    v = post_tx.overwrite(
        postings.repartitionByRange(_LEX_FILES, "token", "doc_id")
    )
    _record(path, post_tx, {**_read_counts(path), str(v): [n, dl_total]})
    return _constants(v, n, dl_total)


def compact_lex_index(spark: SparkSession, path: str) -> int:
    """Token-range compaction of the postings once the current manifest
    holds the shared ann_index file gate's worth of files; the
    compacted version inherits its parent's counts (same rows). Returns
    the current version."""
    from etl_python_airflow_bigquery_spark.operators import ann_index as _ai

    post_tx = _postings(path)
    v = post_tx.version()
    if len(post_tx._manifest(v)["files"]) < _ai._COMPACT_FILE_GATE:
        return v
    v_c = post_tx.optimize_compact(
        spark, n_files=_LEX_FILES, cluster_col="token"
    )
    if v_c != v:
        _inherit(path, post_tx, v_c, 0, 0)
    return v_c


def add_to_lex_index(
    spark: SparkSession,
    docs_new: DataFrame,
    path: str,
    txn: tuple[str, int] | None = None,
) -> int:
    """Incremental growth: the new documents' postings append as ONE
    manifest flip — no corpus retokenize — and their counts land in the
    metadata against the new version. The postings table then compacts
    (token-range-clustered) past the shared ann_index file gate so stats
    pruning survives streamed ingest. A crash between the flip and the
    metadata write leaves the new version unrecorded; the next
    ``lex_meta_current`` recounts it from the snapshot.

    ``txn=(app_id, batch_id)``: the append's idempotency fence
    (``TxTable.append``). A batch the postings already recorded is
    skipped whole — no append, no new counts — so a micro-batch
    replayed after a crash between the flip and the stream's checkpoint
    commit is a no-op."""
    post_tx = _postings(path)
    if txn is not None and post_tx.txn_version(txn[0]) >= txn[1]:
        return post_tx.version()
    _checked_version(path, post_tx, None)
    postings, dl = _postings_frame(docs_new)
    n, dl_total = _counts(dl)
    _inherit(path, post_tx, post_tx.append(postings, txn=txn), n, dl_total)
    v = compact_lex_index(spark, path)
    maybe_auto_vacuum_lex(path)
    return v


def search_bm25_lex_index(
    spark: SparkSession,
    terms: list[str],
    path: str,
    topk: int = 10,
    version: int | None = None,
) -> DataFrame:
    """BM25 top-k SERVED FROM THE STORED POSTINGS: reads only the files
    whose token stats admit a query term (``read_in`` — on the
    token-range-clustered table that is ~|terms|/|ranges| of the
    files), derives per-term df from those postings, scores candidates
    with the engine's integer BM25 (``bm25_scorer`` — the served
    ranking equals the brute query row for row, test-pinned), and
    ranks via TakeOrderedAndProject. ``version`` pins the postings
    snapshot (time-travel serving) together with its corpus constants:
    idf and length normalization must not leak post-pin growth."""
    from pyspark.sql import Window as _W

    from etl_python_airflow_bigquery_spark.queries.text import bm25_scorer

    meta = lex_meta_current(spark, path, version)
    idf_q, score = bm25_scorer(meta["n"], meta["avgdl_mili"])
    postings = _postings(path).read_in(
        spark, "token", terms, version=meta["version"]
    )
    # df via a token-partitioned window over the same pruned posting
    # rows the scoring consumes (one read of the pruned files instead
    # of two — posting lists are unique per (token, doc), so the window
    # count equals a groupBy df exactly); idf computes inline
    scored = (
        postings.withColumn(
            "df", F.count(F.lit(1)).over(_W.partitionBy("token"))
        )
        .withColumn("idf_q", idf_q)
        .groupBy("doc_id")
        .agg(score.alias("score_mili"))
    )
    return ranked_topk(
        scored, topk, [F.desc("score_mili"), F.col("doc_id")], "pos"
    ).withColumn("pos", F.col("pos").cast("bigint"))


# Driver-state guard for the collected (query_id, token) anchor pairs:
# past this row count the serve falls back to the distributed frame
# (the collect is an optimization, never a scalability cliff).
_CONSULTA_COLLECT_CAP = 200_000


def hibrida_lexical_top_multi_indexada(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    qids: list[int],
) -> DataFrame:
    """The hybrid's multi-query lexical ranker SERVED FROM THE STORED
    POSTINGS — per arriving anchor, BM25 over its distinct terms with
    the per-batch scan bounded by (a) the anchors' own rows in the
    documents table (doc_id IN pushdown — row-group pruned) for term
    lookup and (b) the UNION of their terms' posting files (read_in
    stats pruning). No per-batch tf/dl rebuild: the corpus-scale work
    happened once, at index build. Output (query_id, doc_id, pos_lex),
    top-{10} per query, the ranking window partitioned by query_id
    (WindowGroupLimit).
    Algebra identical to queries.similarity.hibrida_lexical_top_multi
    (exact index ⇒ row-identical output, test-pinned). The corpus
    constants and the postings come from ONE version, read per call (the
    ``search_bm25_lex_index`` pinning), so a concurrent ingest can never
    score new postings with old constants or the reverse."""
    from pyspark.sql import Window

    from etl_python_airflow_bigquery_spark.queries.text import (
        _BM25_TOP,
        bm25_scorer,
    )
    from etl_python_airflow_bigquery_spark.tables import load_table

    meta = lex_meta_current(spark, path)

    docs = load_table(spark, sf_dir, "documents")
    consulta = (
        docs.where(in_literals("doc_id", [int(q) for q in qids]))
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.split("text", " ")).alias("token"),
        )
        .where(F.col("token") != "")
        .distinct()
    )
    # ONE anchor-pruned documents job yields BOTH the term set (for the
    # posting-file pruning below) and the (query_id, token) pairs — as
    # a local relation the fused plan carries no documents-scan subtree
    # and no second collect (the prior shape scanned documents once for
    # the term collect and AGAIN inside the scored plan). Driver state
    # is |anchors|×terms-per-doc pairs, capped: a pathologically large
    # batch falls back to the distributed frame unchanged.
    pares = consulta.limit(_CONSULTA_COLLECT_CAP + 1).collect()
    if len(pares) <= _CONSULTA_COLLECT_CAP:
        terms = sorted({r["token"] for r in pares})
        consulta = local_df(
            spark,
            [(int(r["query_id"]), r["token"]) for r in pares],
            "query_id BIGINT, token STRING",
        )
    else:
        terms = [
            r["token"] for r in consulta.select("token").distinct().collect()
        ]
    postings = _postings(path).read_in(
        spark, "token", terms, version=meta["version"]
    )
    # df via a token-partitioned window over the SAME pruned posting
    # rows the scoring consumes (guide §2.4: the old groupBy-df subtree
    # re-read every pruned posting file a second time; posting lists are
    # unique per (token, doc), and the window sits BEFORE the consulta
    # join, so the count is exactly the old per-token df even when
    # several queries share a term). idf then computes inline per row —
    # same integer formula, same per-row product, one posting scan.
    # SKEW NOTE (ADVICE r14): the window lands every posting row of a
    # token in one task (no partial aggregation) — a very common query
    # term over a large corpus becomes a single-partition hotspot. If
    # profiling ever shows it, pre-aggregate df per (token, doc-bucket)
    # and sum, or salt; at current scales the pruned per-term lists are
    # far below task size.
    idf_q, score = bm25_scorer(meta["n"], meta["avgdl_mili"])
    scored = (
        postings.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("token"))
        )
        .withColumn("idf_q", idf_q)
        .join(F.broadcast(consulta), "token")
        .where(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(score.alias("score"))
    )
    w_lex = Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    return (
        scored.withColumn("pos_lex", F.row_number().over(w_lex))
        .where(F.col("pos_lex") <= _BM25_TOP)
        .select("query_id", "doc_id", "pos_lex")
    )


def pin_lex_version(path: str, name: str, version: int | None = None) -> int:
    """PIN a postings snapshot against vacuum — the lexical twin of
    ``ann_index.pin_index_version``: tags are GC roots at the table
    layer, so a pinned version's manifest and data files survive ANY
    vacuum horizon until ``unpin_lex_version``. This is the survival
    contract for time-travel serving (``search_bm25_lex_index(version=)``
    pins idf/avgdl/postings to one snapshot). Pins the postings version
    given (default: current); returns it."""
    post_tx = _postings(path)
    v = post_tx.version() if version is None else version
    post_tx.create_tag(name, v)
    return v


def unpin_lex_version(path: str, name: str) -> None:
    """Release a ``pin_lex_version`` pin; the next vacuum may reclaim
    the snapshot once it falls outside the keep horizon."""
    _postings(path).delete_tag(name)


def vacuum_lex_index(
    path: str, keep_versions: int = 8, retention_s: float = 3600.0
) -> int:
    """Reclaim posting files no surviving version references — same
    lifecycle stage and same generous default horizon as
    ``ann_index.vacuum_index`` (version-pinned serving is first-class;
    tag a snapshot via ``pin_lex_version`` to exempt it from any
    horizon). Returns the number of files removed."""
    return _postings(path).vacuum(keep_versions, retention_s)


def maybe_auto_vacuum_lex(path: str) -> int | None:
    """Run ``vacuum_lex_index`` iff the postings table's manifest count
    exceeds the SHARED keep+slack gate (one policy governs both index
    families — the knobs live on ``operators.ann_index``). Called from
    ``add_to_lex_index``, so every batch or streaming ingest that grows
    the lexical index also bounds its on-disk footprint."""
    from etl_python_airflow_bigquery_spark.operators import ann_index as _ai

    versiones = len(_postings(path)._versions())
    if versiones < _ai._AUTO_VACUUM_KEEP + _ai._AUTO_VACUUM_SLACK:
        return None
    return vacuum_lex_index(
        path,
        keep_versions=_ai._AUTO_VACUUM_KEEP,
        retention_s=_ai._AUTO_VACUUM_RETENTION_S,
    )

"""Physical-plan assertions — the scale contract (SURVEY.md §4).

Correctness tests prove the numbers; these prove the SHAPE that keeps
the numbers cheap at 100 TB: filters/projections reaching the parquet
scan, dims broadcasting, the interval join never degenerating into a
nested loop, top-k compiling to TakeOrderedAndProject."""

from __future__ import annotations

import pytest

from etl_python_airflow_bigquery_spark.queries import REGISTRY


def plan_of(spark, sf_dir, name: str) -> str:
    return (
        REGISTRY[name]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "pricing_summary")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    # date filter reaches the scan as a plain comparison
    assert "l_shipdate" in scan and "timestampdiff" not in scan
    assert "1998-09-02" in scan
    # column pruning: untouched columns never leave the reader
    assert "l_tax" not in scan and "l_suppkey" not in scan


def test_small_dims_broadcast(spark, sf_dir):
    # snowflake dims (nation/region) must broadcast, never sort-merge
    plan = plan_of(spark, sf_dir, "registry_union")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_theta_join_is_broadcast_nested_loop(spark, sf_dir):
    # 5-row tier dim: BNLJ is the correct physical choice for non-equi
    plan = plan_of(spark, sf_dir, "funnel_vip")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_interval_join_avoids_nested_loop(spark, sf_dir):
    # the bucket-refine rewrite must plan as a hash join on the bucket
    # key — a raw overlap predicate would appear as BNLJ/Cartesian
    plan = plan_of(spark, sf_dir, "programas_live")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_topk_is_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "top_contenidos")
    assert "TakeOrderedAndProject" in plan


def test_flagship_single_fact_shuffle(spark, sf_dir):
    # indicadores_total: the calendar join must broadcast; the only
    # fact-side exchanges are the aggregation's
    plan = plan_of(spark, sf_dir, "indicadores_total")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    ("name", "bucket_key"),
    [
        ("dedup_minhash_lsh", "clave"),
        ("similarity_lsh", "balde"),
        ("similarity_lsh_multi", "balde"),
        ("dedup_simhash_pairs", "nib"),
    ],
)
def test_lsh_candidates_via_keyed_join(spark, sf_dir, name, bucket_key):
    # candidate generation = equi join ON THE BUCKET KEY, never an
    # all-pairs product over the vectors/docs. (Tiny constant dims — the
    # 8x64 hyperplane grid — may legitimately cross-join.)
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan
    keyed = [
        l
        for l in plan.splitlines()
        if ("SortMergeJoin" in l or "HashJoin" in l) and bucket_key in l
    ]
    assert keyed, f"no keyed candidate join on {bucket_key!r} found"


def test_lsh_signatures_map_only(spark, sf_dir):
    """Bucket signatures must compute in ONE pass over the vector scan
    (plane weights are literal arrays inside aggregate/zip_with): no
    Exchange, no Generate (posexplode), and no join may appear between
    the embeddings FileScan and the bucket value — the 64× exploded
    pre-join shape this replaced would shuffle every vector twice
    before candidates even form."""
    plan = plan_of(spark, sf_dir, "similarity_lsh")
    assert "Generate" not in plan  # no posexplode anywhere in the query
    # the signature (zip_with aggregate over literal weights) is inlined
    # into expressions directly over the vector scan — no HashAggregate
    # computes projections, and the only non-broadcast, non-rebalance
    # exchange in the whole query would be AQE artifacts: candidate
    # generation itself is a broadcast hash join on the bucket value.
    assert "zip_with" in plan
    shuffles = [
        l
        for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "Reused" not in l
    ]
    assert not shuffles, f"unexpected hash shuffles: {shuffles}"


def test_shingle_postings_materialized_once(spark, sf_dir):
    """The shingle postings feed four DAG branches (rarity rank, prefix
    join, verify arrays, sizes); the plan must read them from the
    localCheckpoint scan, not recompute the explode+md5 per branch."""
    plan = plan_of(spark, sf_dir, "dedup_ngram_jaccard")
    # the explode+hash projection appears zero times in the EXECUTED plan
    # (it ran once inside the checkpoint); consumers read `Scan
    # ExistingRDD` instead
    assert "ExistingRDD" in plan
    assert plan.count("FileScan parquet") == 0 or "documents" not in plan


def test_validity_window_coarse_filter_pushes(spark, sf_dir):
    # validity_window now reads the date-PARTITIONED mart (round 5): the
    # global-envelope prefilter must be a PARTITION filter on dia —
    # whole directories pruned at planning — and the raw events table
    # must not be scanned at all on the mart path
    plan = plan_of(spark, sf_dir, "validity_window")
    scan = next(
        (l for l in plan.splitlines() if "FileScan" in l and "dia" in l), None
    )
    assert scan is not None, plan
    assert "PartitionFilters" in scan
    assert "dia" in scan.split("PartitionFilters", 1)[1]
    assert "events.parquet" not in plan


def test_asof_single_exchange_no_product(spark, sf_dir):
    # as-of join = union + one windowed carry-forward: no join operator
    # over the data at all, and exactly one shuffle key (user_id)
    plan = plan_of(spark, sf_dir, "asof_ultima_orden")
    assert "CartesianProduct" not in plan
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_capped_jaccard_keyed_candidates(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "dedup_jaccard_capped")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_kmeans_final_assign_is_map_only(spark, sf_dir):
    """The IVF assign step must be a single narrow pass: centroids embed
    as literal structs inside one argmin expression, so the returned
    assignment plan holds ZERO Exchange — no crossJoin row expansion, no
    per-vector window shuffle (the r4 rewrite this pins)."""
    plan = plan_of(spark, sf_dir, "similarity_ivf_kmeans")
    # the gated tables.rebalance round-robin (a no-op at production
    # split counts) is the ONLY exchange allowed; no hash shuffle, no
    # per-vector window
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Window" not in plan, plan


def test_hier_assign_is_map_only(spark, sf_dir):
    """The two-level hierarchical assignment must stay a narrow map
    pass: both argmin levels are literal expressions (CASE-dispatched
    per coarse cell), so the plan holds no hash Exchange and no Window
    — only the gated rebalance round-robin may appear."""
    plan = plan_of(spark, sf_dir, "similarity_ivf_jerarquico")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Window" not in plan, plan


def test_mart_queries_plan_no_user_exchange(spark, sf_dir):
    """The registered mart pair (queries/marts.py) must never shuffle on
    user_id: per-user aggregates and the profile join ride the bucketed
    layout. Only the constant-size final histogram may exchange."""
    from etl_python_airflow_bigquery_spark.queries.marts import (
        frecuencia_visitas_bucketed,
        perfil_usuario_bucketed,
        superposicion_hora,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for fn in (
            perfil_usuario_bucketed,
            frecuencia_visitas_bucketed,
            superposicion_hora,
        ):
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "hashpartitioning(user_id" not in plan, plan
            assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_compound_bucket_self_join(spark, sf_dir):
    """Compound-key bucketing: a self-join whose equi keys exactly match
    the (user_id, day_num) bucket columns plans with zero Exchange under
    default configs — the layout that would make even the JOIN-form
    superposition shuffle-free."""
    import uuid

    from pyspark.sql import functions as F

    from etl_python_airflow_bigquery_spark.catalog import ensure_bucketed_mart
    from etl_python_airflow_bigquery_spark.queries.marts import atomos_usuario_mart

    atoms = atomos_usuario_mart(spark, sf_dir)
    name = f"atoms_ck_{uuid.uuid4().hex[:8]}"
    ensure_bucketed_mart(
        spark, atoms, name, ["user_id", "day_num"], 8,
        sort_col=["user_id", "day_num"],
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t = spark.table(name)
        a, b = t.alias("a"), t.alias("b")
        j = a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.day_num") == F.col("b.day_num")),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_self_join_has_no_exchange(spark, sf_dir):
    """The bucketed-mart contract (catalog.py): a user_id self-join over
    a bucketBy(user_id) table must plan with ZERO Exchange — the bucket
    files are the shuffle output, written once at ingest. Broadcast is
    disabled so the no-shuffle plan comes from bucketing, not from the
    small fixture size."""
    from pyspark.sql import functions as F

    from etl_python_airflow_bigquery_spark.catalog import ensure_bucketed_mart
    from etl_python_airflow_bigquery_spark.tables import load_table

    import uuid

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    # unique managed-table name: the warehouse dir outlives the
    # in-memory catalog, so a fixed name would collide across sessions
    mart = f"eventos_bucketed_{uuid.uuid4().hex[:8]}"
    ensure_bucketed_mart(spark, events, mart, "user_id", 8, sort_col="user_id")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t = spark.table(mart)
        a = t.groupBy("user_id").agg(F.count(F.lit(1)).alias("qa"))
        b = t.groupBy("user_id").agg(F.sum("value").alias("sv"))
        joined = a.join(b, "user_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() > 0
        # the unbucketed same plan DOES shuffle — the contrast proves the
        # bucketing (not some other property) removed the Exchange
        ua = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("qa"))
        ub = events.groupBy("user_id").agg(F.sum("value").alias("sv"))
        unbucketed = ua.join(ub, "user_id")._jdf.queryExecution()
        assert "Exchange" in unbucketed.executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {mart}")


def test_novelty_audit_is_join_free(spark, sf_dir):
    # first-owner via whole-partition window min: no join may appear —
    # a posting self-join here would shuffle the corpus twice
    plan = plan_of(spark, sf_dir, "novedad_shingles")
    assert "Join" not in plan
    assert plan.count("Window") == 1
    # exactly: distinct postings, window on hash, per-doc roll-up
    assert plan.count("Exchange hashpartitioning") <= 3


def test_decontamination_probe_broadcasts(spark, sf_dir):
    # the eval-set shingle table is small by definition — every probe
    # against it must be a broadcast, never a shuffled merge join
    plan = plan_of(spark, sf_dir, "contaminacion_benchmark")
    assert "BroadcastHashJoin" in plan
    # the single allowed SortMergeJoin is the final merge of the two
    # per-doc aggregates (both already partitioned on doc_id)
    assert plan.count("SortMergeJoin") <= 1
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_pq_encode_is_map_only(spark, sf_dir):
    """The PQ encode (after the fit's own jobs) must stay a narrow map
    pass: every subspace argmin is a literal-array fold, so between the
    embeddings scan and the final per-label aggregation the plan holds
    exactly ONE hash Exchange (that aggregation) and no Window."""
    plan = plan_of(spark, sf_dir, "cuantizacion_producto")
    assert plan.count("Exchange hashpartitioning") <= 2, plan  # agg + label join
    assert "Window" not in plan, plan


def test_cms_sketch_is_two_level_aggregation(spark, sf_dir):
    """The count-min build must be groupBy-sums only (partial agg =
    sketch merge): no Window, no join back onto the raw token stream —
    the estimate side joins token-level counts against the 3×1024
    sketch, which must arrive broadcast."""
    plan = plan_of(spark, sf_dir, "sketch_cms_tokens")
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_histogram_sketch_no_row_sort(spark, sf_dir):
    """The histogram quantile read-out must never globally sort ROWS:
    the only windows run over the 256-bin table and the distinct-value
    audit table, never the raw scan (no Sort directly under an events/
    orders scan feeding a Window of row grain). Cheap proxy: the plan's
    ntile/row_number count is zero and Window count ≤ 2 (the two
    cumulative sums)."""
    plan = plan_of(spark, sf_dir, "sketch_histograma_cuantiles")
    assert plan.count("Window") <= 2, plan
    assert "ntile" not in plan, plan


def test_record_linkage_blocks_via_equi_join(spark, sf_dir):
    # vinculacion_registros: candidates must form through an equi join on
    # the blocking key — a cartesian/broadcast-nested-loop product over
    # documents would be the corpus² anti-pattern the blocking prevents
    plan = plan_of(spark, sf_dir, "vinculacion_registros")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan  # the blocked self-join is a real (hash) join


def test_pagerank_one_join_per_iteration(spark, sf_dir):
    # degree rides on the checkpointed edge list, so each of the fixed
    # rounds contributes exactly ONE join — a second join (or a degree
    # re-aggregation) per round would double the iterative cost
    from etl_python_airflow_bigquery_spark.queries.analytic import _PR_ITER

    plan = plan_of(spark, sf_dir, "grafo_pagerank")
    joins = plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") \
        + plan.count("ShuffledHashJoin")
    assert joins == _PR_ITER
    assert "CartesianProduct" not in plan


def test_global_shuffle_single_exchange(spark, sf_dir):
    # barajado_global: the shard assignment + within-shard order must ride
    # ONE hash exchange (the same repartition the physical write would
    # do) — shard grain aggregation reuses that partitioning
    plan = plan_of(spark, sf_dir, "barajado_global")
    # one shard-keyed exchange for the permutation window + the standard
    # two-phase COUNT(DISTINCT source) expansion on shard-grain rows —
    # nothing shuffles at document grain more than once
    assert plan.count("Exchange") <= 3
    assert plan.count("Window") == 1
    assert "CartesianProduct" not in plan


def test_validation_fk_rule_is_equi_join(spark, sf_dir):
    # the referential-integrity rule must be an equi join on the key —
    # never a nested-loop membership probe
    plan = plan_of(spark, sf_dir, "validacion_esperada")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bfs_reads_truncated_lineage(spark, sf_dir):
    # each BFS round checkpoints the settled set, so the FINAL plan is a
    # projection over the last checkpoint scan — NOT a replay of
    # rounds × (join + anti join) lineage (which would re-execute the
    # whole traversal on every downstream action); and no join may have
    # degenerated into a cartesian along the way
    plan = plan_of(spark, sf_dir, "grafo_bfs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ExistingRDD" in plan  # truncated at the checkpoint
    assert "Join" not in plan  # no join survives into the read path


def test_snowflake_q5_dims_broadcast_facts_shuffle(spark, sf_dir):
    """ingresos_por_nacion: the snowflake dims broadcast, the date
    window reaches the orders scan, and only the fact-fact joins
    shuffle — the multi-hop plan Catalyst should produce."""
    plan = plan_of(spark, sf_dir, "ingresos_por_nacion")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    scan = next(
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "orders" in l
    )
    assert "o_orderdate" in scan  # window pushed into the scan


def test_partitioned_window_prunes_partitions(spark, sf_dir):
    """ventana_particionada: the day predicate must prune whole partition
    DIRECTORIES at planning time — the scan's PartitionFilters carry the
    dia bounds and the selected partition count is the window, not the
    calendar."""
    plan = plan_of(spark, sf_dir, "ventana_particionada")
    scan = next(
        (l for l in plan.splitlines() if "FileScan" in l and "dia" in l), None
    )
    assert scan is not None, plan
    assert "PartitionFilters" in scan
    assert "dia" in scan.split("PartitionFilters", 1)[1]


def test_day_window_driver_queries_prune_partitions(spark, sf_dir):
    """right_join_calendar + validity_window (driver tier) read the
    date-partitioned mart: their calendar windows must land in the
    scan's PartitionFilters — whole partition directories pruned at
    planning time, not scan-and-filter."""
    for name in ("right_join_calendar", "validity_window"):
        plan = plan_of(spark, sf_dir, name)
        scan = next(
            (l for l in plan.splitlines() if "FileScan" in l and "dia" in l),
            None,
        )
        assert scan is not None, (name, plan)
        assert "PartitionFilters" in scan, name
        assert "dia" in scan.split("PartitionFilters", 1)[1], name


def test_reliable_checkpoint_survives_block_loss(spark, tmp_path):
    """Opt-in reliable checkpoint for iterative operators: with
    SPARK_GRAFT_CHECKPOINT_DIR set, per-round truncation writes
    replayable files — after dropping every persisted block (the
    executor-loss stand-in local mode allows), the result still
    answers from the checkpoint store, and the files really exist."""
    from etl_python_airflow_bigquery_spark.operators.checkpoints import (
        set_reliable_checkpoint_dir,
    )
    from etl_python_airflow_bigquery_spark.queries.dedup import (
        propagate_min_labels,
    )

    sym = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (10, 11), (11, 10)],
        "src long, dst long",
    )
    ckpt = tmp_path / "ckpt"
    set_reliable_checkpoint_dir(str(ckpt))
    try:
        labels = propagate_min_labels(sym)
        # kill lineage: clear the SQL cache and unpersist every RDD block
        spark.catalog.clearCache()
        for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist()
        got = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
        assert any(ckpt.rglob("*")), "no reliable checkpoint files written"
    finally:
        set_reliable_checkpoint_dir(None)
        # the block purge above also killed any SESSION-CACHED
        # localCheckpoint frames (non-replayable once their blocks are
        # gone) — drop the dedup caches so later tests rebuild them
        # instead of reading a corpse
        from etl_python_airflow_bigquery_spark.queries.dedup import (
            clear_session_caches,
        )

        clear_session_caches()


def test_assign_cells_broadcast_dispatch_matches_literal(spark, sf_dir, monkeypatch):
    """ANN assign size dispatch: past LITERAL_ASSIGN_MAX the IVF assign
    switches from the literal-array fold to the broadcast-DF argmin.
    Both forms must agree bit-for-bit (including d2 ties → smaller
    seed_id), and the broadcast plan must contain the broadcast
    exchange with NO per-vector Window shuffle — the argmin partial-
    aggregates map-side."""
    from etl_python_airflow_bigquery_spark.queries import similarity as S

    enteros = S._int_vectors(S._emb(spark, sf_dir)).limit(200)
    sample = [list(r["ev"]) for r in enteros.limit(4).collect()]
    # duplicate one centroid under two ids to force a d2 tie
    cent = {i: v for i, v in enumerate(sample)}
    cent[len(sample)] = list(sample[0])

    lit = sorted(map(tuple, S._assign_cells(enteros, cent).collect()))
    monkeypatch.setattr(S, "LITERAL_ASSIGN_MAX", 0)
    bc_df = S._assign_cells(enteros, cent)
    bc = sorted(map(tuple, bc_df.collect()))
    assert lit == bc
    plan = bc_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "superposicion_programas",
        "dedup_subcadenas",
        "muestreo_temperatura",
        "grafo_triangulos",
        "ley_heaps",
        "busqueda_frases",
        "reglas_gopher",
        "idioma_confusion",
        "sesgo_duplicados",
    ],
)
def test_round5_ops_no_cartesian(spark, sf_dir, name):
    """Every round-5 operator must keep candidate/grid generation keyed
    or broadcast — an unkeyed CartesianProduct is the quadratic smell
    none of them may regress into. (Broadcast NLJ against 1-row totals
    frames is legitimate and allowed.)"""
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name


def test_gopher_rules_single_shuffle(spark, sf_dir):
    """reglas_gopher's rule bits are a pure projection (gopher_flags —
    higher-order functions, no explode of tokens): the ONLY hash
    exchange in the whole plan is the 6-row rule roll-up."""
    plan = plan_of(spark, sf_dir, "reglas_gopher")
    shuffles = [
        l
        for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "Reused" not in l
    ]
    assert len(shuffles) <= 1, shuffles


@pytest.mark.parametrize(
    "name",
    [
        "corpus_sin_subcadenas",
        "corpus_sin_subcadenas_incremental",
        "bpe_codificacion",
        "evaluacion_recuperacion",
        "deriva_vocabulario",
        "dimension_truncada",
        "grafo_kcore",
        "particion_familias",
        "muestreo_negativos",
        "longitud_contexto",
        "atipicos_embeddings",
        "embudo_curacion",
        "funnel_ventana",
        "colisiones_hash",
        "consistencia_modalidades",
        "error_muestreo",
        "similitud_fuentes",
    ],
)
def test_round6_ops_no_cartesian(spark, sf_dir, name):
    """Round-6 operators keep the same invariant as the r5 set: every
    candidate/grid stage is keyed or broadcast — no unkeyed
    CartesianProduct anywhere in the plan."""
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name


def test_span_cut_rebuild_is_projection_after_one_join(spark, sf_dir):
    """corpus_sin_subcadenas' document REBUILD must stay map-side: after
    the per-doc cut-set aggregation joins back to documents, the
    filtered-tile concat is a Project (no Expand, no extra Exchange on
    doc_id beyond the collect_set aggregation + join)."""
    from etl_python_airflow_bigquery_spark.queries import REGISTRY

    plan = plan_of(spark, sf_dir, "corpus_sin_subcadenas")
    # the rebuild expression (array_join over filtered tiles) appears in
    # a Project node, never inside an Aggregate
    assert "array_join" in plan
    # window-hash agg + membership + per-doc collect_set + final join:
    # hash exchanges stay bounded (no doc_id re-exchange for the rebuild)
    assert plan.count("CartesianProduct") == 0


@pytest.mark.parametrize(
    "name",
    [
        "t_cercania",
        "ponderacion_importancia",
        "negativos_dificiles",
        "fusion_rrf",
        "fertilidad_tokenizador",
        "mezcla_idiomas",
        "tabla_vida",
        "calibracion_calidad",
        "curva_umbral_dedup",
        "presupuesto_epocas",
        "cobertura_lsh",
        "busqueda_hibrida",
        "secuencias_frecuentes",
        "correlacion_rangos",
        "resumen_corpus",
    ],
)
def test_round7_ops_no_cartesian(spark, sf_dir, name):
    """Round-7 operators keep the standing invariant: every candidate /
    grid / dimension stage is keyed or broadcast — no unkeyed
    CartesianProduct anywhere in the plan."""
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        "dedup_semantico",
        "puntuacion_mmr",
        "ley_zipf",
        "seleccion_coreset",
        "tamanos_familias",
        "cuotas_fuentes",
        "comercio_bilateral",
        "grafo_knn_mutuo",
        "palabras_oov",
        "agrupacion_densidad",
        "etiquetado_debil",
        "deriva_embeddings",
        "crecimiento_interanual",
        "mercado_participacion",
        "bucketizacion_longitud",
        "ngramas_caracteristicos",
        "muestreo_fotogramas",
        "streaming_etiquetado_debil",
        "streaming_cuotas_fuentes",
        "tiempo_entre_eventos",
    ],
)
def test_round8_ops_no_cartesian(spark, sf_dir, name):
    """Round-8 operators keep the standing invariant: every candidate /
    pool / band stage is keyed or broadcast — no unkeyed
    CartesianProduct anywhere in the plan (dedup_semantico's pair stage
    must stay an equi join on celda; puntuacion_mmr's pool stages are
    query-keyed joins over the checkpointed shortlist)."""
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        "cobertura_sondas",
        "streaming_reglas_ventana",
        "proveedores_morosos",
        "stock_excedente",
        "cuantizacion_escalar",
        "pureza_celdas",
        "clasificador_knn",
        "prioridad_pedidos",
        "demanda_fraccionada",
        "clientes_volumen",
        "puntuacion_maxsim",
        "solapamiento_semantico_fuentes",
        "distribucion_pedidos",
        "variedad_proveedores",
        "latencia_conversion",
        # round-11 promotion: the flat baselines keep the pin under
        # their demoted *_plano names
        "dedup_semantico_plano",
        "grafo_knn_mutuo_plano",
        "agrupacion_densidad_plana",
        # round-11 stored-index serving rows: probes are broadcast-NLJ
        # against the centroid table, candidates equi-join on celda
        "busqueda_maxsim_indexada",
        "etiquetar_por_vecinos",
        "asignacion_k_grande",
        "busqueda_hibrida_indexada",
        "deriva_recall_indexada",
        "prioridad_envio",
        "clientes_devoluciones",
        "cuota_promocional",
        "ingreso_brackets",
        "senales_repeticion",
    ],
)
def test_round9_ops_no_cartesian(spark, sf_dir, name):
    """Round-9 hierarchical 2-probe family keeps the standing
    invariant: candidate pairs come from an equi join on the probed
    leaf (sonda), cosine verification joins on vec ids — no unkeyed
    CartesianProduct anywhere in the plan."""
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        "busqueda_hibrida",
        "busqueda_hibrida_indexada",
        "busqueda_bm25",
        "busqueda_invertida",
        "prioridad_envio",
        "clientes_devoluciones",
        "busqueda_frases",
        "palabras_oov",
    ],
)
def test_topk_windows_are_bounded(spark, sf_dir, name):
    """VERDICT r11: the global top-k family must rank via
    TakeOrderedAndProject (per-partition heap + k-row driver merge),
    never an unpartitioned row_number window over the corpus-grain
    input. Residual Window operators are allowed only ABOVE a
    TakeOrdered/limit (they rank the ≤k survivors): in the printed
    plan tree a Window's subtree prints after it, so every Window
    occurrence must be followed by a TakeOrderedAndProject below it.

    The hybrid rows serve their anchor as a one-query batch of the
    query-keyed path instead: every ranking Window must have a
    ``WindowGroupLimit … Partial`` in its subtree, so each partition
    ships at most k rows per query before any merge — the same bound
    TakeOrderedAndProject gives."""
    plan = plan_of(spark, sf_dir, name)
    lines = plan.splitlines()
    if name in ("busqueda_hibrida", "busqueda_hibrida_indexada"):
        def col(line):
            return len(line) - len(line.lstrip(" :+-*"))

        ranks = [i for i, l in enumerate(lines) if "Window [row_number()" in l]
        assert ranks, plan
        for i in ranks:
            sub = []
            for line in lines[i + 1:]:
                if col(line) <= col(lines[i]):
                    break
                sub.append(line)
            assert any(
                "WindowGroupLimit" in l and l.rstrip().endswith(", Partial")
                for l in sub
            ), f"{name}: ranking Window at plan line {i} has no partial " \
                f"group limit below it:\n{lines[i]}"
        return
    assert "TakeOrderedAndProject" in plan
    for i, line in enumerate(lines):
        if "Window [" not in line:
            continue
        # `Window [exprs], [partition], [order]` = partitioned (fine:
        # per-group state is bounded); `Window [exprs], [order]` = the
        # global form this test polices
        if line.count("], [") >= 2:
            continue
        rest = "\n".join(lines[i + 1:])
        assert (
            "TakeOrderedAndProject" in rest
            or "GlobalLimit" in rest
            or "WindowGroupLimit" in rest
        ), (
            f"{name}: unpartitioned Window at plan line {i} has no "
            f"bounding limit below it:\n{line}"
        )


def test_rfm_aproximada_has_no_global_sort(spark, sf_dir):
    """VERDICT r11 #6: the approx-RFM scale path must bucket by
    broadcast quantile boundaries — no ntile, no unpartitioned Window,
    no global Sort of the customer rows anywhere in the plan."""
    plan = plan_of(spark, sf_dir, "rfm_segmentacion_aproximada")
    # Window-absence covers ntile too (ntile only exists over a window);
    # a bare substring check would false-positive on perce_NTILE(_disc
    assert "Window" not in plan
    # percentile aggregates are fine; a SortExec over base rows is not
    assert "Sort [" not in plan.replace("SortAggregate", "XAggregate"), plan


@pytest.mark.parametrize(
    "name",
    [
        "pareto_consumo_aproximado",
        "gini_consumo_aproximado",
        "ponderacion_importancia_aproximada",
    ],
)
def test_approx_quantile_swaps_have_no_unbounded_window(spark, sf_dir, name):
    """The approx-quantile swap family (rfm precedent): the ESTIMATE
    path buckets by broadcast boundaries — any unpartitioned window in
    the plan must be over a bounded frame (the ≤B-row bucket roll-up or
    the ≤10-row decile arithmetic), never the user/doc-grain rows. We
    pin that structurally: no ntile anywhere, and every row_number (the
    grain-sized ranking form) is absent except inside gini's documented
    exact-anchor audit column."""
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan
    # ntile over a grain-sized frame is the shape being replaced; the
    # substring needs the window-function call form (perceNTILE(_disc
    # is a different function)
    assert "ntile(10)" not in plan and "ntile(5)" not in plan


# ---------------------------------------------------------------------------
# Round-12 relational-depth shapes: Q2 / Q9 / Q11
# ---------------------------------------------------------------------------


def test_costo_minimo_window_is_partitioned_and_dims_broadcast(spark, sf_dir):
    """Q2 shape: the per-part minimum must be a PARTITIONED window (one
    hash shuffle on the part key, never a single-task global sort) and
    every dim — the regional supplier snowflake and part — must ride a
    broadcast, leaving the fact scan shuffle-free until the window."""
    plan = plan_of(spark, sf_dir, "costo_minimo_regional")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    import re

    for m in re.finditer(r"Window .*?windowspecdefinition\(([^)]*)\)", plan):
        assert "l_partkey" in m.group(1)  # never an empty (global) spec
    assert "BroadcastHashJoin" in plan


def test_beneficio_single_big_join(spark, sf_dir):
    """Q9 shape: part (name-filtered) and supplier→nation broadcast into
    the fact; lineitem⨝orders is the ONLY shuffle join; the LIKE filter
    reaches the part scan."""
    plan = plan_of(spark, sf_dir, "beneficio_por_nacion")
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1
    assert plan.count("BroadcastHashJoin") >= 2
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    part_scan = next(l for l in scans if "p_name" in l)
    assert "widget" in part_scan  # pushed LIKE/Contains filter


def test_participacion_single_fact_scan(spark, sf_dir):
    """Q11 shape: the grouped frame is localCheckpoint-ed, so the global
    threshold re-aggregates the group-grain result — the lineitem fact
    must appear in the executed plan EXACTLY once (the 'subquery' never
    re-reads the fact), and the one-row threshold joins by broadcast."""
    plan = plan_of(spark, sf_dir, "participacion_inventario")
    fact_scans = [
        l
        for l in plan.splitlines()
        if "FileScan parquet" in l and "lineitem" in l
    ]
    assert len(fact_scans) <= 1
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pronostico_descuento_is_a_pure_pushdown_scan(spark, sf_dir):
    """Q6 shape: the whole query is one scan → partial agg → single-row
    final agg. Ship-date range, the float discount envelope, and the
    quantity cap all reach the reader as pushed filters; the read
    schema holds only the three touched columns; no join, no window,
    no shuffle beyond the single-row aggregate exchange."""
    plan = plan_of(spark, sf_dir, "pronostico_descuento")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_shipdate" in scan and "l_discount" in scan
    assert "l_quantity" in scan
    assert "l_partkey" not in scan and "l_orderkey" not in scan
    for nodo in ("Join", "Window", "Sort"):
        assert nodo not in plan

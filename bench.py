"""Headline benchmark — the engine's feedback loop (SURVEY.md §6).

Runs every ``bench=True`` query in the registry against
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "total_wall", "value": N, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": 0.1}

Each query is fully materialized via an all-column checksum aggregate
(xxhash64 over every output column, bit_xor'd to one row): a bare
``count()`` lets Catalyst prune the final projection for map-only
queries, under-reporting encode-style plans, while ``df.toPandas`` would
add Arrow transfer noise — the checksum forces every output column to
evaluate and ships one long to the driver. A warm-up run of the flagship
absorbs JVM/codegen startup so per-query numbers measure the plan, not
the JIT.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_python_airflow_bigquery_spark.queries import REGISTRY  # noqa: E402
from etl_python_airflow_bigquery_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# the sf of SF_DIR's default: only a run at it rewrites the committed
# BENCH_LAST.json; any other sf writes BENCH_LAST_sf<sf>.json beside it
_RECORD_SF = 0.1

# Fixed-membership subtotal for ROUND-OVER-ROUND comparability: the bench
# set grows as operators land (11→13→17→21+ across rounds), so total_wall
# is not comparable between rounds. core_wall IS: the 11 queries benched
# since round 1 plus corpus_desduplicado (the dedup endgame, benched since
# round 4). This tuple is PINNED — never add to or remove from it; new
# queries change total_wall only. BASELINE.md tables core_wall per round.
CORE_12 = (
    "indicadores_total",
    "pricing_summary",
    "funnel_vip",
    "programas_live",
    "bloques_pivot",
    "superposicion_hora",
    "similarity_lsh",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "sessionization",
    "rollup_periodos",
    "corpus_desduplicado",
)

# Shared-build FAMILIES (supplementary timings — the headline per-query
# numbers above keep their contract: caches cleared, every query pays its
# full plan cold). In production the dedup consumers run as ONE pipeline
# sharing one materialization of the verified near-dup pair frame
# (_PARES_CACHE), so the honest pipeline number is
# build + Σ marginal, not Σ cold. The family pass times the build query
# once (caches cleared), then each member WITHOUT clearing — its marginal
# cost on a warm build — and reports both. Timing honesty is explicit:
# per-query numbers stay cold/comparable; `families` is the amortized view.
FAMILIES = {
    "dedup_pairs": {
        "build": "dedup_ngram_jaccard",
        "members": (
            "curva_umbral_dedup",
            "cobertura_lsh",
            "corpus_desduplicado",
            "particion_familias",
            "consistencia_modalidades",
            "fuga_particiones",
            "tamanos_familias",
        ),
    },
    # the hierarchical 2-probe frame (_PROBES_CACHE): one seed
    # collection + probe projection per dataset serves all six 2-probe
    # consumers in a session. Round 11 renamed the members: the 2-probe
    # forms were PROMOTED to the production names (dedup_semantico /
    # grafo_knn_mutuo / agrupacion_densidad — formerly *_jerarquico*;
    # the alias registrations are gone), so this family's timing line
    # continues the r9/r10 *_jerarquico* series under the new names.
    "hier_probes": {
        "build": "dedup_semantico",
        "members": (
            "grafo_knn_mutuo",
            "agrupacion_densidad",
            "cobertura_sondas",
            "clasificador_knn",
            "solapamiento_semantico_fuentes",
        ),
    },
    # the k-means coarse-quantizer fit (_KMEANS_CACHE): one Lloyd fit
    # per dataset serves the whole cell-blocked family in a session.
    # The flat K_CAP=64 dedup/kNN/density forms left this family when
    # they were demoted to pytest-tier *_plano* baselines (round 11).
    "kmeans_fit": {
        "build": "similarity_ivf_kmeans",
        "members": (
            "temas_centroides",
            "pureza_celdas",
        ),
    },
    # The STORED-INDEX serving family (VERDICT r11 #5): the headline
    # per-query numbers above pay a full index BUILD inside every timed
    # rep (clear_session_caches drops the session index cache — bench
    # honesty), but the number a 100 TB user cares about is the
    # SERVE-ONLY cost against an already-persisted index. `build` times
    # build+serve cold; each member's `marginal` is its warm serve-only
    # cost (the "full"-tag index is shared by all three). The label
    # serve uses its own subset index ("stored" tag), so it gets its
    # own family — its marginal is the serve against ITS warm index.
    "stored_index_full": {
        "build": "busqueda_maxsim_indexada",
        "members": (
            "busqueda_maxsim_indexada",
            "busqueda_hibrida_indexada",
            "streaming_busqueda_hibrida",
        ),
    },
    "stored_index_labels": {
        "build": "etiquetar_por_vecinos",
        "members": ("etiquetar_por_vecinos",),
    },
    # The WARM serving family (VERDICT r13 #5; the key keeps its old
    # name so records stay comparable across rounds). What a warm serve
    # reuses is session-scoped: the stored indexes themselves, the
    # centroid rows of each IVF index (ann_index._CENT_CACHE, keyed by
    # centroid-table version) and busqueda_bm25_indexada's derived query
    # terms; every probe still sizes its own form per call.
    # `build` is a TUPLE — all three indexes (full IVF, labels-subset
    # IVF, lexical postings) build cold first; each member's marginal is
    # then what a RESIDENT serving tier pays per call with those caches
    # warm. busqueda_bm25_indexada is driver-tier (not bench-gated), so
    # this family is its only timing row — members are resolved against
    # the REGISTRY, not the gated set.
    "serve_ctx": {
        "build": (
            "busqueda_maxsim_indexada",
            "etiquetar_por_vecinos",
            "busqueda_bm25_indexada",
        ),
        "members": (
            "busqueda_maxsim_indexada",
            "busqueda_hibrida_indexada",
            "busqueda_bm25_indexada",
            "etiquetar_por_vecinos",
        ),
        "registry_scope": True,
    },
}

# The bucketed atom-mart family (VERDICT r8 #6): build is NOT a registry
# query — it is the one-time ``atomos_usuario_dia`` mart build — so it is
# special-cased in main(). Members are every mart consumer; they run WARM
# (mart present), which is the production regime where the mart is
# maintained by refresh, not rebuilt per query.
MART_FAMILY = {
    "build_mart": "atomos_usuario_dia",
    "members": (
        "superposicion_hora",
        "grid_completion",
        "superposicion_segmentos",
    ),
}


# Machine-noise tripwire (VERDICT r13 #2): a FIXED-COST synthetic probe —
# pure-CPU xxhash aggregation over a constant row count, no I/O, no SF
# dependence — timed immediately before CORE_12 and again after the full
# gated set. Twice now (r10, r13) the round's official core_wall was an
# environment artifact that needed a manual judge re-run to adjudicate;
# the probe gives the record a self-contained health reading.
# noise_index = max(best-of-2 before, best-of-2 after) / _PROBE_REF_SEC;
# BASELINE.md states the adjudication rule (> _PROBE_NOISE_GATE ⇒ the
# round's walls are machine state — re-run before reading core_wall
# against the baseline).
_PROBE_N = 1 << 26
# Calibration (r14, idle local[32]): warm best-of-2 reads 0.11-0.35
# across sessions (sub-second scheduling variance is inherently ~2x);
# under a fully CPU-contended machine (a concurrent full-registry
# selftest) the same probe reads 0.67-1.08. Ref = the idle band's top;
# gate = 2.0 — only gross contention (the r10/r13 class, where queries
# ran 2-10x slow) trips, idle variance never does.
_PROBE_REF_SEC = 0.30
_PROBE_NOISE_GATE = 2.0
# Both probe refs were calibrated on idle local[32]. The probes are
# FIXED work (numPartitions=32, embarrassingly parallel), so at the
# driver's lower-core re-runs they take ~32/cpus longer on a perfectly
# healthy machine — an unscaled ref would stamp every low-core bench
# "noisy" (measured: noise_index 2.83 on an idle local[8] run) and
# corrupt the adjudication signal for the scaling measurement. Scale
# the refs by 32/cpus below the calibration core count; the slight
# sublinearity of real scaling makes the scaled tripwire UNDER-read
# noise at low cores, the safe direction for a gate.
_PROBE_CAL_CPUS = 32

# SCAN-shaped probe leg (r14, second calibration pass): the pure-CPU
# probe missed an end-of-r14 machine state where scan/shuffle-path
# rows ran 1.5-2x their bands while range+hash stayed fast — whatever
# degrades Spark's parquet-scan task path is invisible to a generated
# range. The scan probe reads a FIXED synthetic parquet table (written
# once per bench run, outside the timing; SF-independent) through a
# filter + hash aggregate — the pricing_summary shape at constant
# data. Both legs are recorded; noise_index is the max ratio.
_SCAN_PROBE_ROWS = 4_000_000
# Recalibrated on a CLEAN session (r14 continuation; the 0.45 original
# was taken on a day with degradation waves): 13 warm repeats read
# 0.26-0.50 raw, best-of-2 pairs 0.30-0.40. Ref = the clean best-of-2
# top; the r14 degraded window (1.6-2.4) still trips the 2.0 gate with
# margin, and milder 1.5x-class waves now register above 1.0.
_SCAN_PROBE_REF_SEC = 0.40


def _noise_probe(spark) -> float:
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(_PROBE_N, numPartitions=32).select(
        F.xxhash64("id").alias("h")
    ).agg(F.expr("bit_xor(h)")).collect()
    return time.perf_counter() - t0


def _make_scan_probe(spark) -> str:
    import tempfile

    from pyspark.sql import functions as F

    path = tempfile.mkdtemp(prefix="bench_probe_") + "/t"
    spark.range(_SCAN_PROBE_ROWS, numPartitions=32).select(
        "id",
        F.xxhash64("id").alias("a"),
        (F.col("id") % 97).alias("b"),
    ).write.parquet(path)
    return path


def _scan_probe(spark, path: str) -> float:
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.read.parquet(path).where(F.col("b") < 50).agg(
        F.expr("bit_xor(xxhash64(id, a))")
    ).collect()
    return time.perf_counter() - t0


def sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0



def _materialize(df) -> None:
    """Force FULL evaluation of the result frame: hash every output
    column into one long per row, bit_xor to a single row. Unlike
    count(), Catalyst cannot prune the final projection out from under
    this, so map-only queries pay their real cost."""
    from pyspark.sql import functions as F

    df.select(F.xxhash64(*df.columns).alias("h")).agg(F.expr("bit_xor(h)")).collect()


def _run_one(name: str) -> int:
    """Subprocess entry for cold mode: fresh JVM, no codegen warmth —
    time one query end to end and print one JSON line."""
    spark = get_spark(f"bench-cold-{name}")
    t0 = time.perf_counter()
    _materialize(REGISTRY[name].fn(spark, SF_DIR))
    print(json.dumps({"query": name, "sec": round(time.perf_counter() - t0, 3)}))
    return 0


def _cold_timings(names: list[str], reps: int, stat: str) -> dict[str, float]:
    """SPARK_GRAFT_BENCH_COLD=1: every (query, rep) runs in its own
    subprocess — JVM startup, classloading, and codegen are INSIDE the
    measurement (the scheduled-batch cost model, vs the default warm-JVM
    number that isolates the plan's cost). OS page cache stays warm."""
    import subprocess

    timings: dict[str, float] = {}
    for name in names:
        runs = []
        for _ in range(reps):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--one", name],
                capture_output=True, text=True, check=True,
                env={**os.environ, "SPARK_GRAFT_BENCH_COLD": "0"},
            )
            runs.append(json.loads(out.stdout.strip().splitlines()[-1])["sec"])
        runs.sort()
        timings[name] = runs[len(runs) // 2] if stat == "median" else runs[0]
    return timings


def main() -> int:
    if len(sys.argv) == 3 and sys.argv[1] == "--one":
        return _run_one(sys.argv[2])
    names = [n for n, q in REGISTRY.items() if q.bench] or list(REGISTRY)
    # the pinned core must be timed even if a member ever leaves the
    # gated set — core_wall's membership never changes
    names += [n for n in CORE_12 if n not in names]
    # CORE_12 runs FIRST: the gated set grows every round (33 → 39 → …),
    # and late-position queries inherit the session's accumulated
    # GC/heap state — measured +0.5-1.5 s drift on funnel_vip /
    # programas_live when they ran after 25+ other queries, with
    # IDENTICAL plans (PLANSHAPES diff clean). Pinning the core's
    # position pins the session state core_wall is measured under, so
    # the round-over-round number compares like with like; the tail's
    # order stays registry order.
    names = [n for n in CORE_12] + [n for n in names if n not in CORE_12]
    reps_env = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    stat_env = os.environ.get("SPARK_GRAFT_BENCH_STAT", "best")
    if os.environ.get("SPARK_GRAFT_BENCH_COLD") == "1":
        timings = _cold_timings(names, reps_env, stat_env)
        out = {
            "metric": "total_wall",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "core_wall": round(sum(timings[n] for n in CORE_12 if n in timings), 3),
            "queries": timings,
            "sf": sf_of(SF_DIR),
            "mode": "cold",
        }
        print(json.dumps(out))
        return 0

    spark = get_spark("bench")

    # Warm-up: JVM classloading + whole-stage codegen compile.
    _materialize(REGISTRY[names[0]].fn(spark, SF_DIR))

    # Warehouse-mart pre-warm (stated, not hidden): superposicion_hora
    # reads the session-scoped bucketed atom mart; in a fresh session the
    # one-time saveAsTable build would otherwise land inside rep 1 (and,
    # when the warehouse write degrades to the fallback, inside EVERY
    # rep — the ~2 s spread). Build it once here, report the build cost
    # as its own JSON field, and let the per-query number measure the
    # QUERY — which is the number that repeats in production, where the
    # mart is maintained by refresh, not rebuilt per query.
    mart_build: dict[str, float] = {}
    if "superposicion_hora" in names:
        from etl_python_airflow_bigquery_spark.queries.marts import (
            atomos_usuario_mart,
        )

        t0 = time.perf_counter()
        atomos_usuario_mart(spark, SF_DIR).count()
        mart_build["atomos_usuario_dia"] = round(time.perf_counter() - t0, 3)

    # Noise tripwire, leg 1: one unrecorded run warms each probe plan's
    # codegen, then best-of-2 reads the machine immediately before the
    # pinned CORE_12 window — a pure-CPU leg and a parquet-scan leg
    # (they catch different degradation modes; r14 showed scan-path
    # noise the CPU leg misses).
    scan_path = _make_scan_probe(spark)
    _noise_probe(spark)
    _scan_probe(spark, scan_path)
    probe_before = round(min(_noise_probe(spark), _noise_probe(spark)), 3)
    scan_before = round(min(
        _scan_probe(spark, scan_path), _scan_probe(spark, scan_path)
    ), 3)

    # Best-of-2 per query by default: the second run re-plans from
    # scratch (no caching of results) but amortizes codegen/classload
    # noise — the number reported is the plan's cost, not the JIT's.
    # Rigor knobs (defaults keep BENCH_r{N} comparable across rounds):
    #   SPARK_GRAFT_BENCH_REPS  repetitions per query (default 2)
    #   SPARK_GRAFT_BENCH_STAT  best|median over the reps (default best)
    reps, stat = reps_env, stat_env
    timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    from etl_python_airflow_bigquery_spark.queries.dedup import (
        clear_session_caches,
    )

    # Extra reps until the number is REPRODUCIBLE (VERDICT r8 #8): a
    # best-of-2 cannot resolve second-scale queries against the ±30%
    # session-noise band, and a first-rep codegen hit can leave a 100%
    # spread on bigger plans too. Rep until the best-to-second-best gap
    # is under half the best (the bar BENCH spreads are read against),
    # capped at SPARK_GRAFT_BENCH_REPS_FAST total reps (default 4).
    reps_fast = max(reps, int(os.environ.get("SPARK_GRAFT_BENCH_REPS_FAST", "4")))
    scan_mid = None
    # Interleaved wave detector (r14 continuation): one best-of-2 scan
    # sample every _SCAN_EVERY gated queries — a degradation wave that
    # fits BETWEEN the before/mid/after points (observed r14: scan rows
    # 1.5-5x slow while all three samples read healthy) now has at most
    # a _SCAN_EVERY-query blind window. ~0.7 s per sample; the series
    # rides the record as noise_probe.scan_series.
    _SCAN_EVERY = 12
    scan_series: list[float] = []
    for qi, name in enumerate(names):
        if scan_mid is None and name not in CORE_12:
            # Noise tripwire, mid leg: host-side degradation arrives in
            # WAVES a before/after pair can miss entirely (observed
            # r14) — this reading brackets the CORE_12 window itself,
            # the one the round gate reads.
            scan_mid = round(min(
                _scan_probe(spark, scan_path), _scan_probe(spark, scan_path)
            ), 3)
        elif qi and qi % _SCAN_EVERY == 0:
            scan_series.append(round(min(
                _scan_probe(spark, scan_path), _scan_probe(spark, scan_path)
            ), 3))
        runs = []
        while len(runs) < reps or (
            len(runs) < reps_fast
            and (min(runs) < 2.0
                 or len(runs) < 2
                 or sorted(runs)[1] - sorted(runs)[0] >= 0.5 * min(runs))
        ):
            # each rep pays its query's true plan cost: the session-level
            # materialization caches (shingle postings / verified pairs)
            # would otherwise turn rep 2 into a near-zero cache read
            clear_session_caches()
            t0 = time.perf_counter()
            _materialize(REGISTRY[name].fn(spark, SF_DIR))
            runs.append(time.perf_counter() - t0)
        runs.sort()
        picked = runs[len(runs) // 2] if stat == "median" else runs[0]
        timings[name] = round(picked, 3)
        # reproducibility bar for a best-of statistic: gap between the two
        # BEST runs (== max−min at reps=2, so round-comparable), not the
        # full range — one GC-hit outlier shouldn't widen the error bar
        # the best is read against
        spread[name] = round(runs[1] - runs[0], 3) if len(runs) >= 2 else 0.0

    # Supplementary family pass: one shared build, then marginal costs.
    families: dict[str, dict] = {}
    for fam, spec in FAMILIES.items():
        # registry_scope families time members that are not bench-gated
        # (their family line is their only timing row); others keep the
        # gated-set filter
        universo = REGISTRY if spec.get("registry_scope") else names
        members = [m for m in spec["members"] if m in universo]
        builds = (
            spec["build"]
            if isinstance(spec["build"], tuple)
            else (spec["build"],)
        )
        if any(b not in universo for b in builds) or not members:
            continue
        clear_session_caches()
        builds_s: dict[str, float] = {}
        for b in builds:
            t0 = time.perf_counter()
            _materialize(REGISTRY[b].fn(spark, SF_DIR))
            builds_s[b] = round(time.perf_counter() - t0, 3)
        build_s = sum(builds_s.values())
        marginal: dict[str, float] = {}
        for m in members:  # NO cache clear — measuring the warm margin
            t0 = time.perf_counter()
            _materialize(REGISTRY[m].fn(spark, SF_DIR))
            marginal[m] = round(time.perf_counter() - t0, 3)
        families[fam] = {
            "build": round(build_s, 3),
            "marginal": marginal,
            # the pipeline number: what the family costs when its
            # consumers share one build, vs sum of the cold numbers above
            "amortized_wall": round(build_s + sum(marginal.values()), 3),
        }
        if len(builds) > 1:
            families[fam]["builds"] = builds_s

    # Mart family (build is the mart itself, not a registry query): drop
    # the bucketed table so the build is timed cold, then each consumer
    # warm — the amortization story the mart exists to buy, measured.
    if "superposicion_hora" in names:
        from etl_python_airflow_bigquery_spark.catalog import mart_name
        from etl_python_airflow_bigquery_spark.queries.marts import (
            atomos_usuario_mart,
        )

        spark.sql(
            f"DROP TABLE IF EXISTS {mart_name(MART_FAMILY['build_mart'], SF_DIR)}"
        )
        t0 = time.perf_counter()
        atomos_usuario_mart(spark, SF_DIR).count()
        build_s = time.perf_counter() - t0
        marginal = {}
        for m in MART_FAMILY["members"]:
            if m not in REGISTRY:
                continue
            t0 = time.perf_counter()
            _materialize(REGISTRY[m].fn(spark, SF_DIR))
            marginal[m] = round(time.perf_counter() - t0, 3)
        families["mart_atoms"] = {
            "build": round(build_s, 3),
            "marginal": marginal,
            "amortized_wall": round(build_s + sum(marginal.values()), 3),
        }
        # Incremental-maintenance evidence (VERDICT r10 #6): rewrite the
        # NEWEST day partition only — the daily-ingest shape — and report
        # it next to the full cold build it replaces.
        from etl_python_airflow_bigquery_spark.queries.marts import (
            refresh_atomos_usuario_mart,
        )

        last_day = spark.table(
            mart_name(MART_FAMILY["build_mart"], SF_DIR)
        ).agg({"day_num": "max"}).first()[0]
        t0 = time.perf_counter()
        refresh_atomos_usuario_mart(spark, SF_DIR, [last_day])
        families["mart_atoms"]["refresh_last_day"] = round(
            time.perf_counter() - t0, 3
        )

    # Dedup-state family (round 13): the third stored-index lifecycle's
    # build/serve split — build the state COLD on the established world,
    # then time each batch's incremental fold (the daily-ingest shape;
    # the registered dedup_estado_incremental row pays build+first-fold
    # in full every call — this is the amortized production view).
    if "dedup_estado_incremental" in names:
        import shutil as _shutil
        import tempfile as _tempfile

        from pyspark.sql import functions as F

        from etl_python_airflow_bigquery_spark.operators.dedup_state import (
            build_dedup_state,
            ingest_dedup_state,
        )
        from etl_python_airflow_bigquery_spark.tables import load_table

        docs = load_table(spark, SF_DIR, "documents")
        st_path = _tempfile.mkdtemp(prefix="bench_ds_")
        t0 = time.perf_counter()
        build_dedup_state(
            spark, docs.where(F.col("doc_id") % 10 != 0), st_path
        )
        ds_build = time.perf_counter() - t0
        ds_marginal = {}
        for i in range(2):
            lote = docs.where(
                (F.col("doc_id") % 10 == 0)
                & ((F.col("doc_id") / 10).cast("bigint") % 2 == i)
            )
            t0 = time.perf_counter()
            ingest_dedup_state(spark, lote, st_path).count()
            ds_marginal[f"ingest_b{i}"] = round(time.perf_counter() - t0, 3)
        _shutil.rmtree(st_path, ignore_errors=True)

        # Multi-batch fold (round 14): the SAME two lotes folded as ONE
        # ingest_dedup_state_lotes call against an identically prebuilt
        # state — multi_fold vs sum(marginal) reads the per-call plan
        # constant amortization directly (builds excluded from both).
        from etl_python_airflow_bigquery_spark.operators.dedup_state import (
            ingest_dedup_state_lotes,
        )

        ml_path = _tempfile.mkdtemp(prefix="bench_dsm_")
        build_dedup_state(
            spark, docs.where(F.col("doc_id") % 10 != 0), ml_path
        )
        lotes = docs.where(F.col("doc_id") % 10 == 0).withColumn(
            "lote",
            ((F.col("doc_id") / 10).cast("bigint") % 2 + 1).cast("int"),
        )
        t0 = time.perf_counter()
        ingest_dedup_state_lotes(spark, lotes, ml_path).count()
        ds_multi = round(time.perf_counter() - t0, 3)
        _shutil.rmtree(ml_path, ignore_errors=True)

        families["dedup_state"] = {
            "build": round(ds_build, 3),
            "marginal": ds_marginal,
            "multi_fold_2lotes": ds_multi,
            "amortized_wall": round(ds_build + sum(ds_marginal.values()), 3),
        }

    # Noise tripwire, leg 2: the same probes after the full gated set —
    # late-session GC/heap state and external load both show here.
    probe_after = round(min(_noise_probe(spark), _noise_probe(spark)), 3)
    scan_after = round(min(
        _scan_probe(spark, scan_path), _scan_probe(spark, scan_path)
    ), 3)
    import shutil as _shutil_probe

    _shutil_probe.rmtree(os.path.dirname(scan_path), ignore_errors=True)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)))
    ref_scale = max(1.0, _PROBE_CAL_CPUS / max(cpus, 1))
    probe_ref = round(_PROBE_REF_SEC * ref_scale, 3)
    scan_ref = round(_SCAN_PROBE_REF_SEC * ref_scale, 3)
    noise_index = round(max(
        max(probe_before, probe_after) / probe_ref,
        max(scan_before, scan_mid or 0.0, scan_after, *scan_series, 0.0)
        / scan_ref,
    ), 2)

    out = {
        "metric": "total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        # fixed-cost probe walls + their healthy-machine reference: the
        # self-adjudication record (BASELINE.md "Reading a round's
        # bench" states the rule: noise_index > 1.5 ⇒ machine state)
        "noise_probe": {
            "before": probe_before,
            "after": probe_after,
            "ref": probe_ref,
            "scan_before": scan_before,
            "scan_mid": scan_mid,
            "scan_after": scan_after,
            "scan_series": scan_series,
            "scan_ref": scan_ref,
            "ref_scale": round(ref_scale, 2),
            "cal_cpus": _PROBE_CAL_CPUS,
            "noise_index": noise_index,
            "noisy": noise_index > _PROBE_NOISE_GATE,
        },
        # fixed-membership subtotal (CORE_12): THE round-over-round
        # comparable number — total_wall changes meaning as the set grows
        "core_wall": round(sum(timings[n] for n in CORE_12 if n in timings), 3),
        "queries": timings,
        # per-query best-to-second-best gap over the reps: the
        # session-noise bar to read the headline numbers against
        # (BASELINE.md round-4 noise note — same-session repeats move
        # ±30%, so compare against ranges)
        "spread": spread,
        "sf": sf_of(SF_DIR),
    }
    if mart_build:
        out["mart_build"] = mart_build
    if families:
        out["families"] = families

    # FULL record → committed artifact; stdout gets a line that SURVIVES
    # the driver's 2000-char tail capture (BENCH_r08's 4 KB line arrived
    # parsed:null — the round's official record lost core_wall). The
    # stdout line keeps the contract fields (metric/value/unit/queries/
    # core_wall/sf); spread + families + mart_build live in the file.
    full_name = (
        "BENCH_LAST.json" if out["sf"] == _RECORD_SF
        else f"BENCH_LAST_sf{out['sf']:g}.json"
    )
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             full_name)
    try:
        with open(full_path, "w") as fh:
            json.dump(out, fh)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: the stdout line still carries the headline
    lean = {k: out[k] for k in
            ("metric", "value", "unit", "core_wall", "queries", "sf")}
    lean["noise_index"] = noise_index
    lean["full"] = full_name
    line = json.dumps(lean)
    if len(line) > 1900:  # tail-capture guard: drop per-query detail last
        lean["queries"] = {n: timings[n] for n in CORE_12 if n in timings}
        lean["queries_dropped_see_full"] = True
        line = json.dumps(lean)
    print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

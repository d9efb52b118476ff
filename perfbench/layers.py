"""Metric names, units and direction: the one list run.py reports and
BENCHMARK.json records (``test_bench.py`` checks the two agree)."""

from __future__ import annotations

from perfbench.workloads import AUDIENCIA, CURACION, QUERY_MODULES

END_TO_END = (
    # name, unit, better, bound
    ("setup_s", "s", "lower", 0.25),
    ("op_p50_ms", "ms", "lower", 0.25),
)


def _per_layer() -> tuple[tuple[str, str, str], ...]:
    out = [("session.start_s", "s", "lower"), ("process.peak_rss_mb", "MB", "lower")]
    out += [(f"{m}.build_s", "s", "lower")
            for m in ("lex_index", "ann_index", "dedup_state", "catalog.mart")]
    for q in AUDIENCIA + CURACION:
        p = f"queries.{QUERY_MODULES[q]}.{q}"
        out += [(f"{p}.wall_s", "s", "lower"), (f"{p}.jobs", "count", "lower"),
                (f"{p}.driver_s", "s", "lower")]
    for p in ("lex_index.search", "ann_index.search"):
        out += [(f"{p}.wall_ms", "ms", "lower"), (f"{p}.tail_ms", "ms", "lower"),
                (f"{p}.jobs", "count", "lower"), (f"{p}.input_mb", "MB", "lower"),
                (f"{p}.driver_ms", "ms", "lower")]
    out.append(("ann_index.search.recall_at_10", "ratio", "higher"))
    for p in ("streaming.lex_ingest", "streaming.ann_ingest"):
        out += [(f"{p}.wall_s", "s", "lower"), (f"{p}.jobs", "count", "lower"),
                (f"{p}.driver_s", "s", "lower")]
    out += [
        ("dedup_state.fold.wall_s", "s", "lower"),
        ("dedup_state.fold.jobs", "count", "lower"),
        ("dedup_state.fold.shuffle_mb", "MB", "lower"),
        ("dedup_state.fold.driver_s", "s", "lower"),
        ("dedup_state.fold.dup_share", "ratio", "higher"),
        ("catalog.mart_refresh.wall_s", "s", "lower"),
        ("streaming.ingest.docs_per_s", "1/s", "higher"),
        ("cycle.write_s", "s", "lower"),
        ("cycle.read_s", "s", "lower"),
        ("txlog.commits", "count", "lower"),
        ("txlog.files_written", "count", "lower"),
        ("txlog.bytes_written_mb", "MB", "lower"),
        ("txlog.files_live", "count", "lower"),
        ("txlog.stored_bytes_per_input_byte", "ratio", "lower"),
        ("spark.plan_ms", "ms", "lower"),
        ("spark.jobs", "count", "lower"),
        ("spark.tasks", "count", "lower"),
        ("spark.executor_run_s", "s", "lower"),
        ("spark.shuffle_mb", "MB", "lower"),
        ("spark.input_mb", "MB", "lower"),
        ("spark.driver_s", "s", "lower"),
        ("trace.setup_s", "s", "lower"),
        ("trace.op_p50_ms", "ms", "lower"),
    ]
    return tuple(out)


PER_LAYER = _per_layer()

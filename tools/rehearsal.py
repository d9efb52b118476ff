"""Run the end-to-end operational rehearsal (orchestration.
operational_rehearsal) on a dataset and record the manifest — statuses,
per-stage walls, and post-run state counters — as one JSON file.

Usage: PYTHONPATH=. python tools/rehearsal.py [sf_dir] [out_json]
Defaults: sf_dir=/root/repo/.scale/sf1, out_json=REHEARSAL_LAST.json
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
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
    from etl_python_airflow_bigquery_spark.session import get_spark
    from etl_python_airflow_bigquery_spark.tables import load_table

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scale/sf1"
    out = sys.argv[2] if len(sys.argv) > 2 else "REHEARSAL_LAST.json"
    spark = get_spark("rehearsal")
    work = tempfile.mkdtemp(prefix="rehearsal_")

    m = operational_rehearsal(spark, sf_dir, work, n_batches=3)

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    _, vec_tx = ann_tables(os.path.join(work, "ann"))
    record = {
        "sf_dir": sf_dir,
        "ok": m.ok,
        "statuses": m.statuses,
        "timings_s": m.timings_s,
        "errors": {k: v.splitlines()[-1] for k, v in m.errors.items()},
        "state": {
            "docs": docs.count(),
            "vectors": emb.count(),
            "lex_n": lex_meta_current(spark, os.path.join(work, "lex"))["n"],
            "ann_postings": vec_tx.read(spark).count(),
            "dedup_labels": read_dedup_labels(
                spark, os.path.join(work, "dedup")
            ).count(),
            "served_rows": TxTable(os.path.join(work, "servido"))
            .read(spark).count(),
            "batch_docs": docs.where(F.col("doc_id") % 10 == 0).count(),
        },
    }
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps(record["timings_s"]))
    print("ok" if m.ok else f"FAILED: {record['errors']}")
    return 0 if m.ok else 1


if __name__ == "__main__":
    raise SystemExit(main())

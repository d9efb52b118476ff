"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingesta_servicio --seed 1 --seconds 30 --trace 0

Run from the root of a checkout of the repository. The inputs are
generated from ``--seed`` into ``.perfbench_tmp/`` under the checkout,
the engine runs in this one process on the session ``get_spark`` gives
(``local[N]``, N = ``SPARK_GRAFT_CPUS``, default every core), and
everything the run writes goes under that temp dir, which is removed at
exit. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, and
    which one it is. Below 21 samples that percentile would sit under
    the median, so the maximum stands in."""
    s = sorted(samples)
    if len(s) < 21:
        return s[-1], f"max of {len(s)}"
    return s[-11], f"p{100.0 * (len(s) - 10) / len(s):.1f} of {len(s)}"


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_layer(run, session_s: float, spark_totals: dict) -> dict:
    from perfbench.layers import PER_LAYER

    by: dict[str, list] = {}
    for s in run.tr.spans:
        by.setdefault(s.name, []).append(s)
    out = {"session.start_s": session_s, "process.peak_rss_mb": run.rss_mb}

    def med(name, f):
        return _median(f(s) for s in by.get(name, []))

    for name, _, _ in PER_LAYER:
        if name in out:
            continue
        head, _, what = name.rpartition(".")
        spans = by.get(head, [])
        if what == "build_s":
            v = med(name[: -len(".build_s")] + ".build", lambda s: s.wall_ms / 1000)
        elif what in ("wall_s", "wall_ms"):
            v = med(head, lambda s: s.wall_ms) / (1000 if what == "wall_s" else 1)
        elif what in ("driver_s", "driver_ms"):
            v = med(head, lambda s: s.driver_ms) / (1000 if what == "driver_s" else 1)
        elif what == "tail_ms":
            v = tail([s.wall_ms for s in spans])[0] if spans else 0.0
        elif what == "jobs" and head != "spark":
            v = med(head, lambda s: s.jobs)
        elif what == "input_mb" and head != "spark":
            v = med(head, lambda s: s.input_bytes / 1e6)
        elif what == "shuffle_mb" and head != "spark":
            v = med(head, lambda s: s.shuffle_bytes / 1e6)
        else:
            v = None
        out[name] = v
    timed = [s for s in run.tr.spans
             if run.window_ms[0] <= s.start_ms <= run.window_ms[1]]
    out["txlog.commits"] = sum(s.counts.get("commits", 0) for s in timed)
    out["txlog.files_written"] = sum(s.counts.get("files_written", 0) for s in timed)
    out["txlog.bytes_written_mb"] = sum(s.counts.get("bytes_written", 0) for s in timed) / 1e6
    out["txlog.files_live"] = run.tr.files_live()
    for k, v in spark_totals.items():
        out[f"spark.{k}"] = v
    layer = run.layer
    out["ann_index.search.recall_at_10"] = layer.get("recall_at_10", 0.0)
    out["dedup_state.fold.dup_share"] = layer.get("dup_share", 0.0)
    out["streaming.ingest.docs_per_s"] = layer.get("docs_per_s", 0.0)
    out["cycle.write_s"] = _median(layer.get("write_s", []))
    out["cycle.read_s"] = _median(layer.get("read_s", []))
    out["txlog.stored_bytes_per_input_byte"] = layer.get("stored_bytes_per_input_byte", 0.0)
    out["trace.setup_s"] = session_s + run.setup_s
    out["trace.op_p50_ms"] = _median(run.ops_s) * 1000
    missing = [n for n, _, _ in PER_LAYER if out.get(n) is None]
    if missing:
        raise RuntimeError(f"per-layer metrics not computed: {missing}")
    units = {n: u for n, u, _ in PER_LAYER}
    return {n: {"value": float(out[n]), "unit": units[n]} for n, _, _ in PER_LAYER}


def end_to_end(run, session_s: float) -> tuple[dict, list[str]]:
    from perfbench.layers import END_TO_END

    vals = {
        "setup_s": session_s + run.setup_s,
        "op_p50_ms": _median(run.ops_s) * 1000,
    }
    notes = [f"ops={len(run.ops_s)} op_s={[round(x, 3) for x in run.ops_s]}"]
    for kind in ("bm25", "dense"):
        lat = run.layer.get(f"{kind}_ms")
        if lat:
            tv, tw = tail(lat)
            notes.append(f"{kind}: n={len(lat)} p50_ms={_median(lat):.1f} "
                         f"tail_ms={tv:.1f} ({tw})")
    return {n: {"value": float(vals[n]), "unit": u} for n, u, _, _ in END_TO_END}, notes


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import etl_python_airflow_bigquery_spark  # noqa: F401
        import tools.compare  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not in {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench import gen
    from perfbench.trace import Tracer, attribute, write_spans
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "tmp"))
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    # no JVM perf-data file under the system /tmp, launcher JVM included
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = proc = None
    try:
        t_gen = time.perf_counter()
        inp = gen.generate(args.seed, os.path.join(tmp, "inputs"))
        t_gen = time.perf_counter() - t_gen

        t0 = time.perf_counter()
        from etl_python_airflow_bigquery_spark.session import get_spark

        spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
                "spark.local.dir": os.path.join(tmp, "spark-local"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        proc = spark.sparkContext._gateway.proc
        session_s = time.perf_counter() - t0

        run = Run(spark, inp, Tracer(bool(args.trace)), args.seconds, tmp)
        WORKLOADS[args.workload](run)
        check_s = time.perf_counter() - run.timed_end

        if args.trace:
            totals = attribute(spark, run.tr.spans, run.window_ms)
            metrics = per_layer(run, session_s, totals)
            spans = os.path.join(os.path.dirname(tmp), f"spans-{args.workload}-{args.seed}.jsonl")
            write_spans(run.tr.spans, spans)
            notes = [f"spans: {os.path.relpath(spans, ROOT)}"]
        else:
            metrics, notes = end_to_end(run, session_s)
        for p in run.problems:
            print(f"CHECK FAILED: {p}")
        notes.append(f"generate_s={t_gen:.2f} setup_s={session_s + run.setup_s:.2f} "
                     f"timed_s={sum(run.ops_s):.2f} check_s={check_s:.2f}")
        for n in notes:
            print(n)
        print(json.dumps({
            "correct": not run.problems,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            spark.stop()
        if proc is not None:
            # the JVM exits when its stdin closes; wait until it has
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())

"""Spans around the benchmark's calls into the engine, and the Spark
job/stage accounting attributed to them.

A span is (name, start, end, parent). Spans are kept in memory while
the workload runs; nothing is asked of Spark until ``attribute`` runs
after the timed part. Jobs are attributed to a span by time window
(job submission inside the span), not by job group: the benchmark is a
single closed-loop client, so a window holds only that span's jobs,
including jobs the engine launches from its own worker threads, which
do not inherit a job group.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float = 0.0
    parent: str | None = None
    frames: list = field(default_factory=list)  # DataFrames it executed
    counts: dict = field(default_factory=dict)  # benchmark-side counts
    # filled by attribute()
    jobs: int = 0
    tasks: int = 0
    job_ms: float = 0.0  # wall covered by running jobs
    executor_run_ms: float = 0.0
    shuffle_bytes: int = 0
    input_bytes: int = 0
    plan_ms: float = 0.0

    @property
    def wall_ms(self) -> float:
        return self.end_ms - self.start_ms

    @property
    def driver_ms(self) -> float:
        return max(0.0, self.wall_ms - self.job_ms)


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only yields.

    The timed code is identical in both modes; the traced mode adds the
    span bookkeeping and a directory walk for the txlog counters
    around each call."""

    def __init__(self, enabled: bool, state_roots: list[str] | None = None):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.state_roots = state_roots or []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        """Time the enclosed call as span ``name``; yields the Span (None
        when tracing is off) so the call can attach its frames."""
        if not self.enabled:
            yield None
            return
        before = self._files()
        s = Span(name, time.time() * 1000.0,
                 parent=self._stack[-1].name if self._stack else None)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end_ms = time.time() * 1000.0
            self._stack.pop()
            after = self._files()
            new = [p for p in after if p not in before]
            s.counts["commits"] = sum(
                1 for p in new
                if os.path.basename(os.path.dirname(p)) == "_txlog"
                and os.path.basename(p).startswith("v")
            )
            s.counts["files_written"] = len(new)
            s.counts["bytes_written"] = sum(after[p] for p in new)
            self.spans.append(s)

    def _files(self) -> dict[str, int]:
        out = {}
        for root in self.state_roots:
            for d, _, fs in os.walk(root):
                for f in fs:
                    p = os.path.join(d, f)
                    try:
                        out[p] = os.path.getsize(p)
                    except FileNotFoundError:
                        continue
        return out

    def files_live(self) -> int:
        """Data files referenced by the current manifest of every txlog
        table under the state roots."""
        n = 0
        for root in self.state_roots:
            for d, _, fs in os.walk(root):
                if os.path.basename(d) != "_txlog":
                    continue
                vs = [int(f[1:-5]) for f in fs
                      if f.startswith("v") and f.endswith(".json") and f[1:-5].isdigit()]
                if vs:
                    with open(os.path.join(d, f"v{max(vs)}.json")) as fh:
                        n += len(json.load(fh).get("files", []))
        return n


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


def attribute(spark, spans: list[Span], window: tuple[float, float]) -> dict:
    """Fill every span's Spark counters from the status store and
    return the totals over ``window`` (epoch ms)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jl = store.jobsList(None)
    jobs = []
    for i in range(jl.size()):
        j = jl.apply(i)
        sub, comp = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
        if sub is None:
            continue
        sids = j.stageIds()
        jobs.append((sub, comp if comp is not None else sub, j.numTasks(),
                     [sids.apply(k) for k in range(sids.size())]))
    jobs.sort()
    stage_cache: dict[int, tuple[float, int, int]] = {}

    def stage(sid: int) -> tuple[float, int, int]:
        if sid not in stage_cache:
            try:
                s = store.lastStageAttempt(sid)
                stage_cache[sid] = (
                    float(s.executorRunTime()),
                    int(s.shuffleWriteBytes()),
                    int(s.inputBytes()),
                )
            except Exception:  # noqa: BLE001 — evicted or never run
                stage_cache[sid] = (0.0, 0, 0)
        return stage_cache[sid]

    def fill(target: Span, seen: set[int]) -> None:
        """Jobs submitted inside ``target``; a stage shared by several
        jobs (a skipped re-use) counts once per ``seen``."""
        lo, hi = target.start_ms, target.end_ms
        ivs = []
        for sub, comp, ntask, sids in jobs:
            if not lo <= sub <= hi:
                continue
            target.jobs += 1
            target.tasks += ntask
            ivs.append((sub, min(comp, hi)))
            for sid in sids:
                if sid in seen:
                    continue
                seen.add(sid)
                run, shuf, inp = stage(sid)
                target.executor_run_ms += run
                target.shuffle_bytes += shuf
                target.input_bytes += inp
        covered, cur = 0.0, None
        for a, b in sorted(ivs):
            if cur is None or a > cur[1]:
                covered += cur[1] - cur[0] if cur else 0.0
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        target.job_ms = covered + (cur[1] - cur[0] if cur else 0.0)

    seen: set[int] = set()
    for s in spans:
        fill(s, seen)
        s.plan_ms = sum(plan_ms(df) for df in s.frames)
    total = Span("spark", *window)
    fill(total, set())
    total.plan_ms = sum(s.plan_ms for s in spans if window[0] <= s.start_ms <= window[1])
    return {
        "plan_ms": total.plan_ms,
        "jobs": total.jobs,
        "tasks": total.tasks,
        "executor_run_s": total.executor_run_ms / 1000.0,
        "shuffle_mb": total.shuffle_bytes / 1e6,
        "input_mb": total.input_bytes / 1e6,
        "driver_s": total.driver_ms / 1000.0,
    }


def write_spans(spans: list[Span], path: str) -> None:
    """One JSON object per span, in start order."""
    with open(path, "w") as f:
        for s in sorted(spans, key=lambda s: s.start_ms):
            d = {k: v for k, v in s.__dict__.items() if k != "frames"}
            f.write(json.dumps(d) + "\n")


def plan_ms(df) -> float:
    """Catalyst analysis + optimization + planning time of an executed
    DataFrame, from its QueryPlanningTracker."""
    try:
        it = df._jdf.queryExecution().tracker().phases().iterator()
    except Exception:  # noqa: BLE001 — not a Dataset-backed frame
        return 0.0
    ms = 0.0
    while it.hasNext():
        ms += float(it.next()._2().durationMs())
    return ms

"""Layer spans recorded from the benchmark's side, and the Spark event-log
figures attributed to them.

Spark is lazy, so a span around a call that only builds a plan would time
nothing. In a traced repetition each layer's DataFrame output is therefore
persisted and forced inside its span, under a Spark job description that
names the layer; the event log (enabled for traced runs only) then yields
tasks, executor time, GC, shuffle bytes and spill per layer. Forcing every
layer breaks cross-layer fusion: the traced-minus-untraced wall time of the
same repetition reports that cost as the tracing overhead.

Spans stay in memory and are written into the result file at the end.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time

REP_PROPERTY = "perfbench.rep"
PHASE_PROPERTY = "perfbench.phase"
DESCRIPTION = "spark.job.description"


class Tracer:
    """Records spans (name, start, end, parent, run id, repetition) around
    calls into program layers. Disabled, ``layer`` and ``force`` cost
    nothing and change no plan; ``repetition`` always tags the repetition's
    Spark jobs so the event log can be split per repetition."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._persisted = []
        self._rep: str | None = None

    @contextlib.contextmanager
    def repetition(self, rep_id: str, traced: bool):
        self.sc.setLocalProperty(REP_PROPERTY, rep_id)
        self.enabled, self._rep = traced, rep_id
        try:
            with self.layer("rep"):
                yield
        finally:
            self.enabled = False
            self.sc.setLocalProperty(REP_PROPERTY, None)
            for df in self._persisted:
                df.unpersist()
            self._persisted.clear()

    @contextlib.contextmanager
    def phase(self, name: str):
        """Tags the Spark jobs of one phase of a repetition, traced or not
        (a local property changes no plan)."""
        self.sc.setLocalProperty(PHASE_PROPERTY, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty(PHASE_PROPERTY, None)

    @contextlib.contextmanager
    def layer(self, name: str):
        if not self.enabled:
            yield
            return
        prev = self.sc.getLocalProperty(DESCRIPTION)
        self.sc.setJobDescription(name)
        span = {
            "name": name,
            "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
            "run_id": self.run_id,
            "rep": self._rep,
            "start": time.time(),
        }
        self._stack.append(len(self.spans))
        self.spans.append(span)
        try:
            yield
        finally:
            span["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(DESCRIPTION, prev)

    def force(self, df):
        """Inside a span: persist ``df`` and run it, so the layer's work
        happens (and is attributed) here rather than in a later layer. The
        row count is kept on the span."""
        if not self.enabled:
            return df
        df = df.persist()
        n = df.count()
        self._persisted.append(df)
        if self._stack:
            self.spans[self._stack[-1]].setdefault("rows", []).append(n)
        return df

    @contextlib.contextmanager
    def patched(self, targets: list[tuple]):
        """Wrap ``module.attr`` for each (module, attr, layer, counter) so
        calls the program makes internally get a span too, with a forced
        result when they return a DataFrame. ``counter(args, kwargs, out)``,
        if given, returns extra counts stored on the span. Restored on exit."""
        from pyspark.sql import DataFrame

        saved = [(m, a, getattr(m, a)) for m, a, *_ in targets]

        def wrap(fn, layer, counter):
            @functools.wraps(fn)
            def call(*args, **kwargs):
                with self.layer(layer):
                    out = fn(*args, **kwargs)
                    if isinstance(out, DataFrame):
                        out = self.force(out)
                    if counter is not None and self.enabled:
                        self.spans[self._stack[-1]]["counts"] = counter(args, kwargs, out)
                    return out

            return call

        for (m, a, layer, counter), (_, _, fn) in zip(targets, saved):
            setattr(m, a, wrap(fn, layer, counter))
        try:
            yield
        finally:
            for m, a, fn in saved:
                setattr(m, a, fn)

    def span(self, name: str) -> dict:
        """The current repetition's (last) span called ``name``."""
        return [s for s in self.spans if s["rep"] == self._rep and s["name"] == name][-1]

    def self_times(self, rep_id: str) -> dict[str, float]:
        """Seconds per layer in one repetition, minus its child spans."""
        spans = [s for s in self.spans if s["rep"] == rep_id]
        out: dict[str, float] = {}
        for s in spans:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        for s in spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def span_seconds(self, rep_id: str, name: str) -> float:
        return sum(
            s["end"] - s["start"] for s in self.spans
            if s["rep"] == rep_id and s["name"] == name
        )


def _log_lines(log_dir: str):
    """Lines of the uncompressed event log(s) under ``log_dir``, in order
    (a single file, or the numbered files of a rolling log directory)."""
    paths = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(log_dir)
        for f in fs if not f.startswith(".")
    )
    for path in paths:
        with open(path) as f:
            yield from f


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) of the application log in ``log_dir``. Each carries
    the local properties it was submitted with; stages also carry their
    timing and task metrics. A stage belongs to the job that ran it: a
    later job that reuses its shuffle output lists it as skipped and never
    submits it again."""
    jobs: list[dict] = []
    stages: dict[int, dict] = {}
    for line in _log_lines(log_dir):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jobs.append({"props": ev.get("Properties") or {}})
        elif kind == "SparkListenerStageSubmitted":
            st = stages.setdefault(ev["Stage Info"]["Stage ID"], {"tasks": []})
            st["props"] = ev.get("Properties") or {}
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], {"tasks": []})
            st["submit"] = info.get("Submission Time")
            st["complete"] = info.get("Completion Time")
        elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
            m = ev["Task Metrics"]
            sw = m.get("Shuffle Write Metrics", {})
            stages.setdefault(ev["Stage ID"], {"tasks": []})["tasks"].append(
                {
                    "run_ms": m.get("Executor Run Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                    "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                    "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_records": sw.get("Shuffle Records Written", 0),
                }
            )
    return jobs, [s for s in stages.values() if s["tasks"]]


def job_stats(log: tuple[list[dict], list[dict]], rep_id: str, layer: str | None = None,
              phase: str | None = None) -> dict:
    """Totals over the jobs and stages of one repetition (and, given
    ``layer`` or ``phase``, only those run under that layer's job
    description or in that phase)."""

    def selected(props: dict) -> bool:
        return (
            props.get(REP_PROPERTY) == rep_id
            and (layer is None or props.get(DESCRIPTION) == layer)
            and (phase is None or props.get(PHASE_PROPERTY) == phase)
        )

    jobs, all_stages = log
    stages = [s for s in all_stages if selected(s.get("props", {}))]
    tasks = [t for s in stages for t in s["tasks"]]

    def total(key: str) -> float:
        return float(sum(t[key] for t in tasks))

    skew = 0.0
    if stages:
        # the stage holding the most executor time sets the layer's wall;
        # max/median task time there shows how one straggler pins it
        heavy = max(stages, key=lambda s: sum(t["run_ms"] for t in s["tasks"]))
        runs = [t["run_ms"] for t in heavy["tasks"]]
        skew = max(runs) / max(statistics.median(runs), 1.0)
    return {
        "jobs": sum(selected(j["props"]) for j in jobs),
        "stages": len(stages),
        "tasks": len(tasks),
        "run_s": total("run_ms") / 1e3,
        "gc_s": total("gc_ms") / 1e3,
        "spill_mb": total("spill_bytes") / 2**20,
        "input_mb": total("input_bytes") / 2**20,
        "shuffle_mb": total("shuffle_bytes") / 2**20,
        "shuffle_records": total("shuffle_records"),
        "task_skew": skew,
        "intervals": [
            (s["submit"] / 1e3, s["complete"] / 1e3)
            for s in stages if s.get("submit") and s.get("complete")
        ],
    }


def idle_seconds(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Wall time in [start, end] during which no stage was running: the
    driver's own work, job scheduling and round trips."""
    busy, cursor = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            busy += b - a
            cursor = b
    return max(end - start - busy, 0.0)

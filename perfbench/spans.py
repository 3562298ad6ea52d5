"""Spans, job tags and Spark event-log parsing for the traced mode.

The benchmark never edits the program. It records a span around each call
it makes into a public function, and it tags every Spark job started
inside a span with a `perfbench.layer` local property. Spark copies local
properties into the event log's job-start record, which is how the parser
attributes stages and tasks to layers after the run.

Inside `run_pipeline` the jobs belong to stages the benchmark does not call
directly. `tag_pipeline_stages` wraps the public stage functions the verb
imports at call time, so each job is tagged with the stage that starts it.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from contextlib import contextmanager

LAYER_PROP = "perfbench.layer"
# a layer name, or several whose jobs and intervals count as one layer
Layer = str | tuple[str, ...]


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


class Codegen:
    """Whole-process codegen compile count and milliseconds from the JVM's
    CodegenMetrics histogram. Its reservoir keeps every sample up to 1028
    compiles; past that the millisecond sum is approximate."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._hist = (
            jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME()
        )
        self._arrays = jvm.java.util.Arrays

    def read(self) -> tuple[int, float]:
        snap = self._arrays.toString(self._hist.getSnapshot().getValues())
        ms = sum(int(v) for v in re.findall(r"\d+", snap))
        return int(self._hist.getCount()), float(ms)


class Tracer:
    """Timeline of job tags, kept in memory: one entry per tag change with
    its time and the process's codegen counters. The interval up to the
    next change belongs to that tag's layer; a dotted tag belongs to every
    prefix (`curate.collapse` counts for `curate`)."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.timeline: list[tuple[float, str | None, int, float]] = []
        self._sc = spark.sparkContext
        self._codegen = Codegen(spark) if enabled else None
        self._tag: str | None = None

    def set_tag(self, layer: str | None) -> None:
        self._tag = layer
        if self.enabled:
            self._sc.setLocalProperty(LAYER_PROP, layer)
            self.timeline.append((time.time(), layer, *self._codegen.read()))

    @contextmanager
    def span(self, layer: str):
        """Tag the jobs started inside; restore the outer tag on exit."""
        outer = self._tag
        self.set_tag(layer)
        try:
            yield
        finally:
            self.set_tag(outer)

    def intervals(
        self, layer: Layer
    ) -> list[tuple[float, float, int, float]]:
        """(start, end, compile count, compile ms) of every interval whose
        tag is `layer` or below it."""
        out = []
        for (t0, tag, c0, ms0), (t1, _, c1, ms1) in zip(
            self.timeline, self.timeline[1:]
        ):
            if tag is not None and _within(tag, layer):
                out.append((t0, t1, c1 - c0, ms1 - ms0))
        return out


# ---- pipeline stage tagging ----

@contextmanager
def _patched(patches):
    saved = [(obj, name, getattr(obj, name)) for obj, name, _ in patches]
    for obj, name, fn in patches:
        setattr(obj, name, fn)
    try:
        yield
    finally:
        for obj, name, fn in saved:
            setattr(obj, name, fn)


def _spanned(tracer: Tracer, fn, layer: str):
    def wrapper(*a, **k):
        with tracer.span(layer):
            return fn(*a, **k)
    return wrapper


def tag_pipeline_stages(tracer: Tracer):
    """Attribute run_pipeline's internal jobs to stages.

    The verb imports its stage functions at call time, so wrappers set on
    their modules take effect. An eager stage opens a span for its layer.
    A lazy stage function, whose jobs run in the verb's own write of that
    stage's `workdir/<stage>` target, sets the tag and leaves it set: the
    write and the actions that follow it (the pack count) run under that
    tag."""
    from document_ai_spark.operators import chunking, curate, lineage
    from document_ai_spark.sources import jsonl

    def phase(fn, layer):
        def wrapper(*a, **k):
            tracer.set_tag(layer)
            return fn(*a, **k)
        return wrapper

    return _patched([
        (lineage, "run_extraction_job",
         _spanned(tracer, lineage.run_extraction_job, "extraction")),
        # run_extraction_job's per-commit bookkeeping: the shard stats
        # aggregation and the lineage append
        (lineage, "_chunk_shard_stats",
         _spanned(tracer, lineage._chunk_shard_stats, "extraction.commit")),
        (lineage, "_append_lineage_rows",
         _spanned(tracer, lineage._append_lineage_rows,
                  "extraction.commit")),
        (curate, "adaptive_collapse",
         _spanned(tracer, curate.adaptive_collapse, "curate.collapse")),
        (curate, "curation_flags", phase(curate.curation_flags, "curate")),
        (chunking, "chunk_documents",
         phase(chunking.chunk_documents, "chunking.chunk")),
        (chunking, "pack_sequences",
         phase(chunking.pack_sequences, "chunking.pack")),
        (jsonl, "write_jsonl", _spanned(tracer, jsonl.write_jsonl, "export")),
    ])


# ---- event log ----

def read_event_log(log_dir: str) -> dict:
    """Parse the (uncompressed, possibly rolled) event log into jobs,
    stages and per-stage task metrics."""
    files = sorted(
        (f for f in glob.glob(os.path.join(log_dir, "**", "*"),
                              recursive=True)
         if os.path.isfile(f)),
        key=_event_file_order,
    )
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a partial last line
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "layer": props.get(LAYER_PROP),
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _new_stage())
                    st["start"] = info.get("Submission Time")
                    st["end"] = info.get("Completion Time")
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _new_stage())
                    _add_task(st, ev)
    return {"jobs": jobs, "stages": stages}


def _event_file_order(path: str):
    m = re.search(r"events_(\d+)_", os.path.basename(path))
    return (int(m.group(1)) if m else 0, path)


def _new_stage() -> dict:
    return {"start": None, "end": None, "tasks": 0, "run_ms": [],
            "cpu_ns": 0, "gc_ms": 0, "shuffle_write_b": 0, "spill_b": 0,
            "output_b": 0}


def _add_task(st: dict, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    st["tasks"] += 1
    st["run_ms"].append(m.get("Executor Run Time", 0))
    st["cpu_ns"] += m.get("Executor CPU Time", 0)
    st["gc_ms"] += m.get("JVM GC Time", 0)
    st["shuffle_write_b"] += (
        m.get("Shuffle Write Metrics") or {}
    ).get("Shuffle Bytes Written", 0)
    st["spill_b"] += m.get("Disk Bytes Spilled", 0)
    st["output_b"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class LayerStats:
    """Aggregates event-log stages and the tag timeline for one layer.

    A layer owns the stages of every job tagged with its name or a dotted
    sub-name. A stage shared by several jobs counts once, for the first."""

    def __init__(self, log: dict, tracer: Tracer):
        self._tracer = tracer
        self._stage_layer: dict[int, str] = {}
        for jid in sorted(log["jobs"]):
            job = log["jobs"][jid]
            for sid in job["stages"]:
                self._stage_layer.setdefault(sid, job["layer"] or "")
        self._stages = log["stages"]

    def stages(self, layer: Layer) -> list[dict]:
        return [
            st for sid, st in self._stages.items()
            if st["end"] is not None and _within(
                self._stage_layer.get(sid, ""), layer)
        ]

    def wall_s(self, layer: Layer) -> float:
        return sum(t1 - t0 for t0, t1, _, _ in self._tracer.intervals(layer))

    def compile(self, layer: Layer) -> tuple[int, float]:
        iv = self._tracer.intervals(layer)
        return sum(c for *_, c, _ in iv), sum(ms for *_, ms in iv)

    def driver_s(self, layer: Layer) -> float:
        """Layer wall minus the part of it covered by its stages'
        executor spans: planning, compile and scheduling time."""
        window = [(t0, t1) for t0, t1, _, _ in self._tracer.intervals(layer)]
        busy = []
        for st in self.stages(layer):
            s, e = st["start"] / 1e3, st["end"] / 1e3
            for w0, w1 in window:
                lo, hi = max(s, w0), min(e, w1)
                if hi > lo:
                    busy.append((lo, hi))
        wall = sum(w1 - w0 for w0, w1 in window)
        return max(0.0, wall - _union_len(busy))

    def totals(self, layer: Layer) -> dict:
        sts = self.stages(layer)
        heavy = max(sts, key=lambda st: sum(st["run_ms"]), default=None)
        ratio = 0.0
        if heavy and heavy["run_ms"]:
            med = statistics.median(heavy["run_ms"])
            ratio = max(heavy["run_ms"]) / med if med > 0 else 0.0
        return {
            "stages": len(sts),
            "tasks": sum(st["tasks"] for st in sts),
            "executor_run_s": sum(sum(st["run_ms"]) for st in sts) / 1e3,
            "executor_cpu_s": sum(st["cpu_ns"] for st in sts) / 1e9,
            "gc_s": sum(st["gc_ms"] for st in sts) / 1e3,
            "shuffle_write_mb": sum(st["shuffle_write_b"] for st in sts)
            / 1e6,
            "spill_mb": sum(st["spill_b"] for st in sts) / 1e6,
            "output_mb": sum(st["output_b"] for st in sts) / 1e6,
            # max/median task run time of the layer's heaviest stage
            "task_max_over_median": ratio,
        }


def _within(tag: str, layer: Layer) -> bool:
    """Whether a job tag belongs to `layer`, or to any of several."""
    if isinstance(layer, tuple):
        return any(_within(tag, one) for one in layer)
    return tag == layer or tag.startswith(layer + ".")

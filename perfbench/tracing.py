"""Span collector for the traced run.

A span records (name, start, end, parent, run id) around one call into
a layer of the program, made from the benchmark's own code. Each span
also tags the Spark jobs started inside it with ``setJobGroup``; after
the outermost span ends, ``collect`` reads Spark's status store and
attaches each job's stage counts to the span that started it. Spans
stay in memory until ``dump`` writes them out.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

_MB = 1024 * 1024
STAGE_FIELDS = (
    "tasks", "run_s", "cpu_s", "gc_s", "input_bytes", "input_records",
    "shuffle_read_bytes", "shuffle_write_bytes", "shuffle_write_records",
    "spill_bytes",
)


def _opt_ms(option) -> int | None:
    return option.get().getTime() if option.isDefined() else None


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _tag(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name, "run": self.run_id,
            "parent": parent["id"] if parent else None,
            "group": f"{self.run_id}/{len(self.spans)}",
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._tag(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._tag(parent)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def patched(self, targets: list[tuple[object, str, str]]):
        """Temporarily replace ``owner.attr`` with a span-recording
        wrapper named ``span_name`` for each target."""
        saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
        for owner, attr, span_name in targets:
            setattr(owner, attr, self.wrap(span_name, getattr(owner, attr)))
        try:
            yield
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)

    def collect(self, root: dict) -> None:
        """Attach status-store counts to ``root`` and every span under
        it. Counts on a span cover the jobs it started itself; ``totals``
        sums a subtree."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        seen: set[int] = set()
        for rec in self.subtree(root):
            stats = dict.fromkeys(STAGE_FIELDS, 0)
            stats.update(jobs=0, stages=0, intervals=[])
            for job_id in tracker.getJobIdsForGroup(rec["group"]):
                stats["jobs"] += 1
                ids = store.job(job_id).stageIds()
                for i in range(ids.size()):
                    stage_id = ids.apply(i)
                    if stage_id in seen:
                        continue
                    seen.add(stage_id)
                    st = store.lastStageAttempt(stage_id)
                    if st.status().toString() == "SKIPPED":
                        continue
                    stats["stages"] += 1
                    stats["tasks"] += st.numTasks()
                    stats["run_s"] += st.executorRunTime() / 1e3
                    stats["cpu_s"] += st.executorCpuTime() / 1e9
                    stats["gc_s"] += st.jvmGcTime() / 1e3
                    stats["input_bytes"] += st.inputBytes()
                    stats["input_records"] += st.inputRecords()
                    stats["shuffle_read_bytes"] += st.shuffleReadBytes()
                    stats["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    stats["shuffle_write_records"] += st.shuffleWriteRecords()
                    stats["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    start, end = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
                    if start is not None and end is not None:
                        stats["intervals"].append((start / 1e3, end / 1e3))
            rec["spark"] = stats

    def subtree(self, root: dict) -> list[dict]:
        out, frontier = [], {root["id"]}
        for rec in self.spans[root["id"]:]:
            if rec["id"] in frontier or rec["parent"] in frontier:
                frontier.add(rec["id"])
                out.append(rec)
        return out

    def totals(self, root: dict) -> dict:
        """Summed status-store counts of a subtree, plus ``driver_s``:
        wall time minus the union of its stages' active intervals."""
        tot = dict.fromkeys(STAGE_FIELDS, 0)
        tot.update(jobs=0, stages=0)
        intervals = []
        for rec in self.subtree(root):
            for key in tot:
                tot[key] += rec["spark"][key]
            intervals += rec["spark"]["intervals"]
        tot["wall_s"] = root["end"] - root["start"]
        tot["driver_s"] = tot["wall_s"] - _union(intervals)
        tot["shuffle_read_mb"] = tot.pop("shuffle_read_bytes") / _MB
        tot["shuffle_write_mb"] = tot.pop("shuffle_write_bytes") / _MB
        tot["spill_mb"] = tot.pop("spill_bytes") / _MB
        return tot

    def self_times(self, root: dict) -> dict[str, float]:
        """Self time per layer under ``root``: each span's duration
        minus the part of it that its child spans cover. A layer is the
        span name up to its first dot."""
        recs = self.subtree(root)
        out: dict[str, float] = {}
        for rec in recs:
            kids = [(k["start"], k["end"]) for k in recs if k["parent"] == rec["id"]]
            own = rec["end"] - rec["start"] - _union(kids)
            layer = rec["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + own
        return out

    def dump(self, path: str, extra: dict) -> None:
        spans = [{k: v for k, v in rec.items() if k != "group"} for rec in self.spans]
        with open(path, "w") as fh:
            json.dump({"spans": spans, **extra}, fh, indent=1, default=str)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total

"""Benchmark-side tracing: spans around calls into the engine's modules.

Spans come only from wrappers the benchmark installs; nothing inside the
engine package is edited. A wrapper replaces a name where its CALLER
looks it up (``gosales_pipeline`` imports ``write_parquet`` by name, so
the patch goes on ``gosales_pipeline.write_parquet``), records a span
(name, layer, start, end, parent) and tags the Spark jobs the call
submits with a job group equal to the span id, so the event log can
attribute executor work to the innermost span. Spans stay in memory and
are summarised when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict

LAYERS = ("session", "sources", "operators", "plans", "pipeline", "sinks")
ENGINE_METRICS = (
    "executor_run_s", "cpu_s", "gc_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "tasks", "stages", "driver_only_s",
)
# the subset also split by layer ("unspanned": jobs submitted outside any span)
ENGINE_BY_LAYER = ("executor_run_s", "cpu_s", "shuffle_write_bytes", "driver_only_s")
ENGINE_LAYERS = LAYERS[1:] + ("unspanned",)
_GROUP = "spark.jobGroup.id"


class Tracer:
    """Span recorder for a single-threaded workload. ``span(name)`` is a
    context manager; ``patch`` swaps a module or class attribute for a
    spanning wrapper (undone by ``restore``). A span's layer is the first
    dotted component of its name."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0

    # ------------------------------------------------------------- spans
    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        sp = {
            "id": f"bench-{len(self.spans)}", "name": name,
            "layer": name.split(".", 1)[0],
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": 0.0, "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp["id"])
        self.bookkeeping_s += time.perf_counter() - t0
        sp["start"] = time.time()
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            t0 = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1]["id"] if self._stack else None)
            self.bookkeeping_s += time.perf_counter() - t0

    def _set_group(self, gid: str | None) -> None:
        self.spark.sparkContext.setLocalProperty(_GROUP, gid)

    def add(self, counter: str, value: float) -> None:
        self.counters[counter] += value

    # ----------------------------------------------------------- patching
    def wrap(self, fn, name: str):
        """``fn`` wrapped in a span called ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that spans ``name``."""
        self.replace(owner, attr, lambda fn: self.wrap(fn, name))

    def replace(self, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` with ``make(original)`` (for wrappers
        that also count)."""
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ------------------------------------------------------------ summary
    def totals(self) -> dict[str, float]:
        """Total wall seconds per span name."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += s["end"] - s["start"]
        return out

    def self_intervals(self) -> dict[str, list[tuple[float, float]]]:
        """Per span id: its [start, end] minus the intervals of its
        children (the time the span itself was the innermost)."""
        kids: dict[str, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        return {
            s["id"]: _subtract([(s["start"], s["end"])], kids[s["id"]])
            for s in self.spans if s["end"] is not None
        }

    def layer_self_s(self) -> dict[str, float]:
        out = dict.fromkeys(LAYERS, 0.0)
        selfs = self.self_intervals()
        for s in self.spans:
            if s["id"] in selfs and s["layer"] in out:
                out[s["layer"]] += _length(selfs[s["id"]])
        return out


def _merge(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(iv):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _subtract(base, cut):
    res = _merge(base)
    for c0, c1 in _merge(cut):
        nxt = []
        for a, b in res:
            if c1 <= a or c0 >= b:
                nxt.append((a, b))
                continue
            if a < c0:
                nxt.append((a, c0))
            if c1 < b:
                nxt.append((c1, b))
        res = nxt
    return res


def _length(iv) -> float:
    return sum(b - a for a, b in iv)


# ------------------------------------------------------------ event log

def engine_by_layer(event_dir: str, tracer: Tracer) -> dict[str, float]:
    """``engine.<metric>`` totals and ``engine.<layer>.<metric>`` from the
    Spark event log. Jobs are attributed to the span whose id is their job
    group; jobs with any other group (e.g. set by a Spark-internal thread)
    go to the innermost span open when they were submitted, else to
    ``unspanned``. ``driver_only_s`` is span self time
    during which no task of any job was running: planning, file listing
    and py4j."""
    job_group: dict[int, str | None] = {}
    job_submit: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    paths = glob.glob(f"{event_dir}/**/events_*", recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    job_group[jid] = (ev.get("Properties") or {}).get(_GROUP)
                    job_submit[jid] = ev.get("Submission Time", 0) / 1000.0
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)

    spans = {s["id"]: s for s in tracer.spans if s["end"] is not None}

    def layer_of_job(jid: int | None) -> str:
        sp = spans.get(job_group.get(jid) or "") if jid is not None else None
        if sp is None and jid is not None:
            t = job_submit.get(jid, 0.0)
            inside = [s for s in spans.values() if s["start"] <= t <= s["end"]]
            sp = max(inside, key=lambda s: s["start"]) if inside else None
        return sp["layer"] if sp and sp["layer"] in ENGINE_LAYERS else "unspanned"

    per: dict[str, dict[str, float]] = {
        l: dict.fromkeys(ENGINE_METRICS, 0.0) for l in ENGINE_LAYERS
    }
    stages_seen: dict[str, set] = defaultdict(set)
    task_iv: list[tuple[float, float]] = []
    for ev in tasks:
        sid = ev.get("Stage ID")
        layer = layer_of_job(stage_job.get(sid))
        info = ev.get("Task Info") or {}
        if info.get("Launch Time") and info.get("Finish Time"):
            task_iv.append((info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
        m = ev.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        row = per[layer]
        row["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
        row["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        row["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        row["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        row["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        row["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        row["tasks"] += 1
        stages_seen[layer].add(sid)
    for layer, sids in stages_seen.items():
        per[layer]["stages"] = float(len(sids))

    busy = _merge(task_iv)
    selfs = tracer.self_intervals()
    for s in spans.values():
        if s["layer"] in per and s["id"] in selfs:
            per[s["layer"]]["driver_only_s"] += _length(_subtract(selfs[s["id"]], busy))

    out = {f"engine.{m}": sum(per[l][m] for l in per) for m in ENGINE_METRICS}
    for l in ENGINE_LAYERS:
        for m in ENGINE_BY_LAYER:
            out[f"engine.{l}.{m}"] = per[l][m]
    return out

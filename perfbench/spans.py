"""Spans, operator wrappers and event-log attribution for the benchmark.

A span is one timed call into the program: name, start, end, parent
span and run id. Spans are kept in memory and written out once, when
the run ends. A Tracer given a SparkContext runs each span's Spark jobs
under the span's own job group, so the event log's task metrics can be
attributed back to the span that caused them.

``wrap_ops`` replaces a module's references to public library
functions with wrappers that open a span around the call and then
materialise the returned DataFrame (persist + count) inside the same
span. The library code is not edited: the names are rebound in the
calling module for the traced pass only and restored afterwards.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self, sc=None, run_id: str = "run"):
        self.sc = sc                  # SparkContext; None = no job groups
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["id"], rec["name"], False)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": f"{self.run_id}/{len(self.spans)}", "name": name,
               "parent": parent["id"] if parent else None,
               "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)


def wrap_ops(tracer: Tracer, patches: list[tuple],
             notes: dict) -> list[tuple]:
    """Rebind module.attr -> spanned wrapper for each
    (module, attr, span_name, on_result) in patches. on_result(args,
    kwargs, df, n_rows, notes) may record counts; it runs inside the
    span's materialize child. Returns the undo list for unwrap_ops."""
    undo = []
    for module, attr, name, on_result in patches:
        orig = getattr(module, attr)

        def wrapper(*args, __orig=orig, __name=name, __cb=on_result,
                    **kwargs):
            with tracer.span(__name):
                with tracer.span(__name + ":build"):
                    out = __orig(*args, **kwargs)
                if not hasattr(out, "persist"):          # sinks: no frame
                    return out
                with tracer.span(__name + ":materialize"):
                    # persisted until the pass's release_all
                    df = out.persist()
                    n = df.count()
                    if __cb is not None:
                        __cb(args, kwargs, df, n, notes)
                return df

        setattr(module, attr, wrapper)
        undo.append((module, attr, orig))
    return undo


def unwrap_ops(undo: list[tuple]) -> None:
    for module, attr, orig in reversed(undo):
        setattr(module, attr, orig)


# --------------------------------------------------------------------------
# span arithmetic
# --------------------------------------------------------------------------

def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id -> duration minus the union of its children's intervals
    (children of one span run sequentially on the client thread, but
    the union is taken anyway so overlap can never go negative)."""
    kids: dict[str | None, list[dict]] = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def descendants(spans: list[dict]) -> dict[str, set[str]]:
    """Span id -> ids of itself and every span below it."""
    kids: dict[str, list[str]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s["id"])
    out: dict[str, set[str]] = {}

    def walk(sid: str) -> set[str]:
        if sid not in out:
            acc = {sid}
            for k in kids[sid]:
                acc |= walk(k)
            out[sid] = acc
        return out[sid]

    for s in spans:
        walk(s["id"])
    return out


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

_ACC = {
    "internal.metrics.executorRunTime": ("run_ms", 1.0),
    "internal.metrics.executorCpuTime": ("cpu_ms", 1e-6),   # ns -> ms
    "internal.metrics.jvmGCTime": ("gc_ms", 1.0),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_b", 1.0),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_b", 1.0),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_b", 1.0),
    "internal.metrics.diskBytesSpilled": ("spill_b", 1.0),
}


def parse_event_log(path: str) -> dict[str, dict]:
    """Job group id -> summed stage metrics of the jobs run under it:
    jobs, tasks, failed tasks, executor run / CPU / GC ms, shuffle
    bytes and spill bytes. Jobs without a group land under ""."""
    stage_group: dict[int, str] = {}
    stage_vals: dict[int, dict] = {}
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if ('"SparkListenerJobStart"' not in line
                    and '"SparkListenerStageCompleted"' not in line
                    and '"SparkListenerTaskEnd"' not in line):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id") or ""
                groups[gid]["jobs"] += 1
                for s in ev.get("Stage Infos", []):
                    stage_group.setdefault(s["Stage ID"], gid)
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                vals = defaultdict(float)
                vals["tasks"] = si.get("Number of Tasks", 0)
                for a in si.get("Accumulables", []):
                    key = _ACC.get(a.get("Name"))
                    if key is not None:
                        vals[key[0]] += float(a.get("Value") or 0) * key[1]
                stage_vals[si["Stage ID"]] = vals
            elif ev.get("Task End Reason", {}).get("Reason") != "Success":
                stage_vals.setdefault(ev["Stage ID"], defaultdict(float))
                stage_vals[ev["Stage ID"]]["failed_tasks"] += 1
    for sid, vals in stage_vals.items():
        g = groups[stage_group.get(sid, "")]
        for k, v in vals.items():
            g[k] += v
    return {g: dict(v) for g, v in groups.items()}


def span_engine(spans: list[dict], by_group: dict[str, dict]
                ) -> dict[str, dict]:
    """Span id -> engine metrics of the jobs run under the span and
    every span below it."""
    desc = descendants(spans)
    out = {}
    for s in spans:
        acc: dict[str, float] = defaultdict(float)
        for sid in desc[s["id"]]:
            for k, v in by_group.get(sid, {}).items():
                acc[k] += v
        out[s["id"]] = dict(acc)
    return out

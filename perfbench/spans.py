"""Spans around program calls, attributed from Spark's own event log.

A :class:`Tracer` records named spans (start, end, parent, run id)
and tags every Spark job a span submits with the local property
``perfbench.span`` = span id. Local properties are per thread, so the
tag is exact even when cross-validation folds submit jobs from a
thread pool. A job without the tag (submitted from a thread no span
is open in) goes to the innermost span open at its submission time.

:func:`span_metrics` reads the uncompressed event log the traced
session wrote and computes, per span, its own and its subtree's jobs,
tasks, executor time, shuffle bytes and GC time, plus ``idle_s``:
span time during which none of the subtree's tasks ran (driver work,
dispatch and synchronization wait).
"""

from __future__ import annotations

import json
import re
import threading
import time
from contextlib import contextmanager
from pathlib import Path
from statistics import median

SPAN_PROP = "perfbench.span"


class Tracer:
    def __init__(self, sc, run_id: str) -> None:
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stacks: dict[int, list[int]] = {}
        self._lock = threading.Lock()

    def _parent(self, tid: int) -> int | None:
        stack = self._stacks.get(tid) or self._stacks.get(
            threading.main_thread().ident
        )
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, **attrs):
        """Time one call. A span opened in a thread with no open span
        (a CV pool thread) nests under the main thread's innermost, and
        takes the attributes it is not given (the operation and its
        execution number) from its parent."""
        tid = threading.get_ident()
        with self._lock:
            parent = self._parent(tid)
            if parent is not None:
                attrs = {**self.spans[parent], **attrs}
            rec = {
                **attrs,
                "id": len(self.spans),
                "name": name,
                "parent": parent,
                "run": self.run_id,
                "start": time.time(),
                "end": None,
            }
            self.spans.append(rec)
            self._stacks.setdefault(tid, []).append(rec["id"])
        prev = self.sc.getLocalProperty(SPAN_PROP)
        self.sc.setLocalProperty(SPAN_PROP, str(rec["id"]))
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.sc.setLocalProperty(SPAN_PROP, prev)
            with self._lock:
                self._stacks[tid].pop()

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans, indent=1) + "\n")


def _event_files(log_dir: Path) -> list[Path]:
    """Every event-log file under ``log_dir``: a rolling directory's
    ``events_<N>_<app>`` files in index order, or single-file logs."""

    def key(p: Path) -> tuple[str, int]:
        m = re.match(r"events_(\d+)_", p.name)
        return (str(p.parent), int(m.group(1)) if m else 0)

    files = [
        p
        for p in log_dir.rglob("*")
        if p.is_file() and not p.name.startswith((".", "appstatus"))
    ]
    return sorted(files, key=key)


def read_event_log(log_dir: Path) -> tuple[dict, list[dict]]:
    """(jobs, tasks) from the event log: jobs by id with submission
    time (s), span tag and stage ids; one dict per finished task."""
    jobs: dict[int, dict] = {}
    stage_tag: dict[int, str | None] = {}
    tasks: list[dict] = []
    for path in _event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "tag": (ev.get("Properties") or {}).get(SPAN_PROP),
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stage_tag[ev["Stage Info"]["Stage ID"]] = props.get(SPAN_PROP)
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "launch": info["Launch Time"] / 1000.0,
                            "finish": info["Finish Time"] / 1000.0,
                            "run_s": m.get("Executor Run Time", 0) / 1000.0,
                            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                            "shuffle_b": (m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                        }
                    )
    stage_job: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            stage_job.setdefault(sid, jid)
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
        t["tag"] = stage_tag.get(t["stage"])
    return jobs, tasks


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_metrics(spans: list[dict], log_dir: Path) -> dict[int, dict]:
    """Per span id: wall_s, self_s, jobs, tasks, task_s, idle_s,
    shuffle_mb, gc_s — all but wall_s/self_s summed over the span's
    subtree."""
    jobs, tasks = read_event_log(log_dir)
    by_id = {s["id"]: s for s in spans}
    closed = [s for s in spans if s["end"] is not None]

    def innermost(t: float) -> int | None:
        open_ = [s for s in closed if s["start"] <= t <= s["end"]]
        return max(open_, key=lambda s: s["start"])["id"] if open_ else None

    def owner(tag: str | None, t: float) -> int | None:
        if tag is not None and tag.isdigit() and int(tag) in by_id:
            return int(tag)
        return innermost(t)

    own_jobs: dict[int, int] = {}
    job_span: dict[int, int | None] = {}
    for jid, j in jobs.items():
        sid = owner(j["tag"], j["submit"])
        job_span[jid] = sid
        if sid is not None:
            own_jobs[sid] = own_jobs.get(sid, 0) + 1
    own_tasks: dict[int, list[dict]] = {}
    for t in tasks:
        if t["tag"] is None and t["job"] is not None:
            sid = job_span[t["job"]]
        else:
            sid = owner(t["tag"], t["launch"])
        if sid is not None:
            own_tasks.setdefault(sid, []).append(t)

    children: dict[int, list[int]] = {}
    for s in closed:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])

    def subtree(sid: int) -> list[int]:
        out, stack = [], [sid]
        while stack:
            cur = stack.pop()
            out.append(cur)
            stack.extend(children.get(cur, []))
        return out

    out: dict[int, dict] = {}
    for s in closed:
        ids = subtree(s["id"])
        ts = [t for i in ids for t in own_tasks.get(i, [])]
        lo, hi = s["start"], s["end"]
        wall = hi - lo
        kids = [(by_id[c]["start"], by_id[c]["end"]) for c in children.get(s["id"], [])]
        out[s["id"]] = {
            "wall_s": wall,
            "self_s": wall - _union(kids, lo, hi),
            "jobs": sum(own_jobs.get(i, 0) for i in ids),
            "tasks": len(ts),
            "task_s": sum(t["run_s"] for t in ts),
            "idle_s": wall - _union([(t["launch"], t["finish"]) for t in ts], lo, hi),
            "shuffle_mb": sum(t["shuffle_b"] for t in ts) / 1e6,
            "gc_s": sum(t["gc_s"] for t in ts),
        }
    return out


def check_tree(spans: list[dict], per_span: dict[int, dict]) -> list[str]:
    """Problems with the span tree: a child outside its parent, an
    unclosed span, a negative self time."""
    by_id = {s["id"]: s for s in spans}
    bad = []
    for s in spans:
        if s["end"] is None or s["end"] < s["start"]:
            bad.append(f"span {s['id']} {s['name']} not closed")
            continue
        p = by_id.get(s["parent"]) if s["parent"] is not None else None
        if p is not None and not (p["start"] <= s["start"] and s["end"] <= p["end"]):
            bad.append(f"span {s['id']} {s['name']} outside parent {p['id']}")
        if per_span[s["id"]]["self_s"] < 0:
            bad.append(f"span {s['id']} {s['name']} self_s < 0")
    return bad


def aggregate(
    spans: list[dict], per_span: dict[int, dict], names, measures
) -> dict[str, float]:
    """``<name>.<measure>`` per operation: summed over a name's spans
    within one execution of an operation, averaged over that
    operation's executions, summed over operations (a module's value
    is its queries' per-pass total)."""
    execs: dict[str, set] = {}
    sums: dict[tuple, float] = {}
    for s in spans:
        execs.setdefault(s["op"], set()).add(s["exec"])
        if s["name"] not in names:
            continue
        for m in measures:
            k = (s["name"], m, s["op"])
            sums[k] = sums.get(k, 0.0) + per_span[s["id"]][m]
    out = {f"{n}.{m}": 0.0 for n in names for m in measures}
    for (n, m, op), v in sums.items():
        out[f"{n}.{m}"] += v / len(execs[op])
    return out


def fold_stats(spans: list[dict], per_span: dict[int, dict]) -> dict[str, float]:
    """CV fold balance: median and per-run max fold-fit time, and
    summed fold time over CV wall time (how many folds overlapped)."""
    fits = [s for s in spans if s["name"] == "ml.cv.fit"]
    cvs = [s for s in spans if s["name"] == "ml.cv"]
    if not fits or not cvs:
        return {"ml.cv.fit_p50_s": 0.0, "ml.cv.fit_max_s": 0.0, "ml.cv.concurrency": 0.0}
    walls = [per_span[s["id"]]["wall_s"] for s in fits]
    folds = [s for s in spans if s["name"] in ("ml.cv.fit", "ml.cv.score")]
    per_cv_max, conc = [], []
    for cv in cvs:
        mine = [f for f in folds if f["parent"] == cv["id"]]
        fit_walls = [per_span[f["id"]]["wall_s"] for f in mine if f["name"] == "ml.cv.fit"]
        per_cv_max.append(max(fit_walls, default=0.0))
        cv_wall = per_span[cv["id"]]["wall_s"]
        conc.append(sum(per_span[f["id"]]["wall_s"] for f in mine) / cv_wall)
    return {
        "ml.cv.fit_p50_s": median(walls),
        "ml.cv.fit_max_s": sum(per_cv_max) / len(per_cv_max),
        "ml.cv.concurrency": sum(conc) / len(conc),
    }

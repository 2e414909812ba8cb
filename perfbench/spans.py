"""Span recorder for the traced run.

Times calls into the program's public functions from outside: a span
opens around each wrapped call, runs it under its own Spark job group,
and records wall time, the jobs and tasks Spark ran for it (from
``statusTracker``), the driver JVM's CPU seconds (from ``/proc``) and
caller-supplied counters. Spans stay in memory until :meth:`dump`.
Nothing here edits program code: :meth:`patch` swaps a module attribute
for a wrapper and :meth:`restore` puts the original back.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def proc_cpu_s(pid: int) -> float:
    """utime + stime of ``pid`` in seconds (fields 14 and 15 of stat)."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _CLK_TCK


def tree_files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every regular file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            p = os.path.join(d, name)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) that are new or changed between two tree snapshots;
    Hadoop's ``.crc`` side files are left out."""
    n_bytes = n_files = 0
    for p, meta in after.items():
        if p.endswith(".crc") or before.get(p) == meta:
            continue
        n_bytes += meta[0]
        n_files += 1
    return n_bytes, n_files


class Recorder:
    """In-memory span store bound to one SparkContext."""

    def __init__(self, spark, nproc: int, jvm_pid: int):
        self.sc = spark.sparkContext
        self.nproc = nproc
        self.jvm_pid = jvm_pid
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self.request = None  # id shared by the spans of one batch or query

    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def _job_counts(self, group: str) -> tuple[int, int, int]:
        tracker = self.sc.statusTracker()
        jobs = tasks = failed = 0
        for job_id in tracker.getJobIdsForGroup(group):
            jobs += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                st = tracker.getStageInfo(stage_id)
                if st is not None:
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
        return jobs, tasks, failed

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span; the body may add counters to the yielded dict."""
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "request": self.request,
            "name": name,
            **attrs,
        }
        self.spans.append(rec)
        group = f"perfbench-{rec['id']}"
        self._stack.append(rec)
        self._set_group(group)
        cpu0 = proc_cpu_s(self.jvm_pid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["end"] = time.perf_counter()
            cpu = proc_cpu_s(self.jvm_pid) - cpu0
            self._stack.pop()
            self._set_group(f"perfbench-{self._stack[-1]['id']}" if self._stack else None)
            jobs, tasks, failed = self._job_counts(group)
            wall = rec["end"] - rec["start"]
            rec.update(
                self_jobs=jobs,
                self_tasks=tasks,
                self_failed_tasks=failed,
                jvm_cpu_s=cpu,
                cpu_util=cpu / (wall * self.nproc) if wall > 0 else 0.0,
            )

    def wrap(self, name: str, fn, before=None, after=None):
        """``fn`` wrapped in a span. ``before()`` runs just ahead of the
        span and ``after(rec, state, result)`` just after it, with
        ``state`` what ``before`` returned; their time is recorded as the
        span's ``probe_s`` and left out of its parent's self time."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            state = before() if before is not None else None
            t1 = time.perf_counter()
            with self.span(name) as rec:
                result = fn(*args, **kwargs)
            t2 = time.perf_counter()
            if after is not None:
                after(rec, state, result)
            rec["probe_s"] = (t1 - t0) + (time.perf_counter() - t2)
            return result

        return traced

    def patch(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` (a module global as callers look it up)
        with its traced wrapper until :meth:`restore`."""
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(name, orig, before, after))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # --- derived figures ---------------------------------------------------

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def self_time(self, rec: dict) -> float:
        """Duration minus the part of it covered by direct children (which
        run sequentially on the one client thread) and their probes."""
        return (rec["end"] - rec["start"]) - sum(
            c["end"] - c["start"] + c.get("probe_s", 0.0) for c in self.children(rec)
        )

    def inclusive(self, rec: dict, key: str) -> int:
        """``self_<key>`` summed over the span and all its descendants."""
        return rec[f"self_{key}"] + sum(self.inclusive(c, key) for c in self.children(rec))

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)

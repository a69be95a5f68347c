"""In-memory span recorder plus counts taken from outside the engine.

Spans are recorded around the benchmark's calls into each engine layer
(name, start, end, parent, op id). Counts come from Spark's status
tracker (job groups -> jobs, stages, tasks, failed tasks) and from a
walk of a table's directory tree (bytes in new inodes, live files,
version directories, history lines). Nothing here changes what the
engine does; an untraced run uses :class:`NullTracer`.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (children's intervals are merged first, so
    overlapping children are not subtracted twice)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


class NullTracer:
    """Tracing off: spans and job groups cost one no-op call."""

    enabled = False

    @contextmanager
    def span(self, name: str, op: str | None = None, group: str | None = None):
        yield


class Tracer:
    """Tracing on: keeps every span in memory until :meth:`dump`."""

    enabled = True

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, group: str | None = None):
        """Record one span; with ``group`` every Spark job started
        inside it is tagged with that job group for
        :meth:`group_counts`."""
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = Span(sid, name, time.perf_counter(), 0.0, parent, op)
        self.spans.append(span)
        self._stack.append(sid)
        sc = self.spark.sparkContext if group else None
        if sc is not None:
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, name)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                if prev is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(prev, name)

    def group_counts(self, group: str) -> dict[str, int]:
        return job_group_counts(self.spark.sparkContext, group)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def job_group_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran tasks, completed and failed tasks of one
    job group, read after Spark's listener bus has drained so the
    counts are final."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for job_id in st.getJobIdsForGroup(group):
        job = st.getJobInfo(job_id)
        if job is None:
            continue
        out["jobs"] += 1
        for stage_id in job.stageIds:
            stage = st.getStageInfo(stage_id)
            if stage is None or stage.numCompletedTasks == 0:
                continue  # skipped (reused shuffle output)
            out["stages"] += 1
            out["tasks"] += stage.numCompletedTasks
            out["failed_tasks"] += stage.numFailedTasks
    return out


def io_bytes(pid: int) -> int:
    """Bytes a process has passed through read and write system calls
    (files, shuffle files, sockets), from ``/proc/<pid>/io``."""
    with open(f"/proc/{pid}/io") as fh:
        fields = dict(line.split(":") for line in fh)
    return int(fields["rchar"]) + int(fields["wchar"])


def tree_files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (inode, size) for every regular file under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            st = os.lstat(p)
            out[p] = (st.st_ino, st.st_size)
    return out


def new_files(before: dict, after: dict) -> list[str]:
    """Files in ``after`` whose inode did not exist in ``before``:
    written by the step in between (hard links to old data are not)."""
    old_inodes = {ino for ino, _ in before.values()}
    return [p for p, (ino, _) in after.items() if ino not in old_inodes]


def storage_counts(root: str, version: int) -> dict[str, int]:
    """Live files and bytes of one committed version, version dirs on
    disk and lines of the commit history."""
    vdir = os.path.join(root, f"v={version}")
    live = [
        (p, size)
        for p, (_ino, size) in tree_files(vdir).items()
        if p.endswith(".parquet")
    ]
    versions = [e for e in os.listdir(root) if e.startswith("v=") and e[2:].isdigit()]
    hist = os.path.join(root, "_HISTORY.jsonl")
    lines = 0
    if os.path.exists(hist):
        with open(hist) as fh:
            lines = sum(1 for line in fh if line.strip())
    return {
        "files_live": len(live),
        "bytes_live": sum(size for _, size in live),
        "versions_on_disk": len(versions),
        "history_entries": lines,
    }

"""Spans around the calls into the pipeline's layers.

Each span records its name, parent, start and end, and runs its Spark
jobs under a job group of its own, so the scheduler's status tracker
can tell which jobs, stages and tasks each span launched. A nested span
restores its parent's job group on exit. Spans stay in memory until
``write`` saves them once, at the end of a run.

``instrument`` patches the layers' public functions where they are
looked up (``plans.pipeline`` imports ``stage_fingerprint`` and
``components`` by name, so those bindings are patched as well as the
defining module's) and restores every original on exit. The package
itself is not modified.
"""

from __future__ import annotations

import functools
import json
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from time import perf_counter


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    group: str
    start: float = 0.0
    end: float = 0.0
    cpu_start: float = 0.0
    cpu_end: float = 0.0
    job_ids: list[int] = field(default_factory=list)
    children: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def cpu_s(self) -> float:
        return self.cpu_end - self.cpu_start


COUNTS = ("jobs", "stages", "tasks", "tasks_failed")


class Tracer:
    def __init__(self, sc, cpu_s=lambda: 0.0):
        self.sc = sc
        #: CPU seconds used so far by the process tree being traced
        self.cpu_s = cpu_s
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        #: wall seconds spent in the tracer's own bookkeeping
        self.overhead_s = 0.0
        # stage id -> (completed tasks, failed tasks); job id -> stage ids
        self._stage_tasks: dict[int, tuple[int, int]] = {}
        self._job_stages: dict[int, list[int]] = {}

    @contextmanager
    def span(self, name: str):
        t = perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None, "")
        sp.group = f"perfbench-{sp.sid}"
        self.spans.append(sp)
        if parent:
            parent.children.append(sp.sid)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        sp.cpu_start = self.cpu_s()
        sp.start = perf_counter()
        self.overhead_s += sp.start - t
        try:
            yield sp
        finally:
            sp.end = perf_counter()
            sp.cpu_end = self.cpu_s()
            self._record_jobs(sp)
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc._jsc.clearJobGroup()
            self.overhead_s += perf_counter() - sp.end

    def _record_jobs(self, sp: Span) -> None:
        # read at span exit: the status store keeps a bounded number of
        # finished jobs and stages
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(sp.group):
            info = st.getJobInfo(jid)
            sp.job_ids.append(jid)
            self._job_stages[jid] = list(info.stageIds) if info else []
            for sid in self._job_stages[jid]:
                si = st.getStageInfo(sid)
                if si is not None:
                    self._stage_tasks[sid] = (si.numCompletedTasks, si.numFailedTasks)

    def _self_counts(self) -> dict[int, dict[str, int]]:
        """Scheduler counts launched under each span's own job group. A
        shuffle stage reused by a later job belongs to the first job that
        lists it; a stage that ran no task was skipped."""
        owner: dict[int, int] = {}
        for jid in sorted(self._job_stages):
            for sid in self._job_stages[jid]:
                owner.setdefault(sid, jid)
        out = {}
        for sp in self.spans:
            c = dict.fromkeys(COUNTS, 0)
            c["jobs"] = len(sp.job_ids)
            for jid in sp.job_ids:
                for sid in self._job_stages[jid]:
                    done, failed = self._stage_tasks.get(sid, (0, 0))
                    if owner[sid] == jid and done + failed > 0:
                        c["stages"] += 1
                        c["tasks"] += done
                        c["tasks_failed"] += failed
            out[sp.sid] = c
        return out

    def _rows(self) -> list[dict]:
        own = self._self_counts()
        rows: list[dict] = [{}] * len(self.spans)
        # children end before their parent, so a reverse pass over the
        # spans sees every child's inclusive counts before its parent
        for sp in reversed(self.spans):
            inc = dict(own[sp.sid])
            child_s = 0.0
            for c in sp.children:
                child_s += self.spans[c].seconds
                for k in COUNTS:
                    inc[k] += rows[c][k]
            rows[sp.sid] = {
                "id": sp.sid,
                "name": sp.name,
                "parent": sp.parent,
                "start_s": sp.start,
                "seconds": sp.seconds,
                "self_s": sp.seconds - child_s,
                "cpu_s": sp.cpu_s,
                **inc,
            }
        return rows

    def summary(self) -> dict[str, dict]:
        """Per span name: calls, inclusive wall and CPU seconds and
        scheduler counts (outermost call of a name only, so recursion is
        not counted twice), and self seconds (every call)."""
        rows = self._rows()
        out: dict[str, dict] = {}
        for sp, row in zip(self.spans, rows):
            agg = out.setdefault(
                sp.name,
                {"calls": 0, "seconds": 0.0, "self_s": 0.0, "cpu_s": 0.0, **dict.fromkeys(COUNTS, 0)},
            )
            agg["calls"] += 1
            agg["self_s"] += row["self_s"]
            if not self._has_ancestor_named(sp, sp.name):
                agg["seconds"] += row["seconds"]
                agg["cpu_s"] += row["cpu_s"]
                for k in COUNTS:
                    agg[k] += row[k]
        return out

    def _has_ancestor_named(self, sp: Span, name: str) -> bool:
        p = sp.parent
        while p is not None:
            if self.spans[p].name == name:
                return True
            p = self.spans[p].parent
        return False

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self._rows()}, indent=1))


@contextmanager
def instrument(tracer: Tracer):
    """Wrap the layers' public functions in spans for the duration."""
    from poi_name_matching_spark.operators import clustering, scoring
    from poi_name_matching_spark.plans import incremental, pipeline
    from poi_name_matching_spark.sources import checkpoint

    def wrap(fn, name_of):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name_of(args, kwargs)):
                return fn(*args, **kwargs)

        return traced

    def fixed(name):
        return lambda args, kwargs: name

    def stage_name(args, kwargs):
        # get_or_compute(self, spark, stage, ...)
        return "stage." + (kwargs["stage"] if "stage" in kwargs else args[2])

    ckpt_cls = checkpoint.StageCheckpoint
    patches = [
        ((ckpt_cls,), "get_or_compute", stage_name),
        ((ckpt_cls,), "write", fixed("ckpt.write")),
        ((ckpt_cls,), "append", fixed("ckpt.append")),
        ((ckpt_cls,), "load", fixed("ckpt.load")),
        ((ckpt_cls,), "expire_snapshots", fixed("ckpt.expire")),
        ((scoring,), "broadcast_df_map", fixed("df_map")),
        ((checkpoint, pipeline, incremental), "stage_fingerprint", fixed("fingerprint")),
        ((clustering, pipeline, incremental), "components", fixed("components")),
    ]
    saved = []
    try:
        for owners, attr, name_of in patches:
            original = getattr(owners[0], attr)
            traced = wrap(original, name_of)
            for owner in owners:
                saved.append((owner, attr, getattr(owner, attr)))
                setattr(owner, attr, traced)
        yield tracer
    finally:
        for owner, attr, original in reversed(saved):
            setattr(owner, attr, original)

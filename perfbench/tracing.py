"""Layer tracing from outside the program.

The program is not edited: :class:`Tracer` wraps the functions the
benchmark's workloads reach, as the calling modules bind them, and keeps
one span (name, start, end, parent, op id) per call in memory. Spark-side
work is attributed to ops through one job group per op, read back from
``statusTracker()`` while the run goes and from the local event log after
the session stops (:func:`read_event_log`).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float          # epoch seconds
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    jobs: int = 0          # Spark jobs started inside the span

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Spans and per-op job groups. ``enabled`` switches recording off for
    untraced passes without unwrapping, so one session can run both."""

    spark: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)
    op: int | None = None

    # -- job groups ----------------------------------------------------
    def group(self) -> str:
        return f"perfbench-op-{self.op}" if self.op is not None else "perfbench-setup"

    def _jobs_so_far(self) -> int:
        if self.spark is None:
            return 0
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(self.group()))

    def attach(self, spark) -> None:
        """Use ``spark`` for job groups; jobs from here to the first op
        belong to the set-up group."""
        if self._patched:
            self.spark = spark
            spark.sparkContext.setJobGroup(self.group(), "set-up")

    def begin_op(self, op: int, name: str) -> None:
        self.op = op
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(self.group(), name)

    def end_op(self) -> None:
        self.op = None
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup("perfbench-idle", "between ops")

    # -- spans ---------------------------------------------------------
    def span(self, name: str, fn, *args, **kwargs):
        """Call ``fn`` inside a span named ``name``; returns its result."""
        if not self.enabled:
            return fn(*args, **kwargs)
        s = Span(name, time.time(), parent=self._stack[-1] if self._stack else None, op=self.op)
        idx = len(self.spans)
        self.spans.append(s)
        self._stack.append(idx)
        jobs0 = self._jobs_so_far()
        try:
            return fn(*args, **kwargs)
        finally:
            s.jobs = self._jobs_so_far() - jobs0
            s.end = time.time()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return tracer.span(name, orig, *args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def install(self) -> None:
        """Wrap every boundary the workloads cross (see README.md)."""
        from clinpy_spark import queries
        from clinpy_spark.assays import expression, junctions, project, variants
        from clinpy_spark.etl import ingest
        from clinpy_spark.session import ProjectCatalog

        self.wrap(ProjectCatalog, "table", "session.table")
        self.wrap(ProjectCatalog, "write", "session.write")
        self.wrap(queries, "_t", "session.table")
        for fn in ("ingest_expression", "ingest_junctions", "ingest_variants"):
            self.wrap(ingest, fn, f"etl.{fn.removeprefix('ingest_')}")
        for fn, layer in (("read_rsem_genes", "rsem"), ("read_rsem_isoforms", "rsem"),
                          ("read_star_sj", "star_sj"), ("read_vcf", "vcf")):
            self.wrap(ingest, fn, f"sources.{layer}")
        for cls, methods in ((project.Project, ("samples", "describe")),
                             (expression.Expression, ("select", "normalize")),
                             (junctions.Junctions, ("select", "search")),
                             (junctions.Junction, ("samples",)),
                             (variants.Variants, ("select", "hwe")),
                             (variants.Variant, ("samples",))):
            for m in methods:
                self.wrap(cls, m, f"assays.{cls.__name__}.{m}")

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part its direct children cover
    (children of one driver thread never overlap)."""
    out = [s.dur for s in spans]
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.dur
    return out


# -- event log ----------------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Per job group: jobs, stages, tasks, executor times, shuffle, spill,
    Python-boundary bytes, and the job intervals (epoch seconds)."""
    groups: dict[str, dict] = {}
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    job_start: dict[int, float] = {}

    def g(name: str) -> dict:
        return groups.setdefault(name, {
            "jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
            "spill_mb": 0.0, "python_in_mb": 0.0, "python_out_mb": 0.0,
            "intervals": [],
        })

    mb = 1024.0 * 1024.0
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    name = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    jid = ev["Job ID"]
                    job_group[jid] = name
                    job_start[jid] = ev["Submission Time"] / 1000.0
                    g(name)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = name
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_start:
                        g(job_group[jid])["intervals"].append(
                            (job_start[jid], ev["Completion Time"] / 1000.0))
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    g(stage_group.get(sid, ""))["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    rec = g(stage_group.get(ev["Stage ID"], ""))
                    rec["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    rec["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    rec["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    rec["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    rec["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / mb
                    sr = m.get("Shuffle Read Metrics") or {}
                    rec["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                               + sr.get("Local Bytes Read", 0)) / mb
                    rec["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                        + m.get("Disk Bytes Spilled", 0)) / mb
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name = acc.get("Name") or ""
                        if name == "data sent to Python workers":
                            rec["python_in_mb"] += float(acc.get("Update") or 0) / mb
                        elif name == "data returned from Python workers":
                            rec["python_out_mb"] += float(acc.get("Update") or 0) / mb
    return groups


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total

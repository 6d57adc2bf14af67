"""Pure arithmetic of the benchmark: spans, self time, job attribution,
medians and the per-layer roll-ups. Nothing here touches Spark, so the
unit tests in ``perfbench/tests`` run without a JVM.

Times are seconds on one clock (epoch seconds for spans that are
compared with Spark's millisecond job timestamps).
"""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence
from dataclasses import dataclass, field

Interval = tuple[float, float]


def union_length(intervals: Iterable[Interval]) -> float:
    """Total length covered by the intervals; overlaps count once."""
    total = 0.0
    end = float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def clip(interval: Interval, window: Interval) -> Interval | None:
    """The part of ``interval`` inside ``window``, or None when disjoint."""
    lo, hi = max(interval[0], window[0]), min(interval[1], window[1])
    return (lo, hi) if hi > lo else None


@dataclass
class Span:
    """One traced interval: a layer call, a Spark job or a micro-batch."""

    name: str
    start: float
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: Sequence[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover.

    Children are clipped to their parent, so a child that outlives its
    parent cannot make the parent's self time negative.
    """
    children: dict[int, list[Interval]] = {}
    for s in spans:
        if s.parent is not None:
            cut = clip((s.start, s.end), (spans[s.parent].start, spans[s.parent].end))
            if cut:
                children.setdefault(s.parent, []).append(cut)
    return [s.duration - union_length(children.get(i, ())) for i, s in enumerate(spans)]


def attribute(times: Iterable[float], windows: Sequence[Interval]) -> list[int | None]:
    """Index of the window holding each time, or None.

    With one closed-loop client the windows never overlap, so the first
    window that contains a time is the only one. Bounds are inclusive:
    Spark stamps jobs to the millisecond, so a job submitted in the same
    millisecond a window opens or closes still belongs to it.
    """
    out: list[int | None] = []
    for t in times:
        out.append(next((i for i, (lo, hi) in enumerate(windows) if lo <= t <= hi), None))
    return out


def median_with_count(values: Sequence[float]) -> tuple[float, int]:
    """Median and the number of samples it was taken over."""
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values), len(values)


def core_util(run_s: float, job_s: float, cores: int) -> float:
    """Executor run time per core-second that some job was running."""
    return run_s / (job_s * cores) if job_s > 0 and cores > 0 else 0.0


def empty_batch_ratio(input_rows: Sequence[int]) -> float:
    """Micro-batches that read no rows, as a share of all micro-batches."""
    return sum(1 for n in input_rows if n == 0) / len(input_rows) if input_rows else 0.0


@dataclass
class QueryTrace:
    """The spans of one traced query and the counters read beside them.

    ``build`` and ``write`` are the two calls the benchmark makes into
    the program: constructing the frame and materialising it. ``jobs``
    and ``batches`` are (start, end) intervals from Spark's status store
    and streaming progress, each carrying its counters in ``attrs``.
    """

    name: str
    build: Interval
    write: Interval
    jobs: list[Span] = field(default_factory=list)
    batches: list[Span] = field(default_factory=list)

    def spans(self) -> list[Span]:
        """Span tree: query, build and write, micro-batches, then jobs.

        A job's parent is the micro-batch running when it was submitted,
        else the build or write call it was submitted in; a micro-batch's
        parent is the call it started in. Jobs outside the query's window
        are left out (they are counted as unattributed by the caller).
        """
        q0, q1, q2 = self.build[0], self.build[1], self.write[1]
        out = [
            Span("query", q0, q2, None, {"query": self.name}),
            Span("plans.build", q0, q1, 0),
            Span("session.write", q1, q2, 0),
        ]
        calls = [self.build, self.write]

        def call_of(t: float) -> int | None:
            i = attribute([t], calls)[0]
            return None if i is None else i + 1

        batch_idx: list[int] = []
        for b in self.batches:
            parent = call_of(b.start)
            if parent is not None:
                batch_idx.append(len(out))
                out.append(Span("streaming.batch", b.start, b.end, parent, b.attrs))
        windows = [(out[i].start, out[i].end) for i in batch_idx]
        for j in self.jobs:
            in_batch = attribute([j.start], windows)[0]
            parent = batch_idx[in_batch] if in_batch is not None else call_of(j.start)
            if parent is not None:
                out.append(Span("operators.job", j.start, j.end, parent, j.attrs))
        return out

    def breakdown(self) -> dict[str, float]:
        """Wall time split into build self, write self (the session gap),
        micro-batch self and the union of job time; the residual is what
        the four do not explain (overlaps clipped away, clock rounding).
        """
        spans = self.spans()
        selfs = self_times(spans)
        wall = spans[0].duration
        build_self, gap = selfs[1], selfs[2]
        batch_self = sum(t for s, t in zip(spans, selfs) if s.name == "streaming.batch")
        job_union = union_length(
            c
            for s in spans
            if s.name == "operators.job"
            for c in [clip((s.start, s.end), (spans[0].start, spans[0].end))]
            if c
        )
        return {
            "wall_s": wall,
            "build_s": spans[1].duration,
            "build_self_s": build_self,
            "gap_s": gap,
            "batch_self_s": batch_self,
            "job_s": job_union,
            "residual_s": wall - (build_self + gap + batch_self + job_union),
        }


#: counters each job span carries in ``attrs``, summed from its stages
JOB_COUNTERS = (
    "run_s",
    "cpu_s",
    "gc_s",
    "input_bytes",
    "input_rows",
    "output_bytes",
    "output_rows",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "shuffle_fetch_wait_s",
    "spill_bytes",
)

#: streaming progress phases (``durationMs`` keys) reported as layer metrics
BATCH_PHASES = {
    "streaming.trigger_ms": "triggerExecution",
    "streaming.add_batch_ms": "addBatch",
    "streaming.planning_ms": "queryPlanning",
    "streaming.get_batch_ms": "getBatch",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
}


def layer_record(qt: QueryTrace, cores: int) -> dict:
    """One query's per-layer numbers, computed from its spans.

    Job counters are those of the jobs attributed to the query; a job
    submitted outside the query's build and write calls is counted in
    ``trace.unattributed_jobs`` and nowhere else.
    """
    spans = qt.spans()
    bd = qt.breakdown()
    jobs = [s for s in spans if s.name == "operators.job"]
    prog = [s.attrs for s in spans if s.name == "streaming.batch"]
    tot = {k: sum(s.attrs[k] for s in jobs) for k in JOB_COUNTERS}
    last_state: dict[str, int] = {}
    for p in prog:
        last_state[p["id"]] = p["state_rows"]
    rec = {
        "wall_s": bd["wall_s"],
        "plans.build_s": bd["build_s"],
        "plans.build_self_s": bd["build_self_s"],
        "plans.build_jobs": sum(1 for s in jobs if spans[s.parent].name == "plans.build"),
        "session.gap_s": bd["gap_s"],
        "streaming.batch_self_s": bd["batch_self_s"],
        "operators.jobs": len(jobs),
        "operators.stages": sum(s.attrs["stages"] for s in jobs),
        "operators.tasks": sum(s.attrs["tasks"] for s in jobs),
        "operators.job_s": bd["job_s"],
        "operators.cpu_s": tot["cpu_s"],
        "operators.run_s": tot["run_s"],
        "operators.gc_s": tot["gc_s"],
        "operators.core_util": core_util(tot["run_s"], bd["job_s"], cores),
        "shuffle.write_bytes": tot["shuffle_write_bytes"],
        "shuffle.read_bytes": tot["shuffle_read_bytes"],
        "shuffle.fetch_wait_s": tot["shuffle_fetch_wait_s"],
        "shuffle.spill_bytes": tot["spill_bytes"],
        "sources.input_bytes": tot["input_bytes"],
        "sources.input_rows": tot["input_rows"],
        "sources.output_bytes": tot["output_bytes"],
        "sources.output_rows": tot["output_rows"],
        "streaming.queries": len({p["id"] for p in prog}),
        "streaming.batches": len(prog),
        "streaming.empty_batches": sum(1 for p in prog if p["input_rows"] == 0),
        "streaming.empty_batch_ratio": empty_batch_ratio([p["input_rows"] for p in prog]),
        "streaming.state_commit_ms": sum(p["state_commit_ms"] for p in prog),
        "streaming.state_rows": sum(last_state.values()),
        "streaming.state_mem_bytes": max((p["state_mem_bytes"] for p in prog), default=0),
        "trace.unattributed_jobs": len(qt.jobs) - len(jobs),
        "trace.residual_s": bd["residual_s"],
    }
    for key, phase in BATCH_PHASES.items():
        rec[key] = sum(p["durations_ms"].get(phase, 0) for p in prog)
    return rec


#: per-query record keys whose workload value is the maximum, not the sum
_MAX_KEYS = ("plans.pinned_bytes", "streaming.state_mem_bytes")


def rollup(records: Sequence[dict], cores: int) -> dict:
    """Workload totals of per-query layer records.

    Counts and times add up; peaks take the maximum; the two ratios are
    recomputed from the totals rather than averaged.
    """
    out: dict = {}
    for key in records[0]:
        vals = [r[key] for r in records]
        if not all(isinstance(v, (int, float)) for v in vals):
            continue
        out[key] = max(vals) if key in _MAX_KEYS else sum(vals)
    out["operators.core_util"] = core_util(out["operators.run_s"], out["operators.job_s"], cores)
    batches = out["streaming.batches"]
    out["streaming.empty_batch_ratio"] = out["streaming.empty_batches"] / batches if batches else 0.0
    return out

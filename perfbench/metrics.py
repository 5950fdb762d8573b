"""Metric arithmetic: percentiles, per-span aggregation of Spark job/task
records, and the end-to-end / per-layer metric tables of each workload.

Everything here is a pure function of the client's result object (see
`scala/graft/perfbench/Main.scala`), so `selftest.py` can check it on
hand-made inputs.
"""
import math
import statistics

# ---------------------------------------------------------------- percentiles


def percentile(xs, p):
    """Linear-interpolated percentile (the 'inclusive' method: p=0 is the
    minimum, p=100 the maximum)."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def gmean(xs):
    """Geometric mean: the typical latency of a mix of unlike ops (TPC-H's
    power metric uses it), unlike the median not pinned to whichever op
    happens to sit in the middle."""
    if not xs:
        raise ValueError("geometric mean of no samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


TAIL_CANDIDATES = (99, 95, 90, 80, 75)


def tail_percentile(n, wanted):
    """The highest percentile at most `wanted` that keeps at least ten of
    `n` samples beyond it. When even p75 keeps fewer (under 40 samples),
    `wanted` capped at 85: a run's few samples then give an upper tail, and
    p75 would sit on the 5/7 edge between the catalog's entry groups (its
    seven entries weigh equally), where it jumped by 0.275 across runs."""
    for p in TAIL_CANDIDATES:
        if p <= wanted and n * (100 - p) / 100.0 >= 10:
            return p
    return min(wanted, 85)


def failed_frac(attempted, failed):
    return failed / attempted if attempted else 1.0


def cand_per_hit(cands, hits):
    """ADC candidates scored per semantic result row returned."""
    return sum(cands) / sum(hits) if sum(hits) else 0.0


# ------------------------------------------------------------- span attribution


class SpanIndex:
    """Attributes Spark jobs and tasks to the benchmark's spans.

    `trace` is the client's trace object: spans `[id, parent, name, t0, t1]`
    (epoch ms), jobs `[job_id, span_id, [stage_ids]]` and tasks
    `[stage_id, launch_ms, finish_ms, shuffle_write, shuffle_read,
    disk_spill, bytes_written]`. A job belongs to the span that was
    innermost on the client thread when it was submitted; a task belongs to
    its stage's job; a span's totals include its descendants'."""

    def __init__(self, trace):
        self.spans = {s[0]: s for s in trace["spans"]}
        self.children = {}
        for s in trace["spans"]:
            self.children.setdefault(s[1], []).append(s[0])
        stage_job = {}
        self.jobs_of = {}
        for job_id, span, stages in trace["jobs"]:
            self.jobs_of.setdefault(span, []).append(job_id)
            for st in stages:
                stage_job.setdefault(st, (job_id, span))
        self.tasks_of = {}
        for t in trace["tasks"]:
            span = stage_job.get(t[0], (None, -1))[1]
            self.tasks_of.setdefault(span, []).append(t)

    def subtree(self, sid):
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children.get(x, []))
        return out

    def named(self, name):
        return [s for s in self.spans.values() if s[2] == name and s[4] is not None]

    def jobs(self, sid):
        return sum(len(self.jobs_of.get(x, [])) for x in self.subtree(sid))

    def tasks(self, sid):
        return [t for x in self.subtree(sid) for t in self.tasks_of.get(x, [])]

    def gap_s(self, sid):
        """Seconds inside the span during which none of its tasks ran."""
        s = self.spans[sid]
        t0, t1 = s[3], s[4]
        iv = sorted((max(t[1], t0), min(t[2], t1)) for t in self.tasks(sid))
        busy, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in iv:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    busy += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            busy += cur_hi - cur_lo
        return max(0.0, (t1 - t0) - busy) / 1000.0

    def skew(self, sid):
        """Max over median task time in the span's heaviest stage."""
        by_stage = {}
        for t in self.tasks(sid):
            by_stage.setdefault(t[0], []).append(t[2] - t[1])
        if not by_stage:
            return 0.0
        heavy = max(by_stage.values(), key=sum)
        med = statistics.median(heavy)
        return max(heavy) / med if med > 0 else 1.0


def layer(ix, name, cores):
    """Totals over every span called `name`: seconds, jobs, gap, task time,
    utilization, skew (median over spans), shuffle/spill/written MB."""
    ss = ix.named(name)
    if not ss:
        return None
    wall = sum((s[4] - s[3]) / 1000.0 for s in ss)
    tasks = [t for s in ss for t in ix.tasks(s[0])]
    task_s = sum(t[2] - t[1] for t in tasks) / 1000.0
    return {
        "n": len(ss),
        "s": wall,
        "mean_s": wall / len(ss),
        "jobs": sum(ix.jobs(s[0]) for s in ss),
        "gap_s": sum(ix.gap_s(s[0]) for s in ss),
        "task_s": task_s,
        "core_util": task_s / (wall * cores) if wall > 0 else 0.0,
        "task_skew": statistics.median(ix.skew(s[0]) for s in ss),
        "shuffle_mb": sum(t[3] for t in tasks) / 1e6,
        "spill_mb": sum(t[5] for t in tasks) / 1e6,
        "written_mb": sum(t[6] for t in tasks) / 1e6,
    }


def whole_run(trace, wall_s, cores):
    """Run-level Spark counters: jobs, tasks, gap and utilization over the
    timed phase (every span without a parent is part of it)."""
    tasks = trace["tasks"]
    task_s = sum(t[2] - t[1] for t in tasks) / 1000.0
    ix = SpanIndex(trace)
    top = [s for s in ix.spans.values() if s[1] == -1 and s[4] is not None]
    return {
        "jobs": len(trace["jobs"]),
        "tasks": len(tasks),
        "gap_s": sum(ix.gap_s(s[0]) for s in top)
        + max(0.0, wall_s - sum((s[4] - s[3]) / 1000.0 for s in top)),
        "core_util": task_s / (wall_s * cores) if wall_s > 0 else 0.0,
    }

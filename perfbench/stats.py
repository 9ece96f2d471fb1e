"""The benchmark's arithmetic, kept apart from I/O so it can be tested:
medians, the tail percentile rule, interval unions, driver gap and span
self time, and the per-op / per-layer roll-ups of a raw run record."""
import math
import statistics

# registered query ids starting with these letters belong to these modules
# (other q-numbered queries and ETL cycles span several modules and get no
# module of their own)
MODULE_PREFIXES = [("qa", "functions"), ("d", "dedup"), ("s", "similarity"),
                   ("r", "similarity"), ("t", "text"), ("m", "multimodal"),
                   ("p", "pipeline"), ("g", "ops")]
# q-numbered queries built on ops/ (TimeSeries)
OPS_QUERIES = {"q57_gapfill_interpolate", "q58_overlap_join_grid"}


def median(xs):
    return statistics.median(xs)


def tail(xs, beyond=10):
    """The highest whole percentile with at least `beyond` samples above its
    value (nearest rank), as (value, percentile, samples_beyond); None when
    there are too few samples."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return None
    p = (100 * (n - beyond)) // n
    k = max(1, math.ceil(p * n / 100))
    return s[k - 1], p, n - k


def union_ms(intervals, lo=-math.inf, hi=math.inf):
    """Total length of the union of [start, end] intervals clipped to
    [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
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


def driver_gap_ms(start, end, job_intervals):
    """Wall time of [start, end] not covered by any job."""
    return (end - start) - union_ms(job_intervals, start, end)


def self_ms(span, children):
    """A span's duration minus the part of it its children cover."""
    return driver_gap_ms(span["start"], span["end"],
                         [(c["start"], c["end"]) for c in children])


def module_of(op):
    if op in OPS_QUERIES:
        return "ops"
    for prefix, module in MODULE_PREFIXES:
        if op.startswith(prefix) and op[len(prefix):len(prefix) + 1].isdigit():
            return module
    return None


class Record:
    """Index over one raw run record: spans by id and by parent, jobs and
    stages by the op span they ran under."""

    def __init__(self, rec):
        self.rec = rec
        self.spans = {s["id"]: s for s in rec["spans"]}
        self.children = {}
        for s in rec["spans"]:
            self.children.setdefault(s["parent"], []).append(s)
        ops = [s for s in rec["spans"] if s["name"] == "op"]
        # ops under a `profile` span ran once after the timed region (traced
        # runs only); they feed the per-op table, not the metrics
        self.profiled = [o for o in ops
                         if self.spans.get(o["parent"], {}).get("name") == "profile"]
        self.ops = [o for o in ops if o not in self.profiled]
        self.passes = [s for s in rec["spans"] if s["name"] == "pass"]
        trace = rec.get("trace") or {}
        self.jobs_by_op, self.stages_by_job = {}, {}
        for j in trace.get("jobs", []):
            op = self.op_of(j["span"])
            if op is not None:
                self.jobs_by_op.setdefault(op, []).append(j)
        for st in trace.get("stages", []):
            self.stages_by_job.setdefault(st["job"], []).append(st)
        self.queries_by_op = {}
        for q in trace.get("queries", []):
            end = max((p["end"] for p in q["phases"].values()), default=None)
            if end is None:
                continue
            for o in ops:
                if o["start"] <= end <= o["end"] + 1:
                    self.queries_by_op.setdefault(o["id"], []).append(q)
                    break

    def op_of(self, span_id):
        while span_id in self.spans:
            s = self.spans[span_id]
            if s["name"] == "op":
                return s["id"]
            span_id = s["parent"]
        return None

    def duration_s(self, span):
        return (span["end"] - span["start"]) / 1000.0

    def op_latencies_s(self):
        return [self.duration_s(o) for o in self.ops]

    def op_medians_s(self):
        """Each op's median latency over its executions."""
        by_op = {}
        for o in self.ops:
            by_op.setdefault(o["attrs"]["op"], []).append(self.duration_s(o))
        return [median(xs) for xs in by_op.values()]

    def op_gmean_s(self):
        """The geometric mean over ops of each op's median latency: every op
        weighs the same, whatever its length, and no single op (the one that
        happens to sit in the middle of a list of unlike ops) sets it."""
        ms = self.op_medians_s()
        return math.exp(sum(math.log(m) for m in ms) / len(ms))

    def pass_s(self):
        return [self.duration_s(p) for p in self.passes]

    def child(self, op, name):
        return [c for c in self.children.get(op["id"], []) if c["name"] == name]

    def phase_ms(self, op, q, phase):
        """A Catalyst phase of query q, clipped to the build/action span it
        ended in: the write command shares the built frame's tracker, so its
        phase records reach back to the frame's own analysis."""
        p = q["phases"].get(phase)
        if p is None:
            return 0.0
        lo = op["start"]
        for c in self.children.get(op["id"], []):
            if c["start"] <= p["end"] <= c["end"] + 1:
                lo = c["start"]
        return max(0.0, p["end"] - max(p["start"], lo))

    def op_layers(self, op, cores):
        """Per-layer numbers of one op execution (traced records only)."""
        jobs = self.jobs_by_op.get(op["id"], [])
        stages = [st for j in jobs for st in self.stages_by_job.get(j["job"], [])]
        queries = self.queries_by_op.get(op["id"], [])
        wall_ms = op["end"] - op["start"]
        build = self.child(op, "build")
        build_ids = {b["id"] for b in build}
        task_ms = sum(st["task_ms"] for st in stages)
        skews = [max(st["task_durations_ms"]) / max(1.0, median(st["task_durations_ms"]))
                 for st in stages if len(st["task_durations_ms"]) >= 2]
        intervals = [(j["start"], j["end"]) for j in jobs if j["end"] == j["end"]]
        m = {
            "wall_ms": wall_ms,
            "entry.build_ms": sum(b["end"] - b["start"] for b in build),
            "build_self_ms": sum(self_ms(b, [j for j in jobs if j["span"] == b["id"]])
                                 for b in build),
            "entry.build_jobs": sum(1 for j in jobs if self.under(j["span"], build_ids)),
            "planning.analysis_ms": sum(self.phase_ms(op, q, "analysis") for q in queries)
                                    + sum(b["attrs"].get("analysis_ms", 0) for b in build),
            "planning.optimizer_ms": sum(self.phase_ms(op, q, "optimization") for q in queries),
            "planning.physical_ms": sum(self.phase_ms(op, q, "planning") for q in queries),
            "planning.queries": len(queries),
            "planning.exchanges": sum(q["exchanges"] for q in queries),
            "plans.custom_nodes": sum(q["custom_nodes"] for q in queries),
            "execution.jobs": len(jobs),
            "execution.stages": len(stages),
            "execution.tasks": sum(st["tasks"] for st in stages),
            "execution.task_ms": task_ms,
            "execution.driver_gap_ms": driver_gap_ms(op["start"], op["end"], intervals),
            "execution.core_busy": task_ms / (wall_ms * cores) if wall_ms > 0 else 0.0,
            "execution.shuffle_read_bytes": sum(st["shuffle_read_bytes"] for st in stages),
            "execution.shuffle_write_bytes": sum(st["shuffle_write_bytes"] for st in stages),
            "execution.spill_bytes": sum(st["spill_bytes"] for st in stages),
            "execution.gc_ms": sum(st["gc_ms"] for st in stages),
            "execution.task_skew": max(skews) if skews else 1.0,
            "widest_join_rows": max((q["widest_join_rows"] for q in queries), default=0),
            "result_rows": next((q["result_rows"] for q in reversed(queries)
                                 if q["result_rows"] >= 0), 0),
        }
        for k, v in op["attrs"].items():
            if k.startswith("sources."):
                m[k] = v
        return m

    def under(self, span_id, ancestors):
        while span_id in self.spans:
            if span_id in ancestors:
                return True
            span_id = self.spans[span_id]["parent"]
        return False

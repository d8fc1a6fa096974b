"""Metric arithmetic over one run's spans and job intervals.

A run record (written by perfbench.PerfBench) holds spans of kind run, pass
(`cold`, then `warm1`..), row (parent: its pass) and stage, each with its
wall time and counter differences, plus the Spark job intervals of a
traced run. Everything here is a pure function of that record.
"""
import math
import statistics

# the bounded metrics, steady to within about 0.1 of their median across
# seeds on a shared 4-core host
END_TO_END = [
    ("setup_s", "s"), ("cold_s", "s"), ("total_s", "s"), ("cpu_s", "s"),
    ("live_heap_mb", "MB"),
]
# printed with every run but not bounded: the warm passes of a fresh JVM
# still share the cores with the JIT compiler, and their median moved by
# up to 0.3 of itself between runs of the same seed
WARM = [("warm_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s")]

MODULES = ["MlQueries", "EnrichOps", "DedupOps", "EmbeddingOps", "EventStreams",
           "SourceOps", "Relational", "TemporalOps", "SkewOps"]

# per-pass layer metrics, each reported for the cold pass and as the median
# over the warm passes: (name, unit, better)
PASS_METRICS = [
    ("spark.jobs", "count", "lower"), ("spark.tasks", "count", "lower"),
    ("spark.one_task_jobs", "count", "lower"), ("spark.job_s", "s", "lower"),
    ("spark.driver_s", "s", "lower"), ("spark.task_s", "s", "lower"),
    ("spark.task_cpu_s", "s", "lower"), ("spark.gc_s", "s", "lower"),
    ("spark.sched_delay_s", "s", "lower"), ("spark.core_util", "ratio", "higher"),
    ("spark.shuffle_read_mb", "MB", "lower"), ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("sources.read_mb", "MB", "lower"), ("sources.read_rows", "count", "lower"),
    ("sources.write_mb", "MB", "lower"), ("sources.write_rows", "count", "lower"),
    ("memo.hits", "count", "higher"), ("memo.misses", "count", "lower"),
    ("memo.hit_ratio", "ratio", "higher"), ("api.pinned_mb", "MB", "lower"),
    ("plans.executions", "count", "lower"), ("plans.analysis_s", "s", "lower"),
    ("plans.optimization_s", "s", "lower"), ("plans.planning_s", "s", "lower"),
    ("codegen.classes", "count", "lower"), ("codegen.compile_s", "s", "lower"),
    ("stream.drains", "count", "lower"), ("stream.batches", "count", "lower"),
    ("stream.input_rows", "count", "lower"), ("stream.state_rows", "count", "lower"),
    ("stream.trigger_s", "s", "lower"), ("stream.add_batch_s", "s", "lower"),
    ("stream.wal_commit_s", "s", "lower"), ("stream.commit_offsets_s", "s", "lower"),
    ("stream.latest_offset_s", "s", "lower"), ("stream.query_planning_s", "s", "lower"),
    ("stream.get_batch_s", "s", "lower"), ("stream.overhead_ratio", "ratio", "lower"),
]

STAGES = [("features.build", "features.build_s", None),
          ("cluster.fit", "cluster.fit_s", "cluster.fit_jobs"),
          ("coherence.score", "coherence.score_s", None),
          ("refine.split", "refine.split_s", "refine.split_jobs"),
          ("refine.merge", "refine.merge_s", None)]


def per_layer_spec():
    """Every per-layer metric as (name, unit, better), in report order."""
    out = []
    for name, unit, better in PASS_METRICS:
        out += [(f"{name}.cold", unit, better), (f"{name}.warm", unit, better)]
    for m in MODULES:
        out += [(f"op.{m}.cold_s", "s", "lower"), (f"op.{m}.warm_s", "s", "lower"),
                (f"op.{m}.jobs", "count", "lower")]
    for _, secs, jobs in STAGES:
        out.append((secs, "s", "lower"))
        if jobs:
            out.append((jobs, "count", "lower"))
    return out


def median(xs):
    return statistics.median(xs)


def tail(samples, beyond=10):
    """Highest whole percentile with at least `beyond` samples above it.

    Nearest-rank: percentile p is the k-th smallest sample with
    k = ceil(p/100 * n). Returns (p, value, n, samples beyond it), or None
    when fewer than beyond + 1 samples exist.
    """
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 0, -1):
        k = math.ceil(p * n / 100)
        if k >= 1 and n - k >= beyond:
            return p, xs[k - 1], n, n - k
    return None


def union_seconds(intervals, lo, hi):
    """Length in seconds of the union of [start, end] ms intervals, clipped
    to the window [lo, hi] ms."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0, None, None
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
    return total / 1000.0


def fail_share(attempted, failed):
    return failed / attempted if attempted else 0.0


def hit_ratio(hits, misses):
    """hits / lookups; 0 when the pass made no memo lookup."""
    lookups = hits + misses
    return hits / lookups if lookups else 0.0


class Run:
    def __init__(self, record):
        self.spans = record["spans"]
        self.jobs = record.get("jobs", [])
        self.root = next(s for s in self.spans if s["kind"] == "run")
        self.passes = sorted((s for s in self.spans if s["kind"] == "pass"),
                             key=lambda s: s["id"])
        self.cold, self.warm = self.passes[0], self.passes[1:]

    def rows(self, passes):
        ids = {p["id"] for p in passes}
        return [s for s in self.spans if s["kind"] == "row" and s["parent"] in ids]

    def executions(self):
        """(attempted, failed) over the timed row executions."""
        rows = self.rows(self.passes)
        return len(rows), sum(1 for r in rows if not r["attrs"]["ok"])

    def end_to_end(self, setup_s):
        """The END_TO_END and WARM metrics, and the tail of the warm rows."""
        warm_rows = [r["dur_s"] for r in self.rows(self.warm)]
        t = tail(warm_rows)
        return {
            "setup_s": setup_s,
            "cold_s": self.cold["dur_s"],
            "total_s": sum(p["dur_s"] for p in self.passes),
            "cpu_s": sum(p["counters"]["cpu_ns"] for p in self.passes) / 1e9,
            "live_heap_mb": self.root["attrs"]["live_heap_mb"],
            "warm_s": median([p["dur_s"] for p in self.warm]),
            "op_p50_s": median(warm_rows),
            "op_tail_s": t[1] if t else max(warm_rows),
        }, t

    def pass_layers(self, p):
        c = p["counters"]
        g = lambda k: c.get(k, 0)
        cores = self.root["attrs"]["cpus"]
        lo = p["start_ms"]
        job_s = union_seconds([(a, b) for a, b, _ in self.jobs], lo, lo + p["dur_s"] * 1000)
        task_s = g("task_ms") / 1000
        trigger, add_batch = g("trigger_ms") / 1000, g("add_batch_ms") / 1000
        mb = 1 / 1048576
        return {
            "spark.jobs": g("jobs"), "spark.tasks": g("tasks"),
            "spark.one_task_jobs": g("one_task_jobs"),
            "spark.job_s": job_s, "spark.driver_s": p["dur_s"] - job_s,
            "spark.task_s": task_s, "spark.task_cpu_s": g("task_cpu_ns") / 1e9,
            "spark.gc_s": g("gc_ms") / 1000,
            "spark.sched_delay_s": g("sched_delay_ms") / 1000,
            "spark.core_util": task_s / (job_s * cores) if job_s else 0.0,
            "spark.shuffle_read_mb": g("shuffle_read_b") * mb,
            "spark.shuffle_write_mb": g("shuffle_write_b") * mb,
            "spark.spill_mb": g("spill_b") * mb,
            "sources.read_mb": g("read_b") * mb, "sources.read_rows": g("read_rows"),
            "sources.write_mb": g("write_b") * mb, "sources.write_rows": g("write_rows"),
            "memo.hits": g("memo_hits"), "memo.misses": g("memo_misses"),
            "memo.hit_ratio": hit_ratio(g("memo_hits"), g("memo_misses")),
            "api.pinned_mb": p["attrs"].get("pinned_mb", 0.0),
            "plans.executions": g("plan_execs"),
            "plans.analysis_s": g("analysis_ns") / 1e9,
            "plans.optimization_s": g("optimization_ns") / 1e9,
            "plans.planning_s": g("planning_ns") / 1e9,
            "codegen.classes": g("codegen_classes"),
            "codegen.compile_s": g("codegen_ns") / 1e9,
            "stream.drains": g("stream_drains"), "stream.batches": g("stream_batches"),
            "stream.input_rows": g("stream_input_rows"),
            "stream.state_rows": g("stream_state_rows"),
            "stream.trigger_s": trigger, "stream.add_batch_s": add_batch,
            "stream.wal_commit_s": g("wal_commit_ms") / 1000,
            "stream.commit_offsets_s": g("commit_offsets_ms") / 1000,
            "stream.latest_offset_s": g("latest_offset_ms") / 1000,
            "stream.query_planning_s": g("query_planning_ms") / 1000,
            "stream.get_batch_s": g("get_batch_ms") / 1000,
            "stream.overhead_ratio": 1 - add_batch / trigger if trigger else 0.0,
        }

    def per_layer(self):
        out = {}
        cold = self.pass_layers(self.cold)
        warm = [self.pass_layers(p) for p in self.warm]
        for name, _, _ in PASS_METRICS:
            out[f"{name}.cold"] = cold[name]
            out[f"{name}.warm"] = median([w[name] for w in warm])
        for m in MODULES:
            def secs(p):
                return sum(r["dur_s"] for r in self.rows([p]) if r["attrs"]["module"] == m)
            out[f"op.{m}.cold_s"] = secs(self.cold)
            out[f"op.{m}.warm_s"] = median([secs(p) for p in self.warm])
            out[f"op.{m}.jobs"] = sum(r["counters"].get("jobs", 0) for r in self.rows([self.cold])
                                      if r["attrs"]["module"] == m)
        stages = {s["name"]: s for s in self.spans if s["kind"] == "stage"}
        for name, secs, jobs in STAGES:
            s = stages.get(name)
            out[secs] = s["dur_s"] if s else 0.0
            if jobs:
                out[jobs] = s["counters"].get("jobs", 0) if s else 0
        return out

"""Turns the harness's raw samples into the benchmark's metrics.

End-to-end metrics come from an untraced run; per-layer metrics from a
traced one (spans around every harness call into a layer, with the Spark
jobs, tasks and Catalyst phase times attributed to them).
"""

import math
import statistics

# (name, unit) of every end-to-end metric, in BENCHMARK.json order.
END_TO_END = [
    ("setup_s", "s"),
    ("replay_s", "s"),
    ("load_s", "s"),
    ("lookup_p50_ms", "ms"),
    ("khop_p50_ms", "ms"),
    ("ssp_p50_ms", "ms"),
    ("insert_ms", "ms"),
    ("analytics_s", "s"),
    ("idle_heap_mb", "MB"),
]

# Spark counters summed over spans, with their unit.
SPARK_SUMS = [
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("sched_wait_s", "s"), ("task_cpu_s", "s"), ("task_run_s", "s"),
    ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
    ("result_mb", "MB"), ("failed_tasks", "count"),
]

# Per-layer metrics read off one span name: metric -> (span, statistic).
# "ms" is the median span duration, "jobs" the mean Spark jobs the span
# (children included) scheduled; "/insert" divides by the ops per call.
SPAN_METRICS = {
    "graph.load.ms": ("graph.load", "ms"),
    "graph.load.jobs": ("graph.load", "jobs"),
    "graph.lookup.build_ms": ("graph.lookup.build", "ms"),
    "graph.lookup.collect_ms": ("graph.lookup.collect", "ms"),
    "graph.lookup.jobs_per_op": ("op.lookup", "jobs"),
    "graph.traversals.khop.build_ms": ("graph.traversals.khop.build", "ms"),
    "graph.traversals.khop.collect_ms": ("graph.traversals.khop.collect", "ms"),
    "graph.traversals.khop.jobs_per_op": ("op.khop", "jobs"),
    "graph.traversals.ssp.ms": ("graph.traversals.ssp", "ms"),
    "graph.traversals.ssp.jobs_per_op": ("graph.traversals.ssp", "jobs"),
    "graph.graphx.cc.ms": ("graph.graphx.cc", "ms"),
    "graph.graphx.cc.jobs": ("graph.graphx.cc", "jobs"),
    "graph.graphx.pagerank.ms": ("graph.graphx.pagerank", "ms"),
    "graph.graphx.pagerank.jobs": ("graph.graphx.pagerank", "jobs"),
    "graph.algorithms.kcore.ms": ("graph.algorithms.kcore", "ms"),
    "graph.algorithms.kcore.jobs": ("graph.algorithms.kcore", "jobs"),
    "streaming.insert.ms_per_op": ("streaming.insert", "ms/insert"),
    "streaming.insert.jobs_per_op": ("streaming.insert", "jobs/insert"),
    "reset.clear.ms": ("reset.clear", "ms"),
}

INTERACTIVE = ("lookup", "khop", "ssp")


def percentile(values, p):
    """Linear-interpolated percentile (p in 0..100) of a non-empty list."""
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n):
    """The highest of p90, p99, p99.9 with at least ten of `n` samples
    beyond it, or None: below 100 samples only the median is published."""
    best = None
    for p in (90, 99, 99.9):
        if n * (100 - p) / 100 >= 10 - 1e-9:
            best = p
    return best


def timing_summary(values):
    """Median, the tail percentile the sample count supports, and the count."""
    out = {"n": len(values), "p50": statistics.median(values)}
    p = tail_percentile(len(values))
    if p is not None:
        out[f"p{p:g}"] = percentile(values, p)
    return out


def self_times(spans):
    """Self time per span id: its duration minus the union of the
    intervals its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        end = s["start_ms"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ms"]):
            lo = max(c["start_ms"], end, s["start_ms"])
            hi = min(c["end_ms"], s["end_ms"])
            if hi > lo:
                covered += hi - lo
            end = max(end, c["end_ms"])
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered
    return out


def warm_ops(raw):
    """Op samples after the cold first set-up round: the later set-up
    rounds and the timed passes. Calls that happen once per pass (load,
    insert) get a sample from every round this way, spread over the run."""
    return [o for o in raw["ops"] if o["phase"] in ("setup", "timed")]


# Host speed scaling. The harness times four fixed kernels (HostSpeed.scala:
# chase, stream, sort, boxed) after every segment of a pass; a probe is the
# list of their ms. A run's speed factor is the median over its probes of
# reference time / measured time, and every op's time is multiplied by it,
# so end-to-end times read as on a host running at the reference speed; the
# wall times stay in the result's detail. An op that ran Spark jobs gets the
# factor of the four kernels together (geometric mean); an op that ran none
# ran on the driver alone, on one core, and gets the one-core sort kernel's.
# REF_PROBE_MS are the kernels' median times on the 4-core host the benchmark
# was written on; any fixed values give the same comparisons.
REF_PROBE_MS = {"chase": 16.0, "stream": 9.0, "sort": 12.0, "boxed": 5.0}
KERNELS = ("chase", "stream", "sort", "boxed")


def speed_factor(probe, one_core):
    """Reference over measured kernel time for one probe."""
    ratios = {k: REF_PROBE_MS[k] / ms for k, ms in zip(KERNELS, probe)}
    if one_core:
        return ratios["sort"]
    return math.exp(sum(math.log(r) for r in ratios.values()) / len(ratios))


def run_factor(raw, one_core):
    """The run's speed factor: the median over its probes."""
    return statistics.median(speed_factor(p, one_core) for p in raw["probes"])


def scaled_ms(raw):
    """Every op's time at the reference host speed, in op order."""
    jobs, driver_only = run_factor(raw, False), run_factor(raw, True)
    return [o["ms"] * (driver_only if o["jobs"] == 0 else jobs) for o in raw["ops"]]


ANALYTICS = ("cc", "pagerank", "kcore")


def end_to_end(raw, scaled=True):
    """End-to-end metric values from an untraced run, at the reference host
    speed (`scaled`) or as wall times."""
    times = scaled_ms(raw) if scaled else [o["ms"] for o in raw["ops"]]
    ops = list(zip(raw["ops"], times))
    warm = [(o, ms) for o, ms in ops if o["phase"] in ("setup", "timed")]

    def op_median(kind):
        return statistics.median(ms for o, ms in warm if o["type"] == kind)

    def pass_median(kinds=None):
        """Median over timed passes of the time of their ops (of `kinds`)."""
        per = {}
        for o, ms in ops:
            if o["phase"] == "timed" and (kinds is None or o["type"] in kinds):
                per[o["pass"]] = per.get(o["pass"], 0.0) + ms
        return statistics.median(per.values()) / 1e3

    session = raw["session_start_s"] * (run_factor(raw, False) if scaled else 1.0)
    return {
        "setup_s": session + sum(ms for o, ms in ops if o["phase"] in ("cold", "setup")) / 1e3,
        "replay_s": pass_median(),
        "load_s": op_median("load") / 1e3,
        "lookup_p50_ms": op_median("lookup"),
        "khop_p50_ms": op_median("khop"),
        "ssp_p50_ms": op_median("ssp"),
        "insert_ms": op_median("insert") / raw["inserts_per_call"],
        "analytics_s": pass_median(ANALYTICS),
        "idle_heap_mb": raw["idle_heap_mb"],
    }


def span_detail(raw):
    """Spark counters per span name over the timed window: the per-span
    split of the engine totals."""
    out = {}
    for s in raw["spans"]:
        if s["start_ms"] < raw["measure_start_ms"]:
            continue
        d = out.setdefault(s["name"], {"spans": 0, "incomplete": 0, "ms": 0.0})
        d["spans"] += 1
        d["incomplete"] += 0 if s["complete"] else 1
        d["ms"] += s["end_ms"] - s["start_ms"]
        for key, _ in SPARK_SUMS:
            d[key] = d.get(key, 0) + s[key]
    return out


def per_layer(raw):
    """Per-layer metric values, with units, from a traced run."""
    t_start = raw["measure_start_ms"]
    spans = [s for s in raw["spans"] if s["start_ms"] >= t_start]
    complete = [s for s in spans if s["complete"]]
    by_name = {}
    for s in complete:
        by_name.setdefault(s["name"], []).append(s)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def subtree(s):
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(kids.get(x["id"], []))
        return out

    def jobs(s):
        return sum(x["jobs"] for x in subtree(s))

    ops = [o for o in raw["ops"] if o["phase"] == "timed"]
    m = {}

    def put(name, value, unit):
        m[name] = (float(value), unit)

    for metric, (name, stat) in SPAN_METRICS.items():
        ss = by_name.get(name, [])
        per = raw["inserts_per_call"] if stat.endswith("/insert") else 1
        if stat.startswith("ms"):
            ms = statistics.median(s["end_ms"] - s["start_ms"] for s in ss) if ss else 0.0
            put(metric, ms / per, "ms")
        else:
            put(metric, sum(jobs(s) for s in ss) / max(1, len(ss)) / per, "count")

    # LocalExec seen from outside: admission, warm hits, first touch.
    put("graph.localexec.admitted", raw["admitted"], "bool")
    roots = [s for s in complete if s["parent"] == 0
             and s["name"] in tuple(f"op.{k}" for k in INTERACTIVE)]
    zero = sum(1 for r in roots if jobs(r) == 0)
    put("graph.localexec.zero_job_op_ratio", zero / max(1, len(roots)), "ratio")
    put("graph.localexec.first_touch_ms",
        statistics.median(p["khop_first_ms"] for p in raw["passes"]), "ms")

    # Engine totals over the timed window (complete spans only).
    for key, unit in SPARK_SUMS:
        put(f"spark.{key}", sum(s[key] for s in complete), unit)
    put("spark.unattributed_jobs", raw["unattributed_jobs"], "count")
    put("spark.peak_exec_mem_mb", max([s["peak_exec_mem_mb"] for s in complete] or [0]), "MB")
    cores = raw["cores"]
    put("spark.core_busy_ratio",
        sum(s["task_run_s"] for s in complete) / (raw["measure_s"] * cores), "ratio")
    for phase in ("analysis", "optimization", "planning"):
        put(f"spark.{phase}_ms", sum(p["ms"] for p in raw["phases"]
                                     if p["name"] == phase and p["start_ms"] >= t_start), "ms")

    put("jvm.gc_ms", raw["gc_ms"], "ms")
    put("jvm.process_cpu_s", raw["process_cpu_s"], "s")
    put("jvm.session_start_s", raw["session_start_s"], "s")
    put("jvm.warmup_s", raw["setup_rounds_s"][0], "s")

    # Trace health: overhead, incomplete spans, self-time closure. The
    # overhead is the median traced warm set-up round (the first and the
    # last) minus the median untraced one (those between): the same ops
    # with the same neighbours, and a linear warm-up trend cancels.
    warm = list(zip(raw["setup_rounds_s"], raw["setup_traced"]))[1:]
    put("trace.overhead_s", statistics.median(t for t, on in warm if on)
        - statistics.median(t for t, on in warm if not on), "s")
    put("trace.incomplete_spans", len(spans) - len(complete), "count")
    selfs = self_times(spans)
    by_trace = {}
    for s in spans:
        by_trace.setdefault(s["trace"], []).append(s)
    gap = 0.0
    for o in ops:
        ss = by_trace.get(o["trace"], [])
        if ss:
            gap = max(gap, abs(o["ms"] - sum(selfs[s["id"]] for s in ss)))
    put("trace.self_time_gap_ms", gap, "ms")
    return m

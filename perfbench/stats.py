"""The benchmark's arithmetic: latency percentiles, failure share, span self
time and the per-layer roll-up of a trace. Pure functions; see test_stats.py."""
import math
import statistics

LAYERS = ("api", "comprehensions", "lib", "ops", "functions", "plans", "streaming")
LAYER_METRICS = (
    ("calls", "count/round"), ("self_s", "s/round"), ("jobs", "count/round"),
    ("stages", "count/round"), ("stages_skipped", "count/round"), ("tasks", "count/round"),
    ("task_cpu_s", "s/round"), ("driver_gap_s", "s/round"), ("plan_s", "s/round"),
    ("shuffle_bytes", "B/round"), ("spill_bytes", "B/round"), ("files_written", "count/round"),
    ("failed_tasks", "count/round"))
ENGINE_METRICS = (("spark.analysis_s", "s/round"), ("spark.optimizer_s", "s/round"),
                  ("spark.planning_s", "s/round"), ("spark.exec_s", "s/round"),
                  ("jvm.gc_s", "s/round"))
TRACE_METRICS = (("trace.overhead_frac", "frac"), ("trace.job_wall_share", "frac"),
                 ("trace.gap_plan_wall_share", "frac"))


TAIL_FLOOR = 75


def tail_percentile(n: int) -> int:
    """Highest whole percentile p such that at least ten of n samples lie
    beyond the nearest-rank p-th percentile (the ceil(p n / 100)-th
    smallest), but never below the upper quartile: with fewer than 40
    samples the ten-beyond rule picks the median or less (or, below 11
    samples, nothing), so p is 75 there."""
    if n < 11:
        return TAIL_FLOOR
    return max(TAIL_FLOOR, (100 * (n - 10)) // n)


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for aa in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                   -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h


def betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b), for a, b > 0."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def harrell_davis(values, p: int) -> float:
    """Harrell-Davis estimate of the p-th percentile: a weighted mean of all
    order statistics, the i-th weighted by the Beta(p(n+1), (1-p)(n+1))
    mass on ((i-1)/n, i/n]. Unlike a single order statistic it does not jump
    when one sample crosses its neighbours, so it is steadier on few
    samples."""
    xs = sorted(values)
    n = len(xs)
    if n == 1:
        return xs[0]
    q = p / 100
    a, b = q * (n + 1), (1 - q) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def tail(values):
    """(value, percentile, n) of the tail latency of `values`: the
    Harrell-Davis estimate at `tail_percentile(n)`."""
    p = tail_percentile(len(values))
    return harrell_davis(values, p), p, len(values)


def failed_frac(attempted: int, failed: int) -> float:
    """Failed pipeline calls over attempted calls."""
    if attempted < 1:
        raise ValueError("no pipeline call was attempted")
    return failed / attempted


def quartile_spread(values) -> float:
    """Distance between first and third quartile as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


# ------------------------------------------------------------------ intervals

def merge(intervals):
    """Union of (start, end) intervals as a sorted disjoint list."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def subtract(intervals, holes):
    """Parts of the disjoint sorted `intervals` not covered by `holes`."""
    holes = merge(holes)
    out = []
    for s, e in intervals:
        cur = s
        for hs, he in holes:
            if he <= cur or hs >= e:
                continue
            if hs > cur:
                out.append((cur, hs))
            cur = max(cur, he)
            if cur >= e:
                break
        if cur < e:
            out.append((cur, e))
    return out


def length(intervals) -> float:
    return sum(e - s for s, e in intervals)


def self_intervals(spans):
    """span id -> the parts of its interval that no child span covers."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: subtract([(s["start_ms"], s["end_ms"])], children.get(s["id"], []))
            for s in spans}


def innermost(self_iv, t_ms):
    """Id of the span whose self time contains t_ms, or None."""
    for i, ivs in self_iv.items():
        for s, e in ivs:
            if s <= t_ms < e:
                return i
    return None


PLAN_PHASES = ("analysis", "optimization", "planning")


def wall_shares(trace, wall_s: float):
    """(job share, gap + plan share) of the traced wall time: the time during
    which at least one Spark job ran, and the span time during which none ran
    or a query was being planned. Each moment counts once, so planning done
    while no job runs (already in the driver gap) is not counted twice."""
    job_iv = merge((j["start_ms"], j["end_ms"]) for j in trace["jobs"])
    gap = [iv for ivs in self_intervals(trace["spans"]).values() for iv in subtract(ivs, job_iv)]
    plan = [(q[f"{p}_start_ms"], q[f"{p}_start_ms"] + 1e3 * q[f"{p}_s"])
            for q in trace["queries"] for p in PLAN_PHASES]
    return length(job_iv) / 1e3 / wall_s, length(merge(gap + plan)) / 1e3 / wall_s


JOB_COUNTERS = ("stages", "stages_skipped", "tasks", "task_s", "task_cpu_s", "shuffle_bytes",
                "spill_bytes", "failed_tasks")


def per_span(trace) -> dict:
    """span id -> what happened while that span was innermost: calls (1),
    self time, driver gap (self time with no job running), its jobs and their
    counters, and the planning time and files written by queries whose
    analysis began in its self time."""
    self_iv = self_intervals(trace["spans"])
    job_iv = merge((j["start_ms"], j["end_ms"]) for j in trace["jobs"])
    out = {}
    for s in trace["spans"]:
        iv = self_iv[s["id"]]
        out[s["id"]] = dict({k: 0.0 for k in JOB_COUNTERS}, calls=1, jobs=0, plan_s=0.0,
                            files_written=0, self_s=length(iv) / 1e3,
                            driver_gap_s=length(subtract(iv, job_iv)) / 1e3)
    for j in trace["jobs"]:
        if j["span"] in out:
            out[j["span"]]["jobs"] += 1
            for k in JOB_COUNTERS:
                out[j["span"]][k] += j[k]
    for q in trace["queries"]:
        owner = innermost(self_iv, q["analysis_start_ms"])
        if owner is not None:
            out[owner]["plan_s"] += sum(q[f"{p}_s"] for p in PLAN_PHASES)
            out[owner]["files_written"] += q["files_written"]
    return out


def by_span_name(trace) -> dict:
    """module/name -> self time, driver gap, jobs and task time, for the run
    record: which call a layer's numbers come from."""
    per, out = per_span(trace), {}
    for s in trace["spans"]:
        c = per[s["id"]]
        e = out.setdefault(f"{s['module']}/{s['name']}",
                           {"self_s": 0.0, "driver_gap_s": 0.0, "jobs": 0, "task_s": 0.0})
        for k in e:
            e[k] += c[k]
    return out


def layer_metrics(trace, wall_s: float, rounds: int) -> dict:
    """Roll a trace (spans, jobs, queries, gc_s) of `rounds` whole rounds up
    into per-round per-layer and engine-wide metrics, each layer's counted
    while its span is innermost, plus the shares of the traced wall time
    (`wall_shares`)."""
    per = per_span(trace)
    m = {f"{l}.{k}": 0.0 for l in LAYERS for k, _ in LAYER_METRICS}
    for s in trace["spans"]:
        if s["module"] in LAYERS:
            c = per[s["id"]]
            for k, _ in LAYER_METRICS:
                m[f"{s['module']}.{k}"] += c[k]
    qs = trace["queries"]
    m["spark.analysis_s"] = sum(q["analysis_s"] for q in qs)
    m["spark.optimizer_s"] = sum(q["optimization_s"] for q in qs)
    m["spark.planning_s"] = sum(q["planning_s"] for q in qs)
    m["spark.exec_s"] = sum(q["exec_s"] for q in qs)
    m["jvm.gc_s"] = trace["gc_s"]
    m = {k: v / rounds for k, v in m.items()}
    m["trace.job_wall_share"], m["trace.gap_plan_wall_share"] = wall_shares(trace, wall_s)
    return m

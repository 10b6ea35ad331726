"""Turns the harness's raw record (perfbench/target/run/*/raw.json) into
the benchmark's metrics. Pure functions over plain dicts and lists, so the
rules are unit-tested in perfbench/test_metrics.py without a JVM.

Times in the raw record are epoch milliseconds; metrics are seconds.
Per-pass metrics are summed over one pass and reported as the median over
passes; the traced-run (per-layer) ones use traced passes only.
"""
import math
import statistics

GOLD_STEPS = ("q01_gold_attrition_monthly", "q02_gold_attrition_by_dept",
              "q03_gold_attrition_summary")


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 500):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-14:
            break
    return h


def betainc(a, b, x):
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


def quantile(samples, q):
    """Harrell-Davis estimate of the q-quantile (0 < q < 1): a weighted mean
    of every order statistic, with Beta(q(n+1), (1-q)(n+1)) weights.

    A single order statistic (the sample median of nine step times, say)
    jumps whenever two neighbouring steps swap places; this estimate moves
    smoothly, so it varies less from run to run at the same sample count.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0
    a, b = q * (n + 1), (1 - q) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum(x * (cdf[i + 1] - cdf[i]) for i, x in enumerate(xs))


def tail(samples, min_beyond=10):
    """The highest whole percentile with at least `min_beyond` samples
    strictly after its nearest-rank position in sorted order, estimated with
    `quantile`.

    Returns (value, percentile, samples_beyond). With too few samples for
    any such percentile it falls back to the median (p50).
    """
    n = len(samples)
    if n == 0:
        return 0.0, 0, 0
    if n <= min_beyond:
        q = 50
    else:
        q = min(99, (100 * (n - min_beyond)) // n)
    k = max(1, math.ceil(q * n / 100))
    return quantile(samples, q / 100), q, n - k


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_time(span, children):
    """Duration of `span` not covered by any child span. Children may nest
    in each other or overlap; parts outside `span` do not count."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


def driver_gap(step, jobs):
    """Step wall time minus the union of its job spans."""
    return self_time(step, jobs)


# ---------------------------------------------------------------- end to end

def step_walls(raw):
    return [(s["end_ms"] - s["start_ms"]) / 1000.0
            for p in raw["passes"] for s in p["steps"]]


def pass_walls(raw, traced=None):
    return [(p["end_ms"] - p["start_ms"]) / 1000.0 for p in raw["passes"]
            if traced is None or p["traced"] == traced]


def in_pass(at_ms, p):
    return p["start_ms"] <= at_ms <= p["end_ms"]


def end_to_end(raw):
    """The untraced run's metrics: (gated, reported), each name -> (value,
    unit). `gated` holds what BENCHMARK.json bounds, on every workload;
    `reported` adds the workload-specific figures and tail detail."""
    walls = step_walls(raw)
    t, q, beyond = tail(walls)
    gated = {
        "setup_s": (median(x["total_s"] for x in raw["setups"]), "s"),
        "pass_s": (median(pass_walls(raw)), "s"),
        "step_p50_s": (quantile(walls, 0.5), "s"),
        "step_tail_s": (t, "s"),
        "heap_peak_mb": (max((p["heap_mb"] for p in raw["passes"]), default=0.0), "MB"),
    }
    rep = {"step_tail_pct": (q, "%"), "step_tail_beyond": (beyond, "count")}
    if "q01_gold_attrition_monthly" in raw["steps"]:
        rep["gold_s"] = (median(
            sum((s["end_ms"] - s["start_ms"]) / 1000.0
                for s in p["steps"] if s["name"] in GOLD_STEPS)
            for p in raw["passes"]), "s")
    batches = raw["batches"]
    if batches:
        mb = [b["trigger_ms"] / 1000.0 for b in batches]
        bt, bq, bb = tail(mb)
        rep["microbatch_p50_s"] = (quantile(mb, 0.5), "s")
        rep["microbatch_tail_s"] = (bt, "s")
        rep["microbatch_tail_pct"] = (bq, "%")
        rep["microbatch_tail_beyond"] = (bb, "count")
        rep["stream_rows_per_s"] = (median(
            sum(b["input_rows"] for b in batches if in_pass(b["at_ms"], p))
            / ((p["end_ms"] - p["start_ms"]) / 1000.0) for p in raw["passes"]), "1/s")
    return gated, rep


# ----------------------------------------------------------------- per layer

def attribute(raw, at_key):
    """A function giving the id of the traced pass a record belongs to, or
    None: by its step tag when it has one, else by its `at_key` time."""
    traced = [p for p in raw["passes"] if p["traced"]]
    tags = {s["tag"]: p["id"] for p in traced for s in p["steps"] if s["tag"]}

    def assign(rec):
        if rec.get("tag") in tags:
            return tags[rec["tag"]]
        return next((p["id"] for p in traced if in_pass(rec[at_key], p)), None)
    return assign


def overhead(raw):
    """Median traced over median untraced pass wall time. The first pass is
    the coldest, so it is left out of its group unless it is the only one."""
    def walls(traced):
        ps = [p for p in raw["passes"] if p["traced"] == traced]
        if len(ps) > 1 and ps[0]["id"] == 0:
            ps = ps[1:]
        return [(p["end_ms"] - p["start_ms"]) / 1000.0 for p in ps]
    t, u = walls(True), walls(False)
    return median(t) / median(u) if t and u else 0.0


def per_layer(raw):
    """The traced run's per-layer metrics, name -> (value, unit)."""
    traced = [p for p in raw["passes"] if p["traced"]]
    assign = attribute(raw, "start_ms")
    jobs = {p["id"]: [] for p in traced}
    for j in raw["jobs"]:
        if j["end_ms"] < 0:
            continue
        pid = assign(j)
        if pid is not None:
            jobs[pid].append(j)
    act_assign = attribute(raw, "at_ms")
    actions = {p["id"]: [] for p in traced}
    for a in raw["actions"]:
        pid = act_assign(a)
        if pid is not None:
            actions[pid].append(a)
    batches = {p["id"]: [b for b in raw["batches"] if in_pass(b["at_ms"], p)]
               for p in traced}

    def per_pass(fn):
        return median(fn(p) for p in traced)

    def wall(p):
        return (p["end_ms"] - p["start_ms"]) / 1000.0

    def jsum(p, field, scale=1.0, streaming=None):
        return sum(j[field] for j in jobs[p["id"]]
                   if streaming is None or j["streaming"] == streaming) * scale

    def spans(p, s):
        return [(j["start_ms"], j["end_ms"]) for j in jobs[p["id"]]
                if j["tag"] == s["tag"] or (j["tag"] is None
                                            and s["start_ms"] <= j["start_ms"] <= s["end_ms"])]

    def gap(p):
        return sum(driver_gap((s["start_ms"], s["end_ms"]), spans(p, s))
                   for s in p["steps"]) / 1000.0

    def self_of(p, part):
        total = 0.0
        for s in p["steps"]:
            js = spans(p, s)
            build = (s["start_ms"], s["build_end_ms"])
            exe = (s["build_end_ms"], s["exec_end_ms"])
            if part == "step":
                total += self_time((s["start_ms"], s["end_ms"]), [build, exe])
            else:
                total += self_time(build if part == "build" else exe, js)
        return total / 1000.0

    def phase(p, name):
        # the steps' own frames, plus every eager action inside them
        return (sum(s["phases"].get(name, 0) for s in p["steps"])
                + sum(a[name + "_ms"] for a in actions[p["id"]])) / 1000.0

    def catalyst(p):
        return sum(phase(p, n) for n in ("analysis", "optimization", "planning"))

    def stream_state(p):
        # state size is a running total per query: take each step's peak
        return sum(max((b["state_rows"] for b in batches[p["id"]]
                        if s["start_ms"] <= b["at_ms"] <= s["end_ms"]), default=0)
                   for s in p["steps"])

    def empty_frac(p):
        bs = batches[p["id"]]
        return sum(1 for b in bs if b["input_rows"] == 0) / len(bs) if bs else 0.0

    def write_amp(p):
        src = jsum(p, "input_b", streaming=True)
        return jsum(p, "output_b") / src if src else 0.0

    mb = 1.0 / (1 << 20)
    setups = raw["setups"]
    m = {
        "sessions.build_s": (median(x["session_s"] for x in setups), "s"),
        "warmup_s": (median(x["warmup_s"] for x in setups), "s"),
        "gen_s": (median(x["gen_s"] for x in setups), "s"),
        "queries.build_s": (per_pass(lambda p: sum(
            s["build_end_ms"] - s["start_ms"] for s in p["steps"]) / 1000.0), "s"),
        "queries.exec_s": (per_pass(lambda p: sum(
            s["exec_end_ms"] - s["build_end_ms"] for s in p["steps"]) / 1000.0), "s"),
        "queries.actions": (per_pass(lambda p: len(actions[p["id"]])), "count"),
        "catalyst.analysis_s": (per_pass(lambda p: phase(p, "analysis")), "s"),
        "catalyst.optimization_s": (per_pass(lambda p: phase(p, "optimization")), "s"),
        "catalyst.planning_s": (per_pass(lambda p: phase(p, "planning")), "s"),
        "catalyst.share": (per_pass(lambda p: catalyst(p) / wall(p)), "ratio"),
        "driver.gap_s": (per_pass(gap), "s"),
        "driver.gap_share": (per_pass(lambda p: gap(p) / wall(p)), "ratio"),
        "span.step_self_s": (per_pass(lambda p: self_of(p, "step")), "s"),
        "span.build_self_s": (per_pass(lambda p: self_of(p, "build")), "s"),
        "span.exec_self_s": (per_pass(lambda p: self_of(p, "exec")), "s"),
        "spark.jobs": (per_pass(lambda p: len(jobs[p["id"]])), "count"),
        "spark.stages": (per_pass(lambda p: jsum(p, "stages")), "count"),
        "spark.tasks": (per_pass(lambda p: jsum(p, "tasks")), "count"),
        "spark.tasks_failed": (per_pass(lambda p: jsum(p, "tasks_failed")), "count"),
        "spark.task_run_s": (per_pass(lambda p: jsum(p, "run_ms", 1e-3)), "s"),
        "spark.task_cpu_s": (per_pass(lambda p: jsum(p, "cpu_ns", 1e-9)), "s"),
        "spark.gc_s": (per_pass(lambda p: jsum(p, "gc_ms", 1e-3)), "s"),
        "spark.busy_cores": (per_pass(lambda p: jsum(p, "run_ms", 1e-3) / wall(p)), "cores"),
        "shuffle.write_mb": (per_pass(lambda p: jsum(p, "shuffle_write_b", mb)), "MB"),
        "shuffle.read_mb": (per_pass(lambda p: jsum(p, "shuffle_read_b", mb)), "MB"),
        "spill.mb": (per_pass(lambda p: jsum(p, "spill_b", mb)), "MB"),
        "scan.input_mb": (per_pass(lambda p: jsum(p, "input_b", mb)), "MB"),
        "scan.input_rows": (per_pass(lambda p: jsum(p, "input_rows")), "count"),
        "stream.batches": (per_pass(lambda p: len(batches[p["id"]])), "count"),
        "stream.input_rows": (per_pass(lambda p: sum(
            b["input_rows"] for b in batches[p["id"]])), "count"),
        "stream.empty_batch_frac": (per_pass(empty_frac), "ratio"),
        "stream.add_batch_s": (per_pass(lambda p: sum(
            b["add_batch_ms"] for b in batches[p["id"]]) / 1000.0), "s"),
        "stream.commit_s": (per_pass(lambda p: sum(
            b["commit_ms"] for b in batches[p["id"]]) / 1000.0), "s"),
        "stream.plan_s": (per_pass(lambda p: sum(
            b["plan_ms"] for b in batches[p["id"]]) / 1000.0), "s"),
        "stream.list_s": (per_pass(lambda p: sum(
            b["list_ms"] for b in batches[p["id"]]) / 1000.0), "s"),
        "stream.state_rows": (per_pass(stream_state), "count"),
        "commit.output_mb": (per_pass(lambda p: jsum(p, "output_b", mb)), "MB"),
        "commit.output_records": (per_pass(lambda p: jsum(p, "output_rows")), "count"),
        "commit.files": (per_pass(lambda p: p["tmp_files"]), "count"),
        "commit.write_amp": (per_pass(write_amp), "ratio"),
        "trace.overhead": (overhead(raw), "ratio"),
    }
    for k in ("minhash", "shingle", "simhash", "token_hashes", "hll"):
        kt = raw["kernels"].get(k)
        m[f"kernel.{k}.rows_per_s"] = (kt["rows"] / kt["s"] if kt and kt["s"] > 0 else 0.0,
                                       "1/s")
    return m

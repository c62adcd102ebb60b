"""The benchmark's own arithmetic: latency percentiles, span self time,
failure counting and the per-layer roll-up of a traced run."""
import math

TAIL_BEYOND = 10


def _beta_cf(a, b, x):
    """Continued fraction of the incomplete beta function (Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h


def beta_cdf(x, a, b):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _beta_cf(a, b, x) / a
    return 1.0 - front * _beta_cf(b, a, 1.0 - x) / b


def quantile(samples, p):
    """Harrell-Davis estimate of the p-quantile: a Beta-weighted mean of
    all order statistics. A run holds a few passes over a handful of
    queries, so its latencies form clusters, and the plain sample
    quantile jumps between clusters from run to run; this estimate
    moves smoothly."""
    x = sorted(samples)
    n = len(x)
    a, b = p * (n + 1), (1.0 - p) * (n + 1)
    cdf = [beta_cdf(i / n, a, b) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x[i] for i in range(n))


def tail(samples):
    """Latency at the highest percentile with at least TAIL_BEYOND samples
    beyond it: the rank of the (TAIL_BEYOND + 1)-th largest sample.

    Returns (value, percentile): the percentile is the share of samples
    at or below that rank, in percent, and the value its Harrell-Davis
    estimate. Needs TAIL_BEYOND + 1 samples.
    """
    n = len(samples)
    if n <= TAIL_BEYOND:
        raise ValueError(f"{n} samples: a tail needs at least {TAIL_BEYOND + 1}")
    pct = 100.0 * (n - TAIL_BEYOND) / n
    return quantile(samples, pct / 100.0), pct


def union_length(intervals):
    """Total length covered by (start, end) intervals that may overlap."""
    total, cur_s, cur_e = 0, None, None
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


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    children cover (overlapping children count once).

    `spans` holds (id, parent, op, name, start, end) tuples; the result
    maps span id to self time in the same unit.
    """
    children = {}
    for sid, parent, _op, _name, s, e in spans:
        children.setdefault(parent, []).append((s, e))
    out = {}
    for sid, _parent, _op, _name, s, e in spans:
        covered = union_length([(max(cs, s), min(ce, e))
                                for cs, ce in children.get(sid, [])])
        out[sid] = (e - s) - covered
    return out


def failed_ops(ops, wrong):
    """Ids of failed operations: those that threw, and those whose result
    was wrong. `wrong` holds op ids and, for checks made once per query,
    op names (every run of that query produced the same wrong result).
    """
    return {o["id"] for o in ops
            if o["err"] is not None or o["id"] in wrong or o["name"] in wrong}


def error_rate(ops, wrong):
    return len(failed_ops(ops, wrong)) / len(ops)


def end_to_end(run, wrong):
    """The end-to-end metrics of one untraced run."""
    ops = run["ops"]
    walls = [o["wall_s"] for o in ops]
    tail_s, tail_pct = tail(walls)
    return {
        "setup_s": run["session_s"] + run["prep_s"],
        "op_s.p50": quantile(walls, 0.5),
        "op_s.tail": tail_s,
        "ops_per_s": len(ops) / sum(walls),
        "cpu_s_per_op": sum(o["cpu_s"] for o in ops) / len(ops),
        "mem_live_mb": run["mem_live_mb"],
        "success_rate": 1.0 - error_rate(ops, wrong),
    }, tail_pct


# Per-layer metrics that are per-operation means of a span's duration.
SPAN_METRICS = {
    "queries.construct_ms": "queries.construct",
    "sync.run_ms": "sync.run",
    "io.report_write_ms": "io.report_write",
    "stream.drain_ms": "stream.drain",
    "reports.population_stats_ms": "reports.population_stats",
    "reports.best_years_ms": "reports.best_years",
    "reports.combined_ms": "reports.combined",
}
# Per-layer metrics that are per-operation means of a listener counter.
COUNTER_METRICS = (
    "queries.construct_jobs", "spark.plan_ms", "spark.codegen_ms",
    "spark.codegen_n", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.run_ms", "spark.cpu_ms",
    "spark.gc_ms", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
    "spark.spill_mb", "spark.input_mb", "spark.tasks_failed",
    "spark.tasks_retried", "graph.held_mb", "graph.persisted_rdds",
    "io.hash_input_mb", "stream.batches", "stream.add_batch_ms",
    "stream.wal_commit_ms", "stream.query_planning_ms",
    "stream.latest_offset_ms")
CORES = 4


def job_span_ms(op, jobs):
    """(union of the operation's job intervals, op wall minus that union)
    in ms. `jobs` holds (start, end) epoch ms; each is clipped to the
    operation's own interval."""
    start = op["start_ms"]
    wall = op["wall_s"] * 1000.0
    span = union_length([(max(s, start), min(e, start + wall)) for s, e in jobs])
    return span, max(0.0, wall - span)


def per_layer(run, cdc=None, changed=None):
    """Per-operation layer metrics of one traced run.

    `cdc` maps cycle -> {action: count, "copied_bytes": n} for the daily
    pipeline; `changed` is the number of files the generator inserted or
    updated over the cycles run.
    """
    ops = run["ops"]
    n = len(ops)
    op_ids = {o["id"] for o in ops}
    layers = {int(k): v for k, v in run["layers"].items() if int(k) in op_ids}

    def total(name):
        return sum(v.get(name, 0.0) for v in layers.values())

    out = {m: total(m) / n for m in COUNTER_METRICS}
    spans = [job_span_ms(o, run["jobs"].get(str(o["id"]), [])) for o in ops]
    span_total = sum(s for s, _ in spans)
    out["spark.job_span_ms"] = span_total / n
    out["spark.idle_ms"] = sum(i for _, i in spans) / n
    span_ms = {}
    for _sid, _parent, op, name, s, e in run["spans"]:
        if op in op_ids:
            span_ms[name] = span_ms.get(name, 0.0) + (e - s) / 1e6
    for metric, name in SPAN_METRICS.items():
        out[metric] = span_ms.get(name, 0.0) / n
    out["spark.busy_share"] = (total("spark.run_ms") / (span_total * CORES)
                               if span_total else 0.0)
    cdc = cdc or {}
    copied = sum(c.get("insert", 0) + c.get("update", 0) for c in cdc.values())
    out["sync.files_copied"] = copied / n
    out["sync.files_deleted"] = sum(c.get("delete", 0) for c in cdc.values()) / n
    out["sync.copy_ratio"] = copied / changed if changed else 0.0
    copied_mb = sum(c.get("copied_bytes", 0) for c in cdc.values()) / 2**20
    out["io.bytes_written_mb"] = (total("task.output_mb") + copied_mb) / n
    out["trace.ops_per_s"] = n / sum(o["wall_s"] for o in ops)
    return out


def top_self(run, k=10):
    """The k (operation, span) pairs with the most self time over the
    timed operations: (total self ms, executions, op name, span name)."""
    names = {o["id"]: o["name"] for o in run["ops"]}
    st = self_times([tuple(s) for s in run["spans"]])
    agg = {}
    for sid, _parent, op, span, _s, _e in run["spans"]:
        if op in names:
            total, n = agg.get((names[op], span), (0.0, 0))
            agg[(names[op], span)] = (total + st[sid] / 1e6, n + 1)
    return sorted(((t, n, op, span) for (op, span), (t, n) in agg.items()),
                  reverse=True)[:k]

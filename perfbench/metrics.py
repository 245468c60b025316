"""Turns a raw run record (written by perfbench.Main) into the
benchmark's end-to-end and per-layer metrics.

Pure functions only, so the rules here are unit-tested
(tests/test_metrics.py).
"""
import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# Tail percentiles are reported only with at least this many samples
# beyond them.
MIN_BEYOND = 10

# The op type whose latency is the workload's end-to-end latency.
PRIMARY_OP = {"ecs_step": "step", "ecs_query": "point"}

# Op types that go through the querier.
QUERY_OPS = ("point", "trajectory", "live_scan", "history_scan")

LAYERS = ("bench", "ecs.World", "ecs.QueryManager", "ecs.ArchetypeStore", "spark")


def percentile(values, q):
    """Linear-interpolated percentile, q in [0, 1] (statistics' inclusive
    method): p50 of an even count is the mean of the middle pair."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 <= q <= 1.0:
        raise ValueError("q must be within [0, 1]")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 0.5)


def supports(n, q):
    """True when n samples leave at least MIN_BEYOND beyond percentile q."""
    return n * (1.0 - q) >= MIN_BEYOND - 1e-9


def tail(values, candidates=(0.99, 0.95, 0.9, 0.75)):
    """The highest candidate percentile the sample count supports, as
    (q, value), or None when none is supported."""
    for q in candidates:
        if supports(len(values), q):
            return q, percentile(values, q)
    return None


def summary(values):
    """n, p50 and the highest supported tail of a list of timings."""
    out = {"n": len(values)}
    if values:
        out["p50"] = median(values)
        t = tail(values)
        if t:
            out["p%g" % (t[0] * 100)] = t[1]
    return out


def valid_name(name):
    return bool(NAME_RE.match(name))


def counts(raw):
    """(attempted, failed): every timed op and every correctness check
    counts once; an op that threw or returned a wrong result fails."""
    ops = raw["ops"]
    checks = raw["checks"]
    attempted = len(ops) + len(checks)
    failed = sum(1 for x in ops + checks if not x["ok"])
    return attempted, failed


def ops_of(raw, kind):
    return [o["ms"] for o in raw["ops"] if o["type"] == kind]


def rates(raw):
    """Per op type: ops of that type per second spent in them."""
    return {kind: len(ms) / (sum(ms) / 1000.0)
            for kind in sorted({o["type"] for o in raw["ops"]})
            for ms in [ops_of(raw, kind)]}


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def end_to_end(raw):
    """ops_per_s is steps per measured second on ecs_step, where the
    maintenance ops count as time. On ecs_query it is the geometric mean
    of the per-type rates, so each read type weighs the same whatever
    share of the deck it has."""
    primary = ops_of(raw, PRIMARY_OP[raw["workload"]])
    if raw["workload"] == "ecs_step":
        ops_per_s = len(primary) / raw["measured_s"]
    else:
        ops_per_s = geomean(list(rates(raw).values()))
    return {
        "setup_s": median(raw["setup_s"]),
        "ops_per_s": ops_per_s,
        "op_ms.p50": median(primary),
        "peak_block_mb": raw["peak_block_bytes"] / 2.0 ** 20,
        "bytes_per_user_byte": median(raw["samples"]["bytes_per_user_byte"]),
    }


class SpanIndex:
    """Spans of one traced run, with warm-up spans removed."""

    def __init__(self, spans):
        warm = set()
        for s in spans:  # parents precede children
            if s["name"] == "warmup" or s["parent"] in warm:
                warm.add(s["id"])
        self.spans = [s for s in spans if s["id"] not in warm]
        self.children = {}
        for s in self.spans:
            self.children.setdefault(s["parent"], []).append(s)

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]

    def subtree(self, span):
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s["id"], []))
        return out

    def total(self, span, key):
        return sum(s["attrs"].get(key, 0.0) for s in self.subtree(span))

    def task_ms(self, span):
        return [t for s in self.subtree(span) for t in s["task_ms"]]


def duration(span):
    return span["end_ms"] - span["start_ms"]


def self_ms(span, children):
    """Span duration minus the part of it its children cover."""
    iv = sorted((c["start_ms"], c["end_ms"]) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        s, e = max(s, span["start_ms"]), min(e, span["end_ms"])
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return duration(span) - covered


def _p50(xs):
    return median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(raw, cores):
    idx = SpanIndex(raw["spans"])
    ops = [s for s in idx.spans if s["name"].startswith("op.")]
    op_kind = lambda s: s["name"][3:]
    samples = raw["samples"]
    extra = raw["extra"]

    steps = idx.named("World.step")
    query_ops = [s for s in ops if op_kind(s) in QUERY_OPS]
    recoveries = [s for s in ops if op_kind(s) == "recovery"]
    optimize_ms = [idx.total(s, "checkpoint_job_ms") for s in steps + idx.named("ArchetypeStore.optimize")]
    optimize_ms = [x for x in optimize_ms if x > 0]

    def durations(name):
        return [duration(s) for s in idx.named(name)]

    def op_p50(kind):
        return _p50([duration(s) for s in ops if op_kind(s) == kind])

    def durable_point(s):
        skip = sum(duration(c) for c in idx.children.get(s["id"], [])
                   if c["name"] in ("ArchetypeStore.new", "ArchetypeStore.attachDurable"))
        return duration(s) - skip

    queries = sum(idx.total(s, "queries") for s in ops)
    returned = sum(idx.total(s, "rows_returned") + idx.total(s, "written_rows") for s in ops)
    tasks = [t for s in ops for t in idx.task_ms(s)]
    op_wall = sum(duration(s) for s in ops)
    n_ops = max(len(ops), 1)

    def per_op(key):
        return sum(idx.total(s, key) for s in ops) / n_ops

    layer_self = {l: 0.0 for l in LAYERS}
    for op in ops:
        for s in idx.subtree(op):
            if s["layer"] in layer_self:
                layer_self[s["layer"]] += self_ms(s, idx.children.get(s["id"], []))

    m = {
        "world.step_call_ms.p50": _p50([duration(s) for s in steps]),
        "world.step_jobs": _mean([idx.total(s, "jobs") for s in steps]),
        "world.spawn_ms": _p50(durations("World.spawnBatch")),
        "system.stages": float(extra.get("system.stages", 0)),
        "system.plan_nodes.max": max(samples.get("system.plan_nodes", [0])),
        "querier.point_ms.p50": op_p50("point"),
        "querier.trajectory_ms.p50": op_p50("trajectory"),
        "querier.live_scan_ms.p50": op_p50("live_scan"),
        "querier.history_scan_ms.p50": op_p50("history_scan"),
        "querier.plan_ms.p50": _p50([idx.total(s, "plan_ms") for s in query_ops]),
        "querier.jobs_per_query": _mean([idx.total(s, "jobs") for s in query_ops]),
        "querier.window_nodes": (sum(idx.total(s, "window_nodes") for s in ops) / queries
                                 if queries else 0.0),
        "querier.rows_scanned_per_row_returned": (sum(idx.total(s, "leaf_rows") for s in ops) / returned
                                                  if returned else 0.0),
        "store.optimize_ms": _p50(optimize_ms),
        "store.block_mb": raw["peak_block_bytes"] / 2.0 ** 20,
        "store.commit_ms.p50": _p50(durations("ArchetypeStore.commitDelta")),
        "store.commit_bytes.p50": _p50(samples.get("store.commit_bytes", [])),
        "store.commit_files.p50": _p50(samples.get("store.commit_files", [])),
        "store.compact_ms": _p50(durations("ArchetypeStore.compactDurable")),
        "store.compact_bytes_rewritten": _p50(samples.get("store.compact_bytes_rewritten", [])),
        "store.vacuum_ms": _p50(durations("ArchetypeStore.vacuumDurable")),
        "store.attach_ms": _p50(durations("ArchetypeStore.attachDurable")),
        "store.durable_point_ms.p50": _p50([durable_point(s) for s in recoveries]),
        "store.durable_files_read": _mean([idx.total(s, "files_read") for s in recoveries]),
        "spark.jobs_per_op": per_op("jobs"),
        "spark.stages_per_op": per_op("stages"),
        "spark.tasks_per_op": per_op("tasks"),
        "spark.shuffle_write_bytes_per_op": per_op("shuffle_write_bytes"),
        "spark.shuffle_read_bytes_per_op": per_op("shuffle_read_bytes"),
        "spark.spill_bytes_per_op": per_op("spill_bytes"),
        "spark.gc_ms_per_op": per_op("gc_ms"),
        "spark.task_ms.max": max(tasks) if tasks else 0.0,
        "spark.task_ms.p50": _p50(tasks),
        "spark.busy_ratio": (sum(idx.total(s, "task_run_ms") for s in ops) / (op_wall * cores)
                             if op_wall else 0.0),
        "trace.spans": float(len(raw["spans"])),
        "trace.probe_overhead_ms": float(extra.get("trace.probe_overhead_ms", 0.0)),
    }
    for layer, ms in layer_self.items():
        m["self_ms_per_op." + layer] = ms / n_ops
    return m


def by_op_type(raw):
    """Per op type: timing summary, rate and, when traced, Spark counters
    per op."""
    out = {}
    idx = SpanIndex(raw.get("spans", [])) if raw.get("spans") else None
    per_s = rates(raw)
    for kind in sorted(per_s):
        entry = {"ms": summary(ops_of(raw, kind)), "rate_per_s": per_s[kind]}
        if idx:
            spans = idx.named("op." + kind)
            n = max(len(spans), 1)
            entry["spark_per_op"] = {
                k: sum(idx.total(s, k) for s in spans) / n
                for k in ("jobs", "stages", "tasks", "shuffle_write_bytes",
                          "shuffle_read_bytes", "spill_bytes", "gc_ms", "plan_ms")}
            tasks = [t for s in spans for t in idx.task_ms(s)]
            entry["task_ms"] = {"max": max(tasks) if tasks else 0, "p50": _p50(tasks)}
        out[kind] = entry
    return out


def result_line(raw, spec, traced):
    """The result line: {correct, attempted, failed, metrics}."""
    attempted, failed = counts(raw)
    cores = raw["machine"]["cores"]
    values = per_layer(raw, cores) if traced else end_to_end(raw)
    wanted = spec["per_layer"] if traced else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = values[m["name"]]
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def check_line(line, spec, traced):
    """Raise ValueError unless `line` has the result line's format."""
    if set(line) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError("result keys must be correct, attempted, failed, metrics")
    if not isinstance(line["correct"], bool):
        raise ValueError("correct must be a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(line[k], int) or isinstance(line[k], bool) or line[k] < 0:
            raise ValueError(k + " must be a whole number")
    if line["attempted"] < 1:
        raise ValueError("attempted must be at least 1")
    wanted = spec["per_layer"] if traced else spec["end_to_end"]
    if set(line["metrics"]) != {m["name"] for m in wanted}:
        raise ValueError("metrics must be exactly the %s set" %
                         ("per_layer" if traced else "end_to_end"))
    for m in wanted:
        got = line["metrics"][m["name"]]
        if set(got) != {"value", "unit"} or got["unit"] != m["unit"]:
            raise ValueError("metric %s must carry value and unit %s" % (m["name"], m["unit"]))
        if not isinstance(got["value"], float) or not math.isfinite(got["value"]):
            raise ValueError("metric %s must be a finite number" % m["name"])


def check_spec(spec):
    """Raise ValueError unless BENCHMARK.json's metric lists are well formed."""
    seen = set()
    for section in ("end_to_end", "per_layer"):
        for m in spec[section]:
            if not valid_name(m["name"]) or m["name"] in seen:
                raise ValueError("bad or repeated metric name %r" % m["name"])
            seen.add(m["name"])
            if not UNIT_RE.match(m["unit"]) or m["better"] not in ("lower", "higher"):
                raise ValueError("bad unit or direction for %s" % m["name"])
    for w in spec["workloads"]:
        if w["name"] not in PRIMARY_OP:
            raise ValueError("no workload named %s in this benchmark" % w["name"])

"""Turns one JVM run record into the benchmark's metrics.

The end-to-end metrics come from runs with tracing off; the per-layer
metrics from a traced run. Every metric is printed with its unit, and a
workload prints every metric of its kind: a layer the workload does not run
reads 0.
"""

import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
MAX_END_TO_END = 16
MAX_PER_LAYER = 128

# Percentiles the tail rule may pick from.
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("build_s", "s", "lower"),
    ("query_p50_ms", "ms", "lower"),
    ("query_p75_ms", "ms", "lower"),
    ("query_qps", "1/s", "higher"),
    ("heap_live_mb", "MB", "lower"),
    ("index_bytes_per_input_byte", "ratio", "lower"),
]

# Query classes in report order (the union of both mixes, plus the
# queries run against base + deltas on the write path).
CLASSES = ["and", "or", "bool", "msm", "dismax", "phrase", "near",
           "rare_and", "no_hit", "prefix", "wildcard", "regex", "fuzzy",
           "trange", "filtered", "collapse", "sortby", "facets", "delta_and"]

PER_LAYER = [
    ("query.plan_ms.p50", "ms"),
    ("query.plan_jobs", "count"),
    ("query.exec_ms.p50", "ms"),
    ("query.jobs", "count"),
    ("query.stages", "count"),
    ("query.tasks", "count"),
    ("query.scan_bytes", "bytes"),
    ("query.scan_rows", "count"),
    ("query.shuffle_bytes", "bytes"),
    ("query.map_task_ms", "ms"),
    ("query.reduce_task_ms", "ms"),
    ("query.candidates_scored", "count"),
    ("query.candidates_pruned", "count"),
    ("query.prune_ratio", "ratio"),
    ("query.shards_touched", "count"),
    ("query.samples", "count"),
] + [("query.class.%s.p50_ms" % c, "ms") for c in CLASSES] + [
    ("query.open_ms", "ms"),
    ("query.first_ms", "ms"),
    ("index.build.task_ms", "ms"),
    ("index.build.cpu_ms", "ms"),
    ("index.build.gc_ms", "ms"),
    ("index.build.shuffle_write_bytes", "bytes"),
    ("index.build.spill_bytes", "bytes"),
    ("index.build.input_bytes", "bytes"),
    ("index.build.output_bytes", "bytes"),
    ("index.build.stages", "count"),
    ("index.build.core_util", "ratio"),
    ("index.build.task_skew", "ratio"),
    ("index.postings", "count"),
    ("index.terms", "count"),
    ("index.segments", "count"),
    ("index.bytes.postings", "bytes"),
    ("index.bytes.dict", "bytes"),
    ("index.bytes.docs", "bytes"),
    ("index.bytes.dlens", "bytes"),
    ("streaming.index_batch_ms.p50", "ms"),
    ("index.apply_deletes_ms.p50", "ms"),
    ("freshness_p50_ms", "ms"),
    ("compact_s", "s"),
    ("index.compact.task_ms", "ms"),
    ("index.compact.shuffle_write_bytes", "bytes"),
    ("index.compact.spill_bytes", "bytes"),
    ("jvm.gc_ms", "ms"),
    ("jvm.heap_live_mb", "MB"),
    ("check_s", "s"),
    ("trace.overhead_ms", "ms"),
    ("host.external_busy_cores", "cores"),
    ("host.own_cores", "cores"),
]


def validate_spec():
    """Names unique and well formed, units well formed, within the caps."""
    names = [m[0] for m in END_TO_END] + [m[0] for m in PER_LAYER]
    problems = []
    if len(END_TO_END) > MAX_END_TO_END:
        problems.append("%d end-to-end metrics > %d" % (len(END_TO_END), MAX_END_TO_END))
    if len(PER_LAYER) > MAX_PER_LAYER:
        problems.append("%d per-layer metrics > %d" % (len(PER_LAYER), MAX_PER_LAYER))
    problems += ["bad name %r" % n for n in names if not NAME_RE.match(n)]
    problems += ["duplicate name %r" % n for n in set(names) if names.count(n) > 1]
    units = [m[1] for m in END_TO_END] + [m[1] for m in PER_LAYER]
    problems += ["bad unit %r" % u for u in units if not UNIT_RE.match(u)]
    return problems


def percentile(values, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_percentile(n):
    """The highest ladder percentile with at least MIN_BEYOND of the n
    samples beyond it, or None when not even the median qualifies."""
    best = None
    for p in LADDER:
        at_or_below = math.ceil(n * p / 100.0 - 1e-9)
        if n - at_or_below >= MIN_BEYOND:
            best = p
    return best


def median(values):
    return percentile(values, 50.0)


def mean(values):
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def latency(op):
    return op["plan_ms"] + op["exec_ms"]


def end_to_end(rec):
    ops = rec["ops"]
    lat = [latency(o) for o in ops]
    idx = rec["index"]
    index_bytes = sum(idx["bytes"].values())
    return {
        "setup_s": median([s["total_s"] for s in rec["setups"]]),
        "build_s": median([s["build_s"] for s in rec["setups"]]),
        "query_p50_ms": percentile(lat, 50.0),
        "query_p75_ms": percentile(lat, 75.0),
        "query_qps": len(ops) / rec["window_s"],
        "heap_live_mb": rec["heap_live_mb"],
        "index_bytes_per_input_byte": index_bytes / idx["content_bytes"],
    }


def per_layer(rec):
    groups = rec.get("groups", {})
    empty = {}

    def group(name):
        return groups.get(name, empty)

    ops = rec["ops"]
    traced = [o for o in ops if o["traced"]]
    plain = [o for o in ops if not o["traced"]]
    plan = [group(o["id"] + ".query.plan") for o in traced]
    exe = [group(o["id"] + ".query.exec") for o in traced]
    scored = sum(o["acc"][0] for o in traced)
    pruned = sum(o["acc"][1] for o in traced)
    m = {
        "query.plan_ms.p50": median([o["plan_ms"] for o in traced]),
        "query.plan_jobs": mean(g.get("jobs", 0) for g in plan),
        "query.exec_ms.p50": median([o["exec_ms"] for o in traced]),
        "query.jobs": mean(g.get("jobs", 0) for g in exe),
        "query.stages": mean(g.get("stages", 0) for g in exe),
        "query.tasks": mean(g.get("tasks", 0) for g in exe),
        "query.scan_bytes": mean(g.get("input_bytes", 0) for g in exe),
        "query.scan_rows": mean(g.get("input_rows", 0) for g in exe),
        "query.shuffle_bytes": mean(g.get("shuffle_write_bytes", 0) for g in exe),
        "query.map_task_ms": mean(g.get("map_task_ms", 0) for g in exe),
        "query.reduce_task_ms": mean(g.get("reduce_task_ms", 0) for g in exe),
        "query.candidates_scored": mean(o["acc"][0] for o in traced),
        "query.candidates_pruned": mean(o["acc"][1] for o in traced),
        "query.prune_ratio": pruned / (scored + pruned) if scored + pruned else 0.0,
        "query.shards_touched": mean(o["acc"][2] for o in traced),
        "query.samples": len(ops),
    }
    write = rec.get("write") or {}
    by_class = {}
    for o in ops + write.get("delta_ops", []):
        by_class.setdefault(o["cls"], []).append(latency(o))
    for c in CLASSES:
        m["query.class.%s.p50_ms" % c] = median(by_class.get(c, []))

    setups = rec["setups"]
    m["query.open_ms"] = median([s["open_ms"] for s in setups])
    m["query.first_ms"] = median([s["first_ms"] for s in setups])
    builds = [group(s["group"] + ".index.build") for s in setups]
    for key in ("task_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes", "spill_bytes",
                "input_bytes", "output_bytes", "stages"):
        m["index.build." + key] = mean(g.get(key, 0) for g in builds)
    walls = [s["build_s"] * 1000.0 * rec["cpus"] for s in setups]
    m["index.build.core_util"] = mean(g.get("task_ms", 0) / w for g, w in zip(builds, walls))
    m["index.build.task_skew"] = mean(g.get("task_skew", 0) for g in builds)

    idx = rec["index"]
    m["index.postings"] = idx["postings"]
    m["index.terms"] = idx["terms"]
    m["index.segments"] = idx["segments"]
    for art in ("postings", "dict", "docs", "dlens"):
        m["index.bytes." + art] = idx["bytes"][art]

    cycles = write.get("cycles", [])
    m["streaming.index_batch_ms.p50"] = median([c["index_batch_ms"] for c in cycles])
    m["index.apply_deletes_ms.p50"] = median([c["apply_deletes_ms"] for c in cycles])
    m["freshness_p50_ms"] = median([c["freshness_ms"] for c in cycles])
    m["compact_s"] = write.get("compact_s", 0.0)
    comp = group("compact.index.compact")
    m["index.compact.task_ms"] = comp.get("task_ms", 0)
    m["index.compact.shuffle_write_bytes"] = comp.get("shuffle_write_bytes", 0)
    m["index.compact.spill_bytes"] = comp.get("spill_bytes", 0)

    m["jvm.gc_ms"] = rec["gc_window_ms"]
    m["jvm.heap_live_mb"] = rec["heap_live_mb"]
    m["check_s"] = rec["check_s"]
    m["trace.overhead_ms"] = (median([latency(o) for o in traced])
                              - median([latency(o) for o in plain]))
    m["host.external_busy_cores"] = rec["host"]["external_busy_cores"]
    m["host.own_cores"] = rec["host"]["own_cores"]
    return m


def self_times(spans):
    """Total self time per span name (ms): a span's duration minus the part
    of it its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = sum(c["end_ns"] - c["start_ns"] for c in children.get(s["id"], []))
        self_ns = (s["end_ns"] - s["start_ns"]) - covered
        out[s["name"]] = out.get(s["name"], 0.0) + self_ns / 1e6
    return out


def result(rec, traced):
    """The final result object of one run."""
    if traced:
        spec, values = PER_LAYER, per_layer(rec)
    else:
        spec, values = [(n, u) for n, u, _ in END_TO_END], end_to_end(rec)
    metrics = {name: {"value": float(values[name]), "unit": unit} for name, unit in spec}
    return {
        "correct": rec["failed"] == 0,
        "attempted": int(rec["attempted"]),
        "failed": int(rec["failed"]),
        "metrics": metrics,
    }

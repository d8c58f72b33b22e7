"""Statistics, workload definitions and metric specs of the graft benchmark.

Pure Python with no dependencies, so `tests/test_lib.py` can check it
without building graft.
"""
import json
import os
import random
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
CATALOG = os.path.join(HERE, "catalog.json")

# Families whose queries drain a stream, or read or write through a
# source or sink, inside their build call: the write path.
STREAM_FAMILIES = ("stream",)
IO_FAMILIES = ("src", "snk", "pipeline")


# ---------------------------------------------------------------- stats

def median(xs):
    if not xs:
        raise ValueError("median of an empty sample")
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as `statistics.quantiles(xs, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def iqr_share(xs):
    """Distance between the first and third quartile, over the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


# ------------------------------------------------------------ workloads

def family(name):
    return name.split("_")[0]


def group(name):
    """batch, stream (the 13 streaming feeds) or io (sources, sinks and
    pipelines)."""
    f = family(name)
    return "stream" if f in STREAM_FAMILIES else "io" if f in IO_FAMILIES else "batch"


def load_catalog(path=CATALOG):
    with open(path) as f:
        return json.load(f)


# Why each workload exists, and why it has so few queries, is in
# README.md. Both read the sf0.01 tables shipped in data/.
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = {
    "registry_sf0.01": ["snk_merge", "stream_sessionize_feed", "win_running_distinct"],
    "kernels_sf0.01": ["agg_winsorized_dist", "join_interval_overlap"],
}


def workload_queries(workload, seed):
    """The workload's queries in the order the seed fixes."""
    names = list(WORKLOADS[workload])
    random.Random(seed).shuffle(names)
    return names


# -------------------------------------------------------------- metrics

# (name, unit, better, bound); bound is the share of the parent's median
# a metric may worsen by before a change counts as a regression.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("sweep_s", "s", "lower", 0.25),
    ("query_p50_s", "s", "lower", 0.25),
]

# (name, unit, better)
PER_LAYER = [
    ("setup.session_s", "s", "lower"),
    ("setup.preflight_s", "s", "lower"),
    ("cold.first_pass_s", "s", "lower"),
    ("caches.stages", "count", "lower"),
    ("caches.storage_mb", "MB", "lower"),
    ("operators.build_s", "s", "lower"),
    ("operators.build_jobs", "count", "lower"),
    ("plans.plan_s", "s", "lower"),
    ("plans.exchanges", "count", "lower"),
    ("plans.cache_scans", "count", "higher"),
    ("exec.exec_s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.task_s", "s", "lower"),
    ("exec.busy", "frac", "higher"),
    ("exec.shuffle_write_mb", "MB", "lower"),
    ("exec.spill_mb", "MB", "lower"),
    ("exec.input_mb", "MB", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.input_rows", "count", "lower"),
    ("streaming.add_batch_s", "s", "lower"),
    ("streaming.commit_s", "s", "lower"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.state_mb", "MB", "lower"),
    ("sources.exec_s", "s", "lower"),
    ("sources.output_mb", "MB", "lower"),
    ("jvm.cpu_s", "s", "lower"),
    ("jvm.gc_s", "s", "lower"),
    ("jvm.jit_s", "s", "lower"),
    ("host.steal_s", "s", "lower"),
    ("trace.sweep_s", "s", "lower"),
]

MB = 1024.0 * 1024.0


def _warm(raw):
    return [q for q in raw["queries"] if q["pass"] > 0]


def _per_query_medians(rows, key):
    by = {}
    for q in rows:
        if "error" not in q:
            by.setdefault(q["name"], []).append(q[key])
    return {n: median(v) for n, v in by.items()}


def end_to_end(raw):
    latency = _per_query_medians(_warm(raw), "total_s").values()
    return {
        "setup_s": raw["setup"]["total_s"],
        "sweep_s": sum(latency),
        "query_p50_s": median(list(latency)),
    }


def per_layer(raw, cpus):
    """Per-layer metrics: each is summed over a warm pass, and the
    median over the warm passes is reported."""
    passes = [p for p in raw["passes"] if p["pass"] > 0]
    rows = [q for q in _warm(raw) if "error" not in q]

    def summed(f):
        per = {p["pass"]: 0.0 for p in passes}
        for q in rows:
            per[q["pass"]] += f(q)
        return median(list(per.values()))

    def both(key):
        return lambda q: q["build." + key] + q["exec." + key]

    wall = {p["pass"]: p["wall_s"] for p in passes}
    busy = {p["pass"]: 0.0 for p in passes}
    for q in rows:
        busy[q["pass"]] += both("task_ms")(q) / 1e3
    io = lambda q: group(q["name"]) == "io"
    setup = raw["setup"]
    return {
        "setup.session_s": setup["session_s"],
        "setup.preflight_s": setup["preflight_s"],
        "cold.first_pass_s": raw["first_pass_s"],
        "caches.stages": raw["cache_stages"],
        "caches.storage_mb": raw["cache_bytes"] / MB,
        "operators.build_s": summed(lambda q: q["build_s"]),
        "operators.build_jobs": summed(lambda q: q["build.jobs"]),
        "plans.plan_s": summed(lambda q: q["plan_s"]),
        "plans.exchanges": summed(lambda q: q["exchanges"]),
        "plans.cache_scans": summed(lambda q: q["cache_scans"]),
        "exec.exec_s": summed(lambda q: q["exec_s"]),
        "exec.jobs": summed(lambda q: q["exec.jobs"]),
        "exec.stages": summed(lambda q: q["exec.stages"]),
        "exec.tasks": summed(lambda q: q["exec.tasks"]),
        "exec.task_s": summed(lambda q: q["exec.task_ms"] / 1e3),
        "exec.busy": median([busy[p] / (cpus * wall[p]) for p in wall]),
        "exec.shuffle_write_mb": summed(lambda q: q["exec.shuffle_write_bytes"] / MB),
        "exec.spill_mb": summed(lambda q: q["exec.spill_bytes"] / MB),
        "exec.input_mb": summed(lambda q: q["exec.input_bytes"] / MB),
        "streaming.batches": summed(both("batches")),
        "streaming.input_rows": summed(both("input_rows")),
        "streaming.add_batch_s": summed(lambda q: both("add_batch_ms")(q) / 1e3),
        "streaming.commit_s": summed(lambda q: both("commit_ms")(q) / 1e3),
        "streaming.state_rows": summed(both("state_rows")),
        "streaming.state_mb": summed(lambda q: both("state_bytes")(q) / MB),
        "sources.exec_s": summed(lambda q: q["total_s"] if io(q) else 0.0),
        "sources.output_mb": summed(lambda q: both("output_bytes")(q) / MB),
        "jvm.cpu_s": median([p["cpu_s"] for p in passes]),
        "jvm.gc_s": median([p["gc_s"] for p in passes]),
        "jvm.jit_s": median([p["jit_s"] for p in passes]),
        "host.steal_s": median([p["steal_s"] for p in passes]),
        "trace.sweep_s": end_to_end(raw)["sweep_s"],
    }


def check(raw, goldens):
    """Names of queries that threw in any execution or whose result
    differs from its golden. A query recorded as nondeterministic is
    checked by row count only."""
    failed = {q["name"] for q in raw["queries"] if "error" in q}
    for name, got in raw["check"].items():
        gold = goldens[name]
        if "error" in got or got["rows"] != gold["rows"]:
            failed.add(name)
        elif gold["deterministic"] and got["hash"] != gold["hash"]:
            failed.add(name)
    return failed


def result_line(metrics, specs, attempted, failed):
    """The benchmark's last stdout line."""
    return json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit}
                    for name, unit, *_ in specs},
    })

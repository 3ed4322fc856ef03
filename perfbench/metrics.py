"""Metrics of one benchmark run, derived from the raw records of the
Scala runner.

Every record is one JSON object with a `kind`; times are milliseconds since
the runner's start. Nothing here talks to Spark, so each derivation is
unit-tested on hand-made records (`tests/test_metrics.py`).
"""
import math
import statistics
from collections import defaultdict

INF = float("inf")


def percentile(values, p):
    """Percentile by linear interpolation between closest ranks (the
    "inclusive" method). Failed operations enter as +inf, and a percentile
    that touches one is +inf too, so failures can never flatter it."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    if INF in (xs[lo], xs[hi]):
        return INF
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def read_latencies(ops):
    """Latency of each timed op; a failed op counts as +inf."""
    return [(o["end"] - o["start"]) if o["ok"] else INF for o in ops]


def lateness(batches):
    """How late the open-loop generator started each batch: start minus due,
    never negative."""
    return [max(0.0, b["start"] - b["due"]) for b in batches]


def ingest_latency(batches):
    """Batch latency from the batch's due time until its last sink commit,
    so time spent queued behind a slow writer counts."""
    return [b["end"] - b["due"] for b in batches]


def union_length(intervals, lo=-INF, hi=INF):
    """Total length covered by `intervals`, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - union_length(children, s, e)


def attribute(ops, jobs, stages, plans):
    """Jobs, stages and plan phases of each op. A job belongs to the op
    whose id its job group names (`op-<id>`), a stage to the job group it
    ran under; plan records name their op."""
    by_op = {o["id"]: {"jobs": [], "stages": [], "plans": []} for o in ops}

    def op_of(group):
        if not group or not group.startswith("op-"):
            return None
        oid = int(group[3:])
        return oid if oid in by_op else None

    for j in jobs:
        oid = op_of(j.get("group"))
        if oid is not None:
            by_op[oid]["jobs"].append(j)
    for s in stages:
        oid = op_of(s.get("group"))
        if oid is not None:
            by_op[oid]["stages"].append(s)
    for p in plans:
        if p["op"] in by_op:
            by_op[p["op"]]["plans"].append(p)
    return by_op


def layer_self_times(op, parts):
    """Self time of each layer inside one op's span tree: the op parents its
    build and action spans; jobs launched while building belong to the
    build, the rest to the action; each job parents its stages."""
    build = (op["start"], op["built"])
    action = (op["built"], op["end"])
    jobs = [(j["start"], j["end"]) for j in parts["jobs"]]
    stages = [(s["start"], s["end"]) for s in parts["stages"]
              if s.get("start") is not None and s.get("end") is not None]
    build_jobs = [j for j in jobs if j[0] < op["built"]]
    action_jobs = [j for j in jobs if j[0] >= op["built"]]
    return {
        "client": self_time((op["start"], op["end"]), [build, action]),
        "engine": self_time(build, build_jobs),
        "driver": self_time(action, action_jobs),
        "sched": sum(self_time(j, [st for st in stages if j[0] <= st[0] < j[1]])
                     for j in jobs),
        "exec": union_length(stages, op["start"], op["end"]),
    }


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def _by_kind(records):
    out = defaultdict(list)
    for r in records:
        out[r["kind"]].append(r)
    return out


def _one(k, kind):
    return k[kind][0] if k.get(kind) else {}


def end_to_end(records, op_names):
    """The user-visible metrics of a run: set-up time, read latency
    percentiles and throughput, the one-pass time over the op list, and the
    driver heap after a forced GC. The upper percentile is the 70th, which
    keeps ten or more of a run's 50-65 reads above it."""
    k = _by_kind(records)
    win = _one(k, "window")
    timed = [o for o in k["op"] if o["phase"] == "timed" and o["client"] >= 0]
    lat = read_latencies(timed)
    ok = [o for o in timed if o["ok"]]
    per_name = defaultdict(list)
    for o in ok:
        per_name[o["name"]].append(o["end"] - o["start"])
    pipeline = sum(statistics.median(per_name[n]) if per_name[n] else INF for n in op_names)
    return {
        "setup_s": _one(k, "setup")["setup_ms"] / 1000.0,
        "query_p50_ms": percentile(lat, 50),
        "query_p70_ms": percentile(lat, 70),
        "queries_per_s": len(ok) / ((win["end"] - win["start"]) / 1000.0),
        "pipeline_s": pipeline / 1000.0,
        "heap_after_gc_mb": _one(k, "heap")["used_mb"],
    }


def served(records, user_bytes, batch_bytes):
    """Writer-side metrics: ingest latency and backlog, and the store's space
    amplification at the end of the run: store bytes on disk over the user
    bytes of the base tables plus every batch landed. All 0 when the run had
    no writer."""
    k = _by_kind(records)
    batches = k.get("batch", [])
    writer = _one(k, "writer")
    user = user_bytes + sum(batch_bytes.get(b["batch"], 0) for b in batches)
    return {
        "ingest_p50_ms": statistics.median(ingest_latency(batches)) if batches else 0.0,
        "ingest_backlog": writer.get("backlog", 0),
        "space_amp": writer["store_bytes"] / user if writer else 0.0,
    }


def overhead_pct(ops):
    """Tracing overhead: geometric mean over op names of (traced mean
    latency / untraced mean latency), minus one, in percent. Pairing by name
    keeps a different op mix in the two halves from posing as overhead."""
    lat = defaultdict(lambda: ([], []))
    for o in ops:
        if o["ok"]:
            lat[o["name"]][1 if o["traced"] else 0].append(o["end"] - o["start"])
    logs = [math.log(_mean(t) / _mean(u)) for u, t in lat.values() if u and t]
    return (math.exp(statistics.fmean(logs)) - 1.0) * 100.0 if logs else 0.0


def per_layer(records, cores, user_bytes, batch_bytes):
    """Layer metrics of a `--trace 1` run: per traced op from the traced
    half, and over the whole window per sink call or per batch for the
    writer."""
    k = _by_kind(records)
    timed = [o for o in k["op"] if o["phase"] == "timed" and o["client"] >= 0]
    traced = [o for o in timed if o["traced"]]
    n = max(1, len(traced))
    parts = attribute(traced, k.get("job", []), k.get("stage", []), k.get("plan", []))
    counters = {c["at"]: c for c in k["counters"]}
    c0, c1 = counters.get("trace", counters["start"]), counters["end"]
    win = _one(k, "window")
    traced_wall = win["end"] - (win.get("trace_from") or win["start"])

    def per_op(f):
        return sum(f(parts[o["id"]]) for o in traced) / n

    def stage_sum(field, scale=1.0):
        return per_op(lambda p: sum(s[field] for s in p["stages"]) * scale)

    compiles = c1["compiles"] - c0["compiles"]
    if c1["reservoir_n"] >= c1["compiles"]:
        compile_ms = c1["compile_ms_reservoir"] - c0["compile_ms_reservoir"]
    else:  # reservoir full: fall back to its mean
        compile_ms = compiles * c1["compile_ms_mean"]
    selfs = defaultdict(float)
    for o in traced:
        for layer, v in layer_self_times(o, parts[o["id"]]).items():
            selfs[layer] += v / n

    # the writer's calls are timed from outside and cost nothing to trace,
    # so its metrics cover the whole window
    sinks = k.get("sink", [])
    sinks_by = defaultdict(list)
    for s in sinks:
        sinks_by[s["step"]].append(s["end"] - s["start"])
    batches = k.get("batch", [])
    segs = [float(b["segments_visible"]) for b in batches if b.get("segments_visible") is not None]
    ingested = sum(batch_bytes.get(b["batch"], 0) for b in batches)
    stores = _one(k, "stores")
    run_ms = sum(s["run_ms"] for p in parts.values() for s in p["stages"])
    mb = 1.0 / (1024 * 1024)
    m = {
        "engine.build_ms": _mean([o["built"] - o["start"] for o in traced]),
        "plan.analysis_ms": per_op(lambda p: sum(x["analysis_ms"] for x in p["plans"])),
        "plan.optimization_ms": per_op(lambda p: sum(x["optimization_ms"] for x in p["plans"])),
        "plan.planning_ms": per_op(lambda p: sum(x["planning_ms"] for x in p["plans"])),
        "codegen.compiles": compiles / n,
        "codegen.compile_ms": compile_ms / n,
        "sched.jobs": per_op(lambda p: len(p["jobs"])),
        "sched.stages": per_op(lambda p: len(p["stages"])),
        "sched.tasks": stage_sum("tasks"),
        "sched.floor_ms": _mean([(o["end"] - o["start"]) - union_length(
            [(j["start"], j["end"]) for j in parts[o["id"]]["jobs"]], o["start"], o["end"])
            for o in traced]),
        "sched.task_wait_ms": stage_sum("task_wait_ms"),
        "exec.run_ms": stage_sum("run_ms"),
        "exec.cpu_ms": stage_sum("cpu_ms"),
        "exec.gc_ms": stage_sum("gc_ms"),
        "exec.shuffle_write_mb": stage_sum("shuffle_write_b", mb),
        "exec.shuffle_read_mb": stage_sum("shuffle_read_b", mb),
        "exec.spill_mb": stage_sum("spill_b", mb),
        "exec.util": run_ms / (traced_wall * cores) if traced_wall > 0 else 0.0,
        "sources.refresh_postings_ms": _mean(sinks_by["refresh_postings"]),
        "sources.refresh_rollup_ms": _mean(sinks_by["refresh_rollup"]),
        "sources.refresh_sketch_ms": _mean(sinks_by["refresh_sketch"]),
        "sources.compact_ms": _mean(sinks_by["compact"]),
        "sources.segments_visible": _mean(segs),
        "sources.fs_read_ops": (c1["fs_read_ops"] - c0["fs_read_ops"]) / n,
        "sources.write_amp": (sum(b["bytes_written"] for b in batches) / ingested) if ingested else 0.0,
        "session.open_stores_ms": stores.get("open_ms", 0.0),
        "session.store_build_ms": stores.get("build_ms", 0.0),
        "client.ingest_late_ms": _mean(lateness(batches)),
        "jvm.driver_gc_ms": c1["driver_gc_ms"] - c0["driver_gc_ms"],
        "trace.overhead_pct": overhead_pct(timed),
    }
    for layer in ("client", "engine", "driver", "sched", "exec"):
        m[f"self.{layer}_ms"] = selfs[layer]
    m["self.sources_ms"] = sum(s["end"] - s["start"] for s in sinks) / max(1, len(batches))
    m.update(served(records, user_bytes, batch_bytes))
    return m

"""The benchmark: one run of one workload, checked, with its metrics.

    python3 perfbench/run.py --workload interactive_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the engine and the Scala runner
from source (`build.py`), makes the workload's inputs from the seed
(`gen.py`), runs the runner (`src/perfbench/Main.scala`) in a fresh JVM, checks
every answer against its DuckDB oracle outside the timed window
(`oracle.py`), and prints the metrics (`metrics.py`). Everything it writes
goes under `.perfbench/` in the checkout; the run's own directory is removed
at the end. The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones (see README.md). A run that cannot build or cannot finish
exits non-zero without printing a result.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

STATE = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170
E2E_UNITS = {"setup_s": "s", "query_p50_ms": "ms", "query_p70_ms": "ms",
             "queries_per_s": "1/s", "pipeline_s": "s", "heap_after_gc_mb": "MB"}


def layer_unit(name):
    for suffix, unit in (("_ms", "ms"), ("_mb", "MB"), ("_pct", "%"), ("_amp", "ratio"),
                         ("util", "ratio"), ("error_rate", "ratio"), ("backlog", "batches")):
        if name.endswith(suffix):
            return unit
    return "count"


def make_inputs(spec, seed, seconds, work):
    """Corpus (and ingest batches) for this seed; returns user bytes of the
    tables the stores index and the byte size of each batch."""
    data = os.path.join(work, "data")
    tables = gen.corpus(seed, spec["scale"])
    gen.write(tables, data)
    user = sum(os.path.getsize(os.path.join(data, f"{t}.parquet"))
               for t in ("documents", "events", "embeddings"))
    batch_bytes = {}
    w = spec.get("writer")
    if w:
        bdir = os.path.join(work, "batches")
        os.makedirs(bdir)
        n = int(math.ceil(seconds * 1000.0 / w["interval_ms"])) + 1
        for i, (docs, events) in enumerate(gen.ingest_batches(
                seed, tables, n, w["docs_per_batch"], w["events_per_batch"])):
            gen.write({f"docs_{i:03d}": docs, f"events_{i:03d}": events}, bdir)
            batch_bytes[i] = sum(os.path.getsize(os.path.join(bdir, f"{k}_{i:03d}.parquet"))
                                 for k in ("docs", "events"))
    return data, user, batch_bytes


def run_jvm(cp, args, spec_path, data, work, cores, deadline):
    out = os.path.join(work, "run.jsonl")
    cmd = [*build.java_command(cp, "perfbench.Main", f"{work}/tmp"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--spec", spec_path, "--data", data, "--work", work, "--out", out,
           "--cores", str(cores)]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("the Spark run did not finish in time")
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"the Spark run failed with exit code {code}:\n{tail}")
    with open(out) as f:
        return [json.loads(line) for line in f]


def check(records, spec, work, data):
    """Every answer, checked outside the timed window. Returns (attempted,
    failed, problems, findings): timed ops must succeed and, where their
    answer cannot change during the run, equal their reference answer; each
    reference must equal the oracle; bulk re-executions must reproduce the
    reference digest. With a writer, every op runs once more after it has
    stopped: an op whose store the writer refreshes must equal its oracle
    over base plus ingested rows, any other op its reference answer. An op
    on the workload's `known_defects` list that disagrees with its oracle is
    reported as a finding instead of a failure."""
    ops = [r for r in records if r["kind"] == "op"]
    warm = {o["name"]: o for o in ops if o["phase"] == "warm"}
    timed = [o for o in ops if o["phase"] == "timed"]
    moving = set(spec.get("ingest_sensitive", []))
    defects = spec.get("known_defects", {})
    problems = []
    findings = []
    failed = 0
    for o in timed:
        ref = warm.get(o["name"])
        if not o["ok"]:
            failed += 1
            problems.append(f"{o['name']} failed: {o['err']}")
        elif o["name"] not in moving and (ref is None or o["digest"] != ref["digest"]):
            failed += 1
            problems.append(f"{o['name']} answer differs from its reference")
    names = list(spec["ops"]) + list(spec.get("probe", {}))
    attempted = len(timed) + len(names)
    for n in names:
        if n not in warm or not warm[n]["ok"]:
            failed += 1
            problems.append(f"{n} warm-up failed: {warm.get(n, {}).get('err')}")
    for o in ops:
        if o["phase"] == "dump" and (not o["ok"] or o["digest"] != warm[o["name"]]["digest"]):
            failed += 1
            problems.append(f"{o['name']} re-execution differs from its reference")
    oracle_json = os.path.join(work, "oracle_sql.json")
    con = oracle.connect(data)
    for n, why in oracle.check_dir(con, oracle_json, os.path.join(work, "ref"), names).items():
        if why and n in defects:
            findings.append(f"{n} disagrees with its oracle: {why} (known defect: {defects[n]})")
        elif why:
            bad = 1 + sum(1 for o in timed if o["name"] == n and o["ok"])
            failed += bad
            problems.append(f"{n} disagrees with its oracle: {why}")
    if "writer" in spec:
        attempted += len(names)
        landed = sorted({r["batch"] for r in records if r["kind"] == "batch"})
        extra = {"documents": [os.path.join(work, "batches", f"docs_{i:03d}.parquet") for i in landed],
                 "events": [os.path.join(work, "batches", f"events_{i:03d}.parquet") for i in landed]}
        final = {o["name"]: o for o in ops if o["phase"] == "final"}
        verdicts = oracle.check_dir(oracle.connect(data, extra), oracle_json,
                                    os.path.join(work, "final"), [n for n in names if n in moving])
        for n in names:
            got = final.get(n)
            if got is None or not got["ok"]:
                why = f"failed: {got['err'] if got else 'not run'}"
            elif n in moving:
                why = verdicts.get(n, "no oracle SQL to check it against")
            elif got["digest"] != warm.get(n, {}).get("digest"):
                why = "differs from its reference, although the writer does not touch its store"
            else:
                why = None
            label = f"{n} after {len(landed)} ingested batches"
            if why and n in defects:
                findings.append(f"{label}: {why} (known defect: {defects[n]})")
            elif why:
                failed += 1
                problems.append(f"{label}: {why}")
    for r in records:
        if r["kind"] == "sink" and r.get("err"):
            failed += 1
            problems.append(f"sink {r['step']} batch {r['batch']} failed: {r['err']}")
    return attempted, failed, problems, findings


def environment(records, load1):
    """What a reader needs to tell a machine change from a code change."""
    jvm = next((r for r in records if r["kind"] == "jvm"), {})
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    digest = hashlib.sha256()
    for p in build.sources():
        digest.update(open(p, "rb").read())
    return {"cores_granted": jvm.get("cores_granted"), "loadavg_1m_at_start": load1,
            "java": jvm.get("java_version"), "jvm": jvm.get("jvm"),
            "spark": jvm.get("spark_version"), "scala": jvm.get("scala_version"),
            "git_commit": commit, "source_sha256": digest.hexdigest()[:16],
            "codegen_cache_max_entries": jvm.get("codegen_cache_max_entries"),
            "spark_conf": jvm.get("spark_conf")}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    load1 = os.getloadavg()[0]
    spec_path = os.path.join(HERE, "ops.json")
    spec_all = json.load(open(spec_path))
    if args.workload not in spec_all:
        raise SystemExit(f"unknown workload {args.workload}; have {sorted(spec_all)}")
    spec = spec_all[args.workload]
    cp = build.build()
    # the run's own budget starts after the build: a cold build compiles the
    # whole engine and has its own timeout (build.BUILD_TIMEOUT_S)
    started = time.time()
    cores = os.cpu_count() or 1
    work = os.path.join(STATE, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data, user_bytes, batch_bytes = make_inputs(spec, args.seed, args.seconds, work)
        records = run_jvm(cp, args, spec_path, data, work, cores, started + DEADLINE_S)
        attempted, failed, problems, findings = check(records, spec, work, data)
        attempted += sum(1 for r in records if r["kind"] == "batch")
        env = environment(records, load1)
        e2e = metrics.end_to_end(records, list(spec["ops"]))
        layers = metrics.per_layer(records, cores, user_bytes, batch_bytes) if args.trace else {}
        if layers:
            layers["error_rate"] = failed / attempted
        served = metrics.served(records, user_bytes, batch_bytes)
        reads = sum(1 for r in records if r["kind"] == "op" and r["phase"] == "timed")
        if args.trace:
            trace_dir = os.path.join(STATE, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl"), "w") as f:
                for r in records:
                    if r["kind"] in ("op", "job", "stage", "sink", "plan", "batch"):
                        f.write(json.dumps(r) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"env {json.dumps(env, sort_keys=True)}")
    for p in problems:
        print(f"problem {p}")
    for f in findings:
        print(f"finding {f}")
    shown = dict(e2e)
    shown.update(served)
    shown["error_rate"] = failed / attempted
    print(f"metric {args.workload} timed reads = {reads}")
    for k, v in shown.items():
        print(f"metric {args.workload} {k} = {v:.6g} {E2E_UNITS.get(k, layer_unit(k))}")
    for k, v in layers.items():
        print(f"layer {args.workload} {k} = {v:.6g} {layer_unit(k)}")
    chosen = layers if args.trace else e2e
    units = layer_unit if args.trace else E2E_UNITS.get
    bad = [k for k, v in chosen.items() if not math.isfinite(v)]
    if bad:
        raise SystemExit(f"metrics not finite: {bad}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units(k)} for k, v in chosen.items()}}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark of the graft engine: one command, three workloads.

    python3 perfbench/run.py --workload <ingest|faces_warm|faces_cold> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (``perfbench/build.sbt``) and keeps the class
path under ``.bench_build/``; later runs reuse it while the sources are
unchanged. Inputs are generated from the seed (``gen.py``), the harness
(``src/main/scala/perfbench``) runs the workload in one JVM with one Spark
session, and this script checks the outputs, computes the metrics and
prints them. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

``spec.json`` holds the face lists with the reason for each, the metric
map (layer metric -> end-to-end metric -> workload), the load shape and
the held-out seed.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SPEC = json.load(open(os.path.join(HERE, "spec.json")))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("ingest", "faces_warm", "faces_cold")
# Wall-clock guard: a run (after any build) must end within 180 s.
RUN_DEADLINE_S = 170
JVM_HEAP = "3g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build

def source_files():
    """Every file the build reads from the checkout, sorted."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(src, "**", "*.*"), recursive=True)
    return sorted(f for f in files if os.path.isfile(f))


def classpath():
    """Builds the engine and the harness unless an identical build exists;
    returns the runtime class path."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("the engine sources (build.sbt, src/main/scala) are not in this checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        saved = json.load(open(stamp))
        if saved["sources"] == digest:
            return saved["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # offline resolution through the user's sbt repositories file, unless
    # the caller configured sbt already
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, env=env, timeout=840)
    lines = open(log).read().strip().splitlines()
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    json.dump({"sources": digest, "classpath": cp}, open(stamp, "w"))
    return cp


# ----------------------------------------------------------------- inputs

def face_corpus():
    """The fixed face corpus, generated once per checkout."""
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        key = hashlib.sha256(fh.read() + repr(SPEC["face_corpus"]).encode()).hexdigest()[:16]
    d = os.path.join(BUILD, "corpus", key)
    if not os.path.isdir(d):
        tmp = d + f".tmp{os.getpid()}"
        gen.face_tables(tmp, seed=SPEC["face_corpus"]["seed"])
        os.rename(tmp, d)
    return d


def ingest_inputs(work, seed, seconds, trace):
    """Stages the warm-up backlog and the timed backlog (and, traced, an
    identical copy of it for the traced twins)."""
    cfg = SPEC["ingest"]
    scale = seconds / cfg["nominal_seconds"]
    plan = gen.plan_backlog(seed, max(1, round(cfg["delta_folders"] * scale)),
                            max(1, round(cfg["bulk_folders"] * scale)),
                            cfg["delta_rows"], cfg["bulk_rows"])
    pods = gen.pod_script(seed, len(plan))

    def backlog(name, folders, pod_script):
        bucket = os.path.join(work, name, "bucket")
        return {"bucket": bucket, "warehouse": os.path.join(work, name, "warehouse"),
                "folders": gen.stage_ingest_backlog(bucket, seed, folders),
                "pods": pod_script}

    warm = gen.plan_backlog(seed + 1_000_003, cfg["warmup_folders"], 0,
                            cfg["delta_rows"], 0)
    out = {"warmup": backlog("warmup", warm, [{}] * len(warm)),
           "timed": backlog("timed", plan, pods)}
    if trace:
        # the traced pass drains an identical copy of the timed backlog
        out["traced"] = dict(out["timed"], bucket=os.path.join(work, "traced", "bucket"),
                             warehouse=os.path.join(work, "traced", "warehouse"))
        shutil.copytree(out["timed"]["bucket"], out["traced"]["bucket"])
    return out


def faces_inputs(workload, seed, seconds):
    """A fixed number of passes for the run's length, each in a seeded
    order. Whole passes, so every run calls the same faces equally often."""
    spec = SPEC[workload]
    names = [f["name"] for f in spec["faces"]]
    n = max(1, round(seconds / spec["nominal_pass_s"]))
    return {"passes": [gen.face_order(f"{seed}-{p}", names) for p in range(n)],
            "families": {f["name"]: family(f["name"]) for f in spec["faces"]},
            "warmup_passes": spec.get("warmup_passes", 0)}


def family(face):
    for prefix, fam in SPEC["families"].items():
        if face.startswith(prefix):
            return fam
    raise KeyError(face)


# ------------------------------------------------------------------ check

def oracle_failures(result, corpus):
    """Compares each face's first result with its DuckDB oracle answer,
    canonicalized the way tools/check_correctness.py does."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import check_correctness as cc
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in cc.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    bad = {}
    for name, path in result["faces"].items():
        sql = result["oracle_sql"].get(name)
        if sql is None:
            bad[name] = "no oracle SQL"
            continue
        spark_rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
        try:
            duck_rel = con.sql(sql)
            d_cols, d_types, d_rows = duck_rel.columns, duck_rel.types, duck_rel.fetchall()
        except Exception as e:  # the oracle itself failed
            bad[name] = f"oracle error: {e}"
            continue
        s_cols, s_types = spark_rel.columns, spark_rel.types
        if cc.canon(spark_rel.fetchall(), s_cols) != cc.canon(d_rows, d_cols):
            bad[name] = "result differs from the oracle"
        elif cc.dtype_mismatches(s_cols, s_types, d_cols, d_types)[0]:
            bad[name] = "numeric column types differ from the oracle"
    return bad


# ---------------------------------------------------------------- metrics

def percentile(xs, p):
    xs = sorted(xs)
    k = (len(xs) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def end_to_end(result):
    ops = [o for o in result["ops"] if o["phase"] == "timed"]
    work = [o for o in ops if o["kind"] != "idle_poll"]
    done = [o for o in work if o["ok"]]
    lat = [o["latency_s"] for o in done]
    wall = sum(o["latency_s"] for o in work)
    m = {
        "setup_s": (result["setup_s"], "s"),
        "latency_p50_s": (statistics.median(lat) if lat else 0.0, "s"),
        "latency_tail_s": (percentile(lat, 90) if lat else 0.0, "s"),
        "throughput_ops_s": (len(done) / wall if wall else 0.0, "ops/s"),
        "throughput_rows_s": (sum(o["rows"] for o in done) / wall if wall else 0.0, "rows/s"),
        "error_rate": (sum(not o["ok"] for o in ops) / max(1, len(ops)), "ratio"),
        "cache_mb": (statistics.mean(o["cache_mb"] for o in ops) if ops else 0.0, "MB"),
    }
    # p90: a run holds 6 to 20 samples, too few for a higher percentile
    notes = {"latency_tail_s": f"p90 of {len(lat)} samples",
             "setup_s": "one set-up: session build, warm-up, cache fill",
             "throughput_rows_s": ("input rows committed to both sinks" if result["workload"] == "ingest"
                                   else "result rows returned to the caller")}
    return m, notes


def per_layer(result):
    """Per-layer metrics of the traced pass, each with its sample count."""
    ops = [o for o in result["ops"] if o["phase"] == "traced"]
    spans = result["spans"]
    roots = sorted((s for s in spans if s["parent"] == 0), key=lambda s: s["id"])
    traces = {t["op"]: t for t in result["op_traces"]}
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    # roots and ops are both in call order
    rows = [(o, r, traces[r["id"]], by_op[r["id"]]) for o, r in zip(ops, roots)]
    work = [x for x in rows if x[0]["kind"] != "idle_poll"]
    cycles = [x for x in work if x[0]["family"] == "ingest"]
    bulk = [x for x in cycles if x[0]["kind"] == "bulk"]

    def dur(s):
        return s["end_s"] - s["start_s"]

    def named(x, prefix):
        return [s for s in x[3] if s["name"].startswith(prefix)]

    def sink_spans(x):
        marks = {m["name"]: m["t_s"] for m in x[2]["marks"]}
        return [(marks[f"{k}.start"], marks[f"{k}.end"]) for k in ("neo4j", "elastic")
                if f"{k}.start" in marks and f"{k}.end" in marks]

    def union(intervals):
        total, reach = 0.0, float("-inf")
        for a, b in sorted(intervals):
            a = max(a, reach)
            if b > a:
                total += b - a
            reach = max(reach, b)
        return total

    def control(x):
        busy = sink_spans(x) + [(s["start_s"], s["end_s"]) for s in named(x, "sinks.metrics_append")]
        return x[0]["latency_s"] - union(busy)

    def rollout(x):
        marks = {m["name"]: m["t_s"] for m in x[2]["marks"]}
        total = 0.0
        for k in ("neo4j", "elastic"):
            writes = [s["end_s"] for s in named(x, f"sinks.write.{k}")]
            if writes and f"{k}.end" in marks:
                total += marks[f"{k}.end"] - max(writes)
        return total

    def build_s(x):
        # named builds nest (served_lrmodel contains lr_train), so their
        # summed timers can exceed the call; cap at the call's latency
        return min(x[0]["build_s"], x[0]["latency_s"])

    def total(x, key):
        return sum(s[key] for s in x[3])

    def mean(xs, f):
        vals = [f(x) for x in xs]
        return (statistics.mean(vals) if vals else 0.0), len(vals)

    m = {}

    def put(name, value_n, unit):
        m[name] = {"value": value_n[0], "unit": unit, "samples": value_n[1]}

    put("ingest.cycle_s", mean(cycles, lambda x: x[0]["latency_s"]), "s/op")
    put("ingest.cycles", (len(cycles), len(cycles)), "count")
    put("ingest.idle_polls", (sum(o["kind"] == "idle_poll" for o in ops),) * 2, "count")
    put("ingest.control_s", mean(cycles, control), "s/op")
    put("ingest.rollout_polls", mean(cycles, lambda x: x[0]["rollout_polls"]), "count/op")
    put("ingest.rollout_s", mean(cycles, rollout), "s/op")
    put("ingest.bulk_overlap", mean(bulk, lambda x: sum(b - a for a, b in sink_spans(x))
                                    / x[0]["latency_s"]), "ratio")
    put("sinks.write_s", mean(cycles, lambda x: sum(dur(s) for s in named(x, "sinks.write"))), "s/op")
    put("sinks.writes", mean(cycles, lambda x: len(named(x, "sinks.write"))), "count/op")
    put("sinks.metrics_append_s", mean(cycles, lambda x: sum(
        dur(s) for s in named(x, "sinks.metrics_append"))), "s/op")
    put("sources.rows_read", mean(cycles, lambda x: sum(
        s["input_records"] for s in named(x, "sinks.write"))), "rows/op")
    put("sources.bytes_read", mean(cycles, lambda x: sum(
        s["input_bytes"] for s in named(x, "sinks.write"))), "bytes/op")
    faces = [x for x in work if x[0]["family"] != "ingest"]
    put("registry.construct_s", mean(faces, lambda x: sum(
        dur(s) for s in named(x, "registry.construct"))), "s/op")
    put("registry.construct_jobs", mean(faces, lambda x: sum(
        s["jobs"] for s in named(x, "registry.construct"))), "count/op")
    put("registry.execute_s", mean(faces, lambda x: sum(
        dur(s) for s in named(x, "registry.execute"))), "s/op")
    for fam in sorted(set(SPEC["families"].values())):
        put(f"registry.{fam}.op_s", mean([x for x in faces if x[0]["family"] == fam],
                                         lambda x: x[0]["latency_s"] - build_s(x)), "s/op")
    put("catalyst.analysis_s", mean(work, lambda x: x[2]["analysis_ms"] / 1000), "s/op")
    put("catalyst.optimization_s", mean(work, lambda x: x[2]["optimization_ms"] / 1000), "s/op")
    put("catalyst.planning_s", mean(work, lambda x: x[2]["planning_ms"] / 1000), "s/op")
    put("spark.jobs", mean(work, lambda x: total(x, "jobs")), "count/op")
    put("spark.stages", mean(work, lambda x: total(x, "stages")), "count/op")
    put("spark.tasks", mean(work, lambda x: total(x, "tasks")), "count/op")
    put("spark.idle_s", mean(work, lambda x: x[0]["latency_s"] - x[2]["busy_s"]), "s/op")
    put("spark.task_run_s", mean(work, lambda x: total(x, "task_run_ms") / 1000), "s/op")
    put("spark.task_cpu_s", mean(work, lambda x: total(x, "task_cpu_ns") / 1e9), "s/op")
    put("spark.task_gc_s", mean(work, lambda x: total(x, "task_gc_ms") / 1000), "s/op")
    for key in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "input_bytes", "output_bytes"):
        put(f"spark.{key}", mean(work, lambda x, k=key: total(x, k)), "bytes/op")
    put("spark.failed_tasks", (sum(total(x, "failed_tasks") for x in rows), len(rows)), "count")
    put("cache.build_s", mean(work, build_s), "s/op")
    put("cache.builds", mean(work, lambda x: x[0]["builds"]), "count/op")
    warm = [x for x in work if x[0]["warm"]]
    put("cache.warm_rebuild_ratio", mean(warm, lambda x: float(x[0]["builds"] > 0)), "ratio")
    put("cache.resident_mb", mean(rows, lambda x: x[0]["cache_mb"]), "MB")
    put("cache.persisted_rdds", mean(rows, lambda x: x[0]["persisted_rdds"]), "count")
    put("plans.custom_exec_nodes", mean(work, lambda x: x[2]["custom_exec_nodes"]), "count/op")
    timed = [o["latency_s"] for o in result["ops"] if o["phase"] == "timed" and o["kind"] != "idle_poll"]
    traced = [x[0]["latency_s"] for x in work]
    overhead = statistics.median(traced) / statistics.median(timed) - 1 if timed and traced else None
    return m, overhead


# -------------------------------------------------------------------- run

def run_jvm(cp, plan_path, result_path, log_path, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(os.path.dirname(plan_path), "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every file the JVM writes stays in the run's work dir: temp files,
    # Spark's local dirs (the environment variable overrides the config)
    # and no hsperfdata file in the system temp dir
    cmd = [java] + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        "-Duser.language=en", "-Duser.country=US", "-cp", cp, "perfbench.Harness",
        plan_path, result_path]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(os.path.dirname(plan_path), "spark-local"))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=os.path.dirname(plan_path), env=env)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the harness did not finish in time, see {log_path}")
    if code != 0 or not os.path.exists(result_path):
        tail_lines = open(log_path, errors="replace").read().splitlines()[-15:]
        fail("the harness failed:\n" + "\n".join(tail_lines))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = classpath()
    deadline = time.time() + RUN_DEADLINE_S
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        corpus = face_corpus()
        plan = {"workload": args.workload, "trace": bool(args.trace),
                "cpus": len(os.sched_getaffinity(0)), "work_dir": work,
                "face_dir": corpus}
        if args.workload == "ingest":
            plan["ingest"] = ingest_inputs(work, args.seed, args.seconds, args.trace)
        else:
            plan.update(faces_inputs(args.workload, args.seed, args.seconds))
        gen_s = time.time() - t0
        plan_path = os.path.join(work, "plan.json")
        json.dump(plan, open(plan_path, "w"))
        result_path = os.path.join(work, "result.json")
        run_jvm(cp, plan_path, result_path, os.path.join(work, "harness.log"), deadline)
        result = json.load(open(result_path))

        errors = list(result["errors"])
        if args.workload != "ingest":
            bad = oracle_failures(result, corpus)
            errors += [f"{k}: {v}" for k, v in bad.items()]
            for o in result["ops"]:
                if o["kind"] in bad:
                    o["ok"], o["error"] = False, bad[o["kind"]]
        errors += [o["error"] for o in result["ops"] if not o["ok"] and o["error"] not in errors]
        ops = [o for o in result["ops"] if o["phase"] == "timed"]
        failed = sum(not o["ok"] for o in ops)
        e2e, notes = end_to_end(result)
        print(f"workload {args.workload}  seed {args.seed}  passes {result['passes']}  "
              f"input generation {gen_s:.2f} s (not in setup_s)")
        for name, (value, unit) in e2e.items():
            print(f"  {name:<20} {value:>14.6g} {unit:<7} {notes.get(name, '')}")
        for e in errors[:20]:
            print(f"  FAILED: {e}")

        results_dir = os.path.join(BUILD, "results")
        os.makedirs(results_dir, exist_ok=True)
        stem = os.path.join(results_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
        if args.trace:
            layer, overhead = per_layer(result)
            metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in layer.items()}
            print(f"  trace overhead: median traced latency {overhead:+.1%} against the untraced pass"
                  if overhead is not None else "  trace overhead: n/a")
            for k, v in layer.items():
                print(f"  {k:<32} {v['value']:>14.6g} {v['unit']:<9} n={v['samples']}")
            json.dump({"workload": args.workload, "seed": args.seed,
                       "trace_overhead": overhead, "metrics": layer,
                       "spans": result["spans"], "op_traces": result["op_traces"],
                       "ops": result["ops"]},
                      open(stem + "-spans.json", "w"))
        else:
            names = [m["name"] for m in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["end_to_end"]]
            metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in names}
        json.dump(result, open(stem + "-result.json", "w"))
        line = {"correct": not errors, "attempted": len(ops), "failed": failed, "metrics": metrics}
        json.dump(line, open(stem + ".json", "w"))
        print(json.dumps(line))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

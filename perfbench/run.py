#!/usr/bin/env python3
"""graft's benchmark: one command that builds the engine, prepares inputs,
runs one workload in a closed loop, checks every result and prints the
metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload ts_surface --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`; every other line goes to standard
error. `--trace 0` reports the end-to-end metrics, `--trace 1` the
per-layer metrics (see README.md for both lists and what each should
move). Everything the benchmark writes stays under `perfbench/.work`.
"""
import argparse
import hashlib
import importlib.util
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")

# Why each workload exists is in README.md. The lists are trimmed so that a
# whole run, warm-up included, stays under a minute on four cores.
WORKLOADS = {
    "ts_surface": dict(kind="batch", warmup_passes=2, min_passes=3, queries=[
        "q01_resample_avg", "q02_resample_ffill", "q04_range_flags",
        "q06_anomaly_ranges", "q07_off_condition", "q162_peak_census"]),
    "iterative_train": dict(kind="batch", warmup_passes=5, min_passes=3, queries=[
        "q26_ivf_ann", "q172_weighted_communities"]),
    "stream_replay": dict(kind="stream", span_min=60, warmup_batches=15, batches=5,
                          min_passes=3),
}


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sha256_files(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


def tree(*dirs, exts=(".scala", ".sbt", ".properties")):
    out = []
    for d in dirs:
        for base, subdirs, files in os.walk(d):
            subdirs[:] = [s for s in subdirs if s not in ("target", ".work")]
            out += [os.path.join(base, f) for f in files if f.endswith(exts)]
    return out


# ------------------------------------------------------------------- build

def build():
    """Compile engine + harness with sbt once per source state; the timed
    runs then start the JVM directly with the product's `javaOptions`."""
    launch = os.path.join(BENCH, "target", "launch.json")
    stamp_file = os.path.join(WORK, "build.stamp")
    srcs = tree(os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                os.path.join(BENCH, "project")) + [
        os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
        os.path.join(ROOT, "project", "build.properties")]
    stamp = sha256_files([p for p in srcs if os.path.isfile(p)])
    if os.path.exists(launch) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return json.load(open(launch))
    log("[perfbench] building engine and harness with sbt")
    t = time.time()
    # sbt's own global state and temporary files stay inside .work too
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as f:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             f"-Dsbt.global.base={os.path.join(WORK, 'sbt')}",
             f"-Djava.io.tmpdir={tmp}", "launchFile"],
            cwd=BENCH, stdout=f, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0 or not os.path.exists(launch):
        log(open(os.path.join(WORK, "build.log")).read()[-4000:])
        sys.exit("[perfbench] build failed")
    log(f"[perfbench] built in {time.time() - t:.1f}s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return json.load(open(launch))


# -------------------------------------------------------------------- data

def base_data():
    """sf0.1 tables from gen.py, reused only while both the generator's hash
    and the tables' content hash match their manifest."""
    d = os.path.join(WORK, "data", "sf0.1")
    manifest = os.path.join(d, "MANIFEST.json")
    tables = [os.path.join(d, f"{t}.parquet") for t in gen.TABLES]

    def stamp():
        return {"generator": sha256_files([os.path.join(BENCH, "gen.py")]),
                "content": sha256_files(tables)}
    if os.path.exists(manifest) and all(map(os.path.exists, tables)) and \
            json.load(open(manifest)) == stamp():
        return d
    shutil.rmtree(d, ignore_errors=True)
    gen.generate(d, 0.1)
    with open(manifest, "w") as f:
        json.dump(stamp(), f)
    return d


# ------------------------------------------------------------------ checks

def load_oracle_checker():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_failures(verify_dir, data_dir, oracle_sql, queries):
    """Compare each written result with its DuckDB oracle, rows and types,
    canonicalized exactly as tools/check_oracle.py does."""
    import duckdb
    co = load_oracle_checker()
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    bad = {}
    for q in queries:
        if q not in oracle_sql:
            bad[q] = "no oracle SQL"
            continue
        try:
            got_rel = con.sql(f"SELECT * FROM '{verify_dir}/{q}/*.parquet'")
            got_desc = list(zip(got_rel.columns, [str(t) for t in got_rel.types]))
            got = co.canon(got_rel.fetchall(), got_rel.columns)
            exp_rel = con.sql(oracle_sql[q])
            exp_desc = list(zip(exp_rel.columns, [str(t) for t in exp_rel.types]))
            exp = co.canon(exp_rel.fetchall(), exp_rel.columns)
        except Exception as e:  # a failed comparison is a failed result
            bad[q] = f"exception {e}"
            continue
        if sorted(got_rel.columns) != sorted(exp_rel.columns):
            bad[q] = f"columns spark={sorted(got_rel.columns)} oracle={sorted(exp_rel.columns)}"
        elif co.type_mismatches(got_desc, exp_desc):
            bad[q] = "types " + "; ".join(co.type_mismatches(got_desc, exp_desc))
        elif got != exp:
            bad[q] = f"rows spark={len(got)} oracle={len(exp)}"
    return bad


# ----------------------------------------------------------------- metrics

def tail(xs):
    """The highest percentile that leaves at least ten samples above it:
    (value, percentile, samples)."""
    s = sorted(xs)
    n = len(s)
    i = max(0, n - 11)
    return s[i], 100.0 * (i + 1) / n, n


def self_times(spans):
    """Per-layer self time: span duration minus the part its children
    cover, summed by layer."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    layer = {"query": "call", "stream.batch": "call", "ops.build": "ops_build",
             "exec.job": "exec_job", "exec.stage": "exec_stage"}
    out = {}
    for s in spans:
        iv = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                    for c in kids.get(s["id"], []))
        covered, cur = 0.0, None
        for a, b in iv:
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        name = layer.get(s["name"], "catalyst" if s["name"].startswith("catalyst.") else s["name"])
        out[name] = out.get(name, 0.0) + (s["end"] - s["start"] - covered) / 1e3
    return out


def cpu_ticks():
    """Aggregate CPU ticks from /proc/stat (empty where there is none)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def steal_frac(t0, t1):
    """Share of the machine's CPU time the hypervisor gave to others
    between two `cpu_ticks()` readings: a busy host shows here first."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(h, spans, cpus):
    passes = h["passes"]
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    n = len(traced)

    def per_pass(key, scale=1.0):
        return median([sum(c.get(key, 0) for c in p["calls"]) * scale for p in traced])

    mb = 1.0 / (1 << 20)
    m = {
        "ops.build_s": per_pass("build_s"),
        "ops.build_jobs": per_pass("build_jobs"),
        "ops.build_task_s": per_pass("build_task_s"),
        "catalyst.analysis_s": per_pass("analysis_s"),
        "catalyst.optimization_s": per_pass("optimization_s"),
        "catalyst.planning_s": per_pass("planning_s"),
        "codegen.compiles": median([p["compiles"] for p in traced]),
        "codegen.compile_s": median([p["compile_s"] for p in traced]),
        "exec.jobs": per_pass("jobs"),
        "exec.stages": per_pass("stages"),
        "exec.tasks": per_pass("tasks"),
        "exec.task_s": per_pass("task_s"),
        "exec.gc_s": per_pass("gc_s"),
        "exec.job_floor_s": per_pass("job_floor_s"),
        "exec.shuffle_read_mb": per_pass("shuffle_read_b", mb),
        "exec.shuffle_write_mb": per_pass("shuffle_write_b", mb),
        "exec.spill_mb": per_pass("spill_b", mb),
        "exec.input_mb": per_pass("input_b", mb),
        "exec.unattributed_jobs": per_pass("unattributed_jobs"),
        "storage.pinned_peak_mb": max([c.get("pinned_b", 0) * mb
                                       for p in traced for c in p["calls"]] or [0]),
    }
    call_s = median([sum(c["latency_s"] for c in p["calls"]) for p in traced])
    m["exec.busy_frac"] = m["exec.task_s"] / (call_s * cpus) if call_s else 0.0
    # counts that must repeat exactly from pass to pass (AQE may move tasks)
    for k in ("jobs", "stages", "tasks"):
        xs = [sum(c.get(k, 0) for c in p["calls"]) for p in traced]
        m[f"exec.{k}_pass_spread"] = (max(xs) - min(xs)) if xs else 0
    prog = [p.get("progress", []) for p in traced]

    def dur(p, k):
        return sum(e["durations"].get(k, 0) for e in p) / 1e3

    def last_state(p, k):
        last = {}
        for e in p:
            last[e["query"]] = e[k]
        return sum(last.values())
    trig = median([dur(p, "triggerExecution") for p in prog])
    m.update({
        "stream.batches": median([len(p) for p in prog]),
        "stream.rows_per_s": (median([sum(e["rows"] for e in p) for p in prog]) / trig
                              if trig else 0.0),
        "stream.add_batch_s": median([dur(p, "addBatch") for p in prog]),
        "stream.planning_s": median([dur(p, "queryPlanning") for p in prog]),
        "stream.wal_commit_s": median([dur(p, "walCommit") for p in prog]),
        "stream.commit_offsets_s": median([dur(p, "commitOffsets") for p in prog]),
        "stream.state_rows": median([last_state(p, "state_rows") for p in prog]),
        "stream.state_mb": median([last_state(p, "state_b") * mb for p in prog]),
        "stream.state_commit_s": median([sum(e["state_commit_ms"] for e in p) / 1e3
                                         for p in prog]),
        "stream.late_rows": median([sum(e["late_rows"] for e in p) for p in prog]),
    })
    st = self_times(spans)
    for layer in ("call", "ops_build", "catalyst", "exec_job", "exec_stage"):
        m[f"self.{layer}_s"] = st.get(layer, 0.0) / max(n, 1)
    tw = median([p["wall_s"] for p in traced])
    uw = median([p["wall_s"] for p in untraced])
    m["trace.overhead_s"] = tw - uw
    m["trace.overhead_frac"] = (tw - uw) / uw if uw else 0.0
    return m


def unit_of(name):
    if name.endswith("rows_per_s"):
        return "rows/s"
    for suffix, u in (("_s", "s"), ("_mb", "MB"), ("_frac", "ratio")):
        if name.endswith(suffix):
            return u
    return "count"


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    w = WORKLOADS[args.workload]
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("[perfbench] engine sources not found next to perfbench/")
    os.makedirs(WORK, exist_ok=True)
    launch = build()

    t_prep = time.time()
    data = base_data()
    prep_s = time.time() - t_prep

    out = os.path.join(WORK, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    for d in (out, tmp):
        os.makedirs(d, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    # java.util.Random gives nearly equal first draws for nearby seeds, so
    # the harness gets a scrambled one
    hargs = {"workload": args.workload, "kind": w["kind"],
             "seed": random.Random(args.seed).getrandbits(63),
             "seconds": args.seconds, "trace": args.trace, "data": data,
             "out": out, "cpus": cpus, "min_passes": w["min_passes"]}
    if w["kind"] == "batch":
        order = list(w["queries"])
        random.Random(args.seed).shuffle(order)
        hargs.update(queries=",".join(order), warmup_passes=w["warmup_passes"])
    else:
        hargs.update({k: w[k] for k in ("span_min", "warmup_batches", "batches")})
    cmd = ["java"] + launch["java_options"] + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        "-cp", os.pathsep.join(launch["classpath"]), "perfbench.Harness"]
    for k, v in hargs.items():
        cmd += [f"--{k}", str(v)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    spawn_ms = time.time() * 1e3
    ticks0 = cpu_ticks()
    with open(os.path.join(out, "jvm.log"), "w") as f:
        try:
            rc = subprocess.run(cmd, cwd=ROOT, env=env, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                timeout=165).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    host_steal = steal_frac(ticks0, cpu_ticks())
    hpath = os.path.join(out, "harness.json")
    if rc != 0 or not os.path.exists(hpath):
        log(open(os.path.join(out, "jvm.log")).read()[-4000:])
        sys.exit(f"[perfbench] harness failed: {rc}")
    h = json.load(open(hpath))

    # ---- correctness: every failure is named
    passes = h["passes"]
    calls = [c for p in passes for c in p["calls"]]
    defects = {}
    if w["kind"] == "batch":
        defects.update({q: f"threw in the correctness pass: {e}"
                        for q, e in h["verify_errors"].items()})
        checked = [q for q in w["queries"] if q not in defects]
        defects.update(oracle_failures(os.path.join(out, "verify"), data,
                                       h["oracle_sql"], checked))
        failed = sum(1 for c in calls if not c["ok"] or c["id"] in defects)
    else:
        # the final outputs depend on every batch: a mismatch fails them all
        for name in h["mismatches"]:
            defects[name] = "stream output differs from its batch twin"
        failed = sum(1 for c in calls if not c["ok"] or h["mismatches"])
    for c in calls:
        if not c["ok"]:
            defects.setdefault(c["id"], c.get("error", "failed"))
    attempted = len(calls)

    # ---- end-to-end metrics from the untraced passes
    plain = [p for p in passes if not p["traced"]]
    lat = [c["latency_s"] for p in plain for c in p["calls"]]
    by_id = {}
    for p in plain:
        for c in p["calls"]:
            by_id.setdefault(c["id"], []).append(c["latency_s"])
    tail_v, tail_pct, tail_n = tail(lat)
    # set-up is everything from process start to the first timed call
    setup = {
        "data_prep_s": prep_s,
        "jvm_start_s": (h["main_entered_ms"] - spawn_ms) / 1e3,
        "session_s": h["session_s"],
        "warmup_s": h["warmup_s"],
    }
    e2e = {
        "setup_s": prep_s + (h["timed_from_ms"] - spawn_ms) / 1e3,
        "pass_s": median([p["wall_s"] for p in plain]),
        # the upper median is an observed call; on a two-query list the
        # midpoint mean would fall between the queries and follow the
        # slowest call of the faster one
        "latency_p50_s": statistics.median_high(lat) if lat else 0.0,
        "latency_geomean_s": math.exp(statistics.fmean(
            math.log(max(median(v), 1e-9)) for v in by_id.values())),
    }
    shutil.rmtree(os.path.join(out, "verify"), ignore_errors=True)
    shutil.rmtree(os.path.join(out, "checkpoints"), ignore_errors=True)

    if args.trace:
        spans = [json.loads(line) for line in open(os.path.join(out, "spans.jsonl"))
                 if line.strip()]
        metrics = per_layer(h, spans, cpus)
    else:
        metrics = e2e
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "confs": h["confs"], "setup": setup, "end_to_end": e2e,
        # untimed warm-up walls (passes, or micro-batches on the stream)
        "warmup_curve_s": h.get("warmup_pass_s") or h.get("warmup_latency_s"),
        # too few samples per run for a tail above the median, so it is
        # reported here and not as a metric
        "latency_tail": {"value_s": tail_v, "percentile": tail_pct, "samples": tail_n},
        "failed_frac": failed / attempted if attempted else 1.0,
        "host_steal_frac": host_steal,
        "defects": defects,
        "per_pass": [{"pass": p["pass"], "traced": p["traced"], "wall_s": p["wall_s"],
                      "cpu_s": p["cpu_s"], "jvm_gc_s": p["jvm_gc_s"],
                      "codegen_compiles": p["compiles"],
                      "jobs": sum(c.get("jobs", 0) for c in p["calls"]) if p["traced"] else None}
                     for p in passes],
        "metrics": metrics,
        "harness_s": time.time() - spawn_ms / 1e3,
        "run_s": time.time() - t_start,
    }
    with open(os.path.join(out, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    log(f"[perfbench] {args.workload} seed={args.seed} trace={args.trace} cpus={cpus}")
    log("[perfbench] confs " + " ".join(f"{k}={v}" for k, v in sorted(h["confs"].items())))
    log("[perfbench] setup " + " ".join(f"{k}={v:.3f}" for k, v in setup.items()))
    log("[perfbench] warm-up walls " + " ".join(f"{x:.3f}" for x in report["warmup_curve_s"]))
    for p in report["per_pass"]:
        log(f"[perfbench] pass {p['pass']} traced={p['traced']} wall_s={p['wall_s']:.3f} "
            f"cpu_s={p['cpu_s']:.3f} jvm_gc_s={p['jvm_gc_s']:.3f} "
            f"codegen.compiles={p['codegen_compiles']}" +
            (f" exec.jobs={p['jobs']}" if p["traced"] else ""))
    log(f"[perfbench] latency tail (p{tail_pct:.1f} of {tail_n} samples) = {tail_v:.4f} s")
    log(f"[perfbench] host_steal_frac={host_steal:.4f} (CPU time taken by other guests "
        "while the harness ran)")
    log(f"[perfbench] failed_frac={report['failed_frac']:.4f} ({failed}/{attempted})")
    for q, why in sorted(defects.items()):
        log(f"[perfbench] DEFECT {args.workload} {q}: {why}")
    for k, v in metrics.items():
        log(f"[perfbench] {k} = {v:.6g} {unit_of(k)}")
    print(json.dumps({
        "correct": not defects,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)}
                    for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()

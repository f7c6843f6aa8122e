#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine: one client, one JVM, local[N].

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
      [--scale sf0.001]

It compiles the program (src/main/scala) and the benchmark (perfbench/src)
into .bench_build/, starts a fresh JVM that builds a GraftSession, runs the
workload's queries (a cold pass, warm-up passes, then timed passes for
--seconds, the order of each pass after the cold one permuted by --seed), checks every query's result against its
DuckDB oracle, and prints one JSON object as its last line of stdout:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md for the workloads, metrics and layer map.
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
import tempfile
import threading
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
SPARK_HOME = os.environ.get("SPARK_HOME") or os.path.dirname(os.path.dirname(
    os.path.realpath(shutil.which("spark-submit") or "/")))
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
SCALA_VERSION = "2.13.17"
HEAP = "3g"
DEADLINE_S = 170.0  # the whole run, build excluded
SETUPS = 2  # session set-ups timed per run, the workload's own included
SCALE = "sf0.01"  # fixtures of every pass but the verify pass
# Per workload: fixtures of the verify pass, and untimed warm-up passes
# after the cold one, the verify pass included (enough for the JIT to
# settle; see README "One run"). graph_loops checks its results on the
# smallest fixtures: its recursive-CTE oracles take ~50 s in DuckDB at
# sf0.01.
WORKLOADS = {
    "kernel_docs": (SCALE, 1),
    "graph_loops": ("sf0.001", 2),
    "sif_closures": (SCALE, 5),
}
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# (name, unit) in the order they are printed
END_TO_END = [("setup_s", "s"), ("cold_pass_s", "s"), ("pass_s", "s"), ("query_p50_s", "s")]
PER_LAYER = [
    ("session.build_ms", "ms"), ("session.register_ms", "ms"),
    ("build_ms", "ms"), ("functions.build_jobs", "count"), ("api.build_jobs", "count"),
    ("plans.plan_ms", "ms"), ("plans.exchanges", "count"), ("plans.scans", "count"),
    ("plans.broadcast_joins", "count"),
    ("codegen.units", "count"), ("codegen.cold_units", "count"), ("codegen.cold_compile_ms", "ms"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.job_ms", "ms"), ("exec.driver_gap_ms", "ms"), ("exec.task_cpu_ms", "ms"),
    ("exec.task_run_ms", "ms"), ("exec.cpu_per_wall", "ratio"), ("exec.task_skew", "ratio"),
    ("exec.serial_stage_ms", "ms"),
    ("scan.bytes", "bytes"), ("scan.rows", "count"), ("scan.tasks", "count"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.records", "count"),
    ("sink.bytes_written", "bytes"),
    ("mem.spill_bytes", "bytes"), ("mem.gc_ms", "ms"), ("mem.peak_exec_bytes", "bytes"),
    ("trace.pass_s", "s"),
]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


# --------------------------------------------------------------------------- build

def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    res = sorted(p for p in glob.glob(os.path.join(ROOT, "src/main/resources/**"), recursive=True)
                 if os.path.isfile(p))
    return prog, bench, res


def build():
    """Compile program + benchmark with scalac; cached by source hash."""
    prog, bench, res = sources()
    if not prog:
        die("no program sources under src/main/scala: run from the repository root")
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    compiler = [os.path.join(SPARK_JARS, f"scala-{m}-{SCALA_VERSION}.jar")
                for m in ("compiler", "library", "reflect")]
    if not all(os.path.isfile(j) for j in compiler):
        die(f"scala {SCALA_VERSION} compiler jars not found in {SPARK_JARS}")
    h = hashlib.sha256()
    for p in prog + bench + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()[:16]
    classes = os.path.join(BUILD, f"classes-{digest}")
    if os.path.isdir(classes):
        return classes, digest
    os.makedirs(BUILD, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"classes-{digest}-", dir=BUILD)
    t = time.time()
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", ":".join(jars), "-d", tmp] + prog + bench
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        die("compilation failed")
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, os.path.join(ROOT, "src/main/resources")))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    try:
        os.rename(tmp, classes)
    except OSError:  # another run built the same sources first
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"[perfbench] compiled {len(prog) + len(bench)} files in {time.time() - t:.1f}s",
          file=sys.stderr)
    return classes, digest


# --------------------------------------------------------------------------- JVM

def jvm_env(run_dir):
    """Keep Spark on the loopback interface and its scratch inside the run."""
    return dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost",
                SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))


def jvm_cmd(classes, run_dir, args):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={run_dir}/tmp",
             "-cp", f"{classes}:{SPARK_JARS}/*", "perfbench.PerfBench"] +
            [f"{k}={v}" for k, v in args.items()])


def launch(classes, run_dir, args, deadline, log_name):
    """Start the JVM; return (seconds from launch to a ready session, exit code).
    A JVM still running at the deadline is killed, and the run exits 3."""
    t0 = time.monotonic()
    ready = []

    def watch(stdout):
        for line in stdout:
            if not ready and line.strip() == "PERFBENCH READY":
                ready.append(time.monotonic() - t0)

    with open(os.path.join(run_dir, log_name), "w") as log:
        p = subprocess.Popen(jvm_cmd(classes, run_dir, args), stdout=subprocess.PIPE,
                             stderr=log, text=True, env=jvm_env(run_dir))
        reader = threading.Thread(target=watch, args=(p.stdout,), daemon=True)
        reader.start()
        try:
            p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"JVM ({args['mode']}) did not finish before the deadline; "
                f"see {run_dir}/{log_name}", 3)
        reader.join()
    return (ready[0] if ready else None), p.returncode


# --------------------------------------------------------------------------- oracle

def oracle_check(fixtures, verify_dir, oracle_sql, verified):
    """Compare each verify-pass result with its DuckDB oracle: columns,
    concrete types and values (floats bit-exact), in order."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(fixtures, "*.parquet"))):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")

    def typed(q):
        cur = con.execute(q)
        rows, cols = cur.fetchall(), [d[0] for d in cur.description]
        types = {r[0]: r[1] for r in con.execute(f"DESCRIBE ({q})").fetchall()}
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        names = [cols[i] for i in order]
        return names, [types[n] for n in names], [tuple(r[i] for i in order) for r in rows]

    def same(a, b):
        if isinstance(a, float) and isinstance(b, float) and a != a and b != b:
            return True
        return a == b

    mismatches = {}
    for name, sql in sorted(oracle_sql.items()):
        if not verified.get(name):
            mismatches[name] = "no result (query failed in the verify pass)"
            continue
        try:
            mine = typed(f"SELECT * FROM '{verify_dir}/{name}/*.parquet'")
            want = typed(sql)
        except Exception as e:  # noqa: BLE001 - any read/oracle error is a mismatch
            mismatches[name] = f"error: {e}"
            continue
        if mine[0] != want[0]:
            mismatches[name] = f"columns {mine[0]} vs oracle {want[0]}"
        elif mine[1] != want[1]:
            mismatches[name] = f"types {mine[1]} vs oracle {want[1]}"
        elif len(mine[2]) != len(want[2]):
            mismatches[name] = f"rows {len(mine[2])} vs oracle {len(want[2])}"
        else:
            bad = next((i for i, (a, b) in enumerate(zip(mine[2], want[2]))
                        if not all(same(x, y) for x, y in zip(a, b))), None)
            if bad is not None:
                mismatches[name] = f"row {bad}: {mine[2][bad]} vs oracle {want[2][bad]}"
    return mismatches


# --------------------------------------------------------------------------- metrics

def tail(values):
    """Highest percentile with at least 10 samples beyond it:
    (value, percentile, sample count), or None below 11 samples."""
    xs = sorted(values)
    i = len(xs) - 11
    if i < 0:
        return None
    return xs[i], 100.0 * (i + 1) / len(xs), len(xs)


def end_to_end(run, setups):
    passes = run["passes"]
    timed = passes[run["warmup_passes"]:]
    times = [v for p in timed for v in p["queries"].values() if v is not None]
    t = tail(times)
    m = {
        "setup_s": statistics.median(setups),
        "cold_pass_s": passes[0]["wall_s"],
        "pass_s": statistics.median(p["wall_s"] for p in timed),
        "query_p50_s": statistics.median(times) if times else float("nan"),
    }
    return m, t


def union_ms(intervals, lo, hi):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def per_execution(trace, cores):
    """Per-layer numbers of every traced query execution, plus self time
    by span kind."""
    spans = {s["id"]: s for s in trace["spans"]}
    kids = {}
    for s in spans.values():
        kids.setdefault(s["parent"], []).append(s)

    def dur(s):
        return (s["end"] - s["start"]) if s["end"] is not None else 0.0

    execs = []
    for q in (s for s in spans.values() if s["kind"] == "query"):
        lo, hi = q["start"], q["end"]
        phases = {c["kind"]: c for c in kids.get(q["id"], []) if c["kind"] != "job"}
        jobs = [j for c in [q] + list(phases.values()) for j in kids.get(c["id"], [])
                if j["kind"] == "job" and j["end"] is not None]
        stages = [st for j in jobs for st in kids.get(j["id"], []) if st["end"] is not None]
        sa = [st["attrs"] for st in stages]
        build = phases.get("build")
        plan = phases.get("plan", {"attrs": {}})
        build_jobs = len([j for j in kids.get(build["id"], []) if j["kind"] == "job"]) if build else 0
        layer = q["attrs"]["layer"]
        job_ms = union_ms([(j["start"], j["end"]) for j in jobs], lo, hi)
        cpu = sum(a["cpu_ms"] for a in sa)
        skews = [a["task_max_ms"] / max(a["task_median_ms"], 1) for a in sa if a["tasks"] >= 2]
        e = {
            "query": q["name"], "pass": q["attrs"]["pass"], "ok": q["attrs"]["ok"],
            "wall_ms": hi - lo, "layer": layer,
            "build_ms": dur(build) if build else 0.0,
            "functions.build_ms": dur(build) if build and layer == "functions" else 0.0,
            "api.build_ms": dur(build) if build and layer == "api" else 0.0,
            "functions.build_jobs": build_jobs if layer == "functions" else 0,
            "api.build_jobs": build_jobs if layer == "api" else 0,
            "plans.plan_ms": dur(plan) if "id" in plan else 0.0,
            "plans.exchanges": plan["attrs"].get("exchanges", 0),
            "plans.scans": plan["attrs"].get("scans", 0),
            "plans.broadcast_joins": plan["attrs"].get("broadcast_joins", 0),
            "codegen.units": q["attrs"]["codegen_units"],
            "codegen.compile_ms": q["attrs"]["codegen_ms"],
            "exec.jobs": len(jobs), "exec.stages": len(stages),
            "exec.tasks": sum(a["tasks"] for a in sa),
            "exec.job_ms": job_ms, "exec.driver_gap_ms": (hi - lo) - job_ms,
            "exec.task_cpu_ms": cpu, "exec.task_run_ms": sum(a["run_ms"] for a in sa),
            "exec.cpu_per_wall": cpu / ((hi - lo) * cores) if hi > lo else 0.0,
            "exec.task_skew": max(skews) if skews else 1.0,
            "exec.serial_stage_ms": sum(dur(st) for st, a in zip(stages, sa) if a["num_tasks"] == 1),
            "scan.bytes": sum(a["scan_bytes"] for a in sa),
            "scan.rows": sum(a["scan_rows"] for a in sa),
            "scan.tasks": sum(a["scan_tasks"] for a in sa),
            "shuffle.write_bytes": sum(a["shuffle_write_bytes"] for a in sa),
            "shuffle.read_bytes": sum(a["shuffle_read_bytes"] for a in sa),
            "shuffle.records": sum(a["shuffle_records"] for a in sa),
            "shuffle.fetch_wait_ms": sum(a["fetch_wait_ms"] for a in sa),
            "sink.bytes_written": sum(a["sink_bytes"] for a in sa),
            "mem.spill_bytes": sum(a["spill_bytes"] for a in sa),
            "mem.gc_ms": q["attrs"]["gc_ms"],
            "mem.peak_exec_bytes": max([a["peak_exec_bytes"] for a in sa], default=0),
        }
        execs.append(e)

    # self time: a span's duration minus the part its children cover
    self_ms = {}
    for s in spans.values():
        if s["end"] is None or s["kind"] == "stage":
            continue
        c = [(k["start"], k["end"]) for k in kids.get(s["id"], []) if k["end"] is not None]
        self_ms.setdefault(s["kind"], 0.0)
        self_ms[s["kind"]] += dur(s) - union_ms(c, s["start"], s["end"])
    return execs, self_ms


# per-layer metrics that are not a pass's sum over its queries
NOT_SUMMED = {"session.build_ms", "session.register_ms", "codegen.cold_units",
              "codegen.cold_compile_ms", "exec.cpu_per_wall", "exec.task_skew",
              "mem.peak_exec_bytes", "trace.pass_s"}
SUMMED = [k for k, _ in PER_LAYER if k not in NOT_SUMMED]


def layer_metrics(run, execs, cores):
    """Workload-level per-layer metrics: each timed pass is summed over its
    queries, then the median over timed passes is reported."""
    timed = run["warmup_passes"]
    per_pass = []
    for p in sorted({e["pass"] for e in execs if e["pass"] >= timed}):
        es = [e for e in execs if e["pass"] == p]
        agg = {k: sum(e[k] for e in es) for k in SUMMED}
        wall = sum(e["wall_ms"] for e in es)
        agg["exec.cpu_per_wall"] = agg["exec.task_cpu_ms"] / (wall * cores) if wall else 0.0
        agg["exec.task_skew"] = statistics.median(e["exec.task_skew"] for e in es)
        agg["mem.peak_exec_bytes"] = max(e["mem.peak_exec_bytes"] for e in es)
        per_pass.append(agg)
    m = {k: statistics.median(pp[k] for pp in per_pass) for k in per_pass[0]}
    cold = [e for e in execs if e["pass"] == 0]
    m["codegen.cold_units"] = sum(e["codegen.units"] for e in cold)
    m["codegen.cold_compile_ms"] = sum(e["codegen.compile_ms"] for e in cold)
    m["session.build_ms"] = run["session"]["build_ms"]
    m["session.register_ms"] = run["session"]["register_ms"]
    m["trace.pass_s"] = statistics.median(p["wall_s"] for p in run["passes"][timed:])
    return m


def per_query_table(execs, timed):
    """Median over timed passes of every per-layer number, per query."""
    keys = [k for k in execs[0] if k not in ("query", "pass", "ok", "layer")]
    out = {}
    for name in sorted({e["query"] for e in execs}):
        es = [e for e in execs if e["query"] == name and e["pass"] >= timed]
        out[name] = {k: statistics.median(e[k] for e in es) for k in keys}
        cold = [e for e in execs if e["query"] == name and e["pass"] == 0]
        out[name]["cold.wall_ms"] = cold[0]["wall_ms"] if cold else None
        out[name]["cold.codegen.units"] = cold[0]["codegen.units"] if cold else None
        out[name]["cold.codegen.compile_ms"] = cold[0]["codegen.compile_ms"] if cold else None
    return out


# --------------------------------------------------------------------------- main

def git_commit():
    """HEAD of the checkout, or None outside a git work tree."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", help="fixture directory under perfbench/fixtures for every "
                    f"pass (default: {SCALE}, and the workload's own for the verify pass)")
    a = ap.parse_args()

    verify_scale, warmup = WORKLOADS[a.workload]
    scale, verify_scale = a.scale or SCALE, a.scale or verify_scale
    fixtures = os.path.join(HERE, "fixtures", scale)
    verify_fixtures = os.path.join(HERE, "fixtures", verify_scale)
    for d in (fixtures, verify_fixtures):
        if not glob.glob(os.path.join(d, "*.parquet")):
            die(f"no fixtures in {d}")
    classes, digest = build()

    start = time.monotonic()
    deadline = start + DEADLINE_S
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD, "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    load_start = os.getloadavg()[0]

    # set-up time: fresh JVMs that stop once the session is ready, then the run's own
    setups = []
    for i in range(SETUPS - 1):
        ready, rc = launch(classes, run_dir, {"mode": "setup", "cores": cores, "out": run_dir},
                           deadline, f"setup{i}.log")
        if ready is None or rc != 0:
            die(f"set-up JVM failed (rc {rc}); see {run_dir}/setup{i}.log", 4)
        setups.append(ready)
    args = {"mode": "run", "cores": cores, "out": run_dir, "workload": a.workload,
            "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "warmupPasses": warmup, "fixtures": fixtures,
            "verifyFixtures": verify_fixtures}
    ready, rc = launch(classes, run_dir, args, deadline, "run.log")
    if ready is None or rc != 0:
        die(f"benchmark JVM failed (rc {rc}); see {run_dir}/run.log", 4)
    setups.append(ready)
    with open(os.path.join(run_dir, "run.json")) as f:
        run = json.load(f)

    verified = {n: t is not None for n, t in run["passes"][1]["queries"].items()}
    mismatches = oracle_check(verify_fixtures, os.path.join(run_dir, "verify"),
                              run["oracle_sql"], verified)
    attempted = sum(len(p["queries"]) for p in run["passes"])
    failed = sum(v is None for p in run["passes"] for v in p["queries"].values())
    e2e, t = end_to_end(run, setups)
    conditions = {
        "commit": git_commit(), "source_sha256": digest, "cpus": cores,
        "heap": HEAP, "heap_bytes": run["heap_bytes"], "spark_version": run["spark_version"],
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "scale": scale, "verify_scale": verify_scale, "warmup_passes": run["warmup_passes"],
        "timed_passes": len(run["passes"]) - run["warmup_passes"],
        "loadavg_1m_start": load_start, "loadavg_1m_end": os.getloadavg()[0],
        "pass_loadavg": [[p["load_start"], p["load_end"]] for p in run["passes"]],
        "setup_samples_s": setups,
    }
    record = {"conditions": conditions, "end_to_end": e2e, "attempted": attempted,
              "failed": failed, "oracle_mismatch": mismatches, "passes": run["passes"]}

    if a.trace:
        with open(os.path.join(run_dir, "trace.json")) as f:
            trace = json.load(f)
        execs, self_ms = per_execution(trace, cores)
        metrics = layer_metrics(run, execs, cores)
        record["per_layer"] = metrics
        record["gc_ms_whole_run"] = sum(e["mem.gc_ms"] for e in execs)
        record["self_ms_per_run"] = self_ms
        record["per_query"] = per_query_table(execs, run["warmup_passes"])
        shown = PER_LAYER
    else:
        metrics, shown = e2e, END_TO_END
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    for d in ("verify", "tmp", "local", "checkpoint", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)

    print(f"# perfbench {a.workload} seed={a.seed} trace={a.trace} scale={scale} "
          f"cpus={cores} heap={HEAP} spark={run['spark_version']} "
          f"passes={run['warmup_passes']} warm-up + {conditions['timed_passes']} timed  record={run_dir}/record.json")
    for k, unit in shown:
        print(f"{k} = {metrics[k]:.6g} {unit}")
    if t:
        print(f"query_tail_s = {t[0]:.6g} s (p{t[1]:.1f} of {t[2]} timed query executions, "
              f"10 beyond it; not gated)")
    else:
        print("# query_tail_s: fewer than 11 timed query executions; not reported")
    print(f"failed_frac = {failed / attempted:.6g} ratio ({failed} of {attempted})")
    print(f"oracle_mismatch = {len(mismatches)} count")
    for n, why in sorted(mismatches.items()):
        print(f"# MISMATCH {n}: {why}")
    correct = not mismatches and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": metrics[k], "unit": u} for k, u in shown}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

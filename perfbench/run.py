#!/usr/bin/env python3
"""The engine's benchmark: three workloads over `graft.Tail` and the
query registry, one JVM per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--smoke]

Run from the root of a checkout. The first run builds the engine and the
benchmark's Scala runner with sbt (cached under perfbench/.build until a source
file changes). Each run generates its inputs from the seed, measures the
workload for the given seconds, checks every output, and prints a
human-readable summary followed by one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the metrics
are the per-layer ones and the span tree is written to
perfbench/out/spans-<workload>-<seed>.json. --smoke runs the same checks
on tiny inputs (the benchmark's own test uses it).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
# tools/check.py: the canonical form the registry's outputs are compared in.
sys.path.insert(1, os.path.join(ROOT, "tools"))

# The reference's render pipeline over a scan; a six-way join whose time
# is mostly planning, job scheduling and shuffle; and the MinHash/LSH
# dedup pipeline (codegen'd compute, shuffle, localCheckpoint).
BATCH_REGISTRY = ["a4_template_render", "b10_sql_q5", "i14_lsh_dedup_e2e"]

# Sizes per workload; "smoke" overrides apply with --smoke.
WORKLOADS = {
    "tail_catchup": dict(kind="tail_catchup", sf="sf0.1", tables=["events"],
                         copies=2, shards=4, warm_rows=20000, setup_reps=3,
                         smoke=dict(sf="sf0.001", copies=1, warm_rows=200)),
    "tail_live": dict(kind="tail_live", sf="sf0.1", tables=["events"],
                      copies=8, shards=4, warm_rows=20000, setup_reps=3,
                      rate=2000.0, tick_ms=100, max_gen_late_ms=500.0,
                      smoke=dict(sf="sf0.001", copies=1, warm_rows=200,
                                 rate=200.0)),
    "batch_registry": dict(kind="batch", sf="sf0.01", tables=None, setup_reps=3,
                           queries=BATCH_REGISTRY, warm_passes=16,
                           warm_max_s=20.0,
                           smoke=dict(sf="sf0.001", warm_passes=1)),
}

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("records_per_s", "1/s"),
              ("op_ms_p50", "ms"), ("latency_ms_p50", "ms"),
              ("latency_ms_p99", "ms")]
# (name, unit, better) of every per-layer metric a traced run reports.
PER_LAYER = [
    ("sources.latest_offset_ms", "ms", "lower"),
    ("sources.report_latest_offset_ms", "ms", "lower"),
    ("sources.slice_read_ms_head", "ms", "lower"),
    ("sources.slice_read_ms_tail", "ms", "lower"),
    ("sources.read_bytes_per_record", "bytes", "lower"),
    ("sources.lag_records_max", "count", "lower"),
    ("stream.add_batch_ms", "ms", "lower"),
    ("stream.wal_commit_ms", "ms", "lower"),
    ("stream.commit_offsets_ms", "ms", "lower"),
    ("stream.query_planning_ms", "ms", "lower"),
    ("stream.triggers", "count", "lower"),
    ("tail.sink_write_ms", "ms", "lower"),
    ("tail.lines", "count", "higher"),
    ("compute.task_cpu_ms", "ms", "lower"),
    ("compute.task_run_ms", "ms", "lower"),
    ("compute.gc_ms", "ms", "lower"),
    ("plan.analysis_ms", "ms", "lower"),
    ("plan.optimization_ms", "ms", "lower"),
    ("plan.planning_ms", "ms", "lower"),
    ("sched.jobs", "count", "lower"),
    ("sched.stages", "count", "lower"),
    ("sched.tasks", "count", "lower"),
    ("sched.driver_gap_ms", "ms", "lower"),
    ("scan.input_bytes", "bytes", "lower"),
    ("scan.input_records", "count", "lower"),
    ("shuffle.write_bytes", "bytes", "lower"),
    ("shuffle.read_bytes", "bytes", "lower"),
    ("shuffle.fetch_wait_ms", "ms", "lower"),
    ("shuffle.spill_bytes", "bytes", "lower"),
    ("shuffle.skew_max_over_median", "ratio", "lower"),
    ("operators.materialized_blocks", "count", "lower"),
    ("operators.materialized_bytes", "bytes", "lower"),
] + [(f"layer_ms.{l}", "ms", "lower") for l in (
    "bench", "query", "stream", "sources", "plan", "sink", "sched", "scan",
    "compute", "shuffle")] + [
    (f"overhead.{n}", u, "higher" if n == "records_per_s" else "lower")
    for n, u in END_TO_END]
# A run must end within 180 s; the first one in a checkout also builds.
RUN_LIMIT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    (the sbt launcher script and its JVM, say) and wait for it. Returns
    the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


# ---------------------------------------------------------------- build

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def source_stamp():
    """Hash of every input of the build: paths, sizes and mtimes."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the engine and the runner; return the runtime classpath."""
    bdir = os.path.join(HERE, ".build")
    os.makedirs(bdir, exist_ok=True)
    stamp_f, cp_f = os.path.join(bdir, "stamp"), os.path.join(bdir, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_f) and os.path.exists(stamp_f) and \
            open(stamp_f).read() == stamp:
        return open(cp_f).read().strip()
    log("building the engine and the benchmark runner (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_f = os.path.join(bdir, "sbt.log")
    with open(log_f, "w") as lf:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       840, cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT)
    lines = [l for l in open(log_f).read().splitlines()
             if l and not l.startswith("[")]
    if rc != 0 or not lines:
        raise SystemExit(f"build failed (see {log_f})")
    open(cp_f, "w").write(lines[-1])
    open(stamp_f, "w").write(stamp)
    return lines[-1]


# ---------------------------------------------------------------- host

def cpu_jiffies():
    f = open("/proc/stat").readline().split()[1:]
    v = [int(x) for x in f]
    return v[7] if len(v) > 7 else 0, sum(v[:8])


def loadavg():
    return [float(x) for x in open("/proc/loadavg").read().split()[:3]]


# ---------------------------------------------------------------- checks

def canon_hash(df):
    """Row count and content hash of a result in tools/check.py's
    canonical form (its canon() and cell()), rows in output order."""
    from check import canon, cell
    df = canon(df)
    h = hashlib.sha256()
    h.update(("\x1f".join(df.columns) + "\n").encode())
    for row in zip(*(map(cell, df[c]) for c in df.columns)):
        h.update(("\x1f".join(row) + "\n").encode())
    return len(df), h.hexdigest()


def oracle_check(data_dir, work, result, threads):
    """Compare each query's Spark output with its DuckDB oracle on the
    same generated tables. Returns {query: problem} for mismatches."""
    import duckdb
    from gen import TABLES
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute(f"SET temp_directory='{work}/duckdb_tmp'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    bad = {}
    for q in result.get("rows", {}):
        sql = result.get("oracle_sql", {}).get(q)
        if sql is None:
            bad[q] = "no oracle"
            continue
        try:
            exp = canon_hash(con.execute(sql).df())
            got = canon_hash(con.execute(
                f"SELECT * FROM read_parquet('{work}/out/{q}/*.parquet')").df())
        except Exception as e:  # noqa: BLE001 - any oracle error is a failure
            bad[q] = f"oracle error: {e}"
            continue
        if got != exp:
            bad[q] = f"rows/hash {got[0]}/{got[1][:12]} != oracle {exp[0]}/{exp[1][:12]}"
    for q in result.get("check_failed", []):
        bad[q] = "threw in the check pass"
    return bad


# ---------------------------------------------------------------- run

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--fault", choices=["drop_line", "wrong_output"],
                    help="inject a defect the checks must catch (tests only)")
    a = ap.parse_args()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no engine sources under {ROOT}: run from a checkout of the repository")
        return 2

    from gen import SIZES, generate
    spec = dict(WORKLOADS[a.workload])
    if a.smoke:
        spec.update(spec["smoke"])
    spec.pop("smoke")
    cp = build()
    t_start = time.time()

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data = os.path.join(work, "data")
    os.makedirs(data)
    try:
        sizes = SIZES[spec["sf"]]
        generate(data, a.seed, sizes, spec.get("tables"))
        steal0, total0 = cpu_jiffies()
        load0 = loadavg()
        cfg = dict(spec, workload=a.workload, seed=a.seed, seconds=a.seconds,
                   fault=a.fault,
                   trace=bool(a.trace), work=work, data=data, cpus=cpus,
                   events_rows=sizes["events"])
        cfg_f, res_f = os.path.join(work, "config.json"), os.path.join(work, "result.json")
        json.dump(cfg, open(cfg_f, "w"))
        # A fixed, pre-touched heap: page faults on fresh heap pages cost
        # from 3 to 60 µs each on a shared host, so they are paid in
        # set-up instead of inside whichever operation first grows the heap.
        heap = "2g"
        cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch",
               f"-Djava.io.tmpdir={work}/tmp"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "perfbench.Main", cfg_f, res_f]
        t_jvm_start = time.time()
        budget = RUN_LIMIT_S - (t_jvm_start - t_start)
        with open(os.path.join(work, "jvm.log"), "w") as jl:
            rc = run_group(cmd, budget, stdout=jl, stderr=subprocess.STDOUT)
        if rc != 0 or not os.path.exists(res_f):
            sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
            log(f"benchmark JVM failed ({rc})")
            return 1
        t_jvm = time.time()
        res = json.load(open(res_f))
        if "error" in res:
            sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
            log(f"workload failed: {res['error']}")
            return 1
        attempted, failed = res["attempted"], res["failed"]
        notes = list(res.get("notes", []))
        if spec["kind"] == "batch":
            bad = oracle_check(data, work, res, cpus)
            for q, why in bad.items():
                notes.append(f"{q}: {why}")
                failed += res.get("executions", {}).get(q, 1)
            failed = min(failed, attempted)
        log("phases: jvm start {:.1f}s, setup {}, check/prepare {:.1f}s, measure {:.1f}s, "
            "after jvm {:.1f}s, total {:.1f}s".format(
                t_jvm_start - t_start, [round(x, 1) for x in res["setup"]["reps_s"]],
                res["setup"]["prepare_s"], res["setup"]["measure_s"],
                time.time() - t_jvm, time.time() - t_start))
        steal1, total1 = cpu_jiffies()
        host = dict(
            steal_frac=(steal1 - steal0) / max(1, total1 - total0),
            loadavg_start=load0, loadavg_end=loadavg())
        summary(a, spec, res, attempted, failed, notes, host)
        if a.trace:
            traced_failed = res.get("traced_failed", 0)
            failed += traced_failed
            attempted += res.get("traced_attempted", 0)
            out_dir = os.path.join(HERE, "out")
            os.makedirs(out_dir, exist_ok=True)
            span_f = os.path.join(out_dir, f"spans-{a.workload}-{a.seed}.json")
            json.dump(dict(workload=a.workload, seed=a.seed,
                           self_ms_by_layer=res["self_ms_by_layer"],
                           spans=res["spans"]), open(span_f, "w"))
            log(f"spans written to {os.path.relpath(span_f, ROOT)}")
            layer_ms = {f"layer_ms.{k}": v / res["traced_iterations"]
                        for k, v in res["self_ms_by_layer"].items()}
            values = dict(res["per_layer"], **layer_ms)
            metrics = {n: {"value": values.get(n, 0.0) if n.startswith("layer_ms.")
                           else values[n], "unit": u} for n, u, _ in PER_LAYER}
        else:
            metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in END_TO_END}
        print(json.dumps(dict(correct=failed == 0, attempted=attempted,
                              failed=failed, metrics=metrics)), flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def summary(a, spec, res, attempted, failed, notes, host):
    """Human-readable lines: every end-to-end metric under the names it
    has for this workload, the correctness tally and the host stamp."""
    e = res["e2e"]
    tail = spec["kind"] != "batch"
    named = [("setup_s", e["setup_s"], "s"),
             ("failed_frac", failed / max(1, attempted), "ratio"),
             ("records_per_s", e["records_per_s"], "1/s"),
             ("wall_s", e["wall_s"], "s")]
    if tail:
        named.append(("trigger_ms_p50", e["op_ms_p50"], "ms"))
    else:
        named.append(("query_s_p50", e["op_ms_p50"] / 1000.0, "s"))
    named += [("latency_ms_p50", e["latency_ms_p50"], "ms"),
              ("latency_ms_p99", e["latency_ms_p99"], "ms")]
    print(f"workload {a.workload} seed {a.seed}: " + "  ".join(
        f"{n}={v:.6g} {u}" for n, v, u in named))
    print(f"  attempted={attempted} failed={failed} "
          f"iteration_wall_s={[round(x, 3) for x in res['iteration_wall_s']]} "
          f"iteration_jit_ms={[round(x) for x in res['iteration_jit_ms']]} "
          f"setup_reps_s={[round(x, 3) for x in res['setup']['reps_s']]}")
    print("  host: steal_frac={:.4f} loadavg_start={} loadavg_end={}".format(
        host["steal_frac"], host["loadavg_start"], host["loadavg_end"]))
    if res.get("extra"):
        print("  " + "  ".join(f"{k}={v:.6g}" for k, v in sorted(res["extra"].items())))
    for n in notes[:20]:
        print(f"  FAIL {n}")
    if "per_layer" in res:
        print("  per-layer: " + "  ".join(
            f"{k}={v:.6g}" for k, v in res["per_layer"].items()))
        print("  self ms by layer: " + "  ".join(
            f"{k}={v:.1f}" for k, v in sorted(res["self_ms_by_layer"].items())))


if __name__ == "__main__":
    sys.exit(main())

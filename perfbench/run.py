#!/usr/bin/env python3
"""The repository's benchmark: one workload, one run, one result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload <daily_etl|llm_staging>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark client from source on first use (cached under
``.bench_build/`` by a hash of the sources), makes the workload's inputs
from the seed, runs the client JVM, one client in a closed loop,
checks the outputs (DuckDB twins for registry queries, generated ground
truth for the daily pipeline) outside every timed region, and prints a
report line followed by the result line, which is always the last line
of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics named in
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer metrics,
and the spans and the measured tracing overhead go to the detail file.
Engine logs never reach standard output: they go to the run's log file.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CONFIG = os.path.join(HERE, "workloads.json")
# A run after the build must end within 180 s: the client JVM gets 140 s
# and the oracle compare 30 s.
JVM_TIMEOUT_S = 140
ORACLE_TIMEOUT_S = 30

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/client/build.sbt",
                "perfbench/client/project/build.properties",
                "perfbench/client/src"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_cores():
    return str(len(os.sched_getaffinity(0)))


def host_heap():
    """Half of MemTotal in whole GiB, clamped to [2, 8], as tier-1 derives it."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def source_stamp():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        if not os.path.exists(path):
            fail(f"missing build input {rel}: run from a full checkout of the repository")
        walk = [(path, [], [""])] if os.path.isfile(path) else os.walk(path)
        for d, dirs, files in sorted(walk):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f) if f else d
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the client once per source state; return
    the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt's server socket and JNA scratch go under .bench_build, not /tmp.
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "client"), env=env, stdout=out,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=840).returncode
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = next((l for l in reversed(lines) if "scala-library" in l
               and not l.startswith("[")), None)
    if rc != 0 or cp is None:
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def steal_s():
    """CPU time the hypervisor withheld from this machine, all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def host_info():
    def cmd(args):
        try:
            r = subprocess.run(args, capture_output=True, text=True, timeout=20)
            return (r.stdout + r.stderr).strip()
        except OSError:
            return ""
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for l in f:
            if l.startswith("MemTotal:"):
                mem_kb = int(l.split()[1])
    jdk = cmd(["java", "-version"]).splitlines()
    spark = ""
    with open(os.path.join(BUILD, "classpath.txt")) as f:
        for jar in f.read().split(os.pathsep):
            name = os.path.basename(jar)
            if name.startswith("spark-core_"):
                spark = name.split("-")[-1].removesuffix(".jar")
    commit = ""
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        commit = cmd(["git", "-C", ROOT, "rev-parse", "HEAD"])
    return {"nproc": int(host_cores()), "mem_total_kb": mem_kb,
            "jdk": jdk[0] if jdk else "", "spark": spark,
            "commit": commit or "unknown (not a git checkout)",
            "source_stamp": source_stamp()[:16]}


def pct(values, q):
    """Nearest-rank percentile of a non-empty list."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, -(-int(q * 100) * len(s) // 100) - 1))]


def median_of(values, unit):
    return {"value": statistics.median(values) if values else None,
            "unit": unit, "n": len(values)}


def p90_of(values, unit):
    """p90 with its sample count and how many samples lie beyond it."""
    if not values:
        return {"value": None, "unit": unit, "n": 0, "beyond": 0}
    v = pct(values, 0.9)
    return {"value": v, "unit": unit, "n": len(values),
            "beyond": sum(x > v for x in values)}


# ---------------------------------------------------------------- inputs

def rotation(names, seed, per_run):
    """The names this run checks: every m-th of the sorted list, offset by
    the seed, so that any m consecutive seeds check every name."""
    ordered = sorted(names)
    m = max(1, -(-len(ordered) // per_run))
    return [n for i, n in enumerate(ordered) if i % m == seed % m]


def fixture_dir(name):
    path = os.path.expanduser(name)
    if not os.path.isdir(path):
        fail(f"fixture directory {name} not found")
    return path


def prepare(workload, seed, seconds, work, cfg):
    """Client arguments carrying this workload's seeded inputs and its
    number of timed units, one per `unit_seconds` of the run's seconds,
    so the same seed and seconds always give the same work; and what the
    correctness check needs to know."""
    w = cfg[workload]
    units = max(1, round(seconds / w["unit_seconds"]))
    if workload == "daily_etl":
        sys.path.insert(0, HERE)
        import gen_landing
        files = gen_landing.generate(os.path.join(work, "inputs"), seed,
                                     w["backfill_files"] + w["increments"], w["tickers"])
        first_of_header = {}
        for f in files:
            first_of_header.setdefault(tuple(f["header"]), f["name"])
        clean_check = list(first_of_header.values())
        return ({"pool": os.path.join(work, "inputs", "pool"), "units": units,
                 "backfill": w["backfill_files"], "increments": w["increments"],
                 "clean_check": ",".join(clean_check)},
                {"files": files, "clean_check": clean_check})
    names = list(w["consumers"])
    random.Random(seed).shuffle(names)
    check = rotation(names + ["llm_stage_index"], seed, w["checked_per_run"])
    return ({"sf": fixture_dir(cfg["fixture"]), "units": units,
             "queries": ",".join(names), "check": ",".join(check)},
            {"check": check})


# ----------------------------------------------------------- correctness

def read_bars(duck, pattern, hive):
    q = (f"SELECT stock_name, CAST(Date AS VARCHAR), Price, Open, High, Low, "
         f"Vol, Change FROM read_parquet('{pattern}'"
         f"{', hive_partitioning = true' if hive else ''})")
    return [tuple(r) for r in duck.execute(q).fetchall()]


def compare_rows(got, truth_rows, malformed):
    """Every well-formed row must be present with exactly its typed
    values. Rows beyond them are malformed rows that reached the table;
    there can be no more of those than malformed rows were landed."""
    from collections import Counter
    want = Counter(tuple(r) for r in truth_rows)
    have = Counter(got)
    missing = sum((want - have).values())
    extra = sum((have - want).values())
    return missing == 0 and extra <= malformed, missing, extra


def check_daily_etl(result, ctx, backfill):
    """Checks every unit's table and the row count each `runOnce`
    returned, and the clean of one file per header variant, against the
    generator's truth."""
    import duckdb
    files = ctx["files"]
    problems, malformed_loaded = [], 0
    duck = duckdb.connect()

    def n_rows(fs):
        return sum(len(f["rows"]) + f["malformed"] for f in fs)
    # Each runOnce loads its new files' rows, malformed ones included,
    # and nothing on the double-fire.
    expect = {"backfill": [n_rows(files[:backfill])],
              "increment": [n_rows([f]) for f in files[backfill:]], "noop": [0]}
    all_rows = [r for f in files for r in f["rows"]]
    malformed = sum(f["malformed"] for f in files)
    for i, u in enumerate(result["units"]):
        got = read_bars(duck, os.path.join(u["table"], "*", "*.parquet"), True)
        ok, missing, extra = compare_rows(got, all_rows, malformed)
        malformed_loaded = max(malformed_loaded, extra)
        if not ok:
            problems.append(f"unit {i}: {missing} expected rows missing or wrong, "
                            f"{extra} unexpected rows")
        for kind, ns in expect.items():
            for op, n in zip([o for o in u["ops"] if o["kind"] == kind], ns):
                op["correct"] = op["rows"] == n
                if not op["correct"]:
                    problems.append(f"unit {i}: {kind} loaded {op['rows']} rows, expected {n}")
    for name in ctx["clean_check"]:
        f = next(f for f in files if f["name"] == name)
        got = read_bars(duck, os.path.join(result["check_dir"], name, "*.parquet"), False)
        ok, missing, extra = compare_rows(got, f["rows"], f["malformed"])
        if not ok:
            problems.append(f"clean of {name}: {missing} rows missing or wrong, "
                            f"{extra} unexpected")
    duck.close()
    return problems, malformed_loaded


def check_oracle(result, names, sf, log):
    """Compares the dumped results with their DuckDB twins through the
    repository's oracle compare; returns the names that disagree or
    whose result was never written."""
    tool = os.path.join(ROOT, "tools", "oracle_check.py")
    try:
        r = subprocess.run([sys.executable, tool, sf, result["check_dir"], ",".join(names)],
                           capture_output=True, text=True, timeout=ORACLE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return sorted(names)
    with open(log, "a") as f:
        f.write(r.stdout + r.stderr)
    passed = {l.split()[1] for l in r.stdout.splitlines() if l.startswith("PASS ")}
    return sorted(set(names) - passed)


# --------------------------------------------------------------- metrics

FAMILIES = ["agg", "win", "join", "graph", "events", "stream", "scan", "text",
            "mm", "sql", "llm"]


def family(name):
    head = name.split("_")[0]
    return head if head in FAMILIES else "other"


def timed_units(result, traced):
    return [u for u in result["units"] if not u["warmup"] and u["traced"] == traced]


def walls(ops, kind):
    return [o["wall_s"] for o in ops if o["ok"] and o["kind"] == kind]


def named_metrics(workload, units):
    """The workload's own end-to-end metrics over its timed untraced
    units, by the names the README uses, and the (batch_s, step_s) pair
    the result line reports for every workload under common names.
    step_s is a median over steps that do the same work: increments, or
    whole consumer sets; a median over distinct queries would jump
    between them from run to run."""
    ops = [o for u in units for o in u["ops"]]
    if workload == "daily_etl":
        inc = walls(ops, "increment")
        m = {"etl_backfill_s": median_of(walls(ops, "backfill"), "s"),
             "etl_daily_p50_s": median_of(inc, "s"),
             "etl_daily_p90_s": p90_of(inc, "s"),
             "etl_noop_s": median_of(walls(ops, "noop"), "s")}
        keys = ("etl_backfill_s", "etl_daily_p50_s")
    else:
        cons = walls(ops, "consumer")
        m = {"stage_build_s": median_of(walls(ops, "build"), "s"),
             "stage_consumers_s": median_of([u["consumers_s"] for u in units], "s"),
             "consumer_p50_s": median_of(cons, "s"), "consumer_p90_s": p90_of(cons, "s")}
        keys = ("stage_build_s", "stage_consumers_s")
    return m, tuple(m[k]["value"] for k in keys)


def layer_metrics(result, cores):
    """Per-layer metrics of the traced units; a layer the workload never
    reaches reads 0. Counters are totals over the traced units; memo
    figures are medians per staging cycle."""
    L = result["layers"]
    units = timed_units(result, True)
    ops = [o for u in units for o in u["ops"]]
    q_ops = [o for o in ops if "build_s" in o]
    fam = {f: 0.0 for f in FAMILIES + ["other"]}
    for o in q_ops:
        fam[family(o["name"])] += o["wall_s"]
    st = L["streaming_ms"]
    cycles = [u for u in units if "memo_s" in u]
    wall = sum(u["wall_s"] + u.get("scan_clean_s", 0.0) for u in units)

    def per_cycle(get):
        return statistics.median(get(c) for c in cycles) if cycles else 0.0
    m = {
        "core.session_s": result["session_s"],
        "core.warmup_s": result["warmup_s"],
        "queries.build_s": sum(o["build_s"] for o in q_ops),
        "plans.analysis_s": L["analysis_ms"] / 1e3,
        "plans.optimization_s": L["optimization_ms"] / 1e3,
        "plans.planning_s": L["planning_ms"] / 1e3,
        "exec.jobs": L["jobs"], "exec.stages": L["stages"], "exec.tasks": L["tasks"],
        "exec.task_run_s": L["task_run_ms"] / 1e3,
        "exec.task_cpu_s": L["task_cpu_ns"] / 1e9,
        "exec.gc_s": L["gc_ms"] / 1e3, "exec.failed_tasks": L["failed_tasks"],
        "exec.slot_busy_ratio": L["task_run_ms"] / 1e3 / (wall * int(cores)),
        "exec.skew_ratio": L["skew_median"],
        "scan.bytes_read": L["bytes_read"], "scan.records_read": L["records_read"],
        "exchange.shuffle_write_bytes": L["shuffle_write_bytes"],
        "exchange.shuffle_read_bytes": L["shuffle_read_bytes"],
        "exchange.shuffle_records": L["shuffle_records"],
        "exchange.fetch_wait_s": L["fetch_wait_ms"] / 1e3,
        "mem.spill_bytes": L["spill_bytes"], "mem.peak_exec_bytes": L["peak_exec_bytes"],
        "memo.cached_mem_bytes": per_cycle(lambda c: c["cached_mem_bytes"]),
        "memo.cached_disk_bytes": per_cycle(lambda c: c["cached_disk_bytes"]),
        "memo.consumer_tasks": per_cycle(lambda c: c["consumer_tasks"]),
        "streaming.latest_offset_s": st.get("latestOffset", 0) / 1e3,
        "streaming.query_planning_s": st.get("queryPlanning", 0) / 1e3,
        "streaming.add_batch_s": st.get("addBatch", 0) / 1e3,
        "streaming.wal_commit_s": st.get("walCommit", 0) / 1e3,
        "streaming.commit_s": st.get("commitOffsets", 0) / 1e3,
        "streaming.noop_run_s": sum(walls(ops, "noop")),
        "etl.scan_clean_s": sum(u.get("scan_clean_s", 0.0) for u in units),
        "etl.rows_in": L["stream_input_rows"],
        "etl.rows_loaded": sum(o.get("rows", 0) for o in ops),
        "sink.bytes_written": L["output_bytes"],
        "sink.records_written": L["output_records"],
        "sink.files_written": L["files_written"],
        "sink.partitions_written": L["partitions_written"],
        # Traced over untraced unit wall time, medians, minus 1.
        "trace.overhead_ratio": statistics.median(u["wall_s"] for u in units)
        / statistics.median(u["wall_s"] for u in timed_units(result, False)) - 1,
    }
    for memo in ["sigs", "neardup", "shingleset", "shpos", "clusters"]:
        m[f"memo.{memo}_s"] = per_cycle(lambda c: c["memo_s"].get(memo, 0.0))
    for f, v in fam.items():
        m[f"queries.family.{f}_s"] = v
    return m


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["daily_etl", "llm_staging"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    for need in (CONFIG, os.path.join(ROOT, "BENCHMARK.json")):
        if not os.path.exists(need):
            fail(f"{os.path.relpath(need, ROOT)} not found")
    with open(CONFIG) as f:
        cfg = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    cp = build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args, ctx = prepare(a.workload, a.seed, a.seconds, work, cfg)
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    log = os.path.join(results, tag + ".log")
    out = os.path.join(work, "result.json")
    cores = host_cores()
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{host_heap()}", f"-Djava.io.tmpdir={work}/tmp",
              "-cp", cp, "perfbench.Client"])
    # Scratch (shuffle files, spilled and checkpointed blocks) stays in
    # the run's work directory.
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    steal0 = steal_s()
    t_jvm = time.time()
    kv = dict(args, workload=a.workload, trace=a.trace, seed=a.seed,
              cores=cores, spawn_ms=int(t_jvm * 1000), work=work, out=out)
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd + [f"{k}={v}" for k, v in kv.items()],
                                stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=work, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"client JVM timed out; see {log}")
    if rc != 0 or not os.path.exists(out):
        fail(f"client JVM failed (exit {rc}); see {log}")
    jvm_s = time.time() - t_jvm
    host_steal_s = steal_s() - steal0
    with open(out) as f:
        result = json.load(f)

    # Correctness, outside every timed region.
    t_check = time.time()
    wrong, malformed_loaded = set(), 0
    if a.workload == "daily_etl":
        problems, malformed_loaded = check_daily_etl(result, ctx, args["backfill"])
    else:
        wrong = set(check_oracle(result, ctx["check"], args["sf"], log))
        problems = [f"{n}: result disagrees with its DuckDB twin" for n in sorted(wrong)]
    check_s = time.time() - t_check

    e2e_units = timed_units(result, False)
    named, (batch, step) = named_metrics(a.workload, e2e_units)
    all_ops = [o for u in result["units"] for o in u["ops"]]
    bad = [o for o in all_ops if not o["ok"] or not o.get("correct", True)
           or o.get("name") in wrong]
    problems += [f"{o.get('name', o['kind'])}: {o['error']}" for o in all_ops if not o["ok"]]
    named["setup_s"] = median_of([result["setup_s"]], "s")
    named["peak_rss_mb"] = {"value": result["peak_rss_mb"], "unit": "MB", "n": 1}
    named["failed_ops_ratio"] = {"value": len(bad) / len(all_ops), "unit": "ratio",
                                 "n": len(all_ops)}
    if a.workload == "daily_etl":
        wh = e2e_units[-1]["table"]
        out_bytes = sum(os.path.getsize(os.path.join(d, f))
                        for d, _, fs in os.walk(wh) for f in fs if f.endswith(".parquet"))
        in_bytes = sum(f["bytes"] for f in ctx["files"])
        named["warehouse_bytes_per_input_byte"] = {
            "value": out_bytes / in_bytes, "unit": "ratio", "n": 1}
    e2e = {"setup_s": result["setup_s"], "batch_s": batch, "step_s": step}

    def op_rows(units):
        return [{k: o[k] for k in ("kind", "name", "wall_s", "steal_s", "ok") if k in o}
                for u in units for o in u["ops"]]
    detail = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "host": host_info(), "problems": problems,
              "checked": ctx.get("check", ctx.get("clean_check")),
              "named": named, "end_to_end": e2e,
              "setup": {k: result[k] for k in ("setup_s", "session_s", "warmup_s")},
              "warmup_ops": op_rows(u for u in result["units"] if u["warmup"]),
              "ops": op_rows(e2e_units),
              "memo_s": [u["memo_s"] for u in e2e_units if "memo_s" in u],
              "timing": {"jvm_s": jvm_s, "jvm_check_s": result["check_s"],
                         "host_steal_s": host_steal_s,
                         "check_s": check_s, "total_s": time.time() - t_start}}
    if a.trace:
        layers = layer_metrics(result, cores)
        layers["etl.rows_malformed_loaded"] = malformed_loaded
        detail["layers"] = layers
        detail["tracing"] = {"unit_walls_s": [
            {"traced": u["traced"], "wall_s": u["wall_s"]}
            for u in result["units"] if not u["warmup"]]}
        detail["spans"] = result["spans"]
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump(detail, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    for prob in problems:
        print(f"perfbench: {prob}", file=sys.stderr)
    print(json.dumps({"report": a.workload, "metrics": named, "problems": problems,
                      "host": detail["host"],
                      "detail": os.path.relpath(os.path.join(results, tag + ".json"), ROOT)}))
    sys.stdout.flush()
    sys.stderr.flush()
    print(json.dumps({"correct": not bad and not problems, "attempted": len(all_ops),
                      "failed": len(bad), "metrics": metrics}))
    sys.stdout.flush()


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload iot_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program and the harness from
source (once per source state), generates the seeded inputs, runs the
workload in one JVM, checks the outputs, prints every metric by name with
its unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end list; with --trace 1 its per_layer list.
Everything it writes goes under .bench_build/perfbench/.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import gen  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
# Spark on JDK 17 outside spark-submit needs these (the root build.sbt
# passes the same list to forked runs).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# Keep each JVM's files inside the checkout: no hsperfdata file under /tmp
# (the counters stay in process memory), and the same text encoding whatever
# the caller's locale.
JVM_LOCAL = ["-XX:+PerfDisableSharedMem", "-Dfile.encoding=UTF-8"]
# The root build.sbt sets no scalac options; the sources are UTF-8.
SCALAC_OPTIONS = ["-encoding", "UTF-8", "-nowarn"]
# Whole-run limits (seconds): a run that also builds may take longer.
RUN_LIMIT_S = 170
BUILD_RUN_LIMIT_S = 880
BUILD_LIMIT_S = 600


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_state():
    load = open("/proc/loadavg").read().split()[:3]
    mem = next(line.split()[1] for line in open("/proc/meminfo")
               if line.startswith("MemAvailable:"))
    cpu = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    return {"nproc": os.cpu_count(), "loadavg": [float(x) for x in load],
            "mem_available_mb": int(mem) // 1024, "cpu_ticks": cpu}


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    host_state() snapshots (the 8th /proc/stat field)."""
    delta = [b - a for a, b in zip(before["cpu_ticks"], after["cpu_ticks"])]
    return delta[7] / sum(delta) if len(delta) > 7 and sum(delta) else 0.0


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program (the root build's src/main) and the harness with
    scalac, in one pass, against the jar directory and Scala version the root
    build.sbt names, unless nothing changed since the last build; returns the
    classpath. sbt is not used: it locks and caches under the home directory,
    and this build reads only the checkout, the JDK and that jar directory,
    and writes only under .bench_build/."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        root_build = f.read()
    jar_dir = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', root_build)
    version = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', root_build)
    if not jar_dir or not version:
        fail("build.sbt names no unmanagedBase jar directory or no scalaVersion")
    jar_dir, version = jar_dir.group(1), version.group(1)
    compiler = [os.path.join(jar_dir, f"scala-{part}-{version}.jar")
                for part in ("compiler", "library", "reflect")]
    if not all(os.path.exists(j) for j in compiler):
        fail(f"no Scala {version} compiler jars in {jar_dir}")
    jars = sorted(os.path.join(jar_dir, j) for j in os.listdir(jar_dir) if j.endswith(".jar"))
    resources = os.path.join(ROOT, "src", "main", "resources")
    source_dirs = [os.path.join(ROOT, "src", "main", "scala"),
                   os.path.join(BENCH, "src", "main", "scala")]
    sources = sorted(os.path.join(d, f) for base in source_dirs
                     for d, _, fs in os.walk(base) for f in fs if f.endswith(".scala"))
    stamp = hashlib.sha256((tree_hash(source_dirs + [resources]) +
                            json.dumps([SCALAC_OPTIONS, jars])).encode()).hexdigest()
    classes = os.path.join(STATE, "classes")
    classpath = os.pathsep.join([classes, resources] + jars)
    cp_file = os.path.join(STATE, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            if json.load(f) == {"stamp": stamp, "classpath": classpath}:
                return classpath, False
        os.remove(cp_file)

    tmp = os.path.join(STATE, "build-tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["java", "-Xmx2g", "-Xss8m", *JVM_LOCAL, f"-Djava.io.tmpdir={tmp}",
             "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", *SCALAC_OPTIONS,
             "-d", os.path.join(tmp, "classes"), "-classpath", os.pathsep.join(jars), *sources],
            stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"build exceeded {BUILD_LIMIT_S} s; log in {log}")
    if rc != 0:
        sys.stderr.write("".join(open(log).readlines()[-30:]))
        fail(f"build failed (rc={rc}); log in {log}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(os.path.join(tmp, "classes"), classes)
    shutil.rmtree(tmp)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath, True


def inputs(workload, params, seed):
    """Generated inputs for (workload, seed), reused while the generator
    and its parameters are unchanged."""
    key = tree_hash([os.path.join(BENCH, "gen.py")]) + json.dumps(params, sort_keys=True)
    tag = hashlib.sha256(key.encode()).hexdigest()[:12]
    out = os.path.join(STATE, "data", f"{workload}-{seed}-{tag}")
    meta = os.path.join(out, "meta.json")
    if not os.path.exists(meta):
        shutil.rmtree(out, ignore_errors=True)
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        result = gen.generate(workload, params, seed, tmp)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(result, f)
        os.rename(tmp, out)
    with open(meta) as f:
        return out, json.load(f)


# ------------------------------------------------------------------ checks

def _compare_rules():
    """The correctness gate's comparison rules (tools/check.py)."""
    spec = importlib.util.spec_from_file_location("graft_check",
                                                  os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(con, rules, name, dump_dir, sql):
    """None when the Spark dump equals the oracle, else the reason."""
    pq = os.path.join(dump_dir, name)
    if not os.path.isdir(pq):
        return "no output"
    try:
        got_cols, got = rules.load_rows(con.sql(f"SELECT * FROM '{pq}/*.parquet'"))
        rel = con.sql(sql)
        bad_types = rules.dtype_violations(rel)
        exp_cols, exp = rules.load_rows(rel)
    except Exception as e:  # an oracle or dump that does not load is a mismatch
        return f"error: {e}"
    if bad_types:
        return f"oracle dtypes {bad_types}"
    if got_cols != exp_cols:
        return f"schema spark={got_cols} duckdb={exp_cols}"
    if len(got) != len(exp):
        return f"rowcount spark={len(got)} duckdb={len(exp)}"
    if got != exp:
        return f"{sum(g != e for g, e in zip(got, exp))}/{len(got)} rows differ"
    return None


def check_oracles(record, views):
    import duckdb
    rules = _compare_rules()
    con = duckdb.connect()
    for table, path in views.items():
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
    results = {}
    for name, sql in sorted(record["info"]["oracles"].items()):
        results[name] = compare(con, rules, name, record["info"]["check_dir"], sql)
    return results


def check_iot(record, meta):
    import duckdb
    truth = meta["truth"]
    chk = record["info"]["check_dir"]
    con = duckdb.connect()
    out = con.sql(f"SELECT * FROM read_json_auto('{chk}/enriched/*.json', union_by_name=true)")
    row = con.sql("""SELECT count(*), count(*) FILTER (WHERE temp_fahrenheit IS NULL),
                            count(*) FILTER (WHERE location_id IS NULL),
                            count(*) FILTER (WHERE NOT humidity_valid),
                            count(*) FILTER (WHERE abs(temp_fahrenheit
                                             - (temperature * 9.0 / 5.0 + 32.0)) > 1e-9)
                     FROM out""").fetchone()
    dlq = con.sql(f"SELECT count(*) FROM read_json_auto('{chk}/dead_letter/*.json')").fetchone()[0]
    seen = {"rows_out": row[0], "null_fahrenheit_rows": row[1], "lookup_miss_rows": row[2],
            "humidity_invalid_rows": row[3], "dlq_rows": dlq}
    results = {k: (None if v == truth[k] else f"read {v}, generator {truth[k]}")
               for k, v in seen.items()}
    results["fahrenheit_formula"] = None if row[4] == 0 else f"{row[4]} rows off"
    for k, v in record["info"]["program_counts"].items():
        results[f"program_{k}"] = None if v == truth[k] else f"program {v}, generator {truth[k]}"
    return results, seen


def check(workload, record, data, meta):
    """Returns ({check: None | mismatch}, extra per-layer counts)."""
    if workload == "iot_etl":
        return check_iot(record, meta)
    if workload == "query_mix":
        views = {t: os.path.join(data, f"{t}.parquet") for t in gen.TABLES}
        results = check_oracles(record, views)
        # a sampled query without an oracle passes by running
        for name in record["info"]["order"]:
            results.setdefault(name, None if os.path.isdir(
                os.path.join(record["info"]["check_dir"], name)) else "no output")
        return results, {}
    import duckdb
    first, last = record["info"]["fed_event_ids"]
    fed = os.path.join(record["info"]["check_dir"], "events.parquet")
    duckdb.connect().execute(
        f"COPY (SELECT * FROM '{data}/events.parquet' WHERE event_id BETWEEN {first} AND {last}"
        f" ORDER BY event_id) TO '{fed}' (FORMAT PARQUET)")
    return check_oracles(record, {"events": fed}), {}


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("tools", "check.py"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the repository root: {need} is missing")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    params_file = os.path.join(BENCH, "workloads.json")
    with open(params_file) as f:
        params = json.load(f)
    if args.workload not in params or args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    os.makedirs(STATE, exist_ok=True)

    classpath, built = build()
    limit = (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - t_start)
    wl = params[args.workload]
    data, meta = inputs(args.workload, wl["generator"], args.seed)
    work = os.path.join(STATE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    records = os.path.join(STATE, "records")
    os.makedirs(records, exist_ok=True)
    rec_file = os.path.join(records, f"{args.workload}-{args.seed}-trace{args.trace}.json")

    host_before = host_state()
    cmd = ["java", *params["host"]["jvm_options"], *JVM_LOCAL, f"-Djava.io.tmpdir={work}/tmp",
           *ADD_OPENS, "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--params", params_file, "--data", data, "--work", work, "--out", rec_file]
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(limit - 15, 10))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"workload exceeded its time limit; log in {jvm_log}")
    if rc != 0 or not os.path.exists(rec_file):
        sys.stderr.write("".join(open(jvm_log).readlines()[-30:]))
        fail(f"JVM exited with {rc}; log in {jvm_log}")
    with open(rec_file) as f:
        record = json.load(f)

    checks, counts = check(args.workload, record, data, meta)
    mismatches = {k: v for k, v in checks.items() if v is not None}
    attempted = record["attempted"]
    failed = record["failed"] + len(mismatches)
    metrics = {k: v for k, v in record["metrics"].items()}
    metrics["success_ratio"] = {"value": 1.0 - failed / attempted, "unit": "ratio"}
    metrics["failed_ratio"] = {"value": failed / attempted, "unit": "ratio"}
    if args.trace:
        metrics["lookup_miss_rows"] = {"value": float(counts.get("lookup_miss_rows", 0)),
                                       "unit": "count"}
    host_after = host_state()
    record.update(host_before=host_before, host_after=host_after,
                  cpu_steal_share=steal_share(host_before, host_after),
                  input_digest=meta["digest"], checks=checks, metrics=metrics, failed=failed)
    with open(rec_file, "w") as f:
        json.dump(record, f, indent=1)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"input sha256 {meta['digest']}")
    print(f"host: nproc {host_before['nproc']}, loadavg {host_before['loadavg']} -> "
          f"{host_after['loadavg']}, MemAvailable {host_before['mem_available_mb']} -> "
          f"{host_after['mem_available_mb']} MB, cpu steal {record['cpu_steal_share']:.1%}")
    for name, m in metrics.items():
        print(f"  {name:24s} {m['value']:.6g} {m['unit']}")
    for k in ("op_tail", "setup_runs_s", "warmup_units_s", "warmup_jit_ms", "timed_units"):
        if k in record["info"]:
            print(f"  {k}: {json.dumps(record['info'][k])}")
    print(f"checks: {len(checks) - len(mismatches)}/{len(checks)} pass")
    for k, v in sorted(mismatches.items()):
        print(f"  MISMATCH {k}: {v}")
    for e in record["errors"]:
        print(f"  FAILED {e}")
    if args.trace:
        base = os.path.join(records, f"{args.workload}-{args.seed}-trace0.json")
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)["metrics"]
            for m in spec["end_to_end"]:
                a, b = metrics.get(m["name"]), untraced.get(m["name"])
                if a and b and b["value"]:
                    print(f"  tracing overhead {m['name']}: {a['value'] - b['value']:+.6g} "
                          f"{m['unit']} ({(a['value'] / b['value'] - 1) * 100:+.1f}%)")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    out = {m["name"]: {"value": float(metrics[m["name"]]["value"]) if m["name"] in metrics
                       else 0.0, "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": not mismatches and record["failed"] == 0,
                      "attempted": attempted, "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()

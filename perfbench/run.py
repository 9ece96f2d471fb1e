#!/usr/bin/env python3
"""Layered benchmark of the Spark ELT/curation library in this repository.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness with sbt into .bench_build/ (offline); later runs reuse the build
while the sources are unchanged; a run that builds also generates the query
tables and computes every query op's DuckDB oracle answer, once per
checkout. --seed makes the weather payloads and the op order within each
pass. The harness runs one JVM at local[nproc]: it sets up several times,
runs whole closed-loop passes over the workload's ops (as many as fill
--seconds at the nominal pass time, at least the workload's minimum),
checks the outputs once outside the timed region, and writes a raw record
that this script turns into metrics. Untraced runs print the end-to-end metrics; traced runs
print the per-layer metrics and write the full trace artifact to
.bench_build/trace/. The last stdout line is the JSON result.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


BUILD_FORMAT = "app-jar-1"


def source_stamp():
    h = hashlib.sha256(BUILD_FORMAT.encode())
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/main/**/*"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project/build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program's sources with the harness; returns the java
    argument file holding the classpath, and whether it compiled now."""
    argfile = os.path.join(BUILD, "classpath.args")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(argfile) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return argfile, False
    for old in glob.glob(os.path.join(BUILD, "cds-*.jsa")):
        os.remove(old)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                            "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800)
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if l.startswith("/") and ".bench_build" in l.split(":")[0]]
    if r.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed (see .bench_build/build.log)", 1)
    # classes go into a jar: the JVM's class-data-sharing archive covers
    # only classes loaded from jars
    classes, *jars = cp[-1].split(":")
    app_jar = os.path.join(BUILD, "app.jar")
    with zipfile.ZipFile(app_jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for name in sorted(files):
                full = os.path.join(d, name)
                z.write(full, os.path.relpath(full, classes))
    os.replace(app_jar + ".tmp", app_jar)
    with open(argfile, "w") as f:
        f.write("-cp\n" + ":".join([app_jar] + jars) + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return argfile, True


# groups generated once per checkout, from this fixed seed; the rest are
# generated per --seed
FIXED_GROUPS = {"star", "events", "corpus"}
FIXED_SEED = 0


def java(argfile):
    return (["java", f"@{argfile}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")])


def prepare_oracles(argfile, cfg):
    """After a build: generate the fixed query tables and compute the oracle
    answer of every query op of every workload, so that no measured run
    pays for DuckDB's first evaluation (tens of seconds for some ops)."""
    wls = [w for w in cfg["workloads"].values() if w.get("ops")]
    data = inputs(None, sorted({g for w in wls for g in w["tables"]}))
    ops = sorted({op for w in wls for op in w["ops"]})
    sql = os.path.join(BUILD, "oracle_sql.json")
    subprocess.run(java(argfile) + ["perfbench.OracleSql", sql] + ops, check=True,
                   stdout=subprocess.DEVNULL, stdin=subprocess.DEVNULL, timeout=120)
    import oracle  # needs the program's tools/ and duckdb
    with open(sql) as f:
        oracle.answers(data, json.load(f))


def inputs(seed, groups):
    """The input directory of a workload's table groups, each group made
    once and reused."""
    fixed = FIXED_GROUPS.issuperset(groups)
    if not fixed and FIXED_GROUPS.intersection(groups):
        fail(f"table groups {groups} mix fixed and seeded inputs")
    d = os.path.join(BUILD, "data", "fixed" if fixed else f"seed-{seed}")
    todo = [g for g in groups if not os.path.exists(os.path.join(d, f".done-{g}"))]
    if todo:
        gen_seed = FIXED_SEED if fixed else seed
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), d, str(gen_seed)] + todo,
                       check=True, timeout=120)
        for g in todo:
            open(os.path.join(d, f".done-{g}"), "w").close()
    return d


def passes(seconds, wl):
    """Whole passes filling `seconds` at the workload's nominal pass time on
    a 4-core machine, at least the workload's minimum. Fixed by the
    arguments, never by how fast this run goes, so every run of a workload
    measures the same ops."""
    return max(wl.get("min_passes", 1), round(seconds / wl["nominal_pass_s"]))


def clear_fixture_roots():
    """The program's fixed /tmp/graft_* roots; all of them are directories,
    so plain files that merely share the prefix are left alone."""
    for p in glob.glob("/tmp/graft_*"):
        if os.path.isdir(p) and not os.path.islink(p):
            shutil.rmtree(p, ignore_errors=True)


def run_jvm(argfile, cfg, wl, args, data, cores, out):
    n_passes = passes(args.seconds, wl)
    state = os.path.join(BUILD, "state")
    shutil.rmtree(state, ignore_errors=True)
    os.makedirs(os.path.join(state, "tmp"), exist_ok=True)
    # class-data sharing: the first run of a workload after a build dumps
    # the classes it loaded; later runs map them instead of loading them
    with open(os.path.join(BUILD, "build.stamp")) as f:
        cds = os.path.join(BUILD, f"cds-{args.workload}-{f.read()[:16]}.jsa")
    cds_flag = (f"-XX:SharedArchiveFile={cds}" if os.path.exists(cds)
                else f"-XX:ArchiveClassesAtExit={cds}")
    cmd = (java(argfile) + [cds_flag, "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
                            "-Xmx3g", "-XX:+UseParallelGC",
                            f"-Djava.io.tmpdir={state}/tmp", "-Dspark.ui.enabled=false"]
           + ["perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--passes", str(n_passes), "--trace", str(args.trace),
              "--ops", ",".join(wl.get("ops", [])),
              "--profile-ops", ",".join(wl.get("profile_ops", []) if args.trace else []),
              "--data", data, "--state", state,
              "--out", out, "--cores", str(cores), "--setups", str(cfg["setups"]),
              "--cycles-per-pass", str(wl.get("cycles_per_pass", 0)), "--warmup-ops", str(wl.get("warmup_ops", 0)),
              "--fixture-lakes", "1" if wl.get("fixture_lakes") else "0"])
    log = os.path.join(BUILD, f"jvm-{args.workload}.log")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out after {JVM_TIMEOUT_S}s (see {log})", 1)
    if rc != 0 and os.path.exists(out):
        # the record is written last, so the run itself completed; a failed
        # class-data-sharing dump at exit must not fail it
        print(f"perfbench: harness exited {rc} after writing its record (see {log})",
              file=sys.stderr)
    elif rc != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited {rc} (see {log})", 1)
    with open(out) as f:
        return json.load(f)


def correctness(rec, data, ops):
    """Failed op executions: those that threw, plus every execution of an op
    whose checked output is wrong."""
    r = stats.Record(rec)
    threw = {(f["op"], f["pass"]) for f in rec["failures"]}
    check = rec["check"]
    if check["kind"] == "mart":
        wrong = check["missing"] + check["extra"] > 0
        problems = {"mart": f"{check['missing']} missing, {check['extra']} extra rows"} if wrong else {}
        bad_ops = {o["attrs"]["op"] for o in r.ops} if wrong else set()
    else:
        import oracle  # needs the program's tools/ and duckdb
        problems = oracle.compare(data, check["dir"], ops, check["errors"])
        bad_ops = set(problems)
    failed = sum(1 for o in r.ops
                 if o["attrs"]["op"] in bad_ops or (o["attrs"]["op"], o["attrs"]["pass"]) in threw)
    return failed, problems


def end_to_end(rec, wl):
    r = stats.Record(rec)
    lat = r.op_latencies_s()
    m = {"setup_s": stats.median(rec["setup_s"]),
         "pass_s": stats.median(r.pass_s()),
         "op_p50_s": stats.median(lat),
         "op_gmean_s": r.op_gmean_s(),
         "retained_heap_mb": rec["heap_mb"]}
    t = stats.tail(lat)
    extra = {"samples": len(lat), "passes": len(r.passes)}
    if t:
        m["op_tail_s"] = t[0]
        extra.update(op_tail_percentile=t[1], op_tail_beyond=t[2])
    fifth = max(1, len(lat) // 5)
    if "cycles_per_pass" in wl:
        m["late_over_early"] = stats.median(lat[-fifth:]) / stats.median(lat[:fifth])
    store = rec.get("store") or {}
    if store.get("live_bytes"):
        m["store_amp"] = store["total_bytes"] / store["live_bytes"]
    return m, extra


def per_layer(rec, cores):
    r = stats.Record(rec)
    rows = [(o["attrs"]["op"], r.op_layers(o, cores)) for o in r.ops]
    profiled = [(o["attrs"]["op"], r.op_layers(o, cores)) for o in r.profiled]
    keys = sorted({k for _, m in rows + profiled for k in m})
    ratio = {"execution.core_busy", "execution.task_skew"}
    layers = {}
    for k in keys:
        if "." not in k:
            continue  # per-op helpers (wall time, join rows), not layers
        vals = [m.get(k, 0) for _, m in rows]
        layers[k] = stats.median(vals) if k in ratio else sum(vals) / len(vals)
    store = rec.get("store") or {}
    layers["sources.live_manifests"] = store.get("live_manifests", 0)
    per_op = {}
    for op, m in rows + profiled:
        per_op.setdefault(op, []).append(m)
    per_op = {op: {k: sum(m.get(k, 0) for m in ms) / len(ms) for k in keys}
              for op, ms in per_op.items()}
    # module time per pass, and join amplification per module
    modules = {}
    for p in r.passes:
        for o in r.children.get(p["id"], []):
            mod = stats.module_of(o["attrs"]["op"])
            if mod is None:
                continue
            modules.setdefault(mod, {}).setdefault(p["id"], 0.0)
            modules[mod][p["id"]] += r.duration_s(o)
    for mod, by_pass in modules.items():
        layers[f"{mod}.op_s"] = stats.median(list(by_pass.values()))
    for mod in ("dedup", "similarity"):
        ms = [m for op, m in rows if stats.module_of(op) == mod]
        if ms:
            out = sum(m["result_rows"] for m in ms)
            layers[f"{mod}.join_amp"] = sum(m["widest_join_rows"] for m in ms) / max(1, out)
    # weather cycle stages
    stage_ms = {}
    for o in r.ops:
        for c in r.children.get(o["id"], []):
            stage_ms.setdefault(c["name"], []).append(c["end"] - c["start"])
    if rec["workload"] == "etl_hourly":
        for s in ("land", "load", "upsert", "mart", "backfill", "maintenance"):
            v = stage_ms.get(s, [])
            layers[f"weather.{s}_ms"] = sum(v) / len(v) if v else 0.0
        layers["weather.gate_rejected_rows"] = rec["extra"].get("gate_rejected_rows", 0)
    fns = (rec.get("trace") or {}).get("functions") or {}
    for name, v in fns.items():
        if isinstance(v, dict) and "ns_per_row" in v:
            layers[f"functions.{name}.ns_per_row"] = v["ns_per_row"]
    return layers, per_op, fns


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        fail("run from the repository root: the program's sources are missing")
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in cfg["workloads"]:
        fail(f"unknown workload {args.workload}; one of {sorted(cfg['workloads'])}")
    wl = cfg["workloads"][args.workload]
    cores = len(os.sched_getaffinity(0))

    os.makedirs(BUILD, exist_ok=True)
    # one run at a time per checkout: runs share the build, the state
    # directory and the program's fixed /tmp roots
    lock = open(os.path.join(BUILD, "run.lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    t0 = time.time()
    argfile, built = build()
    if built:
        prepare_oracles(argfile, cfg)
    data = inputs(args.seed, wl["tables"])
    t1 = time.time()
    os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
    out = os.path.join(BUILD, f"record-{args.workload}.json")
    if os.path.exists(out):
        os.remove(out)
    clear_fixture_roots()
    try:
        rec = run_jvm(argfile, cfg, wl, args, data, cores, out)
        t2 = time.time()
        failed, problems = correctness(rec, data, wl.get("ops", []))
        t3 = time.time()
        print(f"[perfbench] build+inputs {t1 - t0:.1f}s, harness {t2 - t1:.1f}s, "
              f"oracle {t3 - t2:.1f}s, harness phases {rec['phase_s']}", file=sys.stderr)
    finally:
        clear_fixture_roots()
    r = stats.Record(rec)
    attempted = len(r.ops)
    for op, p in sorted(problems.items()):
        print(f"[perfbench] {args.workload} CHECK FAIL {op}: {p}", file=sys.stderr)

    e2e, extra = end_to_end(rec, wl)
    e2e["fail_ratio"] = failed / attempted
    units = dict(cfg["units"])
    units.update({m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]})
    for k in sorted(e2e):
        note = ""
        if k == "op_tail_s":
            note = f"  (p{extra['op_tail_percentile']}, {extra['op_tail_beyond']} beyond, n={extra['samples']})"
        print(f"{args.workload} {k} = {e2e[k]:.6g} {units.get(k, '')}{note}")
    if "op_tail_s" not in e2e:
        print(f"{args.workload} op_tail_s = n/a s  (n={extra['samples']}: no percentile "
              "has 10 samples beyond it)")
    last_untraced = os.path.join(BUILD, f"untraced-{args.workload}.json")
    if args.trace == 0:
        with open(last_untraced, "w") as f:
            json.dump({"seed": args.seed, "pass_s": e2e["pass_s"]}, f)
        names = [m["name"] for m in bench["end_to_end"]]
        metrics = {k: {"value": e2e[k], "unit": units[k]} for k in names}
    else:
        layers, per_op, fns = per_layer(rec, cores)
        overhead = None
        if os.path.exists(last_untraced):
            with open(last_untraced) as f:
                base = json.load(f)
            overhead = {"traced_pass_s": e2e["pass_s"], "untraced_pass_s": base["pass_s"],
                        "untraced_seed": base["seed"],
                        "ratio": e2e["pass_s"] / base["pass_s"]}
        artifact = {"workload": args.workload, "seed": args.seed, "cores": cores,
                    "end_to_end_traced": e2e, "tracing_overhead": overhead,
                    "per_layer": layers, "per_layer_notes": cfg["per_layer_notes"],
                    "per_op": per_op, "functions": fns,
                    "check_problems": problems, "record": rec}
        path = os.path.join(BUILD, "trace", f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(artifact, f)
        for k in sorted(layers):
            print(f"{args.workload} {k} = {layers[k]:.6g}")
        print(f"{args.workload} trace artifact: {os.path.relpath(path, ROOT)}")
        names = [m["name"] for m in bench["per_layer"]]
        metrics = {k: {"value": layers.get(k, 0), "unit": units.get(k, "count")} for k in names}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

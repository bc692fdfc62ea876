#!/usr/bin/env python3
"""Benchmark of the graft Spark pipeline.

Run from the repository root:

    python3 perfbench/run.py --workload floor --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1

One run of a workload: build the program from source (cached), generate the
seed's inputs (cached), start a fresh JVM that warms up and then times one
closed-loop pass over the workload's fixed query list (one client, each
query written to the `noop` sink as graft.Bench does), dump every query's
output, and check it against its DuckDB oracle with scripts/check.py. The
pass is fixed work, so its times compare across commits; --seconds is the
nominal length it was sized to. `--trace 1` attaches Spark listeners and
layer timers and reports per-layer metrics instead of end-to-end ones.
`--workload all` runs every workload untraced and traced and states the
tracing overhead. Workloads, query lists and the session shape are in
perfbench/workloads.json.

The last stdout line is one JSON object with the keys correct, attempted,
failed and metrics. Ledgers, spans and JVM logs go to
<build dir>/results/. The build dir is $CARGO_TARGET_DIR, else .bench_build.
"""
import argparse
import contextlib
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep __pycache__ out of perfbench/ and scripts/
import gen  # noqa: E402  (perfbench/gen.py, after the bytecode switch)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(HERE, "workloads.json")))
JVM_TIMEOUT_S = 150
CHECK_TIMEOUT_S = 60
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    """$SPARK_HOME/jars, else the jar dir build.sbt names as unmanagedBase."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = open(os.path.join(ROOT, "build.sbt")).read() if os.path.exists(
            os.path.join(ROOT, "build.sbt")) else ""
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        die(f"no Spark jars under {jars!r}; set SPARK_HOME")
    return jars


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not prog or not os.path.exists(os.path.join(ROOT, "scripts/check.py")):
        die("run from the root of a furchildspark checkout "
            "(src/main/scala and scripts/check.py not found)")
    return prog + sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))


def build():
    """Compile the program and the bench driver with scalac into one jar,
    and record a class-data-sharing archive of the classes set-up loads.
    A build whose source hash matches is reused. Returns (jar, archive)."""
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(f.encode())
        digest.update(open(f, "rb").read())
    out = os.path.join(build_dir(), "classes", digest.hexdigest()[:16])
    jar, archive = os.path.join(out, "graft.jar"), os.path.join(out, "setup.jsa")
    if os.path.exists(os.path.join(out, ".done")):
        return jar, archive
    log(f"perfbench: compiling {len(srcs)} Scala files")
    shutil.rmtree(os.path.dirname(out), ignore_errors=True)
    os.makedirs(os.path.join(out, "classes"))
    compiler = ":".join(glob.glob(os.path.join(jars, f"scala-{m}-2.13.*.jar"))[0]
                        for m in ("compiler", "library", "reflect"))
    t0 = time.time()
    p = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", compiler,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", f"{jars}/*", "-d", os.path.join(out, "classes")]
                       + srcs, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        log(p.stdout[-4000:])
        die("scalac failed")
    # The JVM maps archived classes only from jars, not class directories.
    subprocess.run(["jar", "-J-XX:-UsePerfData", "cf", jar, "-C", os.path.join(out, "classes"), "."],
                   check=True)
    log(f"perfbench: compiled in {time.time() - t0:.1f} s; recording the set-up class archive")
    # The archive holds what a set-up alone loads (session and warm-up), so
    # it shortens JVM start for every workload alike and leaves the classes
    # each workload's own queries load to its timed pass.
    set_up_only = {"name": "cds", "scale": SPEC["session"]["warmup_scale"], "queries": []}
    run_jvm((jar, None), set_up_only, SPEC["seeds"]["development"], False,
            os.path.join(out, "cds-run"), [f"-XX:ArchiveClassesAtExit={archive}"])
    if not os.path.exists(archive):
        die("the JVM wrote no class archive")
    open(os.path.join(out, ".done"), "w").close()
    log(f"perfbench: built in {time.time() - t0:.1f} s")
    return jar, archive


def inputs(seed, sf):
    """The seed's tables at scale sf; other seeds' tables are deleted."""
    data = os.path.join(build_dir(), "data")
    for old in glob.glob(os.path.join(data, "seed*")):
        if os.path.basename(old) != f"seed{seed}":
            shutil.rmtree(old)
    with contextlib.redirect_stdout(sys.stderr):
        return gen.generate(seed, sf, os.path.join(data, f"seed{seed}"))


def run_jvm(program, wl, seed, trace, out_dir, jvm_flags=()):
    """One fresh JVM: warm-up, the timed pass, per-query oracle dump."""
    jar, archive = program
    work = os.path.join(out_dir, "work")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    dump = os.path.join(out_dir, "dump")
    sf_dir = inputs(seed, wl["scale"])
    warm_dir = inputs(seed, SPEC["session"]["warmup_scale"])
    result = os.path.join(out_dir, "result.json")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    launch_us = time.time_ns() // 1000
    if archive:
        jvm_flags = [f"-XX:SharedArchiveFile={archive}"] + list(jvm_flags)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    cmd = (["java", "-XX:-UsePerfData"] + ADD_OPENS + list(jvm_flags) + SPEC["session"]["jvm_flags"] + [
        f"-Djava.io.tmpdir={work}/tmp",
        "-cp", f"{jar}:{spark_jars()}/*", "perfbench.Driver",
        f"launch_us={launch_us}", f"sf={sf_dir}", f"warm_sf={warm_dir}",
        "queries=" + ",".join(wl["queries"]),
        "warmups=" + ",".join(SPEC["session"]["warmups"]),
        f"trace={int(trace)}", f"dump={dump}",
        f"out={result}", f"spans={out_dir}/spans.jsonl", f"work={work}"])
    with open(os.path.join(out_dir, "jvm.log"), "w") as jlog:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=jlog, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"{wl['name']}: JVM exceeded {JVM_TIMEOUT_S} s; log in {out_dir}/jvm.log")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0 or not os.path.exists(result):
        die(f"{wl['name']}: JVM exited with {code}; log in {out_dir}/jvm.log")
    return json.load(open(result)), sf_dir, dump


def oracle_gate(sf_dir, dump, names):
    """scripts/check.py over the dumped outputs: {query: verdict line}."""
    try:
        p = subprocess.run([sys.executable, os.path.join(ROOT, "scripts/check.py"),
                            sf_dir, dump, ",".join(names)],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=CHECK_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"scripts/check.py exceeded {CHECK_TIMEOUT_S} s")
    verdicts = {}
    for line in p.stdout.splitlines():
        m = re.match(r"(PASS|FAIL|ORDER-FAIL|DTYPE-FAIL) (\S+?):? ", line + " ")
        if m:
            verdicts[m.group(2)] = line
    if not re.search(r"== \d+ pass / \d+ fail ==", p.stdout):
        log(p.stdout[-2000:])
        die("scripts/check.py did not finish")
    return verdicts


def tail_mean(xs, pct):
    """Mean of the values at or above the nearest-rank percentile pct."""
    s = sorted(xs)
    top = s[max(0, math.ceil(pct / 100 * len(s)) - 1):]
    return sum(top) / len(top)


def end_to_end(res, rows, wl):
    ok = [r["window_s"] for r in rows if r["error_class"] is None]
    if not ok:
        die(f"{wl['name']}: every query failed")
    return {
        "setup_s": res["setup_s"],
        "makespan_s": sum(ok),
        "query_p50_s": statistics.median(ok),
        "query_tail_s": tail_mean(ok, wl["tail_pct"]),
        "cpu_s": sum(r["cpu_s"] for r in rows if r["error_class"] is None),
        "peak_rss_mb": res["peak_rss_kb"] / 1024,
    }


def per_layer(res, rows, e2e):
    def s(k):
        return sum(r[k] for r in rows)
    micro = res["micro"]
    occupied = s("occupied_s")
    return {
        "queries.build_s": s("build_s"),
        "queries.build_jobs": s("build_jobs"),
        "queries.write_s": s("write_s"),
        "plans.cuts": s("cuts"),
        "plans.cut_mb": s("cut_mb"),
        "sources.load_cold_ms": micro["load_cold_ms"],
        "sources.load_warm_ms": micro["load_warm_ms"],
        "sources.input_mb": s("input_mb"),
        "sources.input_rows": s("input_rows"),
        "functions.md5_u64_ns": micro["md5_u64_ns"],
        "functions.rolling_hash_ns": micro["rolling_hash_ns"],
        "functions.vector_dot_ns": micro["vector_dot_ns"],
        "streaming.batches": s("batches"),
        "streaming.trigger_ms": s("trigger_ms"),
        "streaming.add_batch_ms": s("add_batch_ms"),
        "streaming.commit_ms": s("commit_ms"),
        "streaming.state_commit_ms": s("state_commit_ms"),
        "streaming.state_rows": s("state_rows"),
        "spark.planning.analysis_ms": s("analysis_ms"),
        "spark.planning.optimization_ms": s("optimization_ms"),
        "spark.planning.physical_ms": s("physical_ms"),
        "spark.codegen.classes": s("codegen_classes"),
        "spark.codegen.compile_ms": s("codegen_ms"),
        "spark.exec.jobs": s("jobs"),
        "spark.exec.stages": s("stages"),
        "spark.exec.tasks": s("tasks"),
        "spark.exec.task_s": s("task_s"),
        "spark.exec.cpu_s": s("exec_cpu_s"),
        "spark.exec.gc_s": s("exec_gc_s"),
        "spark.exec.shuffle_read_mb": s("shuffle_read_mb"),
        "spark.exec.shuffle_write_mb": s("shuffle_write_mb"),
        "spark.exec.spill_mb": s("spill_mb"),
        "spark.exec.output_mb": s("output_mb"),
        "spark.exec.failed_tasks": s("failed_tasks"),
        "spark.exec.slot_util": s("task_s") / (res["cores"] * occupied) if occupied else 0.0,
        "spark.driver.gap_s": s("gap_s"),
        "jvm.gc_s": s("jvm_gc_ms") / 1e3,
        "jvm.jit_ms": s("jit_ms"),
        "trace.makespan_s": e2e["makespan_s"],
        "trace.self_build_s": s("self_build_s"),
        "trace.self_write_s": s("self_write_s"),
        "trace.batch_s": s("batch_s"),
    }


def run_workload(name, seed, trace):
    wl = next((w for w in SPEC["workloads"] if w["name"] == name), None)
    if wl is None:
        die(f"unknown workload {name!r}; one of "
            + ", ".join(w["name"] for w in SPEC["workloads"]) + ", all")
    program = build()
    out_dir = os.path.join(build_dir(), "results", f"{name}-seed{seed}-trace{int(trace)}")
    res, sf_dir, dump = run_jvm(program, wl, seed, trace, out_dir)
    rows = res["queries"]
    verdicts = oracle_gate(sf_dir, dump, wl["queries"])
    bad = {}
    for r in rows:
        if r["error_class"] is not None:
            bad[r["name"]] = f"THREW {r['error_class']}: {r['error_message']}"
        elif not verdicts.get(r["name"], "").startswith("PASS"):
            bad[r["name"]] = verdicts.get(r["name"], "NO VERDICT") + (
                f" (dump failed: {res['dump_errors'][r['name']]})"
                if r["name"] in res["dump_errors"] else "")
    known = set(wl.get("known_failures", {}))
    for q, why in sorted(bad.items()):
        log(f"{name}: {'known ' if q in known else ''}failure {q}: {why.splitlines()[0][:300]}")
    e2e = end_to_end(res, rows, wl)
    with open(os.path.join(out_dir, "ledger.jsonl"), "w") as f:
        for r in rows:
            f.write(json.dumps(dict(r, oracle=verdicts.get(r["name"]))) + "\n")
    summary = {
        "workload": name, "seed": seed, "trace": int(trace),
        "attempted": len(wl["queries"]), "failed": len(bad),
        "failed_frac": len(bad) / len(wl["queries"]),
        "failures": bad, "unexpected_failures": sorted(set(bad) - known),
        "cores": res["cores"], "timed_s": sum(r["window_s"] for r in rows),
        "spark.sql.ansi.enabled": res["ansi_enabled"],
        "metrics": per_layer(res, rows, e2e) if trace else e2e,
    }
    json.dump(summary, open(os.path.join(out_dir, "summary.json"), "w"), indent=1)
    for scratch in ("work", "dump"):
        shutil.rmtree(os.path.join(out_dir, scratch))
    log(f"perfbench: ledger, spans and summary in {out_dir}")
    return summary


def units():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}


def report(summary, unit):
    name = summary["workload"]
    for k, v in summary["metrics"].items():
        print(f"{name:10s} {k:32s} {v:14.4f} {unit.get(k, '')}")
    print(f"{name:10s} {'failed_frac':32s} {summary['failed_frac']:14.4f} ratio"
          f"  ({summary['failed']}/{summary['attempted']}"
          + (": " + ", ".join(sorted(summary["failures"])) if summary["failures"] else "") + ")")


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run finally: blocks
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="a workload name, or all")
    ap.add_argument("--seed", type=int, default=SPEC["seeds"]["development"])
    ap.add_argument("--seconds", type=float, default=15,
                    help="nominal run length; a run times one fixed pass sized to about this")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    unit = units()
    every = args.workload == "all"
    names = [w["name"] for w in SPEC["workloads"]] if every else [args.workload]
    summaries = []
    for name in names:
        for trace in ([0, 1] if every else [args.trace]):
            summaries.append(run_workload(name, args.seed, trace))
            report(summaries[-1], unit)
            timed = summaries[-1]["timed_s"]
            log(f"perfbench: {name} timed pass {timed:.1f} s (nominal {args.seconds:g} s)")
        if every:
            plain, traced = summaries[-2:]
            overhead = traced["metrics"]["trace.makespan_s"] / plain["metrics"]["makespan_s"] - 1
            print(f"{name:10s} {'tracing_overhead':32s} {overhead:14.4f} ratio"
                  " (traced / untraced makespan_s - 1)")
    metrics = {}
    for s in summaries:
        for k, v in s["metrics"].items():
            metrics[f"{s['workload']}.{k}" if every else k] = {"value": v, "unit": unit[k]}
    print(json.dumps({
        "correct": all(not s["unexpected_failures"] for s in summaries),
        "attempted": sum(s["attempted"] for s in summaries),
        "failed": sum(s["failed"] for s in summaries),
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()

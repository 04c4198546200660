#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It builds the engine (with the
checkout's own build) and the harness from source with sbt, once per
source state; makes the workload's inputs (the x10 corpus once per
checkout, in a JVM of its own); starts a fresh JVM that runs the workload
(perfbench/harness); checks every job's output; and prints each metric by
name with its unit. setup_s is that JVM's process start → session ready
and inputs registered. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 they are the per-layer ones,
derived from the run's spans.

A run makes a cold pass over the workload's jobs and then a fixed number
of warm passes (workloads.json), which normally take about --seconds;
twice --seconds caps them on a pathologically slow host. warm_wall_s is
the fastest warm pass, cpu_s the executor CPU time of that pass, and
rows_per_s the input rows over warm_wall_s.

Workload definitions (job lists, scales, what the seed controls, which
end-to-end metric each per-layer metric should move) are frozen in
perfbench/workloads.json; the recorded output checksums are in
perfbench/checksums.json. `--record` re-records the checksums of the
query workloads and the x10 corpus tables instead of checking them.
"""

import argparse
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

import cortex_gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(HERE, ".work")
SPEC = os.path.join(HERE, "workloads.json")
SUMS = os.path.join(HERE, "checksums.json")
BENCH = os.path.join(ROOT, "BENCHMARK.json")
CORES = 4
RUN_TIMEOUT_S = 170
SBT_TIMEOUT_S = 840
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
LOG_LINE = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d (ERROR|WARN) ")
MB = 1024.0 * 1024.0


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of everything the harness build compiles: the engine's build
    and sources, and the harness's."""
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x != "target"]
            paths += [os.path.join(d, f) for f in files
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt once per source state; returns the
    runtime classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "classpath.stamp")
    digest = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as lf:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
                           stderr=lf, stdin=subprocess.DEVNULL, text=True,
                           timeout=SBT_TIMEOUT_S)
        lf.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.startswith("/")]
    if r.returncode != 0 or not lines:
        fail(f"build failed (see {log})")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(digest)
    return lines[-1]


def check_inputs(spec):
    data = os.path.join(ROOT, spec["data"]["dir"])
    for name, want in spec["data"]["sha256"].items():
        p = os.path.join(data, name)
        if not os.path.exists(p):
            fail(f"missing input {p}")
        with open(p, "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != want:
                fail(f"input {p} differs from the frozen copy")
    return data


def cpu_times():
    """Aggregate /proc/stat cpu jiffies, or None where there is no /proc."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def run_jvm(classpath, args, run_dir, extra_env, name, deadline):
    """Runs perfbench.Main in a fresh JVM; returns its ERROR and WARN log
    line counts. The launch time goes in as --launched-ns, so the JVM can
    time its set-up from process start."""
    tmp = os.path.join(run_dir, "tmp")
    # a fixed heap and the stop-the-world throughput collector: G1's
    # concurrent marking threads and heap resizing compete with the four
    # task threads for the host's cores and make pass times spread
    cmd = ["java", "-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"), **extra_env)
    env.pop("SPARK_GRAFT_MASTER", None)
    os.makedirs(tmp, exist_ok=True)
    log = os.path.join(run_dir, f"{name}.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd + ["--launched-ns", str(time.time_ns())], cwd=run_dir,
                                env=env, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"workload exceeded {RUN_TIMEOUT_S} s (see {log})")
    counts = {"ERROR": 0, "WARN": 0}
    with open(log, errors="replace") as f:
        for line in f:
            m = LOG_LINE.match(line)
            if m:
                counts[m.group(1)] += 1
    if rc != 0:
        with open(log, errors="replace") as f:
            tail = f.readlines()[-15:]
        sys.stderr.write("".join(tail))
        fail(f"workload JVM exited with {rc} (see {log})")
    return counts


def read_records(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(recs, workload, sums, unchecked):
    setup = next(r for r in recs if r["type"] == "setup")
    passes = [r for r in recs if r["type"] == "pass"]
    jobs = [r for r in recs if r["type"] == "job"]
    end = next(r for r in recs if r["type"] == "end")
    cold = next(p for p in passes if p["pass"] == 0)
    warm = [p for p in passes if p["pass"] > 0 and not p["traced"]]
    # the fastest warm pass: the session is still warming up over the warm
    # passes, and interference from other load on the host only adds time
    fastest = min(warm, key=lambda p: p["wall_s"])
    warm_wall = fastest["wall_s"]
    failed = []
    expected = sums.get(workload, {})
    for j in jobs:
        if j.get("error"):
            failed.append(f"{j['name']} (pass {j['pass']}): {j['error']}")
        elif "checksum" in j and j["name"] not in unchecked:
            want = expected.get(j["name"])
            if want != j["checksum"]:
                failed.append(f"{j['name']} (pass {j['pass']}): checksum {j['checksum']}"
                              f" != recorded {want}")
    metrics = {
        "setup_s": (setup["s"], "s"),
        "cold_wall_s": (cold["wall_s"], "s"),
        "warm_wall_s": (warm_wall, "s"),
        "cpu_s": (fastest["cpu_ns"] / 1e9, "s"),
        "rows_per_s": (end["input_rows"] / warm_wall if warm_wall else 0.0, "rows/s"),
        "retained_heap_mb": (end["retained_heap_mb"], "MB"),
    }
    # printed, not in the result line: failures travel as attempted/failed
    extra = {"failed_frac": (len(failed) / len(jobs) if jobs else 1.0, "ratio")}
    info = {"samples": {"warm_passes": len(warm),
                        "jobs_per_pass": len({j["name"] for j in jobs})},
            "host": end["host"], "session": end["session"]}
    return metrics, extra, jobs, failed, info


def per_layer(recs, spans, logs, spec, workload):
    """The per-layer table, derived from the traced run's spans."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def under(sid):
        out, stack = [], list(kids.get(sid, []))
        while stack:
            s = stack.pop()
            out.append(s)
            stack.extend(kids.get(s["id"], []))
        return out

    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def covered(spans_):
        """Seconds covered by the union of the spans' intervals."""
        total, end_ = 0, None
        for a, b in sorted((s["start_ns"], s["end_ns"]) for s in spans_):
            if end_ is None or a > end_:
                total += b - a
                end_ = b
            elif b > end_:
                total += b - end_
                end_ = b
        return total / 1e9

    end = next(r for r in recs if r["type"] == "end")
    families = spec["workloads"][workload].get("families", {})
    pass_spans = sorted((s for s in spans if s["name"] == "pass"), key=lambda s: s["pass"])
    cold = next(s for s in pass_spans if s["pass"] == 0)
    warm = [s for s in pass_spans if s["pass"] > 0]
    jobs_by_pass = {}
    for r in recs:
        if r["type"] == "job":
            jobs_by_pass.setdefault(r["pass"], []).append(r)
    rows = []
    for p in warm:
        inner = under(p["id"])
        named = lambda n: [s for s in inner if s["name"] == n]
        build_ids = {s["id"] for s in inner if s["name"] in ("build", "Pipeline.build")}
        scan_ids = build_ids | {s["id"] for s in inner
                                if s["name"] in ("execute", "TxTable.commit")}
        spark_jobs = named("spark_job")
        scan_jobs = {s["id"] for s in spark_jobs if s["parent"] in scan_ids}
        wall = dur(p)
        run_s = p["run_ms"] / 1000.0
        job_recs = jobs_by_pass.get(p["pass"], [])
        row = {
            "SparkEntry.build_s": sum(dur(s) for s in named("build")),
            "SparkEntry.build_jobs": sum(1 for s in spark_jobs if s["parent"] in build_ids),
            "Pipeline.build_s": sum(dur(s) for s in named("Pipeline.build")),
            "TxTable.commit_s": sum(dur(s) for s in named("TxTable.commit")),
            "TxTable.read_s": sum(dur(s) for s in named("TxTable.read")),
            "output_mb": sum(j.get("output_bytes", 0) for j in job_recs) / MB,
            "output_files": sum(j.get("output_files", 0) for j in job_recs),
            "catalyst.analysis_ms": 1000 * sum(dur(s) for s in named("analysis")),
            "catalyst.optimization_ms": 1000 * sum(dur(s) for s in named("optimization")),
            "catalyst.planning_ms": 1000 * sum(dur(s) for s in named("planning")),
            "scheduler.jobs": len(spark_jobs),
            "scheduler.stages": p["stages"],
            "scheduler.stages_skipped": p["stages_skipped"],
            "scheduler.tasks": p["tasks"],
            "scheduler.driver_gap_s": max(0.0, wall - covered(spark_jobs)),
            "executor.task_cpu_s": p["cpu_ns"] / 1e9,
            "executor.task_run_s": run_s,
            "executor.gc_s": p["gc_ms"] / 1000.0,
            "executor.utilization": run_s / (wall * CORES) if wall else 0.0,
            "executor.task_failures": p["task_failures"],
            "shuffle.write_mb": p["shuffle_write_bytes"] / MB,
            "shuffle.read_mb": p["shuffle_read_bytes"] / MB,
            "shuffle.fetch_wait_s": p["fetch_wait_ms"] / 1000.0,
            "spill_mb": p["spill_bytes"] / MB,
            "Tables.scan_amplification": sum(
                s["records_read"] for s in inner
                if s["name"] == "stage" and s["parent"] in scan_jobs) / end["input_rows"],
        }
        for fam in ("Text", "Graph", "Summaries"):
            row[f"ops.{fam}.wall_s"] = sum(dur(s) for s in named("job")
                                           if families.get(s["job"]) == fam)
        rows.append(row)
    table = {k: median([r[k] for r in rows]) for k in rows[0]}
    # passes 2.. alternate untraced, traced, traced, untraced (see Main.scala)
    walls = [r for r in recs if r["type"] == "pass" and r["pass"] > 1]
    traced = median([r["wall_s"] for r in walls if r["traced"]])
    plain = median([r["wall_s"] for r in walls if not r["traced"]])
    table.update({
        "Sessions.start_s": next(r["session_s"] for r in recs if r["type"] == "setup"),
        "Tables.input_mb": end["input_bytes"] / MB,
        "codegen.compilations": cold["codegen_compilations"],
        "codegen.compile_ms": cold["codegen_ms"],
        "log.error_lines": logs["ERROR"],
        "log.warn_lines": logs["WARN"],
        "trace.overhead_s": traced - plain,
    })
    return table


def prepare_cortex(wl, seed, run_dir):
    up_dir = os.path.join(run_dir, "uploads")
    paths = cortex_gen.generate(up_dir, seed, wl["uploads"], wl["rows_per_upload"])
    return ["--kind", "cortex", "--uploads", ",".join(paths),
            "--expect", os.path.join(up_dir, "expected.tsv"),
            "--txroot", os.path.join(run_dir, "txroot")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="record checksums into perfbench/checksums.json instead of checking")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of an etlcortexspark checkout (build.sbt and src/ not found)")
    with open(SPEC) as f:
        spec = json.load(f)
    with open(BENCH) as f:
        bench = json.load(f)
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}; known: {', '.join(spec['workloads'])}")
    wl = spec["workloads"][a.workload]
    sums = {}
    if os.path.exists(SUMS):
        with open(SUMS) as f:
            sums = json.load(f)

    os.makedirs(WORK, exist_ok=True)
    classpath = build()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    data = check_inputs(spec)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "records.jsonl")
    spans_path = os.path.join(run_dir, "spans.jsonl")
    args = []
    extra_env = {}
    prepared = []
    if wl["kind"] == "queries":
        warm = list(wl["jobs"])
        random.Random(a.seed).shuffle(warm)
        src, rows = data, spec["data"]["rows"]
        if "corpus" in wl:
            corpus = os.path.join(WORK, "corpus_x10")
            tables = {} if a.record else sums.get("corpus_tables")
            if tables is None:
                fail("no recorded x10 corpus checksums; run once with --record")
            expect = os.path.join(run_dir, "corpus_expect.tsv")
            with open(expect, "w") as f:
                for t, c in tables.items():
                    f.write(f"{t}\t{c}\n")
            extra_env["SPARK_GRAFT_SF_DIR"] = data
            if a.record or not os.path.exists(os.path.join(corpus, "_VERIFIED")):
                # in a JVM of its own, so the timed JVMs always start cold
                prep_out = os.path.join(run_dir, "prepare.jsonl")
                run_jvm(classpath, ["--mode", "prepare", "--out", prep_out, "--corpus", corpus,
                                    "--corpus-src", data, "--corpus-expect", expect],
                        run_dir, extra_env, "prepare", deadline)
                prepared = read_records(prep_out)
            src = corpus
            rows = sum(int(c.split(":")[0]) for c in tables.values())
        args += ["--kind", "queries", "--jobs", ",".join(wl["jobs"]), "--warm-jobs",
                 ",".join(warm), "--data", src, "--input-rows", str(rows)]
    else:
        args += prepare_cortex(wl, a.seed, run_dir)

    cpu0 = cpu_times()
    logs = run_jvm(classpath, [
        "--mode", "run", "--workload", a.workload, "--warm-passes", str(wl["warm_passes"]),
        "--cap-seconds", str(2 * a.seconds), "--trace", str(a.trace), "--out", out,
        "--work", run_dir, "--spans", spans_path] + args, run_dir, extra_env, "run", deadline)
    cpu1 = cpu_times()
    recs = read_records(out)

    if a.record:
        record(prepared + recs, a.workload, sums)
        return

    unchecked = set(spec.get("unchecked", {}).get(a.workload, []))
    metrics, extra, jobs, failed, info = end_to_end(recs, a.workload, sums, unchecked)
    if cpu0 and cpu1 and len(cpu0) > 7:
        # time the hypervisor gave this machine's vCPUs to others during the
        # run: a run with high steal was slowed by the host, not the program
        d = [y - x for x, y in zip(cpu0, cpu1)]
        info["host"]["steal_frac"] = round(d[7] / max(1, sum(d)), 4)
    for msg in failed[:20]:
        print(f"FAILED {msg}")
    if unchecked:
        print(f"unchecked (output not stable run to run): {', '.join(sorted(unchecked))}")
    print(f"host {json.dumps(info['host'])}")
    print(f"session {json.dumps(info['session'])}")
    print(f"samples {json.dumps(info['samples'])}")
    if a.trace:
        spans = read_records(spans_path)
        values = per_layer(recs, spans, logs, spec, a.workload)
        listed = bench["per_layer"]
    else:
        values = {k: v for k, (v, _) in metrics.items()}
        listed = bench["end_to_end"]
    shown = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    for k, (v, u) in {**{k: (x["value"], x["unit"]) for k, x in shown.items()},
                      **extra}.items():
        print(f"{a.workload} {k} = {v:.6g} {u}")
    print(json.dumps({"correct": not failed, "attempted": len(jobs), "failed": len(failed),
                      "metrics": shown}))


def record(recs, workload, sums):
    """Stores this run's checksums; a job whose checksum differs between
    passes is reported, never stored."""
    seen = {}
    for r in recs:
        if r["type"] == "job" and "checksum" in r:
            seen.setdefault(r["name"], set()).add(r["checksum"])
        if r["type"] == "job" and r.get("error"):
            print(f"ERROR {r['name']}: {r['error']}")
    stable = {k: next(iter(v)) for k, v in seen.items() if len(v) == 1}
    unstable = sorted(k for k, v in seen.items() if len(v) > 1)
    sums[workload] = dict(sorted(stable.items()))
    tables = {r["table"]: r["checksum"] for r in recs if r["type"] == "corpus_table"}
    if tables:
        sums["corpus_tables"] = tables
    with open(SUMS, "w") as f:
        json.dump(sums, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({"recorded": len(stable), "unstable": unstable}))


if __name__ == "__main__":
    main()

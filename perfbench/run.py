#!/usr/bin/env python3
"""graft benchmark: one workload per invocation.

    python3 perfbench/run.py --workload floor --seed 1 --seconds 12 --trace 0

Builds the library and the harness from source (sbt, offline) on first
use, then runs the workload's queries in a closed loop with one client
on a session from `graft.GraftSession.create(local[nproc], nproc)`:
a cold pass in a fresh JVM, the workload's JIT warm-up passes, then as
many warm passes as fit in `--seconds` at the workload's nominal pass
time. The seed permutes the query order of every pass after the cold
one. Every execution's result is hashed and checked against
`expected.json`.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics`; end-to-end metrics with `--trace 0`, per-layer
metrics with `--trace 1`. A self-describing record of the run (and, when
traced, its spans and per-layer table) is written under `perfbench/out/`.
"""
import argparse
import ctypes
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)
import stats  # noqa: E402

HEAP = "3g"
YOUNG = "512m"
SLACK_S = 48          # set-up, cold pass and warm-up; no pass starts after --seconds + this
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0))


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compile with sbt unless the last build was of sources with this
    digest; returns the runtime classpath."""
    stamp, cp_file = os.path.join(OUT, "build.stamp"), os.path.join(OUT, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g",
            f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                 "export Runtime/fullClasspath"],
                                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh,
                                text=True, start_new_session=True)
        out = wait(proc, BUILD_TIMEOUT_S, "sbt build")
        fh.write(out)
    if proc.returncode != 0:
        fail(f"build failed (exit {proc.returncode}); see {log}")
    cp = [line for line in out.splitlines() if ".jar" in line and os.pathsep in line and not line.startswith("[")]
    if not cp:
        fail(f"build printed no classpath; see {log}")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp[-1]


def die_with_parent():
    """Child side of fork: have the kernel kill this process if the runner dies."""
    ctypes.CDLL(None).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


def wait(proc, timeout, what):
    """Wait for a child; on timeout or SIGTERM kill its whole process
    group and reap it."""
    def stop(reason):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{what} {reason}")
    signal.signal(signal.SIGTERM, lambda *_: stop("terminated"))
    try:
        out, _ = proc.communicate(timeout=timeout)
        return out or ""
    except subprocess.TimeoutExpired:
        stop(f"exceeded {timeout}s")
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)


def java(cp, work, args, timeout):
    """Run the harness in a fresh JVM with deployment settings that keep
    every file it writes inside `work`. Returns its records."""
    for d in ("tmp", "local", "warehouse", "fs-tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    out_file = os.path.join(work, "records.jsonl")
    java_bin = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # a fixed heap and young generation keep peak RSS a function of the
    # work (old-generation growth, native memory), not of G1's sizing
    cmd = [java_bin, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={work}/tmp",
        "-Dspark.ui.enabled=false",
        f"-Dspark.local.dir={work}/local",
        f"-Dspark.sql.warehouse.dir=file://{work}/warehouse",
        # graft's queries stage intermediate output under /tmp; a Hadoop
        # view file system maps that directory into the run's work dir
        "-Dspark.hadoop.fs.defaultFS=viewfs://perfbench/",
        f"-Dspark.hadoop.fs.viewfs.mounttable.perfbench.link./tmp=file://{work}/fs-tmp",
        "-Dspark.hadoop.fs.viewfs.mounttable.perfbench.linkFallback=file:///",
        "-cp", cp, "perfbench.Main", "--out", out_file,
        "--launched-ms", str(int(time.time() * 1000))] + args
    with open(os.path.join(work, "jvm.log"), "a") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log, start_new_session=True,
                                preexec_fn=die_with_parent)
        wait(proc, timeout, "harness JVM")
    if proc.returncode != 0:
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        fail(f"harness exited {proc.returncode}:\n{tail}")
    with open(out_file) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat; field 7 is time stolen by the host."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def end_to_end(passes_by_no, first_warm, rss_kb, setup):
    cold = passes_by_no[0]
    warm = [passes_by_no[p] for p in sorted(passes_by_no) if p >= first_warm]
    values = {
        "setup_s": setup,
        "cold_pass_s": stats.pass_seconds(cold),
        "warm_pass_s": stats.p50(stats.pass_seconds(qs) for qs in warm)[0],
        "query_p50_s": stats.query_p50(warm)[0],
        "peak_rss_mb": rss_kb / 1024.0,
    }
    return values, {"warm_passes": len(warm), "warm_queries": sum(map(len, warm))}


def per_layer(queries, passes_by_no, first_warm, recs, cores, epoch_ms):
    """Median over traced warm passes of each layer's per-pass sum; codegen
    on the traced cold pass; overhead against the untraced warm passes."""
    jobs = {r["id"]: dict(r) for r in recs if r["type"] == "job"}
    for r in recs:
        if r["type"] == "job_end" and r["id"] in jobs:
            jobs[r["id"]]["end_ms"] = r["end_ms"]
    jobs = [j for j in jobs.values() if "end_ms" in j]
    stages = [r for r in recs if r["type"] == "stage"]
    qes = [r for r in recs if r["type"] == "qe"]
    traced = [q for q in queries if q["traced"]]
    attached, by_time = stats.attach_jobs(traced, jobs, epoch_ms)
    sums = {p: stats.layer_sums(passes_by_no[p], attached, stages, qes, cores, epoch_ms)
            for p in passes_by_no if passes_by_no[p][0]["traced"]}
    warm_traced = [p for p in sums if p >= first_warm]
    table = {k: stats.p50(sums[p][k] for p in warm_traced)[0] for k in sums[warm_traced[0]]}
    table["codegen.cold_compiles"] = sums[0]["codegen.compiles"]
    table["codegen.cold_compile_ms"] = sums[0]["codegen.compile_ms"]
    untraced = [p for p in passes_by_no if p >= first_warm and p not in sums]
    table["trace.overhead"] = (stats.p50(stats.pass_seconds(passes_by_no[p]) for p in warm_traced)[0]
                               / stats.p50(stats.pass_seconds(passes_by_no[p]) for p in untraced)[0])
    table["trace.jobs_placed_by_time"] = by_time
    return table, sums, {"traced_warm_passes": len(warm_traced), "untraced_warm_passes": len(untraced)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = json.load(fh)
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; known: {', '.join(workloads)}")
    wl = workloads[a.workload]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources next to {HERE}; run from a checkout of the repository")
    digest = source_digest()
    cp = build(digest)
    stat0 = cpu_times()

    cores = nproc()
    corpus = os.path.join(HERE, "data", wl["corpus"])
    # Pass 0 is cold; the JIT warm-up passes after it are checked but in
    # no metric (JIT compiles keep pass times falling for many passes).
    # Then the same number of warm passes on every run and commit: as many
    # as fit in --seconds at the workload's nominal pass time. A count that
    # followed the clock would drift with the JIT warm-up; only a host too
    # slow to start every pass within --seconds + SLACK_S of launch cuts it.
    first_warm = 1 + wl["warmup_passes"]
    min_warm = 4 if a.trace else 2
    warm = max(min_warm, round(a.seconds / wl["pass_s"]))
    # The cold pass is one sample per run and the first query of a JVM pays
    # its first-use costs, so it keeps the listed order; the seed permutes
    # every later pass.
    rng = random.Random(a.seed)
    order = [list(wl["queries"])] + [rng.sample(wl["queries"], len(wl["queries"]))
                                     for _ in range(first_warm + warm - 1)]
    work = os.path.join(OUT, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        with open(os.path.join(work, "passes.txt"), "w") as fh:
            fh.write("\n".join(",".join(p) for p in order) + "\n")
        recs = java(cp, work, ["--corpus", corpus, "--cores", str(cores),
                               "--passes", os.path.join(work, "passes.txt"), "--trace", str(a.trace),
                               "--first-warm", str(first_warm), "--min-passes", str(first_warm + min_warm),
                               "--deadline-s", str(a.seconds + SLACK_S)],
                    JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    stat1 = cpu_times()
    steal = (stat1[7] - stat0[7]) / max(1, sum(stat1) - sum(stat0))
    env = next(r for r in recs if r["type"] == "env")
    end = next(r for r in recs if r["type"] == "end")
    setup = next(r["s"] for r in recs if r["type"] == "setup")
    queries = [r for r in recs if r["type"] == "query"]
    passes_by_no = {}
    for q in queries:
        passes_by_no.setdefault(q["pass"], []).append(q)
    expected = json.load(open(os.path.join(HERE, "expected.json")))[wl["corpus"]]
    failures = stats.execution_failures(queries, expected)
    drained = all(r["ok"] for r in recs if r["type"] == "drained")

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "queries": wl["queries"], "corpus": os.path.relpath(corpus, ROOT),
        "nproc": cores, "available_processors": env["available_processors"],
        "master": env["master"], "shuffle_partitions": env["shuffle_partitions"],
        "spark": env["spark"], "scala": env["scala"], "jvm": env["jvm"],
        "heap_max_mb": env["heap_max_mb"], "young_gen": YOUNG,
        "git_sha": git_sha(), "source_digest": digest,
        "calib_ms": {r["when"]: r["ms"] for r in recs if r["type"] == "calib"},
        "attempted": len(queries), "failed": len(failures),
        "failed_frac": stats.failed_frac(failures, len(queries)), "failures": failures,
        "first_warm_pass": first_warm, "passes_planned": len(order), "passes_run": len(passes_by_no),
        "pass_s": [stats.pass_seconds(passes_by_no[p]) for p in sorted(passes_by_no)],
        "cpu_steal_frac": steal,
    }
    if a.trace == 0:
        values, samples = end_to_end(passes_by_no, first_warm, end["peak_rss_kb"], setup)
        record["samples"] = samples
        record["query_warm_p50_s"] = {
            n: stats.p50(stats.wall_s(q) for q in queries if q["name"] == n and q["pass"] >= first_warm)[0]
            for n in wl["queries"]}
        wanted = spec["end_to_end"]
    else:
        values, sums, counts = per_layer(queries, passes_by_no, first_warm, recs, cores, env["epoch_ms"])
        record.update(counts)
        record["layers"] = values
        record["layers_by_pass"] = sums
        record["drained"] = drained
        wanted = spec["per_layer"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    record["metrics"] = metrics

    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    stem = os.path.join(OUT, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    if a.trace == 1:
        with open(stem + "-spans.jsonl", "w") as fh:
            for r in recs:
                if r["type"] in ("pass", "query", "job", "job_end", "stage", "qe"):
                    fh.write(json.dumps(r) + "\n")
        print(layer_report(a.workload, values))
    for f in failures:
        print(f"failed: {f['name']} pass {f['pass']} [{f['phase']}] {f['error_class']}: {f['error']}",
              file=sys.stderr)

    result = {
        "correct": not failures and drained,
        "attempted": len(queries),
        "failed": len(failures),
        "metrics": metrics,
    }
    print(json.dumps(result))


def layer_report(workload, table):
    lines = [f"per-layer sums per warm pass ({workload}):"]
    lines += [f"  {k:<28} {v:>16.3f}" for k, v in sorted(table.items())]
    return "\n".join(lines)


if __name__ == "__main__":
    main()

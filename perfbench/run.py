#!/usr/bin/env python3
"""graft benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the engine
and the harness (perfbench/harness, an sbt build that compiles the
engine from the checkout's sources); later runs reuse the build while
the sources are unchanged.

Each run generates the workload's inputs from the seed (gen.py), starts
one JVM with a local[nproc] graft session driven by a single client
thread in a closed loop, measures for --seconds seconds and at least two
units, checks every output outside the timed region, deletes what it
created, and prints:

  * one line per workload metric, by name with its unit, then peak RSS
    and the unit latencies;
  * one `env` line (cores, heap, JDK, Spark, git commit, source digest,
    seed, input properties);
  * as the last line, one JSON object: correct, attempted, failed and
    metrics -- the end-to-end metrics with --trace 0, the per-layer
    metrics with --trace 1.

The exit code is 0 only when every output check passed.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("secure_lake", "llm_pipeline")
STAGING_BASE = "/tmp/graft_q"  # the engine's fixed staging root
HEAP = "3g"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

END_TO_END = {"unit_ms": "ms", "unit_cpu_ms": "ms", "setup_s": "s"}

LLM_STAGES = [("operators", k) for k in (
    "text_quality", "dedup_exact", "dedup_minhash_recall", "dedup_setsim",
    "dedup_semantic", "sim_ann_ivfpq", "q_hybrid_rrf")] + \
    [("streaming", "stream_chunked_ingest"), ("streaming", "stream_dedup")] + \
    [("operators", k) for k in ("pipeline_prepare_corpus", "pipeline_llm_mix")]

PER_LAYER = {
    "crypto.write_s": "s", "crypto.plain_write_s": "s", "crypto.read_plan_ms": "ms",
    "crypto.read_exec_s": "s", "crypto.manifest_read_ms": "ms",
    "crypto.dek_unwrap_us": "us", "crypto.rotate_ms": "ms",
    "crypto.values_encrypted": "count", "crypto.values_decrypted": "count",
    "crypto.self_s": "s",
    "sources.commit_ms.append": "ms", "sources.commit_ms.delete": "ms",
    "sources.commit_ms.update": "ms", "sources.commit_ms.merge": "ms",
    "sources.resolve_ms": "ms", "sources.snapshot_exec_ms": "ms",
    "sources.compact_s": "s", "sources.compact_bytes_rewritten": "bytes",
    "sources.post_compact_commit_ms": "ms", "sources.kek_rotate_ms": "ms",
    "sources.files_live": "count", "sources.dv_sidecars": "count",
    "sources.store_bytes": "bytes", "sources.self_s": "s",
    **{f"{layer}.{k}.{m}": u for layer, k in LLM_STAGES
       for m, u in (("build_ms", "ms"), ("exec_s", "s"))},
    "operators.self_s": "s", "streaming.self_s": "s",
    "staging.built": "count", "staging.reused": "count", "staging.reuse_ratio": "ratio",
    "staging.build_s": "s", "staging.bytes": "bytes",
    "spark.planning_ms": "ms", "spark.jobs": "count", "spark.jobs_per_op": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.failed_tasks": "count",
    "spark.task_wait_s": "s", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes", "spark.spill_bytes": "bytes",
    "trace.overhead_ratio": "ratio",
}


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest(root):
    """Digest of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties",
            "perfbench/harness/src"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, digest):
    """Compile the engine and the harness; returns the runtime classpath.

    Class directories are packed into jars, because class-data sharing
    archives only classes that come from jars."""
    harness = os.path.join(HERE, "harness")
    target = os.path.join(harness, "target")
    stamp = os.path.join(target, "build.stamp")
    cp_file = os.path.join(target, "classpath-jars.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    log = os.path.join(target, "build.log")
    os.makedirs(target, exist_ok=True)
    for f in glob.glob(os.path.join(target, "cds-*.jsa")):
        os.remove(f)
    with open(log, "w") as out:
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "compile", "writeClasspath"],
                             cwd=harness, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop(p)
            fail(f"build timed out; see {log}", 3)
    if rc != 0:
        fail(f"build failed ({rc}); see {log}", 3)
    entries = []
    for i, e in enumerate(open(os.path.join(target, "classpath.txt")).read().strip().split(":")):
        if os.path.isdir(e):
            jar = os.path.join(target, f"classes-{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, fs in sorted(os.walk(e)):
                    for f in sorted(fs):
                        z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), e))
            e = jar
        entries.append(e)
    with open(cp_file, "w") as f:
        f.write(":".join(entries))
    with open(stamp, "w") as f:
        f.write(digest)
    return ":".join(entries)


def stop(p):
    """Kill a child's whole process group and wait until it has ended."""
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def staging_entries():
    try:
        return set(os.listdir(STAGING_BASE))
    except FileNotFoundError:
        return set()


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_jvm(classpath, args, log_path, cwd):
    """Run the harness JVM; returns (exit code or None on timeout, peak RSS MB)."""
    # class-data sharing: the first run of a workload after a build
    # archives the classes it loaded; later runs map that archive
    # instead of loading and verifying every class again
    cds = os.path.join(HERE, "harness", "target", f"cds-{args['workload']}.jsa")
    cds_flag = ("-XX:SharedArchiveFile=" if os.path.exists(cds)
                else "-XX:ArchiveClassesAtExit=") + cds
    # a fixed heap size keeps GC behaviour, and so CPU time, alike across runs
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData", cds_flag,
           "-Djava.io.tmpdir=" + os.path.join(args["work"], "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main", args["workload"], str(args["seed"]),
            str(args["seconds"]), str(args["trace"]), args["data"], args["work"],
            args["result"]]
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        deadline = time.time() + JVM_TIMEOUT_S
        while time.time() < deadline:
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid:
                p.returncode = os.waitstatus_to_exitcode(status)
                return p.returncode, usage.ru_maxrss / 1024.0
            time.sleep(0.05)
        stop(p)
        return None, 0.0
    except BaseException:
        stop(p)
        raise


def keep_log(runs, name, log_path):
    os.makedirs(os.path.join(runs, "logs"), exist_ok=True)
    dst = os.path.join(runs, "logs", name + ".log")
    if os.path.exists(log_path):
        shutil.copy(log_path, dst)
    return dst


def measure(a, root, digest, classpath, runs, name, data, work):
    """One run: inputs, the JVM, the output checks. Returns the result
    line's fields plus the lines printed before it."""
    t0 = time.time()
    props = gen.generate(a.workload, a.seed, data)
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "data": data, "work": work, "result": os.path.join(work, "result.json")}
    log_path = os.path.join(work, "jvm.log")
    rc, peak_rss_mb = run_jvm(classpath, args, log_path, work)
    try:
        with open(args["result"]) as f:
            res = json.load(f)
    except (OSError, ValueError):
        res = None
    if res is None or rc != 0:
        fail(f"benchmark JVM exited with {rc}; log kept at {keep_log(runs, name, log_path)}", 1)

    failures = list(res["failures"])
    oracle_failed = 0
    if a.workload == "llm_pipeline":
        bad = oracle.compare(data, os.path.join(work, "outputs"))
        oracle_failed = len(bad)
        failures += bad
    if failures:
        keep_log(runs, name, log_path)
    if a.trace and os.path.exists(os.path.join(work, "spans.json")):
        os.makedirs(os.path.join(runs, "traces"), exist_ok=True)
        shutil.move(os.path.join(work, "spans.json"),
                    os.path.join(runs, "traces", name + ".spans.json"))

    env = dict(res["env"], seed=a.seed, seconds=a.seconds, trace=a.trace, heap=HEAP,
               git_commit=git_commit(root), source_digest=digest, input=props)
    lines = [f"{k} {v['value']} {v['unit']}" for k, v in res["named"].items()]
    lines += [f"peak_rss_mb {peak_rss_mb:.1f} MB",
              f"units {res['units']} ms " + " ".join(f"{x:.1f}" for x in res["unit_ms"]),
              "env " + json.dumps(env, sort_keys=True)]
    if a.trace:
        layers = res["layers"]
        metrics = {k: {"value": float(layers.get(k) or 0.0), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": res["setup_end_ms"] / 1e3 - t0,
                  "unit_ms": res["unit_est_ms"], "unit_cpu_ms": res["unit_est_cpu_ms"]}
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
    attempted = max(1, res["attempted"])
    result = {"correct": not failures, "attempted": attempted,
              "failed": min(attempted, res["failed"] + oracle_failed), "metrics": metrics}
    return lines, failures, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the root of a graft source checkout (no build.sbt / src/main/scala)", 2)
    digest = source_digest(root)
    classpath = build(root, digest)

    runs = os.path.join(root, ".perfbench")
    name = f"{a.workload}_s{a.seed}_p{os.getpid()}"
    data = os.path.join(runs, name)          # basename unique per workload, seed, process
    work = os.path.join(runs, name + ".work")
    for d in (data, work):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    staging_before = staging_entries()
    try:
        lines, failures, result = measure(a, root, digest, classpath, runs, name, data, work)
    finally:
        # the inputs, the run's own work dir, and the staging entries this
        # run created (a listing diff, restricted to names of its inputs)
        shutil.rmtree(data, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)
        for entry in staging_entries() - staging_before:
            if name in entry:
                shutil.rmtree(os.path.join(STAGING_BASE, entry), ignore_errors=True)
    for line in lines:
        print(line)
    for f in failures:
        print(f"FAIL {f}", file=sys.stderr)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()

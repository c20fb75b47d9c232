#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload in a fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout of the repository. The first run builds the
program and the harness (sbt, offline) and generates the input tables under
`.bench_build/`; later runs reuse both. The last line of standard output is
one JSON object: the output check (`correct`, `attempted`, `failed`) and the
end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).
A traced run also writes its spans and per-query layer counts to
`.bench_build/traces/<workload>-seed<n>.jsonl`. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # keep the checkout free of build output
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("etl_lake", "stream_catchup")
# the input tables: fixed, so the stored expectations hold for every run
DATA_SF = 0.01
DATA_SEED = 42
RUN_LIMIT_S = 150  # the harness JVM; a run then ends well within 180 s
BUILD_LIMIT_S = 840
HEAP = "2g"
# the at-rest artifacts the harness builds in set-up, over all workloads
ARTIFACTS = ("annStreamSeedDir",)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/harness/build.sbt", "perfbench/harness/project",
            "perfbench/harness/src"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(p)
            if "target" not in d.split(os.sep) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, work):
    """Compiles the program and the harness; returns the JVM classpath."""
    stamp = os.path.join(work, "classpath.json")
    digest = source_digest(root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got["digest"] == digest:
            return got["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench", "harness"), env=env,
            stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=BUILD_LIMIT_S)
    lines = [x for x in r.stdout.splitlines() if x.strip()]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        with open(log, "a") as out:
            out.write(r.stdout)
        fail(f"build failed (exit {r.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp


def cpu_times():
    """The host's aggregate CPU times, for the steal share of a run."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if not os.path.islink(os.path.join(d, f)))


def run_jvm(cp, args, tmp, log, limit):
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = (["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.localDir={tmp}", "-cp", cp,
            "graft.perfbench.Harness", *args])
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                env=env)
        try:
            return proc.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded {limit:.0f} s; see {log}")


def check(res, expected):
    """Marks each execution failed if it threw, or if its query's
    fingerprint differs from the stored expectation."""
    bad = {}
    for e in res["executions"]:
        if not e["ok"]:
            bad.setdefault(e["q"], "threw: " + e["error"])
        elif "rows" in e:
            want = expected.get(e["q"])
            if want is None:
                bad[e["q"]] = "no stored expectation"
            elif want.get("oracle") != "match":
                bad[e["q"]] = "stored result differs from the DuckDB oracle"
            elif (e["rows"], e["hash"]) != (want["rows"], want["hash"]):
                bad[e["q"]] = (f"fingerprint {e['rows']}/{e['hash']} != "
                               f"expected {want['rows']}/{want['hash']}")
    return bad


def elapsed(e):
    return e["build_s"] + e["run_s"]


def end_to_end(res, ok):
    setup_s = res["session_s"] + res["warm_up_s"] + statistics.median(
        sum(r.values()) for r in res["artifacts"])
    passes = {}
    for e in ok:
        passes[e["pass"]] = passes.get(e["pass"], 0.0) + elapsed(e)
    warm = [e for e in ok if e["pass"] > 1]
    per_query = median_by_query(warm, elapsed)
    slowest = max(per_query, key=per_query.get)
    return {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (passes[1], "s"),
        "warm_pass_s": (statistics.median(
            v for p, v in passes.items() if p > 1), "s"),
        "query_geomean_s": (statistics.geometric_mean(per_query.values()),
                            "s"),
        "query_tail_s": (per_query[slowest], "s"),
        "peak_heap_mb": (max(e["heap_mb"] for e in res["executions"]), "MB"),
    }, (f"per-query medians over {len(warm)} warm executions of "
        f"{len(per_query)} queries: p50 "
        f"{statistics.median(per_query.values()):.4f} s; query_tail_s is "
        f"{slowest}")


LAYER_SUMS = [
    ("driver.plan_s", "plan_s", "s"),
    ("driver.codegen_compile_s", "codegen_compile_s", "s"),
    ("driver.files_discovered", "files_discovered", "count"),
    ("scheduling.jobs", "jobs", "count"),
    ("scheduling.stages", "stages", "count"),
    ("scheduling.tasks", "tasks", "count"),
    ("staging.jobs", "staging_jobs", "count"),
    ("staging.s", "staging_s", "s"),
    ("execution.cpu_s", "cpu_s", "s"),
    ("execution.gc_s", "gc_s", "s"),
    ("data_movement.shuffle_write_bytes", "shuffle_write_bytes", "bytes"),
    ("data_movement.shuffle_records", "shuffle_records", "count"),
    ("data_movement.spill_bytes", "spill_bytes", "bytes"),
    ("queries.build_s", "build_s", "s"),
    ("queries.run_s", "run_s", "s"),
    ("sources.bytes_read", "bytes_read", "bytes"),
    ("sources.bytes_written", "bytes_written", "bytes"),
    ("streaming.batches", "batches", "count"),
    ("streaming.trigger_s", "trigger_s", "s"),
    ("streaming.commit_s", "commit_s", "s"),
    ("streaming.state_rows", "state_rows", "count"),
]


def median_by_query(execs, value):
    by_q = {}
    for e in execs:
        by_q.setdefault(e["q"], []).append(value(e))
    return {q: statistics.median(v) for q, v in by_q.items()}


def per_layer(res, ok):
    """Per-query medians over the traced warm passes, summed."""
    traced = [e for e in ok if e["traced"] and e["pass"] > 1]
    tot = {f: sum(median_by_query(traced, lambda e: e[f]).values())
           for f in [f for _, f, _ in LAYER_SUMS] + ["single_task_stages"]}
    out = {name: (tot[f], unit) for name, f, unit in LAYER_SUMS}
    busy = sum(median_by_query(traced, lambda e: e["job_busy_s"]).values())
    out["driver.only_s"] = (sum(median_by_query(
        traced, lambda e: max(0.0, elapsed(e) - e["job_busy_s"])).values()),
        "s")
    out["scheduling.single_task_stage_frac"] = (
        tot["single_task_stages"] / max(1, tot["stages"]), "frac")
    out["execution.effective_cores"] = (
        tot["cpu_s"] / busy if busy else 0.0, "cores")
    for b in ARTIFACTS:
        got = [r[b] for r in res["artifacts"] if b in r]
        out[f"artifacts.{b}_s"] = (statistics.median(got) if got else 0.0,
                                   "s")
    out["artifacts.jobs"] = (res["artifact_jobs"], "count")
    t_med = median_by_query(traced, elapsed)
    u_med = median_by_query(
        [e for e in ok if not e["traced"] and e["pass"] > 1], elapsed)
    both = set(t_med) & set(u_med)
    u_sum = sum(u_med[q] for q in both)
    out["trace.overhead_frac"] = (
        sum(t_med[q] for q in both) / u_sum - 1.0 if u_sum else 0.0, "frac")
    return out


def write_trace(path, res, spans_path, t_start, t_end):
    with open(path, "w") as f:
        f.write(json.dumps({"span": "run", "workload": res["workload"],
                            "seed": res["seed"], "start_ms": t_start,
                            "end_ms": t_end}) + "\n")
        if os.path.exists(spans_path):
            with open(spans_path) as s:
                f.write(s.read())
        for e in res["executions"]:
            if e["traced"]:
                f.write(json.dumps(dict(e, span="layers")) + "\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = int(time.time() * 1000)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isfile(os.path.join(root, "src", "main", "scala",
                                        "graft", "SparkEntry.scala"))):
        fail("run from the root of a checkout of the repository: "
             "build.sbt and src/main/scala/graft/SparkEntry.scala "
             "are missing")
    with open(os.path.join(HERE, "expected.json")) as f:
        stored = json.load(f)
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    cp = build(root, work)

    nproc = os.cpu_count()
    shipped, lake = gen.generate(
        os.path.join(work, "data", f"sf{DATA_SF}-g{DATA_SEED}-n{nproc}"),
        DATA_SF, DATA_SEED, nproc)
    data = lake if a.workload == "etl_lake" else shipped

    run_dir = os.path.join(work, "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(tmp)
    result = os.path.join(run_dir, "result.json")
    spans = os.path.join(run_dir, "spans.jsonl")
    load = " ".join(f"{x:.2f}" for x in os.getloadavg())
    cpu0 = cpu_times()
    code = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--data", data, "--out", result, "--spans", spans],
                   tmp, os.path.join(run_dir, "harness.log"), RUN_LIMIT_S)
    if code != 0 or not os.path.exists(result):
        fail(f"harness exited {code}; see {run_dir}/harness.log")
    cpu = [b - a for a, b in zip(cpu0, cpu_times())]
    steal = cpu[7] / max(1, sum(cpu))  # the hypervisor's share, /proc/stat
    with open(result) as f:
        res = json.load(f)
    tmp_left_mb = dir_bytes(tmp) / 1048576.0

    bad = check(res, stored["workloads"][a.workload])
    execs = res["executions"]
    ok = [e for e in execs if e["ok"] and e["q"] not in bad]
    failed = len(execs) - len(ok)
    print(f"# host: nproc={res['nproc']} loadavg={load} "
          f"calib_sec={res['calib_sec']:.4f} "
          f"(frozenCentroid, {res['calib_arrivals']} arrivals) "
          f"steal={steal:.3f}")
    passes = max(e["pass"] for e in execs)
    print(f"# {a.workload}: {len(res['order'])} queries x {passes} passes, "
          f"{len(execs)} executions, {failed} failed")
    for q, why in sorted(bad.items()):
        print(f"# failed {q}: {why}")
    if a.trace:
        metrics = per_layer(res, ok)
        metrics["failed_frac"] = (failed / len(execs), "frac")
        metrics["tmp_left_mb"] = (tmp_left_mb, "MB")
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        trace = os.path.join(work, "traces",
                             f"{a.workload}-seed{a.seed}.jsonl")
        write_trace(trace, res, spans, t_start, int(time.time() * 1000))
        print(f"# trace: {os.path.relpath(trace, root)}")
    else:
        metrics, note = end_to_end(res, ok)
        print(f"# {note}; failed_frac={failed / len(execs):.4f} "
              f"tmp_left_mb={tmp_left_mb:.1f}")
    # the raw per-execution numbers of the run, kept for inspection
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    shutil.copy(result, os.path.join(
        work, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": not bad, "attempted": len(execs), "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()

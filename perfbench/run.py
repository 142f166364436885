#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the harness from source
with sbt (once per source state), generates the workload's inputs from the
seed, runs one round of the workload's operations in one Spark JVM, checks
every operation's output apart from the program, and prints the result as
the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, collected by listeners the harness registers. The line
before it carries the workload's own figures and every failed operation
with its exception. Everything a run writes stays under the build
directory ($CARGO_TARGET_DIR, default .bench_build) and is removed at the
end of the run.

A run measures exactly one cold round, so that every run does the same
work; --seconds is taken for the command's interface and not used. A round
lasts longer than the 10 s run length of BENCHMARK.json.
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
from pathlib import Path

sys.dont_write_bytecode = True
import checks      # noqa: E402
import gen_inputs  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("flight_ingest", "query_mix")
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes() if p.exists() else b"-")
    return h.hexdigest()


def build(build_dir):
    """Compiles engine + harness with sbt; returns the runtime classpath."""
    stamp, cp_file = build_dir / "stamp", build_dir / "classpath.txt"
    want = sources_stamp()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == want:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=/root/.sbt/repositories "
                   "-Dsbt.offline=true -Xmx2g")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    build_dir.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(want)
    return lines[-1].strip()


def run_jvm(cp, args, run_dir):
    env = dict(os.environ)
    env["SPARK_GRAFT_FIXTURE_ROOT"] = str(run_dir / "fixtures")
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens",
                                                      f"{p}=ALL-UNNAMED")]
    # A fixed heap and young generation keep the resident set off the
    # collector's resizing decisions. The JIT compiler threads stay alive
    # so that their CPU (jvm.jit_cpu_s) can be read per thread.
    cmd += ["-Xms3g", "-Xmx3g", "-Xmn1g",
            "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp,
            "perfbench.Harness"] + args
    log = run_dir / "jvm.log"
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=f,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        text = log.read_text().splitlines()
        cause = [ln for ln in text if "Exception" in ln or "Error" in ln][:5]
        sys.stderr.write("\n".join(cause + text[-20:]) + "\n")
        fail(f"harness JVM exited with {code}")


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)   # not used
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "build.sbt").exists() or \
            not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("the engine's sources are not here; run from the repository root")
    sf_dir = Path(os.environ.get("PERFBENCH_SF_DIR", "/root/testdata/sf0.1"))
    if not (sf_dir / "lineitem.parquet").exists():
        fail(f"TPC-H tables not found under {sf_dir}")
    build_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    cp = build(build_dir)

    run_dir = build_dir / "runs" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, out = run_dir / "inputs", run_dir / "out"
    try:
        gen = gen_inputs.gen_flight if a.workload == "flight_ingest" \
            else gen_inputs.gen_ann
        t0 = time.process_time()
        gen(a.seed, str(inputs))
        gen_s = time.process_time() - t0
        run_jvm(cp, [a.workload, str(a.seed), str(a.trace),
                     str(inputs), str(out), str(sf_dir),
                     str(os.cpu_count())], run_dir)
        report = json.loads((out / "report.json").read_text())
        result = evaluate(a, report, out, inputs, sf_dir, gen_s)
        if a.trace:
            spans = build_dir / "spans" / f"{a.workload}-seed{a.seed}.jsonl"
            spans.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(out / "spans.jsonl", spans)
            result["detail"]["spans"] = str(spans)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result["detail"]))
    print(json.dumps(result["line"]))


def evaluate(a, report, out, inputs, sf_dir, gen_s):
    ops = report["ops"]
    recall = None
    if a.workload == "flight_ingest":
        bad = checks.check_flight(report, out, inputs)
    else:
        reg = {"ops": [o for o in ops if o["kind"] in ("tpch", "stream")]}
        ann = {"ops": [o for o in ops if o["kind"].startswith("ann")]}
        bad = checks.check_registry(reg, out, sf_dir, ROOT)
        bad_ann, recall = checks.check_ann(ann, inputs)
        bad.update(bad_ann)
    failures = [{"op": o["name"], "error": o["error"]}
                for o in ops if o["error"]]
    failures += [{"op": o["name"], "error": f"wrong result: {bad[o['id']]}"}
                 for o in ops if o["id"] in bad]
    for f in failures:
        print(f"perfbench: failed {f['op']}: {f['error']}", file=sys.stderr)
    good = [o for o in ops if not o["error"] and o["id"] not in bad]

    def secs(kind=None):
        return [o["seconds"] for o in good if kind is None or o["kind"] == kind]

    setup = report["setup"]
    metrics = {
        "setup_s": gen_s + setup["cpu_s"],
        "round_cpu_s": sum(o["cpu_s"] for o in good),
        "round_cpu_ex_jit_s": sum(o["cpu_s"] - o["jit_s"] for o in good),
        "op_cpu_p50_s": median([o["cpu_s"] for o in good]),
        "peak_rss_mb": report["peak_rss_mb"],
        "peak_live_heap_mb": report["peak_live_heap_mb"],
    }
    # wall times swing with the host's CPU steal; they are reported here,
    # unbounded, next to the CPU-time metrics the result line carries
    detail = {"workload": a.workload,
              "round_s": sum(secs()), "op_p50_s": median(secs()),
              "setup_wall_s": setup["session_s"] + setup["warmup_s"] +
              setup["prepare_s"],
              "failures": failures}
    if a.workload == "flight_ingest":
        imp = [o for o in good if o["kind"] == "import"]
        detail.update({
            "ingest.flights_per_s": sum(o["info"]["flights"] for o in imp) /
            sum(o["seconds"] for o in imp) if imp else None,
            "ingest.upsert_s": median(secs("upsert")),
            "ingest.read_s": median(secs("read"))})
    else:
        detail.update({"tpch.total_s": sum(secs("tpch")),
                       "tpch.p50_s": median(secs("tpch")),
                       "stream.total_s": sum(secs("stream")),
                       "stream.p50_s": median(secs("stream")),
                       "ann.query_s": median(secs("ann_query")),
                       "ann.batch_s": median(secs("ann_batch")),
                       "ann.recall_at_10": recall})
    if a.trace:    # for the tracing overhead: traced against untraced runs
        detail["end_to_end"] = metrics
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = report["per_layer"] if a.trace else metrics
    line = {"correct": not bad, "attempted": len(ops),
            "failed": len(failures),
            "metrics": {m["name"]: {"value": values[m["name"]],
                                    "unit": m["unit"]} for m in wanted}}
    return {"detail": detail, "line": line}


if __name__ == "__main__":
    main()

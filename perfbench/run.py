#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: cdc_live, cdc_catchup, batch_registry (see perfbench/NOTES.md).
The first run in a checkout compiles graft's sources together with the
harness under perfbench/ (sbt, offline); later runs reuse the build while
the sources are unchanged.

Everything a run writes stays inside the checkout: the build in
$CARGO_TARGET_DIR (default .bench_build), the run's scratch directory
under .bench_work (removed at the end), and a record of the run plus,
for traced runs, its span file under .bench_out.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc_live", "cdc_catchup", "batch_registry")
# the tables the batch workload reads: fixed scale and data seed, so the
# expected per-key results in expected.json hold for every run
DATA_SCALE = 0.01
DATA_SEED = 42
JVM_HEAP = "2g"
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every file the build compiles."""
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += [p for p in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                  if os.path.isfile(p)]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(build_dir):
    """Compiles graft + harness once per source state; returns the classpath."""
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(build_dir, "build.log")
    with open(log_path, "w") as log:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    with open(log_path) as f:
        lines = [l.strip() for l in f if l.strip()]
    if r.returncode != 0 or not lines:
        die(f"build failed, see {log_path}")
    cp = lines[-1]
    if "perfbench" not in cp or ".jar" not in cp:
        die(f"build printed no classpath, see {log_path}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def prepare(work, workload):
    """Scratch dir with the reference-format config and XML libraries."""
    os.makedirs(os.path.join(work, "tmp"))
    for name in ("graft.rules", "graft.dataclass", "config.properties"):
        shutil.copy(os.path.join(HERE, "conf", name), work)
    gen_ms = 0.0
    if workload == "batch_registry":
        sys.path.insert(0, HERE)
        import gen_tables
        t0 = time.perf_counter()
        gen_tables.write(os.path.join(work, "data"), DATA_SCALE, DATA_SEED)
        gen_ms = (time.perf_counter() - t0) * 1000.0
    return gen_ms


def run_jvm(cp, work, a):
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-Dspark.ui.enabled=false"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
              str(a.trace), work, os.path.join(work, "data"),
              os.path.join(HERE, "expected.json")]
           + (["record"] if a.record else []))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=RUN_LIMIT_S - a.seconds // 4)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="write the batch keys' results to expected.json instead of checking them")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("graft sources not found next to perfbench/; run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = build(build_dir)
    t_start = time.perf_counter()

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        gen_ms = prepare(work, a.workload)
        code = run_jvm(cp, work, a)
        res_path = os.path.join(work, "result.json")
        if code != 0 or not os.path.exists(res_path):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            die(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}", 1)
        with open(res_path) as f:
            res = json.load(f)
        # input generation: the batch tables here, envelopes in the JVM
        jvm_gen_ms = res["layers"].get("gen_ms", {}).get("value", 0.0)
        res["layers"]["gen_ms"] = {"value": jvm_gen_ms + gen_ms, "unit": "ms"}
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        if a.trace and os.path.exists(os.path.join(work, "trace.jsonl")):
            shutil.copy(os.path.join(work, "trace.jsonl"),
                        os.path.join(out_dir, f"trace-{tag}.jsonl"))
        res["seed"] = a.seed
        res["seconds"] = a.seconds
        res["run_wall_s"] = time.perf_counter() - t_start
        with open(os.path.join(out_dir, f"run-{tag}.json"), "w") as f:
            json.dump(res, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_work"))
        except OSError:
            pass

    if a.record:
        print("perfbench: expected.json updated", file=sys.stderr)
        return
    for msg in res.get("failures", []):
        print(f"perfbench: FAIL {msg}", file=sys.stderr)
    if a.trace:
        wanted = [m["name"] for m in spec["per_layer"]]
        source = res["layers"]
    else:
        wanted = [m["name"] for m in spec["end_to_end"]]
        source = res["metrics"]
    metrics = {}
    for name in wanted:
        m = source.get(name)
        if m is None and a.trace:
            # a layer this workload does not pass through did no work
            m = {"value": 0, "unit": next(x["unit"] for x in spec["per_layer"] if x["name"] == name)}
        if m is None or m["value"] is None:
            die(f"metric {name} was not measured", 1)
        metrics[name] = {"value": m["value"], "unit": m["unit"]}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

  python3 perfbench/run.py --workload <wod_posts|corpus_build|stream_ingest>
      --seed <n> --seconds <n> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
harness once with sbt (offline); later runs start the JVM directly. Inputs
are generated from the seed and cached under .bench_build/perfbench/inputs.

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}; with --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones. The line before it carries diagnostics
(load average, CPU steal share, per-pass samples) for compare.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import inputs  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["wod_posts", "corpus_build", "stream_ingest"]
# A fixed heap, and C1 only: under the default tiered JIT a run never leaves
# the C2 compile backlog (process CPU per warm pass falls 19 -> 7 s over the
# first nine passes of wod_posts), so every pass that fits in a run would
# time the compiler threads' progress rather than graft. With C1 alone every
# warm pass takes 7-9 s of CPU from the first one on. See README.md.
JVM_OPTS = ["-Xms1g", "-Xmx1g", "-XX:TieredStopAtLevel=1"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main", "perfbench/build.sbt",
                "perfbench/project/build.properties", "perfbench/src"):
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles graft and the harness once per source state; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: run from the root of a graft checkout (src/main/scala/graft is missing)")
    os.makedirs(STATE, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(STATE, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log("building graft and the harness with sbt ...")
    with open(os.path.join(STATE, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    with open(os.path.join(STATE, "build.log")) as f:
        lines = f.read().splitlines()
    if rc != 0 or not lines:
        sys.exit(f"perfbench: build failed (see {STATE}/build.log)")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


def ensure_inputs(workload, seed):
    """Inputs and the expected results derived from them, cached by seed."""
    root = checks.inputs_dir(workload, seed)
    if not os.path.exists(os.path.join(root, "_DONE")):
        shutil.rmtree(root, ignore_errors=True)
        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        inputs.make(workload, seed, tmp)
        checks.write_expected(workload, seed, tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        os.rename(tmp, root)
    return root


def cpu_stat():
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]  # total jiffies, steal


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def jvm(classpath, run_dir, args):
    """Runs the harness JVM; returns (set-up seconds, exit code)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] + ADD_OPENS +
           ["-cp", classpath, "perfbench.PerfMain"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "a") as err:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL,
                                text=True)
        setup_s = None
        try:
            for line in proc.stdout:
                if setup_s is None and line.strip() == "PERFBENCH READY":
                    setup_s = time.perf_counter() - t0
            rc = proc.wait()
        except BaseException:  # an interrupted run stops its JVM too
            proc.kill()
            proc.wait()
            raise
    return setup_s, rc


def main():
    # a terminated run still stops its JVM and deletes its directories
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classpath = build()
    data = ensure_inputs(a.workload, a.seed)
    run_dir = os.path.join(STATE, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        load_start, (tot0, steal0) = load1(), cpu_stat()
        out = os.path.join(run_dir, "result.json")
        args = ["--workload", a.workload, "--data", data, "--work", os.path.join(run_dir, "work"),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out]
        setup_s, rc = jvm(classpath, run_dir, args)
        if rc != 0 or setup_s is None or not os.path.exists(out):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            sys.exit(f"perfbench: harness JVM failed (exit {rc})")
        with open(out) as f:
            res = json.load(f)
        tot1, steal1 = cpu_stat()
        for e in res["errors"]:
            log(f"OPERATION FAILED: {e}")
        try:
            n_checks, bad = checks.run(a.workload, data, res)
        except Exception as e:  # an output the checks cannot read is a failed check
            n_checks, bad = 1, [f"checks raised {e!r}"]
        for b in bad:
            log(f"CHECK FAILED: {b}")
        warm = res["warm"]
        diag = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                "load1_start": load_start, "load1_end": load1(),
                "steal_share": (steal1 - steal0) / max(1, tot1 - tot0),
                "setup_s": setup_s, "warm_passes": len(warm),
                "pass_samples_s": [p["wall_s"] for p in warm],
                "pass_cpu_samples_s": [p["cpu_s"] for p in warm],
                "first_pass_s": res["first"]["wall_s"]}
        if a.trace == 0:
            metrics = {
                "setup_s": (setup_s, "s"),
                "first_pass_cpu_s": (res["first"]["cpu_s"], "s"),
                "pass_s": (statistics.median(p["wall_s"] for p in warm), "s"),
                "pass_cpu_s": (statistics.median(p["cpu_s"] for p in warm), "s"),
                "peak_rss_mb": (res["peak_rss_mb"], "MiB"),
            }
        else:
            with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
                per_layer = json.load(f)["per_layer"]
            layers = checks.layer_metrics(data, res)
            # a layer the workload does not touch reads 0
            metrics = {m["name"]: (layers.get(m["name"], 0.0), m["unit"]) for m in per_layer}
            diag["unlisted_layers"] = {k: v for k, v in layers.items() if k not in metrics}
        failed = len(res["errors"]) + len(bad)
        print(json.dumps({"diagnostics": diag}))
        print(json.dumps({"correct": not bad, "attempted": res["attempted"] + n_checks,
                          "failed": failed,
                          "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()

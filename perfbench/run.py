"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload llm_3x --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The run builds the program from
source (perfbench/build.py; reused while the sources are unchanged),
makes its inputs from the seed (perfbench/gen.py) in a directory of its
own under .bench_build/, runs the workload in one JVM, checks the
outputs, removes everything it made, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the
metrics are the per-layer ones and the spans are kept in
.bench_build/traces/. See perfbench/README.md.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402

# inputs per workload: base scale factor, 3x recipe
WORKLOADS = {
    "llm_3x": dict(sf=0.001, triple=True),
    "store_mixed": dict(sf=0.005, triple=False),
}
# where graft.core.Artifacts and queries.RefSurface keep derived state
PROGRAM_STATE = "/tmp"
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
RUN_LIMIT_S = 170


def wipe_program_state(data_dir):
    """the program's caches and stores derived from this dataset"""
    name = os.path.basename(data_dir)
    for p in (glob.glob(f"{PROGRAM_STATE}/graft_cache_{name}_*") +
              glob.glob(f"{PROGRAM_STATE}/graft_store*_{name}")):
        shutil.rmtree(p, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a run stopped from outside still cleans up (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    cp = build.build(root)
    t0 = time.time()
    work = os.path.join(root, ".bench_build", "run", f"{a.workload}-{os.getpid()}")
    data = os.path.join(work, f"pbench_{a.workload}_{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    wipe_program_state(data)
    proc = None
    try:
        w = WORKLOADS[a.workload]
        gen.write(data, w["sf"], a.seed, w["triple"])
        os.makedirs(os.path.join(work, "tmp"))
        cmd = (["java", *JVM_OPENS, "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
                "-cp", cp, "graftbench.Main", "--workload", a.workload,
                "--data", data, "--work", work, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)])
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
        out, _ = proc.communicate(timeout=max(10, RUN_LIMIT_S - (time.time() - t0)))
        lines = out.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.exit(f"workload JVM exited with {proc.returncode}")
        res = json.loads(lines[-1])
        checks = res.pop("checks")
        if os.path.exists(os.path.join(work, "out", "oracle_sql.json")):
            import oracle
            checks.update(oracle.check(data, os.path.join(work, "out")))
        if a.trace:
            traces = os.path.join(root, ".bench_build", "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl"))
        failed = [k for k, v in checks.items() if not v]
        print(f"checks: {len(checks) - len(failed)}/{len(checks)} passed"
              + (f"; failed: {failed}" if failed else ""), file=sys.stderr)
        res["correct"] = res["correct"] and not failed
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        wipe_program_state(data)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()

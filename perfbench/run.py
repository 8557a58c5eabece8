"""One benchmark run, from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program from source if needed (perfbench/build.py), makes the
workload's inputs from the seed, runs the workload in a fresh JVM and
prints, as the last line of standard output, one JSON object with the
keys correct, attempted, failed and metrics: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
Exits 0 when the outputs were checked correct, nonzero otherwise.
"""
import argparse
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
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("catchup", "live", "delta", "queries")
# the query workload's tables: fixed, so their result hashes can be pinned
QUERY_SF = 0.01
QUERY_DATA_SEED = 42
TIMEOUT_S = 170

sys.path.insert(0, HERE)
import build  # noqa: E402
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def parse(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke tests use a tiny one)")
    return ap.parse_args(argv)


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return b["end_to_end"], b["per_layer"]


def query_tables():
    """Generate the query tables once per checkout (keyed by the
    generator's content); generation is not part of any measurement."""
    gen = os.path.join(HERE, "gen_tables.py")
    with open(gen, "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(OUT, f"qdata-sf{QUERY_SF}-seed{QUERY_DATA_SEED}-{tag}")
    if not os.path.isdir(d):
        subprocess.run([sys.executable, gen, d, "--sf", str(QUERY_SF),
                        "--seed", str(QUERY_DATA_SEED)], check=True)
    return d


def run_jvm(classes, a, work, out, log):
    jars = os.path.join(build.spark_jars(), "*")
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--scale", str(a.scale), "--work", work, "--out", out]
    if a.workload == "queries":
        cmd += ["--tables", query_tables(),
                "--pins", os.path.join(HERE, "pinned_hashes.json")]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            return p.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -9


def main(argv):
    a = parse(argv)
    e2e, per_layer = declared()
    os.makedirs(OUT, exist_ok=True)
    classes = build.build()
    run_id = f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(OUT, "work", run_id)
    res_dir = os.path.join(OUT, "results")
    os.makedirs(res_dir, exist_ok=True)
    out = os.path.join(res_dir, run_id + ".json")
    log = os.path.join(res_dir, run_id + ".log")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    try:
        rc = run_jvm(classes, a, work, out, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.stderr.write(f"perfbench: {a.workload} JVM exited {rc}\n")
        return 2
    with open(out) as f:
        r = json.load(f)
    want = e2e if a.trace == 0 else per_layer
    got = r["e2e"] if a.trace == 0 else r["layers"]
    missing = [m["name"] for m in want if a.trace == 0 and m["name"] not in got]
    if missing:
        sys.stderr.write(f"perfbench: workload did not report {missing}\n")
        return 2
    metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in want}
    for k, v in sorted(r.get("notes", {}).items()):
        print(f"# {k}: {v}")
    for k in sorted(got):
        print(f"# {'e2e' if a.trace == 0 else 'layer'} {k} = {got[k]}")
    print(f"# wall {time.time() - t0:.1f} s, result {out}")
    line = {"correct": bool(r["correct"]), "attempted": int(r["attempted"]),
            "failed": int(r["failed"]), "metrics": metrics}
    print(json.dumps(line))
    return 0 if r["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

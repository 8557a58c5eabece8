"""Run every workload N times, each run in a fresh JVM, alternating the
workload order between rounds, and summarize:

    python3 perfbench/runall.py [--runs 10] [--seconds 8] [--trace 0|1]
                                [--workloads catchup,live,delta,queries]
                                [--first-seed 1] [--json summary.json]

Prints host facts, then every end-to-end metric each workload reports
(by name and unit) with its median, quartiles and quartile spread as a
share of the median, the way the regression gate reads them. Exits
nonzero if any run failed or any correctness check failed.
"""
import argparse
import glob
import json
import os
import platform
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

# units of the figures a workload prints beside the declared metrics
EXTRA_UNITS = {"latency_p95_ms": "ms", "total_s": "s", "geomean_s": "s", "read_p50_ms": "ms",
               "read_p90_ms": "ms"}
# the per-workload names of the uniform end-to-end metrics
VIEW = {
    "catchup": {"throughput_per_s": "events_per_s"},
    "live": {"throughput_per_s": "events_per_s (drain)", "latency_p50_ms": "lag_p50_ms",
             "latency_p95_ms": "lag_p95_ms"},
    "delta": {"throughput_per_s": "events_per_s", "latency_p50_ms": "batch_p50_ms",
              "latency_p95_ms": "batch_p95_ms"},
    "queries": {"throughput_per_s": "queries_per_s", "latency_p50_ms": "query_p50_ms",
                "latency_p95_ms": "query_p95_ms"},
}


def host_facts():
    facts = {"nproc": os.cpu_count(), "machine": platform.machine()}
    try:
        with open("/proc/meminfo") as f:
            facts["mem_total"] = f.readline().split(":")[1].strip()
    except OSError:
        pass
    jv = subprocess.run(["java", "-version"], stderr=subprocess.PIPE, text=True).stderr
    facts["jvm"] = jv.splitlines()[0] if jv else "?"
    jars = glob.glob(os.path.join(build.spark_jars(), "spark-core_*.jar"))
    m = re.search(r"spark-core_[0-9.]+-(.+)\.jar", jars[0]) if jars else None
    facts["spark"] = m.group(1) if m else "?"
    try:
        facts["commit"] = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                                         capture_output=True, text=True).stdout.strip() or "?"
    except OSError:
        facts["commit"] = "?"
    return facts


def one(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if not lines or not lines[-1].startswith("{"):
        sys.stderr.write(p.stderr[-2000:])
        return None
    res = json.loads(lines[-1])
    values = {k: v["value"] for k, v in res["metrics"].items()}
    units = {k: v["unit"] for k, v in res["metrics"].items()}
    for ln in lines:  # figures printed beside the declared metrics
        m = re.match(r"# e2e (\S+) = (\S+)", ln)
        if m and m.group(1) not in values:
            values[m.group(1)] = float(m.group(2))
            units[m.group(1)] = EXTRA_UNITS.get(m.group(1), "?")
    return {"ok": p.returncode == 0, "correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"], "values": values, "units": units}


def summarize(runs):
    out = {}
    for name in sorted({k for r in runs for k in r["values"]}):
        vals = [r["values"][name] for r in runs if name in r["values"]]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[name] = {"unit": runs[0]["units"].get(name, "?"), "median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else 0.0, "n": len(vals)}
    return out


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--workloads", default="catchup,live,delta,queries")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--json", default=None)
    a = ap.parse_args(argv)
    wls = a.workloads.split(",")
    facts = host_facts()
    print("# host " + " ".join(f"{k}={v}" for k, v in facts.items()))
    runs = {w: [] for w in wls}
    bad = 0
    for i in range(a.runs):
        for w in (wls if i % 2 == 0 else list(reversed(wls))):
            r = one(w, a.first_seed + i, a.seconds, a.trace)
            if r is None or not r["ok"] or not r["correct"]:
                bad += 1
                print(f"# run {w} seed {a.first_seed + i}: FAILED ({r and r['correct']})")
            if r is not None:
                runs[w].append(r)
                print(f"# run {w} seed {a.first_seed + i}: " + " ".join(
                    f"{k}={v:.6g}" for k, v in sorted(r["values"].items())), flush=True)
    summary = {}
    print(f"{'workload':9} {'metric':22} {'also':22} {'unit':9} {'median':>12} {'q1':>12} "
          f"{'q3':>12} {'spread':>7}")
    for w in wls:
        if not runs[w]:
            continue
        s = summarize(runs[w])
        att = sum(r["attempted"] for r in runs[w])
        fail = sum(r["failed"] for r in runs[w])
        s["failed_ratio"] = {"unit": "failed/attempted", "median": fail / att if att else 0.0,
                             "q1": 0.0, "q3": 0.0, "spread": 0.0, "n": len(runs[w])}
        summary[w] = s
        for name, m in s.items():
            print(f"{w:9} {name:22} {VIEW.get(w, {}).get(name, ''):22} {m['unit']:9} "
                  f"{m['median']:12.6g} {m['q1']:12.6g} {m['q3']:12.6g} {m['spread']:7.3f}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"host": facts, "runs": runs, "summary": summary}, f, indent=1)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

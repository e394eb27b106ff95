"""End-to-end benchmark of graft: seeded closed-loop replays of the
reference's benchmark.py sequence on a graph that fits LocalExec's budget
and on one that does not.

    python3 perfbench/run.py --workload replay_fit --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source (perfbench/build.py),
generates the workload's inputs from the seed (perfbench/gen.py), runs the
JVM harness, checks every op against the harness's own expected answers,
and prints one summary line per metric followed, as the last line, by a
JSON object: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
gives the end-to-end metrics, `--trace 1` the per-layer ones.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

# Each run, after the build, must end within this many seconds.
DEADLINE_S = 175
HEAP = "-Xmx4g"
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def cpu_ticks():
    """(steal, total) jiffies from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7], sum(fields)
    except (OSError, IndexError, ValueError):
        return None


def provenance(raw, args, steal):
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    commit = "unknown"
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        pass
    return {
        "nproc": os.cpu_count(), "mem_total_mb": mem_kb // 1024,
        "jvm": raw["jvm_version"], "spark": raw["spark_version"], "commit": commit,
        "source_hash": (build.BUILD / "classes.stamp").read_text()[:16],
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "graph_nodes": raw["graph_nodes"], "graph_edges": raw["graph_edges"],
        # host speed: median kernel times of the run's probes and the
        # reference ones end-to-end times are scaled to (metrics.py)
        "probe_ms": {k: statistics.median(p[i] for p in raw["probes"])
                     for i, k in enumerate(metrics.KERNELS)},
        "ref_probe_ms": metrics.REF_PROBE_MS,
        # share of the host's CPU time the hypervisor took away during the
        # run: high values explain outlier runs on a shared host
        "steal_share": steal,
    }


def run_jvm(args, work, data, deadline):
    out = work / "raw.json"
    log = work / "jvm.log"
    cmd = ["java", HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Main", args.workload, str(data), str(work),
            str(args.seconds), str(args.trace), str(out)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: harness timed out")
        finally:
            # on a timeout or a signal, the harness JVM must not outlive us
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not out.exists():
        sys.stderr.write(log.read_text()[-4000:])
        raise SystemExit(f"perfbench: harness exited with code {rc}")
    return json.loads(out.read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GRAPH_SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))

    build.build()
    # the first run in a checkout may spend minutes compiling; the run
    # itself must end within DEADLINE_S after that
    deadline = time.monotonic() + DEADLINE_S
    work = build.BUILD / "work" / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    scratch = ("data", "tmp", "spark-local", "warehouse")
    shutil.rmtree(work, ignore_errors=True)
    for d in scratch[:3]:
        (work / d).mkdir(parents=True)
    gen.generate(args.workload, args.seed, work / "data")
    t0 = cpu_ticks()
    try:
        raw = run_jvm(args, work, work / "data", deadline)
    finally:
        # keep the run's raw samples, result and log; drop the bulk
        for d in scratch:
            shutil.rmtree(work / d, ignore_errors=True)
    t1 = cpu_ticks()
    steal = round((t1[0] - t0[0]) / max(1, t1[1] - t0[1]), 4) if t0 and t1 else None

    # every op is checked, the cold set-up round's too
    attempted = len(raw["ops"])
    failed = sum(1 for o in raw["ops"] if not o["ok"])
    want_admitted = 1 if args.workload == "replay_fit" else 0
    if raw["admitted"] != want_admitted:
        print(f"WARNING: route change: graph.localexec.admitted = {raw['admitted']} on "
              f"{args.workload}, expected {want_admitted}", file=sys.stderr)
        print(f"WARNING: route change on {args.workload}: admitted = {raw['admitted']}")
    for f in raw["failures"]:
        print(f"FAILED {f}", file=sys.stderr)

    warm = metrics.warm_ops(raw)
    if args.trace:
        values = metrics.per_layer(raw)
    else:
        e2e = metrics.end_to_end(raw)
        values = {name: (e2e[name], unit) for name, unit in metrics.END_TO_END}
    detail = {"provenance": provenance(raw, args, steal),
              "timings_ms": {k: metrics.timing_summary([o["ms"] for o in warm if o["type"] == k])
                             for k in sorted({o["type"] for o in warm})},
              "failures": raw["failures"]}
    if args.trace:
        detail["spans"] = metrics.span_detail(raw)
    else:
        detail["wall"] = metrics.end_to_end(raw, scaled=False)
    (work / "result.json").write_text(json.dumps({"detail": detail, "metrics": values}, indent=1))
    print("provenance " + json.dumps(detail["provenance"]))
    for k, t in detail["timings_ms"].items():
        print(f"samples {k}: " + json.dumps(t))
    for name, (v, unit) in values.items():
        print(f"{name} = {v:.6g} {unit}")
    if "wall" in detail:
        print("wall times " + json.dumps({k: round(v, 6) for k, v in detail["wall"].items()}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": v, "unit": unit} for name, (v, unit) in values.items()},
    }))


if __name__ == "__main__":
    main()

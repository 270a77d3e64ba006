"""Benchmark entry point.

    python3 perfbench/run.py --workload mq_drain --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

One workload: runs it, prints the run environment, a report of every
end-to-end metric with its unit and sample count, and, as the last line, a
JSON object {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones (and the
spans are written to perfbench/.work/). ``all`` runs every workload
untraced and traced, each in its own process, and reports the tracing
overhead per workload. Run from the root of the repository checkout.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data", "sf0.01")
PKG = "spark_sql_custom_mq_datasource_spark"
NAMES = ["mq_drain", "mq_live", "curation_batch", "relational_batch"]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=NAMES + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env() -> None:
    """Keep every file the run writes inside the checkout, let the Python
    workers import the package, and size the engine to the CPUs it may use.
    Every other program default is left as it is and recorded."""
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        sys.exit(f"perfbench: package {PKG}/ not found next to {HERE}; run from a full checkout")
    tmp, local = os.path.join(WORK, "tmp"), os.path.join(WORK, "local")
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # PerfDisableSharedMem: the JVM's perf-counter file would go to /tmp.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem" pyspark-shell')
    sys.path[:0] = [ROOT, HERE]


def run_one(args) -> int:
    prepare_env()
    from harness import RssSampler, git_commit
    from workloads import END_TO_END, LAYER_METRICS, WORKLOADS, Run

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), WORK, DATA, PROCESS_START)
    run.env.update({
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "git_commit": git_commit(ROOT),
    })
    with RssSampler() as rss:
        try:
            WORKLOADS[args.workload](run)
        finally:
            run.finish()
    res = run.result
    peak_mb = rss.peak_bytes / 2**20
    res.report.append(("peak_rss_mb", peak_mb, "MB", 1))
    res.report.append(("failed_frac", res.failed / max(res.attempted, 1), "ratio", res.attempted))

    print("env " + json.dumps(run.env, sort_keys=True))
    for message in res.failures:
        print(f"FAILED {message}")
    for name, value, unit, n in res.report:
        print(f"{args.workload} {name} = {value:.6g} {unit} (n={n})")
    if args.trace:
        spans_path = os.path.join(WORK, f"trace_{args.workload}_{args.seed}.json")
        with open(spans_path, "w") as f:
            json.dump({"env": run.env, "spans": run.tracer.spans, "layers": res.layers}, f)
        for name, s in sorted(run.tracer.self_times().items(), key=lambda kv: -kv[1]):
            print(f"{args.workload} self_time {name} = {s:.4f} s")
        unmeasured = [k for k in LAYER_METRICS if k not in res.layers]
        print(f"unmeasured {args.workload}: {' '.join(unmeasured) or '-'} (reported as 0)")
        metrics = {k: {"value": float(res.layers.get(k, 0.0)), "unit": u} for k, u in LAYER_METRICS.items()}
    else:
        metrics = {k: {"value": float(res.e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


def run_all(args) -> int:
    """Every workload untraced then traced, each in a fresh process; prints
    their reports and the traced-minus-untraced difference per workload."""
    summary = {}
    for name in NAMES:
        out = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                sys.stderr.write(proc.stderr[-4000:])
                return proc.returncode or 1
            for line in lines[:-1]:
                print(line)
            out[trace] = {"result": json.loads(lines[-1]), "report": {
                l.split()[1]: float(l.split()[3]) for l in lines if l.startswith(f"{name} ") and " = " in l
                and "self_time" not in l}}
        untraced, traced = out[0]["report"], out[1]["report"]
        overhead = {k: traced[k] / untraced[k] - 1 for k in untraced if k in traced and untraced[k]}
        for k, v in sorted(overhead.items()):
            print(f"{name} trace_overhead {k} = {v:+.3f} (traced / untraced - 1)")
        summary[name] = {"correct": out[0]["result"]["correct"] and out[1]["result"]["correct"],
                         "end_to_end": out[0]["result"]["metrics"], "trace_overhead": overhead}
    print(json.dumps(summary))
    return 0 if all(s["correct"] for s in summary.values()) else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())

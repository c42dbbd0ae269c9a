"""Benchmark of the real extraction job, `plans.pipeline.run_extract_job`,
on generated transcripts in one warm local[nproc] Spark session.

    python3 perfbench/run.py --workload extract_fixtures --seed 1 \\
        --seconds 16 --trace 0

Run from the root of a checkout.  `--trace 0` runs the job as a closed
loop (one client, one job at a time, each waiting for the previous) for
`--seconds` and reports the end-to-end metrics; `--trace 1` reports the
per-layer metrics, measured by spans around the program's layer calls
and by a ladder of no-op-sink runs over the job's own staged frame.
Every job's output is checked against the single-row reference
converter.  The last stdout line is the result object; the line before
it holds host facts and sample details.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "tool_documentsconverter_spark"
# name -> (payload mix, 30% of turns in one conversation, timed run):
# "forced" reruns every bucket, "resume" finishes a run that committed
# the first half of the buckets (README.md says why each exists)
WORKLOADS = {
    "extract_fixtures": ("fixtures", True, "forced"),
    "extract_realistic": ("realistic", True, "forced"),
    "resume_uniform": ("realistic", False, "resume"),
}


def configure_env(work: str, cpus: str) -> None:
    """Point Spark, its JVM and the Python workers at this checkout,
    and keep every file they write inside `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = cpus
    env["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    env["TMPDIR"] = tmp
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p)
    env["SPARK_SUBMIT_OPTS"] = " ".join(
        p for p in (env.get("SPARK_SUBMIT_OPTS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p)
    sys.path[:0] = [ROOT, HERE]


def host_facts(bench) -> dict:
    import pyarrow
    import pyspark
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True,
                             timeout=10).stdout.strip()
    except OSError:
        sha = ""
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "git_sha": sha or "unknown",
        "seed": bench.seed,
        "input_rows": bench.spec.n_turns,
        "input_bytes": bench.input_bytes,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "plans", "pipeline.py")):
        print(f"perfbench: no {PKG} package beside {HERE}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    t0 = time.perf_counter()
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(
        len(os.sched_getaffinity(0)))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work, cpus)
    import harness

    bench = harness.Bench(WORKLOADS[args.workload], args.seed, int(cpus),
                          work)
    try:
        setup = bench.setup()
        ref = bench.reference()
        measure = bench.per_layer if args.trace else bench.end_to_end
        metrics, res = measure(ref, args.seconds, setup)
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "host": host_facts(bench),
                      "setup": setup, "setup_cpu_steal": bench.steal[0],
                      **res["detail"],
                      "run_s": time.perf_counter() - t0}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""One benchmark run: the session, its input, the timed jobs and the
traced layer measurements.  `run.py` is the command-line entry point;
it configures the environment before this module starts Spark."""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import subprocess
import sys
import time
from typing import Dict, List, Tuple

import pyarrow as pa
import pyarrow.compute as pc
from pyspark import SparkContext
from pyspark.sql import functions as F

import check
import gen
import spans
from tool_documentsconverter_spark import kernels
from tool_documentsconverter_spark.operators.extract import (
    extract, with_sniffed_format)
from tool_documentsconverter_spark.plans import pipeline
from tool_documentsconverter_spark.session import get_spark

N_TURNS = 20_000
MIN_JOBS = 2     # timed jobs per run, however short --seconds is
MIN_ROUNDS = 2   # traced rounds per run
INPUT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "fmt_hint"]

Metrics = Dict[str, Tuple[float, str]]


def median(xs: List[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def quartiles(xs: List[float]) -> Dict[str, float]:
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else xs * 3
    return {"q1": q[0], "median": q[1], "q3": q[2], "n": len(xs)}


def _identity(batches):
    yield from batches


def descendants(pid: int) -> List[int]:
    children: Dict[int, List[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def py_worker_hwm_mb() -> float:
    """Largest VmHWM (peak RSS) over this run's PySpark worker processes
    (the daemon and the workers it forks share its command line)."""
    best = 0
    for p in descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]))
        except OSError:
            continue
    return best / 1024.0


def cpu_times() -> List[int]:
    """The host-wide jiffies line of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: List[int], after: List[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def parquet_files(path: str) -> Tuple[int, int]:
    """(bytes, files) of the data files under a parquet table."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet") and not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


class Bench:
    def __init__(self, workload: Tuple[str, bool, str], seed: int,
                 cpus: int, work: str):
        """`workload` is (payload mix, skewed, "forced" or "resume")."""
        mix, skewed, self.mode = workload
        self.spec = gen.Spec(mix, skewed, N_TURNS)
        self.seed = seed
        self.cpus = cpus
        self.work = work
        self.input = os.path.join(work, "input")
        self.spark = None
        self.n_jobs = 0
        self.prefix: List[int] = []   # buckets committed before timing
        self.steal: List[float] = []  # host CPU steal during each job

    # ---- session -------------------------------------------------------
    def close(self) -> None:
        """Stop Spark, its JVM and every worker, and wait for them."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in descendants(os.getpid()):
            with contextlib.suppress(OSError):
                os.kill(p, 9)

    def setup(self) -> Dict[str, float]:
        """Start the session, spawn the Python workers with a
        one-row-per-core stage, generate and write the input, and run
        one warm-up job: the set-up a user pays before the first real
        job.  For the resume workload the warm-up job is the earlier run
        that committed only the first half of the buckets."""
        t0 = time.perf_counter()
        self.spark = get_spark(app="perfbench", master=f"local[{self.cpus}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        times = {"session.start_s": time.perf_counter() - t0}
        t = time.perf_counter()
        (self.spark.range(0, self.cpus, 1, self.cpus)
         .mapInArrow(_identity, "id long")
         .write.format("noop").mode("overwrite").save())
        times["session.worker_warm_s"] = time.perf_counter() - t
        t = time.perf_counter()
        self.table = gen.generate(self.spec, self.seed)
        self.input_bytes = gen.write(self.table, self.input, self.cpus)
        times["gen_s"] = time.perf_counter() - t
        out, lin = self._dirs("setup")
        if self.mode == "resume":
            times["warmup_job_s"], _, _ = self.run_job(
                out, lin, only_buckets=range(pipeline.DEFAULT_BUCKETS // 2))
            self.prefix_out, self.prefix_lin = out, lin
        else:
            times["warmup_job_s"], _, _ = self.run_job(out, lin, force=True)
            shutil.rmtree(os.path.dirname(out))
        times["setup_s"] = time.perf_counter() - t0
        return times

    def reference(self) -> check.Reference:
        """The expected output digest and rows per bucket."""
        ref = check.reference(self.table)
        rows = (pipeline.with_bucket(self.spark.read.parquet(self.input))
                .groupBy("bucket").count().collect())
        ref.bucket_rows = {r["bucket"]: r["count"] for r in rows}
        if self.mode == "resume":
            lin = self.spark.read.parquet(self.prefix_lin).select("bucket")
            self.prefix = sorted(r["bucket"] for r in lin.collect())
        return ref

    # ---- one job -------------------------------------------------------
    def _dirs(self, tag: str) -> Tuple[str, str]:
        base = os.path.join(self.work, "jobs", tag)
        os.makedirs(base)
        return os.path.join(base, "out"), os.path.join(base, "lineage")

    def run_job(self, out: str, lin: str, tracer=None, **kw):
        """(seconds, JobSummary, span) of one `run_extract_job` call;
        with a tracer the call is a `job` span, else span is None."""
        src = self.spark.read.parquet(self.input)
        job = (spans.traced_job(tracer, out, lin) if tracer
               else contextlib.nullcontext())
        with job as span:
            c0, t0 = cpu_times(), time.perf_counter()
            summary = pipeline.run_extract_job(
                self.spark, src, out, lin, input_snapshot=self.input, **kw)
            secs = time.perf_counter() - t0
        self.steal.append(steal_frac(c0, cpu_times()))
        return secs, summary, span

    def timed_job(self, ref: check.Reference, tracer=None) -> dict:
        """One job in fresh output/lineage dirs (holding the prefix
        commit for the resume workload), then the output check."""
        self.n_jobs += 1
        out, lin = self._dirs(f"job{self.n_jobs}")
        if self.mode == "resume":
            shutil.copytree(self.prefix_out, out)
            shutil.copytree(self.prefix_lin, lin)
        rec = {"ok": False, "problems": [], "out": out}
        try:
            secs, s, rec["span"] = self.run_job(
                out, lin, tracer, force=self.mode == "forced")
            expect = sum(n for b, n in ref.bucket_rows.items()
                         if b not in self.prefix)
            if not s.rows_in == s.rows_out == expect:
                rec["problems"].append(
                    f"rows in {s.rows_in}, out {s.rows_out}, expected {expect}")
            if s.buckets_skipped != len(self.prefix):
                rec["problems"].append(
                    f"skipped {s.buckets_skipped} buckets, "
                    f"expected {len(self.prefix)}")
            rec["problems"] += check.check_run(ref, out, lin)
            size, files = parquet_files(out)
            rec.update(seconds=secs, turns_per_s=s.rows_out / secs,
                       output_bytes_per_turn=size / ref.n_rows,
                       output_files=files, buckets_skipped=s.buckets_skipped)
        except Exception as e:  # a failed run is counted, not fatal
            rec["problems"].append(f"{type(e).__name__}: {e}")
        rec["ok"] = not rec["problems"]
        if not rec["ok"]:
            print(f"perfbench: job {self.n_jobs} failed: {rec['problems']}",
                  file=sys.stderr)
        return rec

    def _drop(self, rec: dict) -> None:
        shutil.rmtree(os.path.dirname(rec["out"]), ignore_errors=True)

    # ---- measurements --------------------------------------------------
    def end_to_end(self, ref: check.Reference, seconds: float,
                   setup: Dict[str, float]) -> Tuple[Metrics, dict]:
        """Closed loop of timed jobs for `seconds`."""
        jobs = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or len(jobs) < MIN_JOBS:
            jobs.append(self.timed_job(ref))
            self._drop(jobs[-1])
        good = [j for j in jobs if j["ok"]]
        tps = [j["turns_per_s"] for j in good] or [0.0]
        metrics = {
            "turns_per_s": (median(tps), "1/s"),
            "setup_s": (setup["setup_s"], "s"),
            "output_bytes_per_turn": (
                median([j["output_bytes_per_turn"] for j in good]), "B"),
            "py_worker_rss_mb": (py_worker_hwm_mb(), "MB"),
            "ok_run_frac": (len(good) / len(jobs), "fraction"),
        }
        detail = {"turns_per_s": quartiles(tps),
                  "job_s": [j.get("seconds") for j in jobs],
                  "job_cpu_steal": self.steal[-len(jobs):],
                  "failed_run_frac": 1 - len(good) / len(jobs)}
        return metrics, {"attempted": len(jobs),
                         "failed": len(jobs) - len(good), "detail": detail}

    def per_layer(self, ref: check.Reference, seconds: float,
                  setup: Dict[str, float]) -> Tuple[Metrics, dict]:
        """Rounds of the no-op ladder, an untraced and a traced job."""
        warm = check.reference(self.table)  # kernels timed warm, 1 core
        src = self.spark.read.parquet(self.input).select(*INPUT_COLS)
        heavy = pipeline.heavy_conv_ids(src.select("conv_id"))
        df = pipeline.with_bucket(src)
        if self.prefix:
            df = df.where(~F.col("bucket").isin(self.prefix))
        # the job's staging, built the way run_extract_job builds it
        staged = (pipeline.salted(df, heavy)
                  .repartition(pipeline.DEFAULT_BUCKETS, "bucket", "salt")
                  .sortWithinPartitions("conv_id", "turn_idx")
                  .drop("salt"))
        sniffed = with_sniffed_format(staged, "fmt_hint")
        ladder = {
            "scan": src,
            "staged": staged,
            "identity": sniffed.mapInArrow(_identity, sniffed.schema),
            "extract": extract(staged, hint_col="fmt_hint",
                               drop_cols=("text", "fmt_hint")),
        }
        tracer = spans.Tracer()
        lad: Dict[str, List[float]] = {k: [] for k in ladder}
        child: Dict[str, List[float]] = {}
        plain, traced, residual, jobs = [], [], [], []
        last = None   # the latest traced job that passed the check
        t0 = time.perf_counter()
        while (time.perf_counter() - t0 < seconds
               or len(traced) < MIN_ROUNDS):
            for k, frame in ladder.items():
                t = time.perf_counter()
                frame.write.format("noop").mode("overwrite").save()
                lad[k].append(time.perf_counter() - t)
            for tr in (None, tracer):
                rec = self.timed_job(ref, tr)
                jobs.append(rec)
                if tr is None or not rec["ok"]:
                    if rec["ok"]:
                        plain.append(rec["seconds"])
                    self._drop(rec)
                    continue
                if last is not None:
                    self._drop(last)
                last = rec
                traced.append(rec["seconds"])
                kids = tracer.children(rec["span"])
                residual.append(rec["span"].seconds
                                - sum(s.seconds for s in kids))
                per_name: Dict[str, float] = {}
                for s in kids:
                    per_name[s.name] = per_name.get(s.name, 0.0) + s.seconds
                    if s.name == "plans.sketch":
                        heavy_keys = s.attrs["heavy_keys"]
                for k, v in per_name.items():
                    child.setdefault(k, []).append(v)
        tracer.dump(os.path.join(
            os.path.dirname(self.work),
            f"spans-{os.path.basename(self.work)}.json"))
        if last is None:
            raise RuntimeError("no traced job passed the output check")

        m = {k: median(v) for k, v in lad.items()}
        ch = {k: median(v) for k, v in child.items()}
        rows = sum(n for b, n in ref.bucket_rows.items()
                   if b not in self.prefix)
        # counts, each from its own action after the timed part
        parts = [r["count"] for r in staged.groupBy(
            F.spark_partition_id().alias("p")).count().collect()]
        tasks = sniffed.rdd.getNumPartitions()
        arrow_in = sniffed.toArrow().nbytes
        # the written table holds exactly the stage's output columns;
        # on a resume, count only the buckets this job wrote
        written = check.read_output(last["out"])
        if self.prefix:
            written = written.filter(pc.invert(pc.is_in(
                written.column("bucket"), pa.array(self.prefix))))
        counts = check.format_counts(written)
        self._drop(last)

        metrics: Metrics = {}
        for k in check.KERNEL_CLASSES:
            n = warm.kernel_rows.get(k, 0)
            metrics[f"kernels.{k}_us_per_row"] = (
                1e6 * warm.kernel_s.get(k, 0.0) / n if n else 0.0, "us")
        metrics.update({
            "extract.boundary_s": (m["identity"] - m["staged"], "s"),
            "extract.stage_s": (m["extract"] - m["staged"], "s"),
            "extract.kernel_s": (m["extract"] - m["identity"], "s"),
            "extract.tasks": (tasks, "count"),
            "extract.arrow_bytes_in_per_turn": (arrow_in / rows, "B"),
            "extract.arrow_bytes_out_per_turn": (written.nbytes / rows, "B"),
        })
        for f in (*kernels.KNOWN_FMTS, kernels.FMT_UNKNOWN):
            metrics[f"extract.rows.{f}"] = (counts["rows"][f], "count")
            metrics[f"extract.failed.{f}"] = (counts["failed"][f], "count")
        metrics.update({
            "plans.sketch_s": (ch["plans.sketch"], "s"),
            "plans.heavy_keys": (heavy_keys, "count"),
            "plans.shuffle_s": (m["staged"] - m["scan"], "s"),
            "plans.partition_skew": (
                max(parts) / (rows / pipeline.DEFAULT_BUCKETS), "ratio"),
            "plans.write_s": (ch["plans.write_action"] - m["extract"], "s"),
            "plans.output_files": (last["output_files"], "count"),
            # forced runs never call committed_buckets
            "plans.resume_check_s": (ch.get("plans.resume_check", 0.0), "s"),
            "plans.buckets_skipped": (last["buckets_skipped"], "count"),
            "plans.lineage_commit_s": (ch["plans.lineage_commit"], "s"),
            "sources.scan_s": (m["scan"], "s"),
            "sources.input_bytes_per_turn": (
                self.input_bytes / ref.n_rows, "B"),
            "session.start_s": (setup["session.start_s"], "s"),
            "session.worker_warm_s": (setup["session.worker_warm_s"], "s"),
            "job.seconds": (median(plain), "s"),
            "job.residual_s": (median(residual), "s"),
            "trace.overhead_s": (median(traced) - median(plain), "s"),
        })
        failed = sum(not j["ok"] for j in jobs)
        detail = {"ladder_s": lad, "span_s": child,
                  "job_s": plain, "traced_job_s": traced}
        return metrics, {"attempted": len(jobs), "failed": failed,
                         "detail": detail}

"""Benchmark of the shipped extraction and query jobs at local[4].

    python3 perfbench/run.py --workload extract_webmix --seed 1 --seconds 10 --trace 0

One run generates the workload's pages from the seed, starts Spark,
times the workload's job at local[4], checks the outputs against the
pure-Python parse engine, and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json; with
``--trace 1`` they are the per-layer ones (layers.py, plus the engine
stage at local[1] vs local[4]), and the run's spans are written to
``.perfbench/traces/``.  A human-readable summary goes to stderr.
Exit code 1 on any output mismatch; see README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import shipped  # noqa: E402
from tracing import (  # noqa: E402
    RssSampler, Tracer, jvm_heap_peak_mb, read_event_log, straggler_ratio, tree_rss_mb,
)
from workloads import WORKLOADS, generate  # noqa: E402

# share of --seconds spent on each block of the traced run (each block
# also has a minimum number of repetitions)
SHARE_FIRST, SHARE_SECOND, SHARE_STAGE = 0.5, 0.5, 0.2
JVM_HEAP = "1g"


def _args():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


class Bench:
    """One benchmark run: a work directory inside the checkout, the
    Spark sessions it starts, and the measurements."""

    def __init__(self, workload: str, seed: int):
        self.workload = workload
        self.seed = seed
        self.work = os.path.join(ROOT, ".perfbench", f"work-{workload}-{seed}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        self.events = os.path.join(self.work, "events")
        self.job = shipped.JOBS[workload]()
        self.tracer = Tracer(f"{workload}-{seed}-{os.getpid()}")
        self.spark = None
        self.setups: list[float] = []
        self.attempted = 0
        self.failed = 0
        self._outs = 0
        self._t0 = time.perf_counter()

    def phase(self, name: str) -> None:
        """Log the start of a phase of the run on stderr."""
        print(f"[{time.perf_counter() - self._t0:6.1f}s] {name}", file=sys.stderr, flush=True)

    # -- sessions -----------------------------------------------------
    def start(self, cores: int, event_log: bool = False) -> None:
        """One set-up, timed: JVM launch and session start, the C-engine
        load (or build) and Python-worker warm-up (the engine stage once
        over a small slice of the input, which starts the workers and
        loads the engine in them)."""
        from pyspark.sql import SparkSession

        t0 = time.perf_counter()
        from gumbo_pp_spark.parser import cengine

        cengine.available()
        os.makedirs(self.events, exist_ok=True)
        self.spark = (
            SparkSession.builder.master(f"local[{cores}]").appName("perfbench")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
            .config("spark.local.dir", self.tmp)
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            # a fixed, pre-touched heap: the JVM's share of peak_rss_mb
            # does not depend on when the collector chose to grow it
            .config("spark.driver.memory", JVM_HEAP)
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={self.tmp} -Xms{JVM_HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData")
            .config("spark.eventLog.enabled", "true" if event_log else "false")
            .config("spark.eventLog.dir", "file://" + self.events)
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.compress", "false")
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.job.stage(self.spark, self.warm_dir).write.format("noop").mode("overwrite").save()
        self.setups.append(time.perf_counter() - t0)

    def stop(self, jvm: bool = True) -> None:
        """Stop Spark; with ``jvm``, also end the JVM and wait for every
        child to exit, so the next set-up starts a fresh JVM."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway if jvm else None
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
            deadline = time.time() + 30
            while tree_rss_mb(os.getpid()) > 0 and time.time() < deadline:
                time.sleep(0.2)

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    @contextmanager
    def engine_off(self):
        """UDFs built inside this block run in Python workers started
        with ``GUMBO_PP_CENGINE=0``: the pure-Python reference engine."""
        env = self.spark.sparkContext.environment
        env["GUMBO_PP_CENGINE"] = "0"
        try:
            yield
        finally:
            del env["GUMBO_PP_CENGINE"]

    # -- timing -------------------------------------------------------
    def out_dir(self) -> str:
        self._outs += 1
        return os.path.join(self.work, f"out{self._outs}")

    def block(self, budget_s: float, min_reps: int, n_docs: int, rss: RssSampler | None = None,
              span: str | None = None) -> tuple[list[float], str | None]:
        """Run the job back to back until ``budget_s`` has passed (at
        least ``min_reps`` times).  Returns the walls and the last
        output directory."""
        walls: list[float] = []
        last = None
        end = time.perf_counter() + budget_s
        tries = 0
        while len(walls) < min_reps or time.perf_counter() < end:
            if tries >= min_reps * 4 and not walls:
                break
            tries += 1
            out = self.out_dir()
            self.attempted += n_docs
            if rss:
                rss.begin()
            t0 = time.perf_counter()
            try:
                if span:
                    with self.tracer.span(span):
                        self.job.run(self.spark, self.pages_dir, out)
                else:
                    self.job.run(self.spark, self.pages_dir, out)
            except Exception as e:  # a failed job counts its docs as failed
                print(f"job failed: {type(e).__name__}: {str(e)[:500]}", file=sys.stderr)
                self.failed += n_docs
                continue
            finally:
                if rss:
                    rss.end()
            walls.append(time.perf_counter() - t0)
            if last:
                shutil.rmtree(last, ignore_errors=True)
            last = out
        return walls, last

    # -- correctness --------------------------------------------------
    def _digest(self, df) -> tuple[int, ...]:
        """(rows, sums of two differently seeded 64-bit hashes of each
        row): the same for any row order, computed in Spark."""
        from pyspark.sql import functions as F

        cols = [F.col(c) for c in sorted(df.columns)]
        hashes = [F.xxhash64(*cols), F.xxhash64(F.lit("perfbench"), *cols)]
        row = df.agg(F.count(F.lit(1)), *[F.sum(h.cast("decimal(38,0)")) for h in hashes]).collect()[0]
        return tuple(int(v or 0) for v in row)

    def _reference(self) -> dict[str, tuple[int, ...]]:
        """Digests of the reference frames on the pure-Python engine,
        computed once per (workload, seed) in this checkout.  The engine
        runs over the distinct base pages; each output row is then given
        the doc id and url of every copy of its page."""
        path = os.path.join(ROOT, ".perfbench", "ref", f"{self.workload}-{self.seed}.json")
        if os.path.exists(path):
            with open(path) as f:
                return {k: tuple(v) for k, v in json.load(f).items()}
        copies = self.spark.read.parquet(self.pages_dir).select("doc_id", "url", "base_id")
        with self.engine_off():
            frames = self.job.reference(self.spark, self.base_dir)
            want = {name: self._digest(df.withColumnRenamed("doc_id", "base_id").drop("url")
                                       .join(copies, "base_id").drop("base_id"))
                    for name, df in frames.items()}
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(want, f)
        os.replace(path + ".tmp", path)
        return want

    def check(self, wl, out: str) -> list[str]:
        """Compare the job's outputs with the same frames evaluated on
        the pure-Python engine; returns the mismatches found.  A doc
        with no output row counts as failed."""
        want = self._reference()
        got = self.job.outputs(self.spark, self.pages_dir, out)
        errors = []
        for name, w in want.items():
            g = self._digest(got[name])
            if g != w:
                errors.append(f"{name}: digest {g} != pure-Python {w}")
            if name == self.job.PER_DOC and g[0] < w[0]:
                # one reference row per doc
                self.failed += w[0] - g[0]
                errors.append(f"{w[0] - g[0]} of {wl.n_docs} docs have no output row")
        return errors

    # -- runs ---------------------------------------------------------
    def prepare(self):
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.tmp, exist_ok=True)
        # Spark's Python workers import the engine and these modules
        os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")])
        os.environ["TMPDIR"] = self.tmp
        wl = generate(self.workload, self.seed)
        self.pages_dir = os.path.join(self.work, "pages")
        self.base_dir = os.path.join(self.work, "base")
        self.warm_dir = os.path.join(self.work, "warm")
        wl.write_parquet(self.pages_dir)
        wl.write_parquet(self.base_dir, copies=1)
        wl.write_parquet(self.warm_dir, n_files=shipped.NCORES, limit=len(wl.pages) // 16)
        return wl

    def stage_block(self, budget_s: float, min_reps: int) -> list[float]:
        """Time the job's engine stage with a noop sink."""
        walls: list[float] = []
        end = time.perf_counter() + budget_s
        while len(walls) < min_reps or time.perf_counter() < end:
            t0 = time.perf_counter()
            self.job.stage(self.spark, self.pages_dir).write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
        return walls

    def end_to_end(self, wl, seconds: float) -> tuple[dict, list[str]]:
        """Two set-ups, each in a fresh JVM; in the second session one
        untimed job over the warm-up slice (a fresh JVM's first job runs
        about twice as long as later ones), then the timed jobs and the
        correctness gate."""
        n_docs, mb = wl.n_docs, wl.in_bytes / 1e6
        self.phase("set-up 1")
        self.start(shipped.NCORES)
        self.stop()
        self.phase("set-up 2")
        self.start(shipped.NCORES)
        self.phase("untimed job over the warm-up slice")
        self.job.run(self.spark, self.warm_dir, self.out_dir())
        self.phase("timed jobs")
        with RssSampler() as rss:
            jobs, out = self.block(seconds, 2, n_docs, rss)
        if out is None:
            return {}, ["no timed run of the job succeeded"]
        self.phase("correctness gate")
        errors = self.check(wl, out)
        self.phase("done")
        wall = statistics.median(jobs)
        metrics = {
            "setup_s": (statistics.median(self.setups), "s"),
            "wall_s": (wall, "s"),
            "docs_per_s": (n_docs / wall, "1/s"),
            "mb_per_s": (mb / wall, "MB/s"),
            "peak_rss_mb": (statistics.median(rss.peaks_mb), "MB"),
        }
        print(f"job walls {[round(w, 3) for w in jobs]} setups {[round(x, 3) for x in self.setups]} "
              f"rss {[round(x) for x in rss.peaks_mb]}", file=sys.stderr)
        return metrics, errors

    def per_layer(self, wl, seconds: float) -> tuple[dict, list[str]]:
        import layers

        n_docs = wl.n_docs
        # one JVM throughout; its sessions restart without a new JVM
        self.phase("untraced jobs")
        self.start(shipped.NCORES)
        untraced, _ = self.block(seconds * SHARE_FIRST, 3, n_docs)
        # the traced jobs run in a warm JVM: compare with warm jobs only
        untraced = untraced[1:]
        self.stop(jvm=False)
        self.phase("engine stage at local[1]")
        self.start(1)
        s1 = self.stage_block(seconds * SHARE_STAGE, 1)
        self.stop(jvm=False)
        self.phase("engine stage at local[4], traced jobs")
        self.start(shipped.NCORES, event_log=True)
        s4 = self.stage_block(seconds * SHARE_STAGE, 1)
        # the traced jobs: spans, a Spark job group for the event log,
        # and the memory of the Python workers and of the JVM heap
        sc = self.spark.sparkContext
        sc.setJobGroup("job.full", "job.full")
        jvm_heap_peak_mb(self.spark, reset=True)
        with RssSampler(root=self.jvm_pid()) as workers:
            traced, out = self.block(seconds * SHARE_SECOND, 2, n_docs, rss=workers, span="job")
        heap_mb = jvm_heap_peak_mb(self.spark)
        sc.setLocalProperty("spark.jobGroup.id", None)
        if not untraced or out is None:
            return {}, ["no timed run of the job succeeded"]
        self.phase("layer ladder")
        m = layers.ladder(self.spark, wl, self.pages_dir, self.tracer, self.work, self.job)
        self.phase("correctness gate")
        errors = self.check(wl, out)
        self.stop()
        self.phase("in-process parser and matchers")
        m.update(layers.inproc(wl))
        self.phase("done")
        m["memory.workers_peak_rss_mb"] = statistics.median(workers.peaks_mb)
        m["memory.jvm_heap_peak_mb"] = heap_mb

        # the N -> 4N pair: the engine stage, same split plan, local[1] vs local[4]
        m["scaling.docs_per_s_p1"] = n_docs / statistics.median(s1)
        m["scaling.docs_per_s_p4"] = n_docs / statistics.median(s4)
        m["scaling.eff"] = statistics.median(s1) / (shipped.NCORES * statistics.median(s4))

        ev = read_event_log(self.events)
        main = ev.get("job.full", {"tasks": [], "shuffle_bytes": 0, "spill_bytes": 0})
        m["partitioning.straggler_ratio"] = straggler_ratio(main["tasks"])
        dedup = [ev.get(g, {}) for g in ("dedup.signatures", "dedup.lsh_pairs", "dedup.verify")]
        m["dedup.shuffle_mb"] = sum(d.get("shuffle_bytes", 0) for d in dedup) / 1e6
        m["events.task_s"] = sum(ms for g in ev.values() for _s, ms in g["tasks"]) / 1e3
        m["events.spill_mb"] = sum(g["spill_bytes"] for g in ev.values()) / 1e6
        m["events.full_job_shuffle_mb"] = main["shuffle_bytes"] / 1e6

        u, t = statistics.median(untraced), statistics.median(traced)
        m["trace.untraced_wall_s"] = u
        m["trace.traced_wall_s"] = t
        m["trace.overhead_s"] = t - u
        # the self times of the layers the job is made of, each measured
        # on its own rung, against the untraced wall; whatever they miss
        # (driver-side work between Spark jobs, per-job overhead) is
        # unattributed.  Stated tolerance: coverage within 25% of 1.
        named = sum(m[name] * times for name, times in self.job.LAYERS.items())
        m["trace.named_s"] = named
        m["trace.unattributed_s"] = u - named
        m["trace.coverage"] = named / u
        print(f"untraced {[round(w, 3) for w in untraced]} traced {[round(w, 3) for w in traced]} "
              f"layers {{{', '.join(f'{k}: {m[k]:.3f}x{n}' for k, n in self.job.LAYERS.items())}}}",
              file=sys.stderr)
        self.tracer.write(os.path.join(ROOT, ".perfbench", "traces", f"{self.tracer.run_id}.jsonl"))
        return {k: (v, _unit(k)) for k, v in m.items()}, errors


def _unit(name: str) -> str:
    if "docs_per_s" in name:
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_us_per_doc"):
        return "us"
    if ".mb_per_s" in name:
        return "MB/s"
    if name.endswith(("_frac", "_ratio", "_skew", "_per_in_byte", ".coverage", ".eff")):
        return "ratio"
    return "count"


def main() -> int:
    a = _args()
    try:
        import pyspark  # noqa: F401

        import gumbo_pp_spark.operators.extract  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    bench = Bench(a.workload, a.seed)
    try:
        wl = bench.prepare()
        if a.trace:
            metrics, errors = bench.per_layer(wl, a.seconds)
        else:
            metrics, errors = bench.end_to_end(wl, a.seconds)
    finally:
        bench.stop()
        shutil.rmtree(bench.work, ignore_errors=True)
    for e in errors:
        print(f"MISMATCH {a.workload} seed {a.seed}: {e}", file=sys.stderr)
    if metrics:
        print(f"fail_frac {bench.failed / max(1, bench.attempted)} "
              + " ".join(f"{k}={v:.6g}{u}" for k, (v, u) in metrics.items()), file=sys.stderr)
    print(json.dumps({
        "correct": not errors,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())

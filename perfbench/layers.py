"""Per-layer measurements for the traced run.

Two parts:

* ``inproc`` — parser and matcher timings in this process, no Spark,
  over the workload's fixed page sample;
* ``ladder`` — Spark jobs that stop after each layer (noop sink), so a
  layer's self time is the difference between two adjacent rungs, plus
  the lineage, dedup and pipeline calls measured on their own.

Every call into the engine is wrapped in a span and runs under a Spark
job group named after it, so the event log attributes task time,
shuffle bytes and spill to the layer.
"""

from __future__ import annotations

import itertools
import os
import re
import statistics
import sys
import time
from contextlib import contextmanager

import shipped
from tracing import Tracer

# in-process passes over the sample; the median pass is reported
PASSES = 3
# the corpus pipeline's settings (dedup and pipelines rungs), and the
# number of pages those rungs run on
DEDUP_PAGES = 300
NEAR_DUP_MIN_EQUAL = 7
CORPUS_KWARGS = dict(min_tokens=20, near_dup_min_equal=NEAR_DUP_MIN_EQUAL, near_dup_policy="pairs")

_TEXT_RUN = re.compile(rb">([^<]{8,})<")


def _class_variants(htmls: list[bytes]) -> dict[str, list[bytes]]:
    """The sample re-encoded into each decode class: pure ASCII, CRLF
    line ends, multibyte UTF-8 text and invalid UTF-8 text."""
    ascii_ = [h.decode("utf-8", "ignore").encode("ascii", "ignore").replace(b"\r", b"") for h in htmls]

    def in_text(h: bytes, fn) -> bytes:
        return _TEXT_RUN.sub(lambda m: b">" + fn(m.group(1)) + b"<", h)

    return {
        "ascii": ascii_,
        "crlf": [h.replace(b"\n", b"\r\n") for h in ascii_],
        "utf8": [in_text(h, lambda t: t.replace(b"o", "ö".encode()).replace(b"a", "я".encode())) for h in ascii_],
        "invalid_utf8": [in_text(h, lambda t: t[:4] + b"\xff" + t[4:]) for h in ascii_],
    }


def _median_pass(fn, items) -> float:
    walls = []
    for _ in range(PASSES):
        t0 = time.perf_counter()
        for x in items:
            fn(x)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def inproc(wl) -> dict:
    """parser.* and matchers.* over the workload's page sample."""
    from gumbo_pp_spark.parser import cengine
    from gumbo_pp_spark.parser.html5 import parse_html
    from gumbo_pp_spark.selector import compile_selector

    by_id = {p.doc_id: p.html for p in wl.pages}
    htmls = [by_id[d] for d in wl.sample_ids]
    m = {}
    c0, p0 = cengine.stats["c"], cengine.stats["py"]
    m["parser.parse_us_per_doc"] = _median_pass(parse_html, htmls) / len(htmls) * 1e6
    c_docs = cengine.stats["c"] - c0
    py_docs = cengine.stats["py"] - p0
    m["parser.py_fallback_frac"] = py_docs / max(1, c_docs + py_docs)
    for cls, pages in _class_variants(htmls).items():
        mb = sum(map(len, pages)) / 1e6
        m[f"parser.mb_per_s_core.{cls}"] = mb / _median_pass(parse_html, pages)
    sel = compile_selector(shipped.QUERY_SELECTOR)
    tables = [parse_html(h) for h in htmls]
    m["matchers.eval_us_per_doc"] = _median_pass(sel, tables) / len(tables) * 1e6
    return m


def _identity(batches):
    yield from batches


class Ladder:
    """Runs layer-prefix jobs on one session; every call is a span and
    a Spark job group."""

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer

    @contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            with self.tracer.span(name) as s:
                yield s
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            print(f"  {name} {time.perf_counter() - s['start']:.3f}s", file=sys.stderr, flush=True)

    def step(self, name: str, fn, reps: int = 2) -> float:
        for _ in range(reps):
            with self.group(name):
                fn()
        return self.tracer.median(name)

    def jobs_in(self, name: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(name))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_stats(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


def ladder(spark, wl, pages_dir: str, tracer: Tracer, work: str, job) -> dict:
    """The Spark-side per-layer metrics on one workload; ``job`` is its
    :mod:`shipped` job."""
    from pyspark.sql import functions as F

    from gumbo_pp_spark.operators.dedup import (
        cache_scope,
        minhash_lsh_pairs,
        minhash_signatures,
        verify_pairs,
    )
    from gumbo_pp_spark.operators.extract import extract_main_text
    from gumbo_pp_spark.pipelines import run_training_corpus
    from gumbo_pp_spark.plans.lineage import extract_with_resume, read_extracted

    lad = Ladder(spark, tracer)
    in_mb = wl.in_bytes / 1e6
    m: dict[str, float] = {"sources.input_mb": in_mb}

    # plan build of the workload's own job: DataFrame construction
    # before the action, and the Spark jobs it starts
    with cache_scope():
        with lad.group("partitioning.plan_build"):
            job.plan(spark, pages_dir)
    m["partitioning.plan_build_s"] = tracer.median("partitioning.plan_build")
    m["partitioning.plan_jobs"] = lad.jobs_in("partitioning.plan_build")

    shipped.tune(spark, pages_dir)
    pages = spark.read.parquet(pages_dir).select("doc_id", "url", "html")
    split_bytes = [
        r["b"] for r in pages.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.sum(F.length("html")).alias("b")).collect()
    ]
    m["sources.splits"] = pages.rdd.getNumPartitions()
    m["sources.split_skew"] = max(split_bytes) / statistics.median(split_bytes)

    scan = lad.step("sources.scan", lambda: _noop(pages))
    ident = lad.step("extract.identity", lambda: _noop(pages.mapInArrow(_identity, pages.schema)))
    ext = lad.step("extract.extract_main_text", lambda: _noop(extract_main_text(pages)))
    # rungs of the layers this workload's job is made of (job.LAYERS)
    # run twice and give a median; the others run once
    reps = {True: 2, False: 1}
    query = reps["query.write_s" in job.LAYERS]
    selected, links = shipped.query_frames(pages)
    runp = lad.step("extract.run_program", lambda: _noop(selected), query)
    lnk = lad.step("extract.extract_links", lambda: _noop(links), query)
    outs = itertools.count()
    wsel = lad.step("query.write_selected",
                    lambda: selected.write.parquet(os.path.join(work, f"ladder_sel{next(outs)}")), query)
    wlnk = lad.step("query.write_links",
                    lambda: links.write.parquet(os.path.join(work, f"ladder_links{next(outs)}")), query)
    m["sources.scan_s"] = scan
    m["extract.arrow_in_s"] = ident - scan
    m["extract.kernel_s"] = ext - ident
    m["extract.run_program_s"] = runp - ident
    m["extract.links_s"] = lnk - ident
    m["query.write_s"] = (wsel - runp) + (wlnk - lnk)
    m["pipelines.extract_prefix_s"] = ext

    # lineage: the shipped resumable write (each time into a fresh
    # ledger), a resume on the committed ledger, and the committed-output read
    lineage = reps["lineage.write_s" in job.LAYERS]
    ledgers = [os.path.join(work, f"ladder_extract{i}") for i in range(lineage)]
    fresh = iter(ledgers)
    ewr = lad.step("lineage.extract_with_resume",
                   lambda: extract_with_resume(spark, pages, next(fresh), n_splits=shipped.N_SPLITS), lineage)
    out = ledgers[-1]
    resumed: list[dict] = []
    m["lineage.resume_noop_s"] = lad.step(
        "lineage.resume", lambda: resumed.append(extract_with_resume(spark, pages, out, n_splits=shipped.N_SPLITS)),
        reps=1)
    if resumed[0]["splits_processed"] != 0:
        raise RuntimeError(f"resume on a committed ledger processed splits: {resumed[0]}")
    m["lineage.read_s"] = lad.step("lineage.read_extracted", lambda: _noop(read_extracted(spark, out)))
    m["lineage.write_s"] = ewr - ext
    n_files, out_bytes = _dir_stats(out)
    m["lineage.files_written"] = n_files
    m["lineage.out_bytes_per_in_byte"] = out_bytes / wl.in_bytes
    agg = read_extracted(spark, out).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("parse_us") + F.col("kernel_us")).alias("busy"),
        F.sum("c_engine").alias("c"),
    ).collect()[0]
    m["extract.busy_us_per_doc"] = agg["busy"] / agg["n"]
    m["extract.c_engine_frac"] = agg["c"] / agg["n"]

    # dedup operators over two copies of the first DEDUP_PAGES pages:
    # every page then has one exact duplicate (over all copies the pair
    # count grows with the square of the number of copies)
    n = len(wl.pages)
    dedup_docs = (F.col("doc_id") < 2 * n) & (F.col("doc_id") % n < DEDUP_PAGES)
    extracted = read_extracted(spark, out).select("doc_id", "text").where(dedup_docs)
    m["dedup.signatures_s"] = lad.step("dedup.signatures", lambda: _noop(minhash_signatures(extracted)), reps=1)
    # the candidate pairs, materialised once and counted, then verified
    pairs = minhash_lsh_pairs(extracted, min_equal=NEAR_DUP_MIN_EQUAL).cache()
    counted: list[int] = []
    m["dedup.lsh_pairs_s"] = lad.step("dedup.lsh_pairs", lambda: counted.append(pairs.count()), reps=1)
    n_pairs = counted[0]
    with lad.group("dedup.verify"):
        n_verified = verify_pairs(extracted, pairs).where(F.col("jaccard_e4") >= 5000).count()
    pairs.unpersist()
    m["dedup.lsh_pairs"] = n_pairs
    m["dedup.verified_pairs"] = n_verified
    m["dedup.verified_frac"] = n_verified / n_pairs if n_pairs else 0.0

    # the corpus pipeline end to end
    corpus_out = os.path.join(work, "ladder_corpus")
    res: list[dict] = []
    m["pipelines.corpus_s"] = lad.step(
        "pipelines.run_training_corpus",
        lambda: res.append(run_training_corpus(pages.where(dedup_docs), corpus_out, **CORPUS_KWARGS)), reps=1)
    m["pipelines.keep_frac"] = res[0]["rows"] / (2 * min(n, DEDUP_PAGES))

    return m

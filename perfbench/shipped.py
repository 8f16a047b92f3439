"""The timed jobs: the same public calls ``jobs/extract_job.py`` makes,
plus the selector query.

Each job also names its engine stage (the per-document map stage the
N→4N scaling pair times with a noop sink), the DataFrames its output is
checked on, the same frames built straight from the engine, which the
correctness gate evaluates on the pure-Python parse engine, and the
per-layer self times (``layers.py``) its wall time is made of."""

from __future__ import annotations

import os

from workloads import QUERY_SELECTOR

NCORES = 4
# ledger work units: ~2 MB of html each on these inputs (the CLI's
# default of 256 targets terabyte inputs)
N_SPLITS = 8


def tune(spark, pages_dir: str) -> None:
    """Split sizing as the jobs do it, for ``NCORES`` at every level so
    local[1] runs the same split plan as local[4]."""
    from gumbo_pp_spark.plans.partitioning import tune_input_splits

    tune_input_splits(spark, pages_dir, waves=3, max_split_bytes=64 << 20, cores=NCORES)


def _pages(spark, pages_dir: str):
    tune(spark, pages_dir)
    return spark.read.parquet(pages_dir).select("doc_id", "url", "html")


def _extracted(pages):
    from gumbo_pp_spark.operators.extract import extract_main_text

    return {"extracted": extract_main_text(pages).select("doc_id", "url", "text", "spans")}


class ExtractJob:
    """``tune_input_splits`` + ``extract_with_resume``."""

    # the output frame with one row per input doc
    PER_DOC = "extracted"
    # one scan, one Arrow round trip, the fused kernel, the ledger write
    LAYERS = {"partitioning.plan_build_s": 1, "sources.scan_s": 1, "extract.arrow_in_s": 1,
              "extract.kernel_s": 1, "lineage.write_s": 1}

    def plan(self, spark, pages_dir: str):
        from gumbo_pp_spark.operators.extract import extract_main_text

        return extract_main_text(_pages(spark, pages_dir), stage_metrics=True)

    def run(self, spark, pages_dir: str, out: str) -> None:
        from gumbo_pp_spark.plans.lineage import extract_with_resume

        res = extract_with_resume(spark, _pages(spark, pages_dir), out, n_splits=N_SPLITS)
        if res["splits_processed"] != N_SPLITS:
            raise RuntimeError(f"extract_with_resume processed {res}")

    def stage(self, spark, pages_dir: str):
        from gumbo_pp_spark.operators.extract import extract_main_text

        return extract_main_text(_pages(spark, pages_dir))

    def outputs(self, spark, pages_dir: str, out: str) -> dict:
        from gumbo_pp_spark.plans.lineage import read_extracted

        return {"extracted": read_extracted(spark, out).select("doc_id", "url", "text", "spans")}

    def reference(self, spark, pages_dir: str) -> dict:
        return _extracted(_pages(spark, pages_dir))


def query_frames(pages):
    """The query job's two outputs: the selector's matches and the links."""
    from gumbo_pp_spark.operators.extract import all_matches_program, extract_links, run_program
    from gumbo_pp_spark.selector import compile_selector

    sel = compile_selector(QUERY_SELECTOR)
    return (run_program(pages, all_matches_program(sel), "hrefs array<string>"),
            extract_links(pages))


class QueryJob:
    """``run_program`` with a compiled selector, plus ``extract_links``."""

    PER_DOC = "selected"
    # two output frames, each its own scan and Arrow round trip
    LAYERS = {"partitioning.plan_build_s": 1, "sources.scan_s": 2, "extract.arrow_in_s": 2,
              "extract.run_program_s": 1, "extract.links_s": 1, "query.write_s": 1}

    def _frames(self, spark, pages_dir: str):
        return query_frames(_pages(spark, pages_dir))

    def plan(self, spark, pages_dir: str):
        return self._frames(spark, pages_dir)

    def run(self, spark, pages_dir: str, out: str) -> None:
        selected, links = self._frames(spark, pages_dir)
        selected.write.parquet(os.path.join(out, "selected"))
        links.write.parquet(os.path.join(out, "links"))

    def stage(self, spark, pages_dir: str):
        return self._frames(spark, pages_dir)[0]

    def outputs(self, spark, pages_dir: str, out: str) -> dict:
        return {name: spark.read.parquet(os.path.join(out, name)) for name in ("selected", "links")}

    def reference(self, spark, pages_dir: str) -> dict:
        return dict(zip(("selected", "links"), self._frames(spark, pages_dir)))


JOBS = {
    "extract_webmix": ExtractJob,
    "query_matchers": QueryJob,
}

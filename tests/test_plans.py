"""Scale-mechanics tests: skew salting, size-balanced bins,
checkpoint/lineage resume (SURVEY.md §7 M3)."""

import pytest
from pyspark.sql import functions as F

from gumbo_pp_spark.plans.lineage import PartitionLedger, extract_with_resume, read_extracted
from gumbo_pp_spark.plans.partitioning import salt_skewed_keys, size_balanced_bins
from gumbo_pp_spark.sources.pages import synth_pages, synth_pages_bench

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def skewed(spark):
    # heavy-host corpus: ~50% of rows share one host
    return synth_pages_bench(spark, SF_SMOKE, replicate=4, paragraphs=2).cache()


class TestSalting:
    def test_heavy_host_split_across_partitions(self, spark, skewed):
        n = 16
        total = skewed.count()
        salted = salt_skewed_keys(skewed, n_partitions=n, skew_factor=2.0)
        per_part = (
            salted.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .collect()
        )
        max_load = max(r["count"] for r in per_part)
        heavy_rows = skewed.where(F.col("url").contains("heavy-host")).count()
        # unsalted, the heavy host (~half the corpus) lands in ONE
        # partition; salted, the straggler is gone: no partition holds
        # more than half the heavy key or 4x the mean
        assert max_load < 0.5 * heavy_rows, f"max {max_load}, heavy {heavy_rows}"
        assert max_load < 4.0 * total / n, f"max {max_load} of {total} in {n} parts"

    def test_salts_only_heavy_keys(self, spark, skewed):
        salted = salt_skewed_keys(skewed, n_partitions=16, skew_factor=2.0)
        per_key = salted.groupBy("part_key").agg(F.countDistinct("salt").alias("s")).collect()
        fanout = {r["part_key"]: r["s"] for r in per_key}
        assert fanout["heavy-host.example.com"] > 1
        light = [v for k, v in fanout.items() if k != "heavy-host.example.com"]
        assert all(v == 1 for v in light)


class TestSizeBins:
    def test_bins_bounded_by_target(self, spark, skewed):
        target = 512 * 1024
        binned = size_balanced_bins(skewed, target_bytes=target)
        per_bin = (
            binned.groupBy("size_bin").agg(F.sum("doc_bytes").alias("b")).collect()
        )
        total = sum(r["b"] for r in per_bin)
        # every bin under ~2x target (sub-binned oversize keys can halve
        # unevenly); no empty-corpus degenerate plan
        assert len(per_bin) >= total // (2 * target)
        for r in per_bin:
            assert r["b"] <= 2 * target, (r["size_bin"], r["b"])


class TestLineageResume:
    def test_kill_resume_no_reparse(self, spark, tmp_path):
        out_dir = str(tmp_path / "extract_out")
        pages = synth_pages(spark, SF_SMOKE)

        # run 1 "dies" after committing 5 of 16 splits
        r1 = extract_with_resume(spark, pages, out_dir, n_splits=16, max_splits_this_run=5)
        assert r1["splits_processed"] == 5 and r1["skipped"] == 0

        # run 2 resumes: processes ONLY the remaining 11
        r2 = extract_with_resume(spark, pages, out_dir, n_splits=16)
        assert r2["splits_processed"] == 11
        assert r2["skipped"] == 5
        assert r2["run_id"] != r1["run_id"]

        # run 3 is a no-op
        r3 = extract_with_resume(spark, pages, out_dir, n_splits=16)
        assert r3["splits_processed"] == 0 and r3["skipped"] == 16

        # committed union is complete, exactly-once, and byte-identical
        got = read_extracted(spark, out_dir)
        assert got.count() == 500
        assert got.select("doc_id").distinct().count() == 500
        joined = got.join(
            pages.select("doc_id", F.col("text").alias("orig")), "doc_id"
        ).collect()
        for r in joined:
            assert r.text == f"Heading {r.doc_id}{r.orig}"

    def test_uncommitted_runs_invisible(self, spark, tmp_path):
        import os

        out_dir = str(tmp_path / "extract_out2")
        pages = synth_pages(spark, SF_SMOKE)
        extract_with_resume(spark, pages, out_dir, n_splits=8, max_splits_this_run=2)
        # fake a partial run directory with no ledger commit
        fake = os.path.join(out_dir, "data", "run=deadbeef", "split_id=7")
        os.makedirs(fake, exist_ok=True)
        got = read_extracted(spark, out_dir)
        splits = {r["split_id"] for r in got.select("split_id").distinct().collect()}
        assert 7 not in splits


class TestLedgerManifestCompaction:
    """VERDICT r6 #7: committed() on a compacted ledger must be O(1)
    file reads, not one JSON open per split."""

    def _rec(self, s, run="r0"):
        return {"split_id": s, "run_id": run, "status": "committed", "rows": 1}

    def test_compaction_folds_tails_and_preserves_records(self, tmp_path):
        import os

        from gumbo_pp_spark.plans.lineage import PartitionLedger

        led = PartitionLedger(str(tmp_path / "led"), compact_every=0)  # manual
        for s in range(100):
            led.commit(self._rec(s))
        before = led.committed()
        assert led.compact() == 100
        assert not [f for f in os.listdir(led.path) if f.startswith("split_")]
        assert led.committed() == before
        # post-compaction commits overlay the manifest (tail wins)
        led.commit(self._rec(5, run="r1"))
        led.commit(self._rec(100, run="r1"))
        recs = led.committed()
        assert recs[5]["run_id"] == "r1" and recs[100]["run_id"] == "r1"
        assert len(recs) == 101
        # second compaction folds only the 2 tails
        assert led.compact() == 2
        assert led.committed() == recs
        assert led.compact() == 0  # idempotent

    def test_large_ledger_loads_in_o1_file_reads(self, tmp_path, monkeypatch):
        import builtins

        from gumbo_pp_spark.plans import lineage as L

        led = L.PartitionLedger(str(tmp_path / "big"), compact_every=0)
        recs = {"version": 1, "records": [self._rec(s) for s in range(100_000)]}
        import json as _json

        with open(f"{led.path}/{led.MANIFEST}", "w") as f:
            _json.dump(recs, f)
        opens = []
        real_open = builtins.open
        monkeypatch.setattr(
            builtins, "open", lambda *a, **k: opens.append(a[0]) or real_open(*a, **k)
        )
        got = led.committed()
        assert len(got) == 100_000
        assert len(opens) == 1  # the manifest only

    def test_auto_compaction_threshold(self, tmp_path):
        import os

        from gumbo_pp_spark.plans.lineage import PartitionLedger

        led = PartitionLedger(str(tmp_path / "auto"), compact_every=16)
        for s in range(40):
            led.commit(self._rec(s))
        tails = [f for f in os.listdir(led.path) if f.startswith("split_")]
        # two auto-rolls at 16 and 32; 8 commits since the last
        assert len(tails) == 8
        assert len(led.committed()) == 40


class TestSizeBinsOversized:
    def test_oversized_key_split_across_subbins(self, spark):
        from pyspark.sql import functions as F

        # one host carries far more bytes than the target bin size
        rows = [(f"https://big.example/{i}", bytearray(b"x" * 5000)) for i in range(200)]
        rows += [(f"https://h{i}.example/x", bytearray(b"y" * 100)) for i in range(20)]
        df = spark.createDataFrame(rows, "url string, html binary")
        binned = size_balanced_bins(df, target_bytes=100_000)
        big = binned.where(F.col("part_key") == "big.example")
        n_bins = big.select("size_bin").distinct().count()
        assert n_bins == 10  # 1,000,000 bytes / 100,000 target
        per_bin = big.groupBy("size_bin").agg(F.sum("doc_bytes").alias("b")).collect()
        for r in per_bin:
            assert r["b"] <= 2 * 100_000


class TestEmptySplitResume:
    def test_all_pending_splits_empty_commits_zero_rows(self, spark, tmp_path):
        # sparse corpus vs n_splits: some splits hold zero pages; a
        # resume run whose pending set is ALL-empty must commit
        # zero-row ledger records instead of crashing on the schemaless
        # output directory (round-1 ADVICE lineage.py finding)
        from gumbo_pp_spark.plans.lineage import PartitionLedger

        out_dir = str(tmp_path / "sparse")
        empty = synth_pages(spark, SF_SMOKE).limit(0)
        r1 = extract_with_resume(spark, empty, out_dir, n_splits=8)
        assert r1["splits_processed"] == 8
        recs = PartitionLedger(f"{out_dir}/_ledger").committed()
        assert len(recs) == 8
        assert all(r["rows"] == 0 for r in recs.values())
        # and the follow-up run sees them committed (no crash loop)
        r2 = extract_with_resume(spark, empty, out_dir, n_splits=8)
        assert r2["splits_processed"] == 0 and r2["skipped"] == 8


class TestLedgerMetrics:
    def test_per_stage_metrics_recorded(self, spark, tmp_path):
        from gumbo_pp_spark.plans.lineage import PartitionLedger

        out_dir = str(tmp_path / "m")
        pages = synth_pages(spark, SF_SMOKE).limit(64)
        extract_with_resume(spark, pages, out_dir, n_splits=4)
        recs = PartitionLedger(f"{out_dir}/_ledger").committed()
        assert len(recs) == 4
        for rec in recs.values():
            for field in ("rows", "bytes", "parse_ms", "kernel_ms",
                          "parse_errors", "wall_ms", "attempt", "run_id",
                          "committed_at", "status"):
                assert field in rec, field
        assert sum(r["rows"] for r in recs.values()) == 64
        assert sum(r["parse_ms"] for r in recs.values()) >= 0

    def test_engine_engagement_telemetry(self, spark, tmp_path):
        # round-6: lineage records carry (c_docs, py_docs) so a 100 TB
        # run can see what fraction of documents paid the ~10x slower
        # Python-tail price; they must sum to the split row count
        from gumbo_pp_spark.parser import cengine
        from gumbo_pp_spark.plans.lineage import PartitionLedger

        out_dir = str(tmp_path / "eng")
        pages = synth_pages(spark, SF_SMOKE).limit(64)
        extract_with_resume(spark, pages, out_dir, n_splits=4)
        recs = PartitionLedger(f"{out_dir}/_ledger").committed()
        assert len(recs) == 4
        for rec in recs.values():
            assert rec["c_docs"] + rec["py_docs"] == rec["rows"], rec
        total_c = sum(r["c_docs"] for r in recs.values())
        if cengine.available():
            # the synthetic corpus is fully inside the C subset
            assert total_c == 64
        else:  # pragma: no cover - C engine disabled in this env
            assert total_c == 0



class TestOneJobCommit:
    """extract_with_resume is one Spark job: tasks write their split
    files and return per-file stats, the driver renames and commits."""

    @pytest.fixture(scope="class")
    def pages_dir(self, spark, tmp_path_factory):
        src = str(tmp_path_factory.mktemp("one_job") / "pages")
        synth_pages(spark, SF_SMOKE).select("doc_id", "url", "html").write.parquet(src)
        return src

    def test_runs_exactly_one_spark_job(self, spark, pages_dir, tmp_path):
        import os

        sc = spark.sparkContext
        pages = spark.read.parquet(pages_dir)
        group = "extract_with_resume_one_job"
        sc.setJobGroup(group, "one job per extract_with_resume")
        try:
            res = extract_with_resume(spark, pages, str(tmp_path / "out"), n_splits=8)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
        # the job's result rows are per-file stats: one per data file
        parts = [
            fn for _root, _dirs, files in os.walk(str(tmp_path / "out" / "data"))
            for fn in files
        ]
        assert len(parts) == res["files"] > 0
        assert all(fn.startswith("part-") and fn.endswith(".snappy.parquet") for fn in parts)

    def test_ledger_and_totals_equal_spark_recount(self, spark, pages_dir, tmp_path):
        out_dir = str(tmp_path / "recount")
        res = extract_with_resume(spark, spark.read.parquet(pages_dir), out_dir, n_splits=8)
        recs = PartitionLedger(out_dir + "/_ledger").committed()
        recount = {
            r["split_id"]: r.asDict()
            for r in read_extracted(spark, out_dir).groupBy("split_id").agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.length("text")).alias("bytes"),
                F.sum("parse_us").alias("parse_us"),
                F.sum("kernel_us").alias("kernel_us"),
                F.sum("parse_errors").alias("parse_errors"),
                F.sum("c_engine").alias("c_docs"),
                F.sum(1 - F.col("c_engine")).alias("py_docs"),
            ).collect()
        }
        assert set(recs) == set(range(8))
        for s, rec in recs.items():
            want = recount.get(s)
            if want is None:
                assert rec["rows"] == 0, rec
                continue
            for k in ("rows", "bytes", "parse_errors", "c_docs", "py_docs"):
                assert rec[k] == want[k], (s, k, rec, want)
            assert rec["parse_ms"] == int(want["parse_us"] / 1000)
            assert rec["kernel_ms"] == int(want["kernel_us"] / 1000)
        for k in ("rows", "c_docs", "py_docs", "parse_errors"):
            assert res[k] == sum(r[k] for r in recount.values()), k
        assert res["rows"] == 500

    def test_read_extracted_schema_pinned(self, spark, pages_dir, tmp_path):
        out_dir = str(tmp_path / "schema")
        extract_with_resume(spark, spark.read.parquet(pages_dir), out_dir, n_splits=4)
        assert read_extracted(spark, out_dir).schema.simpleString() == (
            "struct<doc_id:bigint,url:string,text:string,"
            "spans:array<struct<node_id:int,tag:string,start:bigint,end:bigint,"
            "start_byte:bigint,end_byte:bigint>>,n_nodes:int,parse_errors:int,"
            "parse_us:bigint,kernel_us:bigint,c_engine:tinyint,run:string,split_id:int>"
        )

    def test_numeric_looking_run_ids_read_as_strings(self, spark, tmp_path):
        # hex run ids that partition-type inference would read as an
        # int (001234567890) or a double (1234e5678901, 12345678901f)
        import os

        out_dir = str(tmp_path / "runs")
        pages = synth_pages(spark, SF_SMOKE).limit(64)
        extract_with_resume(spark, pages, out_dir, n_splits=3)
        ledger = PartitionLedger(out_dir + "/_ledger")
        data = os.path.join(out_dir, "data")
        planted = {0: "001234567890", 1: "1234e5678901", 2: "12345678901f"}
        for s, rec in ledger.committed().items():
            run = planted[s]
            os.makedirs(os.path.join(data, f"run={run}"))
            os.rename(os.path.join(data, f"run={rec['run_id']}", f"split_id={s}"),
                      os.path.join(data, f"run={run}", f"split_id={s}"))
            ledger.commit({k: v for k, v in rec.items() if k != "seq"} | {"run_id": run})
        got = read_extracted(spark, out_dir).select("split_id", "run").distinct().collect()
        assert {r["split_id"]: r["run"] for r in got} == planted
        assert read_extracted(spark, out_dir).count() == 64

class TestPerSplitWall:
    def test_distinct_per_split_wall(self, spark, tmp_path):
        # round-3: per-split wall_ms is the run wall apportioned by the
        # split's measured busy time (parse+kernel), so splits carry
        # DISTINCT walls that sum to <= run wall — not n_splits copies
        # of the same whole-run number
        from gumbo_pp_spark.plans.lineage import PartitionLedger

        out_dir = str(tmp_path / "w")
        pages = synth_pages(spark, SF_SMOKE).limit(96)
        extract_with_resume(spark, pages, out_dir, n_splits=4)
        recs = PartitionLedger(f"{out_dir}/_ledger").committed()
        assert len(recs) == 4
        walls = [r["wall_ms"] for r in recs.values()]
        busys = [r["busy_ms"] for r in recs.values()]
        run_wall = next(iter(recs.values()))["run_wall_ms"]
        assert all(r["run_wall_ms"] == run_wall for r in recs.values())
        assert sum(walls) <= run_wall
        # busy-proportional: the heaviest split gets the most wall.
        # With the C parse engine a 24-doc split's busy_ms can collapse
        # to a tie at timer resolution — the argmax comparison is only
        # meaningful when the busy maximum is unique.
        if busys.count(max(busys)) == 1:
            assert walls.index(max(walls)) == busys.index(max(busys))
        assert len(set(walls)) > 1  # distinct attribution


class TestSnapshotTimeTravel:
    """Iceberg-style snapshot reads over the lineage ledger (r7)."""

    def test_as_of_reads_only_earlier_commits(self, spark, tmp_path):
        out_dir = str(tmp_path / "tt")
        pages = synth_pages(spark, SF_SMOKE)
        extract_with_resume(spark, pages, out_dir, n_splits=8, max_splits_this_run=3)
        ledger = PartitionLedger(out_dir + "/_ledger")
        snap1 = ledger.current_snapshot()
        n1 = read_extracted(spark, out_dir).count()
        extract_with_resume(spark, pages, out_dir, n_splits=8)
        snap2 = ledger.current_snapshot()
        assert snap2 > snap1
        # current view = everything; as_of snap1 = the first 3 splits
        assert read_extracted(spark, out_dir).count() == 500
        tt = read_extracted(spark, out_dir, as_of=snap1)
        assert tt.count() == n1 < 500
        # the as_of view equals what the table looked like then: same
        # split set as the first run's ledger state
        assert set(ledger.committed(as_of=snap1)) == set(
            r["split_id"] for r in ledger.snapshot_log()[:3]
        )

    def test_snapshot_log_is_ordered_history(self, tmp_path):
        ledger = PartitionLedger(str(tmp_path / "_ledger"))
        for s in (4, 2, 9):
            ledger.commit({"split_id": s, "run_id": "r", "rows": 1})
        log = ledger.snapshot_log()
        assert [r["split_id"] for r in log] == [4, 2, 9]
        assert [r["seq"] for r in log] == [1, 2, 3]
        # a fresh handle (new driver) continues the sequence
        ledger2 = PartitionLedger(str(tmp_path / "_ledger"))
        ledger2.commit({"split_id": 5, "run_id": "r2", "rows": 1})
        assert ledger2.snapshot_log()[-1]["seq"] == 4

    def test_seq_survives_compaction_and_preseq_records_read_as_zero(self, tmp_path):
        import json as J
        import os as O

        ledger = PartitionLedger(str(tmp_path / "_ledger"), compact_every=2)
        ledger.commit({"split_id": 0, "run_id": "r", "rows": 1})
        ledger.commit({"split_id": 1, "run_id": "r", "rows": 1})  # compacts
        assert ledger.committed(as_of=1).keys() == {0}
        # hand-write a pre-seq (legacy) record: visible in EVERY snapshot
        with open(O.path.join(str(tmp_path / "_ledger"), "split_7.json"), "w") as f:
            J.dump({"split_id": 7, "run_id": "old", "rows": 1}, f)
        assert ledger.committed(as_of=0).keys() == {7}
        assert set(ledger.committed(as_of=1)) == {0, 7}


class TestIncrementalRead:
    """Iceberg incremental-scan analogue: read only splits committed
    after a stored snapshot cursor."""

    def test_since_reads_only_new_commits(self, spark, tmp_path):
        out_dir = str(tmp_path / "inc")
        pages = synth_pages(spark, SF_SMOKE)
        extract_with_resume(spark, pages, out_dir, n_splits=8, max_splits_this_run=3)
        ledger = PartitionLedger(out_dir + "/_ledger")
        cursor = ledger.current_snapshot()
        n1 = read_extracted(spark, out_dir).count()
        extract_with_resume(spark, pages, out_dir, n_splits=8)
        inc = read_extracted(spark, out_dir, since=cursor)
        full = read_extracted(spark, out_dir)
        # change set + old view partition the full table exactly
        assert inc.count() == full.count() - n1 > 0
        old_ids = {r.doc_id for r in read_extracted(
            spark, out_dir, as_of=cursor).select("doc_id").collect()}
        inc_ids = {r.doc_id for r in inc.select("doc_id").collect()}
        assert not (old_ids & inc_ids)
        assert len(old_ids | inc_ids) == full.count()

    def test_empty_change_set_raises_lookup(self, spark, tmp_path):
        out_dir = str(tmp_path / "inc2")
        pages = synth_pages(spark, SF_SMOKE)
        extract_with_resume(spark, pages, out_dir, n_splits=4)
        ledger = PartitionLedger(out_dir + "/_ledger")
        cur = ledger.current_snapshot()
        assert ledger.committed_between(cur) == {}
        import pytest as _pt

        with _pt.raises(LookupError):
            read_extracted(spark, out_dir, since=cur)

    def test_committed_between_window(self, tmp_path):
        ledger = PartitionLedger(str(tmp_path / "_ledger"))
        for s in range(5):
            ledger.commit({"split_id": s, "run_id": "r", "rows": 1})
        win = ledger.committed_between(2, as_of=4)
        assert sorted(r["seq"] for r in win.values()) == [3, 4]

    def test_snapshot_diff_summary(self, tmp_path):
        ledger = PartitionLedger(str(tmp_path / "_ledger"))
        for s in range(4):
            ledger.commit({"split_id": s, "run_id": "r", "rows": 10 * (s + 1)})
        # splits 0..3 get seqs 1..4; since=1 -> seqs 2..4 = splits 1..3
        d = ledger.snapshot_diff(1)
        assert d == {
            "since": 1,
            "as_of": 4,
            "n_commits": 3,
            "split_ids": [1, 2, 3],
            "rows": 90,
        }
        assert ledger.snapshot_diff(4)["n_commits"] == 0
        assert ledger.snapshot_diff(0, as_of=2)["split_ids"] == [0, 1]


class TestVacuum:
    """Orphan-leaf cleanup: committed data and the ledger survive,
    uncommitted leftovers go."""

    def test_removes_only_uncommitted_leaves(self, spark, tmp_path):
        import os

        from gumbo_pp_spark.plans.lineage import vacuum_uncommitted

        out_dir = str(tmp_path / "vac")
        pages = synth_pages(spark, SF_SMOKE)
        extract_with_resume(spark, pages, out_dir, n_splits=4)
        before = read_extracted(spark, out_dir).count()

        # a crashed run that wrote data but never committed
        orphan = os.path.join(out_dir, "data", "run=deadbeef", "split_id=99")
        os.makedirs(orphan)
        with open(os.path.join(orphan, "part-00000.parquet"), "w") as f:
            f.write("junk")

        # default grace period (ADVICE r7): a freshly-written orphan
        # may belong to an IN-FLIGHT run (data lands before the ledger
        # commit) — vacuum must leave it alone
        res = vacuum_uncommitted(out_dir)
        assert res["removed"] == []
        assert res["skipped_recent"] == 1
        assert os.path.exists(orphan)

        # past the age threshold (simulated) the orphan goes
        res = vacuum_uncommitted(out_dir, min_age_sec=0)
        assert res["removed"] == ["run=deadbeef/split_id=99"]
        assert res["kept"] > 0
        assert not os.path.exists(os.path.join(out_dir, "data", "run=deadbeef"))
        # committed table unchanged, resume state intact
        assert read_extracted(spark, out_dir).count() == before
        ledger = PartitionLedger(out_dir + "/_ledger")
        assert set(ledger.committed()) == {0, 1, 2, 3}

    def test_removes_stale_inprogress_files_in_committed_leaves(self, spark, tmp_path):
        # a failed or speculative task attempt leaves its hidden
        # in-progress file behind, also inside a committed leaf
        import os
        import shutil

        from gumbo_pp_spark.plans.lineage import INPROGRESS, vacuum_uncommitted

        out_dir = str(tmp_path / "vac_hidden")
        pages = synth_pages(spark, SF_SMOKE)
        extract_with_resume(spark, pages, out_dir, n_splits=4)
        before = read_extracted(spark, out_dir).count()
        rec = PartitionLedger(out_dir + "/_ledger").committed()[0]
        leaf = os.path.join(out_dir, "data", f"run={rec['run_id']}", "split_id=0")
        part = next(fn for fn in os.listdir(leaf) if fn.startswith("part-"))
        # a real data file: readers that did not skip it would double rows
        stale = os.path.join(leaf, f"{INPROGRESS}attempt1.snappy.parquet")
        shutil.copy(os.path.join(leaf, part), stale)
        assert read_extracted(spark, out_dir).count() == before

        res = vacuum_uncommitted(out_dir)
        assert res["removed"] == [] and res["skipped_recent"] == 1
        assert os.path.exists(stale)

        res = vacuum_uncommitted(out_dir, min_age_sec=0)
        assert res["removed"] == [os.path.relpath(stale, os.path.join(out_dir, "data"))]
        assert res["kept"] == 4
        assert not os.path.exists(stale)
        assert os.path.exists(os.path.join(leaf, part))
        assert read_extracted(spark, out_dir).count() == before
        assert len(PartitionLedger(out_dir + "/_ledger").committed()) == 4

    def test_vacuum_on_empty_table_is_noop(self, tmp_path):
        from gumbo_pp_spark.plans.lineage import vacuum_uncommitted

        assert vacuum_uncommitted(str(tmp_path / "nothing")) == {
            "removed": [],
            "kept": 0,
            "skipped_recent": 0,
        }

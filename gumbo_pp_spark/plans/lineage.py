"""Per-partition checkpoint/lineage ledger with deterministic resume
(BASELINE.json north_rule: "resumable from checkpoint with
per-partition lineage + metrics, so a killed job resumes without
re-parsing completed partitions").

Design (SURVEY.md §4 c/d):

* the corpus is split into ``n_splits`` stable work units by
  ``pmod(xxhash64(url), n_splits)`` — url-hash splits are reproducible
  across runs and clusters, unlike task/partition ids;
* resume = recompute pending as ``all_splits − committed`` and process
  only those; readers union exactly the (split, run) pairs the ledger
  committed, so partially-written uncommitted runs are invisible.

A run commits in three steps, after the Iceberg writer protocol (tasks
write data files and report them, the driver commits):

1. **write** — ONE Spark job (``mapInArrow`` → ``collect``): each task
   runs the main-text kernel, groups its output by split, writes one
   pyarrow parquet file per (task, split) under
   ``data/run=<run_id>/split_id=<s>/`` with a hidden in-progress name
   (:data:`INPROGRESS`, a leading ``.`` that Spark's file listing
   skips), and returns one small stats row per file — extracted rows
   never go back to the JVM;
2. **publish** — the driver renames each reported file to its final
   ``part-<uuid>.snappy.parquet`` name.  ``collect`` returns exactly
   one successful attempt per partition, so files of failed or
   speculative attempts stay hidden (``vacuum_uncommitted`` removes
   them once stale);
3. **commit** — the driver sums the file rows per split and atomically
   commits one ledger record per pending split
   (``_ledger/split_<id>.json`` via tmp+rename) carrying the
   per-partition metrics (rows, bytes, parse/kernel ms, engine
   telemetry, wall_ms, attempt).  Each run writes into its own
   directory, so a killed run can never corrupt committed data.

Tasks and the ledger use plain filesystem calls, so ``out_dir`` must be
a path that the driver and every executor see (local mode, or a shared
mount on a cluster).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T


class PartitionLedger:
    """Atomic per-split commit records on a filesystem (works on any
    rename-capable store; on object stores use a conditional-put
    variant).

    Manifest compaction (VERDICT r6 #7): at the north-star scale the
    ledger holds 10^5-10^6 committed splits, and a resume that opens
    one JSON file per split is a driver file-stat storm.  Committed
    records are periodically rolled into a single atomically-rewritten
    ``manifest.json``; :meth:`committed` reads manifest + the per-split
    tail files written since the last roll (O(1) file reads on a
    compacted ledger, one tiny read per split committed since).
    Crash-safe ordering: the manifest is replaced FIRST (tmp+rename),
    folded tail files are deleted after — a crash between the two
    leaves records present in both places with identical content, and
    the tail overlay wins harmlessly."""

    MANIFEST = "manifest.json"

    def __init__(self, path: str, compact_every: int = 256):
        self.path = path
        self.compact_every = compact_every
        self._since_compact = 0
        self._next_seq: int | None = None  # lazily seeded from the ledger
        os.makedirs(path, exist_ok=True)

    def _load(self) -> tuple[dict[int, dict], list[str]]:
        """(records, tail filenames) — manifest first, tail overlays."""
        out: dict[int, dict] = {}
        mpath = os.path.join(self.path, self.MANIFEST)
        if os.path.exists(mpath):
            with open(mpath) as f:
                for rec in json.load(f)["records"]:
                    out[int(rec["split_id"])] = rec
        tails = [
            fn
            for fn in os.listdir(self.path)
            if fn.startswith("split_") and fn.endswith(".json")
        ]
        for fn in tails:
            with open(os.path.join(self.path, fn)) as f:
                rec = json.load(f)
            out[int(rec["split_id"])] = rec
        return out, tails

    def committed(self, as_of: int | None = None) -> dict[int, dict]:
        """Committed split records; ``as_of`` (a commit ``seq``) gives
        the Iceberg-style snapshot view — only records committed at or
        before that sequence number.  Pre-``seq`` ledgers (records
        without the field) read as seq 0: part of every snapshot."""
        recs = self._load()[0]
        if as_of is None:
            return recs
        return {s: r for s, r in recs.items() if r.get("seq", 0) <= as_of}

    def committed_between(
        self, since: int, as_of: int | None = None
    ) -> dict[int, dict]:
        """Incremental view (the Iceberg incremental-read analogue):
        records committed AFTER snapshot ``since`` and at-or-before
        ``as_of`` — the change set a downstream consumer processes to
        catch up from ``since`` to ``as_of`` without re-reading the
        whole table."""
        return {
            s: r
            for s, r in self.committed(as_of=as_of).items()
            if r.get("seq", 0) > since
        }

    def snapshot_diff(self, since: int, as_of: int | None = None) -> dict:
        """Metadata summary of a change set (the Iceberg snapshot-diff
        analogue): which splits and how many rows a catch-up from
        ``since`` to ``as_of`` would touch — cheap to inspect before
        deciding whether an incremental read is worth launching a job."""
        win = self.committed_between(since, as_of=as_of)
        return {
            "since": since,
            "as_of": as_of if as_of is not None else self.current_snapshot(),
            "n_commits": len(win),
            "split_ids": sorted(win),
            "rows": sum(int(r.get("rows", 0)) for r in win.values()),
        }

    def snapshot_log(self) -> list[dict]:
        """The snapshot history (Iceberg metadata-table analogue):
        commit records ordered by ``seq``.  Each record's ``seq`` is a
        valid ``as_of`` cursor for :meth:`committed` /
        :func:`read_extracted`."""
        return sorted(self._load()[0].values(), key=lambda r: r.get("seq", 0))

    def current_snapshot(self) -> int:
        recs = self._load()[0]
        return max((r.get("seq", 0) for r in recs.values()), default=0)

    def commit(self, rec: dict) -> None:
        # single-writer commit sequencing (the driver is the only
        # committer, as with an Iceberg catalog's optimistic lock; a
        # multi-driver deployment would CAS the counter in the catalog)
        if self._next_seq is None:
            self._next_seq = self.current_snapshot() + 1
        rec.setdefault("seq", self._next_seq)
        self._next_seq = max(self._next_seq, rec["seq"]) + 1
        final = os.path.join(self.path, f"split_{rec['split_id']}.json")
        tmp = final + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, final)  # atomic on POSIX
        self._since_compact += 1
        if self.compact_every and self._since_compact >= self.compact_every:
            self.compact()

    def compact(self) -> int:
        """Roll tail files into the manifest; returns how many folded."""
        recs, tails = self._load()
        self._since_compact = 0
        if not tails:
            return 0
        mpath = os.path.join(self.path, self.MANIFEST)
        tmp = mpath + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump({"version": 1, "records": list(recs.values())}, f)
        os.replace(tmp, mpath)
        for fn in tails:
            try:
                os.remove(os.path.join(self.path, fn))
            except FileNotFoundError:
                pass  # concurrent compaction already folded it
        return len(tails)


# in-progress data files: a task writes under this hidden name (Spark's
# file listing skips names starting with "." or "_"), the driver
# renames reported files to their final ``part-`` name before commit
INPROGRESS = ".inprogress-"

# the per-file result rows of the write job; ``bytes`` is the text
# length in characters, as Spark's ``length`` counts it
FILE_STATS = (
    "split_id int, file string, rows bigint, bytes bigint, parse_us bigint, "
    "kernel_us bigint, parse_errors bigint, c_docs bigint"
)
_SUMS = ("rows", "bytes", "parse_us", "kernel_us", "parse_errors", "c_docs")


def _split_file_writer(pt_types, data_dir: str, file_schema, stats_schema):
    """``mapInArrow`` task body of :func:`extract_with_resume`: run the
    main-text kernel, group each output batch by ``split_id``, buffer
    the slices per split for the task, then write one hidden parquet
    file per (task, split) under ``data_dir/split_id=<s>/`` and yield
    one :data:`FILE_STATS` row per file.  The buffer holds one task's
    output, bounded by the scan split size."""
    from ..operators.extract import main_text_batches

    kernel = main_text_batches(pt_types, stage_metrics=True)
    sid_col = [c for c, _ in pt_types].index("split_id")
    keep = [i for i in range(len(file_schema) + 1) if i != sid_col]

    def fn(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        parts: dict[int, list] = {}
        for rb in kernel(batches):
            if rb.num_rows == 0:
                continue
            sid = rb.column(sid_col).to_numpy()
            order = np.argsort(sid, kind="stable")
            sid = sid[order]
            data = pa.RecordBatch.from_arrays(
                [rb.column(i) for i in keep], names=file_schema.names
            ).cast(file_schema).take(pa.array(order))
            cuts = [0, *(np.flatnonzero(sid[1:] != sid[:-1]) + 1).tolist(), len(sid)]
            for lo, hi in zip(cuts, cuts[1:]):
                parts.setdefault(int(sid[lo]), []).append(data.slice(lo, hi - lo))
        rows = []
        for s, slices in parts.items():
            table = pa.Table.from_batches(slices, schema=file_schema)
            leaf = os.path.join(data_dir, f"split_id={s}")
            os.makedirs(leaf, exist_ok=True)
            path = os.path.join(leaf, f"{INPROGRESS}{uuid.uuid4()}.snappy.parquet")
            pq.write_table(table, path, compression="snappy")
            sums = {"bytes": pc.utf8_length(table["text"]), "parse_us": table["parse_us"],
                    "kernel_us": table["kernel_us"], "parse_errors": table["parse_errors"],
                    "c_docs": table["c_engine"]}
            rows.append({"split_id": s, "file": path, "rows": table.num_rows,
                         **{k: pc.sum(v).as_py() for k, v in sums.items()}})
        yield pa.RecordBatch.from_pylist(rows, schema=stats_schema)

    return fn


def extract_with_resume(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_splits: int = 32,
    max_splits_this_run: int | None = None,
    passthrough: tuple[str, ...] = ("doc_id", "url"),
) -> dict:
    """Run the flagship extraction over all not-yet-committed splits.

    ``max_splits_this_run`` exists for fault-injection tests (process
    only K pending splits, as if the job were killed after K commits).
    Returns run metrics, with run totals (``rows``, ``c_docs``,
    ``py_docs``, ``parse_errors``, ``files``) summed from the write
    job's per-file rows.
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    from ..operators.extract import _passthrough_types, main_text_schema
    from .partitioning import ensure_min_parallelism

    out_dir = os.path.abspath(out_dir)  # executors write to it directly
    ledger = PartitionLedger(os.path.join(out_dir, "_ledger"))
    done = set(ledger.committed())
    pending = [s for s in range(n_splits) if s not in done]
    if max_splits_this_run is not None:
        pending = pending[:max_splits_this_run]
    if not pending:
        return {"run_id": None, "splits_processed": 0, "skipped": len(done),
                **dict.fromkeys(("rows", "c_docs", "py_docs", "parse_errors", "files"), 0)}

    run_id = uuid.uuid4().hex[:12]
    t0 = time.time()
    work = pages.withColumn(
        "split_id", F.pmod(F.xxhash64("url"), F.lit(n_splits)).cast("int")
    ).where(F.col("split_id").isin(pending))
    pt_types = _passthrough_types(work, (*passthrough, "split_id"))
    file_schema = to_arrow_schema(T.StructType.fromDDL(main_text_schema(
        [pt for pt in pt_types if pt[0] != "split_id"], stage_metrics=True)))
    stats_schema = to_arrow_schema(T.StructType.fromDDL(FILE_STATS))
    data_dir = os.path.join(out_dir, "data", f"run={run_id}")
    # the one Spark job: tasks write their files, the driver gets
    # per-file stats back (one successful attempt per partition)
    files = (
        ensure_min_parallelism(work.select(*passthrough, "split_id", "html"))
        .mapInArrow(_split_file_writer(pt_types, data_dir, file_schema, stats_schema), FILE_STATS)
        .collect()
    )
    by_split: dict[int, dict] = {}
    for f in files:
        path = f["file"]
        head, name = os.path.split(path)
        os.replace(path, os.path.join(head, "part-" + name[len(INPROGRESS):]))
        acc = by_split.setdefault(f["split_id"], dict.fromkeys(_SUMS, 0))
        for k in _SUMS:
            acc[k] += f[k]
    wall_ms = int((time.time() - t0) * 1000)
    # Per-split wall attribution: all splits commit from ONE Spark job,
    # so the only measured per-split times are the executor-side
    # parse_us/kernel_us sums.  busy_ms is that measured work; wall_ms
    # is the run's wall apportioned by busy share (splits with more
    # work get more wall), so per-split wall is distinct and sums to
    # the run wall instead of repeating it n_splits times.
    total_busy = sum(r["parse_us"] + r["kernel_us"] for r in by_split.values()) or 1
    empty = dict.fromkeys(_SUMS, 0)
    for s in pending:
        r = by_split.get(s, empty)
        busy_us = r["parse_us"] + r["kernel_us"]
        ledger.commit(
            {
                "split_id": s,
                "run_id": run_id,
                "status": "committed",
                "rows": r["rows"],
                "bytes": r["bytes"],
                "parse_ms": int(r["parse_us"] / 1000),
                "kernel_ms": int(r["kernel_us"] / 1000),
                "parse_errors": r["parse_errors"],
                # engine engagement telemetry (round-6): at 100 TB this
                # is how a run sees what fraction of documents paid the
                # ~10x slower Python-tail price
                "c_docs": r["c_docs"],
                "py_docs": r["rows"] - r["c_docs"],
                "busy_ms": busy_us // 1000,
                "wall_ms": int(wall_ms * busy_us / total_busy),
                "run_wall_ms": wall_ms,
                "attempt": 1,
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
        )
    # roll this run's commits into the manifest so the NEXT resume
    # starts from O(1) file reads regardless of how many splits ran
    ledger.compact()
    totals = {k: sum(f[k] for f in files) for k in ("rows", "c_docs", "parse_errors")}
    return {
        "run_id": run_id,
        "splits_processed": len(pending),
        "skipped": len(done),
        "wall_ms": wall_ms,
        **totals,
        "py_docs": totals["rows"] - totals["c_docs"],
        "files": len(files),
    }


def vacuum_uncommitted(out_dir: str, min_age_sec: float = 24 * 3600.0) -> dict:
    """Remove data leaf directories not referenced by any committed
    ledger record — crashed/abandoned run leftovers (the Iceberg
    remove-orphan-files analogue; without it a table that survives
    many partial runs slowly accretes dead bytes no read will ever
    touch) — and hidden in-progress files (:data:`INPROGRESS`) that
    failed or speculative task attempts left behind, also inside
    committed leaves.  The ledger and the ``part-`` files of every
    committed ``run=…/split_id=…`` leaf are untouched; a run directory
    left with no leaves is removed whole.

    CONCURRENCY (ADVICE r7): ``extract_with_resume`` writes data
    files BEFORE committing their ledger records, so an uncommitted
    leaf or an in-progress file may belong to an in-flight run —
    deleting it would let that run commit records pointing at vanished
    paths (splits marked committed forever but unreadable).  Leaves
    and in-progress files younger than ``min_age_sec`` (default 24 h —
    Iceberg's remove-orphan-files default) are therefore kept; pass
    ``min_age_sec=0`` only when no writer can be running.
    ``read_extracted`` (incl. ``as_of``/``since``) only resolves paths
    through committed records, which vacuum keeps by construction.
    Returns ``{"removed": [...], "kept": n, "skipped_recent": m}``
    (``removed`` paths relative to ``data/``; ``kept`` counts committed
    leaves)."""
    import shutil

    ledger = PartitionLedger(os.path.join(out_dir, "_ledger"))
    keep = {
        (r["run_id"], str(s)) for s, r in ledger.committed().items()
    }
    data = os.path.join(out_dir, "data")
    removed: list[str] = []
    kept = 0
    skipped_recent = 0
    now = time.time()
    if not os.path.isdir(data):
        return {"removed": removed, "kept": kept, "skipped_recent": 0}
    for run_dir in sorted(os.listdir(data)):
        if not run_dir.startswith("run="):
            continue
        run_id = run_dir[len("run="):]
        rpath = os.path.join(data, run_dir)
        for leaf in sorted(os.listdir(rpath)):
            if not leaf.startswith("split_id="):
                continue
            sid = leaf.split("=", 1)[1]
            lpath = os.path.join(rpath, leaf)
            if (run_id, sid) in keep:
                kept += 1
                targets = [os.path.join(lpath, fn) for fn in sorted(os.listdir(lpath))
                           if fn.startswith(INPROGRESS)]
            else:
                targets = [lpath]
            for path in targets:
                try:
                    age = now - os.path.getmtime(path)
                except OSError:
                    age = 0.0  # freshly gone / racing writer: leave it
                if age < min_age_sec:
                    skipped_recent += 1
                    continue
                if os.path.isdir(path):
                    shutil.rmtree(path)
                else:
                    os.remove(path)
                removed.append(os.path.relpath(path, data))
        if not any(d.startswith("split_id=") for d in os.listdir(rpath)):
            shutil.rmtree(rpath)
    return {"removed": removed, "kept": kept, "skipped_recent": skipped_recent}


def read_extracted(
    spark: SparkSession, out_dir: str, as_of: int | None = None,
    since: int | None = None,
) -> DataFrame:
    """Union of exactly the ledger-committed (split, run) outputs —
    uncommitted partial runs are invisible.  ``as_of`` time-travels to
    the table state as of that commit seq (see
    :meth:`PartitionLedger.snapshot_log`), reading only the data files
    those commits referenced — the Iceberg snapshot-read analogue.
    ``since`` gives the INCREMENTAL read — only splits committed after
    that snapshot (Iceberg incremental scan): a downstream consumer
    stores the last seq it processed and reads ``since=that`` to catch
    up touching none of the already-processed files.  An empty change
    set raises ``LookupError`` (check
    :meth:`PartitionLedger.committed_between` first when empty-is-ok)."""
    ledger = PartitionLedger(os.path.join(out_dir, "_ledger"))
    if since is not None:
        recs = ledger.committed_between(since, as_of=as_of)
        if not recs:
            raise LookupError(
                f"no commits in ({since}, {as_of or 'current'}] under {out_dir}"
            )
    else:
        recs = ledger.committed(as_of=as_of)
    if not recs:
        raise FileNotFoundError(f"no committed splits under {out_dir}")
    data = os.path.join(out_dir, "data")
    paths = sorted(
        {
            os.path.join(data, f"run={r['run_id']}", f"split_id={s}")
            for s, r in recs.items()
            if r["rows"] > 0
        }
    )
    if not paths:
        raise FileNotFoundError(f"no committed rows under {out_dir}")
    # ``run`` is typed as a string up front: left to partition-type
    # inference, a hex run id such as 001234567890 or 1234e5678901
    # reads back as a number
    schema = (
        spark.read.parquet(paths[0]).schema
        .add("run", T.StringType()).add("split_id", T.IntegerType())
    )
    # basePath keeps run/split_id partition columns while reading only
    # the committed leaf directories
    return spark.read.schema(schema).option("basePath", data).parquet(*paths)

"""Arrow-batched parse → select → extract stage (the engine's core
map operator; SURVEY.md §3 lifecycle E1-E3 at corpus scale).

The reference runs parse (``gumbo_range``, src/gumbo_pp.cpp:33-34),
query (std::find_if + matchers) and extraction (gumbo_text.h) per
document, single-threaded.  Here the same three phases run inside a
``mapInPandas`` stage: Spark streams Arrow batches of page rows into a
Python worker, each document is parsed once into a preorder NodeTable,
an extraction *program* (plain Python over numpy node arrays — the
per-document work is vectorized columnar kernels, no per-node Python
closures) emits the output columns, and results stream back as Arrow.

Embarrassingly parallel across documents → map-only stage, no shuffle;
Catalyst prunes the scan to exactly the input columns the stage needs
(html + passthrough), verified in tests via ``.explain``.
"""

from __future__ import annotations

import re
from typing import Callable, Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..nodetable import CDATA, ELEMENT, TEXT, WHITESPACE, NodeTable
from ..parser.html5 import parse_html
from ..parser.tags import TAG_IDS

# Boilerplate chrome subtrees dropped by the flagship main-content
# program — all tags are in the reference vocabulary
# (gumbo_matchers.h:926-1077).
BOILERPLATE_TAGS = frozenset(
    "script style nav header footer aside form noscript iframe template "
    "select option button svg".split()
)
# int16 tag-id comparisons beat object-string compares in the hot path
_BOILERPLATE_IDS = np.array(sorted(TAG_IDS[t] for t in BOILERPLATE_TAGS), dtype=np.int16)
# boolean lookup table: `lut[tag_id]` is ~30x cheaper per document than
# np.isin (whose setup overhead dominates at ~100 nodes/doc); the last
# slot stays False so the -1 ids of non-elements gather safely
_BOILER_LUT = np.zeros(max(TAG_IDS.values()) + 2, dtype=bool)
_BOILER_LUT[_BOILERPLATE_IDS] = True
_BODY_ID = TAG_IDS["body"]

_TEXTUAL = (TEXT, CDATA, WHITESPACE)
# boolean LUT over node-type codes: one gather replaces three compares
# + two ORs per document in the hot kernel
_TEXTUAL_LUT = np.zeros(8, dtype=bool)
_TEXTUAL_LUT[list(_TEXTUAL)] = True

# the C fast path takes the boilerplate tag-id list as an argument so
# BOILERPLATE_TAGS above stays the single source of truth (no parallel
# C-side list to drift)
_BOILER_ID_BYTES = _BOILERPLATE_IDS.tobytes()


# ----------------------------------------------------------------------
# generic program runner
# ----------------------------------------------------------------------
def run_program(
    df: DataFrame,
    program: Callable[[NodeTable], dict],
    out_fields: str,
    passthrough: tuple[str, ...] = ("doc_id", "url"),
    html_col: str = "html",
    stage_metrics: bool = False,
    parse_options: dict | None = None,
) -> DataFrame:
    """Run ``program`` over every page.  ``program(nt) -> dict`` of the
    columns declared in ``out_fields`` (DDL fragment).  Passthrough
    columns are carried unchanged; the input projection is pruned to
    passthrough + html so parquet scans read only what is needed.
    ``stage_metrics`` appends per-document ``parse_us``/``kernel_us``
    timing columns (feeds the lineage ledger's per-stage breakdown).
    ``parse_options`` is the GumboOptions analogue broadcast to every
    executor parse (fragment context/namespace, max_errors — see
    :func:`gumbo_pp_spark.parser.html5.parse_html`).
    """
    schema = ", ".join(
        [*(f"{c} {t}" for c, t in _passthrough_types(df, passthrough)), out_fields]
    )
    if stage_metrics:
        schema += ", parse_us bigint, kernel_us bigint"
    # real DDL parse (a naive ', ' split breaks on nested struct/decimal
    # types like 'array<struct<a: int, b: int>>')
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructType

    out_struct = StructType.fromDDL(out_fields)
    out_names = out_struct.fieldNames()
    # explicit Arrow types per output column: pa.array inference would
    # e.g. build int64 for an `int` (int32) field and fail the
    # mapInArrow schema check
    out_pa_types = [to_arrow_type(f.dataType) for f in out_struct.fields]
    n_pt = len(passthrough)

    # ROUND-8: mapInArrow instead of mapInPandas (guide §4.1/§4.2).
    # The pandas path copied every html payload into a per-row bytes
    # object during Arrow→pandas conversion and round-tripped the
    # passthrough columns through Python lists; here the html column
    # is iterated as zero-copy memoryview slices of the Arrow buffer
    # (the same _iter_html fast path the flagship uses) and the
    # passthrough columns pass through as untouched Arrow arrays.
    def fn(batches) -> "Iterator":
        import time as _time

        import pyarrow as pa

        clk = _time.perf_counter
        for rb in batches:
            htmls = rb.column(n_pt)
            outs: list[list] = [[] for _ in out_names]
            parse_us: list[int] = []
            kernel_us: list[int] = []
            if stage_metrics:
                for raw in _iter_html(htmls):
                    t0 = clk()
                    nt = parse_html(raw, parse_options)
                    t1 = clk()
                    res = program(nt)
                    t2 = clk()
                    parse_us.append(int((t1 - t0) * 1e6))
                    kernel_us.append(int((t2 - t1) * 1e6))
                    for j, c in enumerate(out_names):
                        outs[j].append(res[c])
            else:
                for raw in _iter_html(htmls):
                    res = program(parse_html(raw, parse_options))
                    for j, c in enumerate(out_names):
                        outs[j].append(res[c])
            cols = [rb.column(i) for i in range(n_pt)]
            cols += [
                pa.array(vals, type=t) for vals, t in zip(outs, out_pa_types)
            ]
            names = [*passthrough, *out_names]
            if stage_metrics:
                cols += [pa.array(parse_us, pa.int64()),
                         pa.array(kernel_us, pa.int64())]
                names += ["parse_us", "kernel_us"]
            yield pa.RecordBatch.from_arrays(cols, names=names)

    # small/unsplittable inputs (the documents table is one parquet
    # row group) otherwise pin the whole per-document Python stage to
    # a single task — guarded no-op when the scan is already parallel
    from gumbo_pp_spark.plans.partitioning import ensure_min_parallelism

    pruned = ensure_min_parallelism(df.select(*passthrough, html_col))
    return pruned.mapInArrow(fn, schema)


def _passthrough_types(df: DataFrame, passthrough) -> list[tuple[str, str]]:
    lut = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return [(c, lut[c]) for c in passthrough]


def _iter_html(arr):
    """Zero-copy iteration over a null-free binary Arrow column:
    yields memoryview slices of the data buffer — parse_html decodes
    straight from them (``str(buffer, ...)``), so the per-doc html
    bytes are never copied into Python objects.  Falls back to
    ``as_py()`` for nullable/unusual layouts."""
    import pyarrow as pa

    if len(arr) == 0:
        return ()
    if arr.null_count == 0 and (
        pa.types.is_binary(arr.type) or pa.types.is_large_binary(arr.type)
    ):
        dt = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
        bufs = arr.buffers()
        off = np.frombuffer(
            bufs[1], dt, len(arr) + 1, arr.offset * np.dtype(dt).itemsize
        )
        data = memoryview(bufs[2])
        return (data[off[k]: off[k + 1]] for k in range(len(arr)))
    return (v.as_py() for v in arr)


# ----------------------------------------------------------------------
# batch C fast path: whole Arrow column in one extension call
# ----------------------------------------------------------------------
def _py_doc_pieces(raw):
    """Python-path main-text pieces for ONE document — the bail-splice
    companion of the C batch path (same kernel as the per-doc loop in
    ``extract_main_text``): returns (text, tids_i32, s0, s1, b0, b1,
    ptags, n_nodes, parse_errors)."""
    nt = parse_html(raw)
    tag_id = nt.tag_id
    body = int(np.argmax(tag_id == _BODY_ID))
    lo, hi = nt.subtree(body) if tag_id[body] == _BODY_ID else (0, nt.n)
    bad = np.nonzero(_BOILER_LUT[tag_id])[0]
    t = nt.type
    keep = _TEXTUAL_LUT[t]
    keep[:lo] = False
    keep[hi:] = False
    if len(bad):
        keep &= ~_excluded_mask(nt, bad)
    kids = np.nonzero(keep)[0]
    text = "".join(nt.text[kids].tolist())
    tids = kids[t[kids] == TEXT]
    s0a, s1a = nt.src_start[tids], nt.src_end[tids]
    return (text, tids.astype(np.int32), s0a, s1a,
            nt.byte_offsets(s0a), nt.byte_offsets(s1a),
            nt.tag_name[nt.parent[tids]].tolist(), nt.n, nt.parse_errors)


_SPAN_FIELDS = ["node_id", "tag", "start", "end", "start_byte", "end_byte"]


def _splice_rows(arr, idxs, one_rows):
    """Replace rows ``idxs`` (ascending) of ``arr`` with the 1-row
    arrays ``one_rows`` — zero-copy slices of the C-built column glued
    around the (rare) Python-path rows."""
    import pyarrow as pa

    pieces = []
    prev = 0
    for k, one in zip(idxs, one_rows):
        if k > prev:
            pieces.append(arr.slice(prev, k - prev))
        pieces.append(one)
        prev = k + 1
    if prev < len(arr):
        pieces.append(arr.slice(prev))
    return pa.concat_arrays(pieces)


def _assemble_from_batch(rb, htmls, cb, n_pt, pt_names, stage_metrics, clk):
    """Run ``cextract_batch`` over the whole Arrow binary column and
    wrap its batch-level buffers into the output RecordBatch — the
    engaged path builds no per-document Python objects at all (the
    input_hint's "no per-row Python" contract made literal).  Text and
    parent-tag columns come back in Arrow string layout (one UTF-8
    data blob + int32 offsets) and are wrapped zero-copy via
    ``StringArray.from_buffers``; bail documents (non-ASCII / CR / any
    engine bail) are recomputed on the reference Python path and
    spliced row-wise.  Returns None when the batch must use the
    per-document path (C-side int32 overflow guard)."""
    import pyarrow as pa

    is64 = pa.types.is_large_binary(htmls.type)
    dt = np.int64 if is64 else np.int32
    bufs = htmls.buffers()
    off = np.frombuffer(bufs[1], dt, len(htmls) + 1, htmls.offset * np.dtype(dt).itemsize)
    res = cb(bufs[2], off, 1 if is64 else 0, _BOILER_ID_BYTES)
    if res is None:
        return None
    (txt, toff, sid, s0, s1, b0, b1, cnt, ptg, poff, nn, pe, tot, bail) = res
    n = len(htmls)
    text_arr = pa.StringArray.from_buffers(n, pa.py_buffer(toff), pa.py_buffer(txt))
    tag_arr = pa.StringArray.from_buffers(len(sid), pa.py_buffer(poff), pa.py_buffer(ptg))
    # byte columns computed in C: identity for pure-ASCII CR-free
    # docs, exact char→byte map for CRLF / multibyte-UTF-8 docs
    struct = pa.StructArray.from_arrays(
        [pa.array(sid), tag_arr, pa.array(s0), pa.array(s1), pa.array(b0), pa.array(b1)],
        names=_SPAN_FIELDS,
    )
    loff = np.empty(n + 1, np.int32)
    loff[0] = 0
    np.cumsum(cnt, out=loff[1:])
    spans = pa.ListArray.from_arrays(pa.array(loff), struct)
    c_eng = np.ones(n, np.int8) if stage_metrics else None
    if len(bail):
        data_mv = memoryview(bufs[2])
        texts_1, spans_1 = [], []
        for k in bail.tolist():
            t0 = clk()
            (text, tids, ps0, ps1, pb0, pb1, ptags, nn_i, pe_i) = _py_doc_pieces(
                data_mv[off[k]: off[k + 1]]
            )
            st_k = pa.StructArray.from_arrays(
                [pa.array(tids), pa.array(ptags, pa.string()),
                 pa.array(ps0.astype(np.int64, copy=False)),
                 pa.array(ps1.astype(np.int64, copy=False)),
                 pa.array(pb0.astype(np.int64, copy=False)),
                 pa.array(pb1.astype(np.int64, copy=False))],
                names=_SPAN_FIELDS,
            )
            texts_1.append(pa.array([text], pa.string()))
            spans_1.append(
                pa.ListArray.from_arrays(pa.array([0, len(tids)], pa.int32()), st_k)
            )
            nn[k] = nn_i
            pe[k] = pe_i
            tot[k] = int((clk() - t0) * 1e6)
            if c_eng is not None:
                c_eng[k] = 0
        bl = bail.tolist()
        text_arr = _splice_rows(text_arr, bl, texts_1)
        spans = _splice_rows(spans, bl, spans_1)
    cols = [rb.column(i) for i in range(n_pt)]
    cols += [text_arr, spans, pa.array(nn), pa.array(pe)]
    names = [*pt_names, "text", "spans", "n_nodes", "parse_errors"]
    if stage_metrics:
        # fused-kernel convention (same as the per-doc cextract path):
        # parse_us carries the whole per-doc C time, kernel_us ~0
        cols += [pa.array(tot), pa.array(np.zeros(n, np.int64)), pa.array(c_eng)]
        names += ["parse_us", "kernel_us", "c_engine"]
    return pa.RecordBatch.from_arrays(cols, names=names)


# ----------------------------------------------------------------------
# kernel: boilerplate-stripped main text + spans
# ----------------------------------------------------------------------
def _excluded_mask(nt: NodeTable, bad_roots: np.ndarray) -> np.ndarray:
    """Paint subtree intervals [i, subtree_end) of bad roots."""
    diff = np.zeros(nt.n + 1, dtype=np.int32)
    np.add.at(diff, bad_roots, 1)
    np.subtract.at(diff, nt.subtree_end[bad_roots], 1)
    return np.cumsum(diff[:-1]) > 0


def main_text_program(nt: NodeTable) -> dict:
    """Flagship extraction (SURVEY.md §7 M2): drop boilerplate chrome
    subtrees and comments, keep remaining body text in document order
    (content_text concatenation semantics — no separators), and emit
    per-node span offsets.

    SPAN OFFSET CONTRACT: ``start``/``end`` index the PARSER INPUT
    STRING — ``html.decode('utf-8', 'replace')`` with ``\\r\\n``/``\\r``
    normalized to ``\\n`` (WHATWG input-stream preprocessing).
    ``start_byte``/``end_byte`` are TRUE BYTE offsets into the raw
    ``html`` binary (gumbo's offset model, gumbo_util.h:121-146) — a
    consumer can slice the original bytes of a non-ASCII/CRLF page and
    get the span's raw source (parser/bytemap.py).  On ASCII CR-free
    pages the two coincide."""
    tag_id = nt.tag_id
    body = int(np.argmax(tag_id == _BODY_ID))
    lo, hi = nt.subtree(body) if tag_id[body] == _BODY_ID else (0, nt.n)
    bad = np.nonzero(_BOILER_LUT[tag_id])[0]
    t = nt.type
    keep = _TEXTUAL_LUT[t]
    keep[:lo] = False
    keep[hi:] = False
    if len(bad):
        keep &= ~_excluded_mask(nt, bad)
    ids = np.nonzero(keep)[0]
    texts = nt.text[ids].tolist()
    # vectorized span assembly: one gather per column, then zip — the
    # round-1 per-element listcomp paid ~100us/doc in numpy scalar
    # indexing + int()/str() conversions
    tids = ids[t[ids] == TEXT]
    par = nt.parent[tids]
    ptags = np.where(par >= 0, nt.tag_name[par], "")
    s0a, s1a = nt.src_start[tids], nt.src_end[tids]
    spans = [
        {"node_id": i, "tag": g, "start": s0, "end": s1,
         "start_byte": b0, "end_byte": b1}
        for i, g, s0, s1, b0, b1 in zip(
            tids.tolist(), ptags.tolist(), s0a.tolist(), s1a.tolist(),
            nt.byte_offsets(s0a).tolist(), nt.byte_offsets(s1a).tolist(),
        )
    ]
    return {
        "text": "".join(texts),
        "spans": spans,
        "n_nodes": int(nt.n),
        "parse_errors": int(nt.parse_errors),
    }


MAIN_TEXT_FIELDS = (
    "text string, spans array<struct<node_id:int,tag:string,start:bigint,end:bigint,"
    "start_byte:bigint,end_byte:bigint>>, "
    "n_nodes int, parse_errors int"
)


def main_text_schema(pt_types, stage_metrics: bool = False) -> str:
    """DDL of :func:`extract_main_text`'s output: the ``(name, type)``
    passthrough columns, the main-text fields and, with
    ``stage_metrics``, the per-document engine telemetry."""
    schema = ", ".join([*(f"{c} {t}" for c, t in pt_types), MAIN_TEXT_FIELDS])
    if stage_metrics:
        schema += ", parse_us bigint, kernel_us bigint, c_engine tinyint"
    return schema


def main_text_batches(pt_types, stage_metrics: bool = False):
    """The flagship kernel as a ``mapInArrow`` batch function: input
    batches carry the ``pt_types`` passthrough columns followed by
    ``html``; output batches follow :func:`main_text_schema`.  Shared
    by :func:`extract_main_text` and the resumable writer in
    ``plans/lineage.py``, so both run the same kernel path."""
    n_pt = len(pt_types)
    pt_names = [c for c, _ in pt_types]

    def fn(batches) -> "Iterator[pa.RecordBatch]":
        import time as _time

        import pyarrow as pa

        from ..parser import cengine as _ce, html5 as _h5
        from ..parser.html5 import _cstats

        clk = _time.perf_counter
        empty_i32 = np.array([], np.int32)
        empty_i64 = np.array([], np.int64)
        # whole-column C fast path (round-6): one extension call per
        # Arrow batch, no per-document Python loop at all.  Gated like
        # the per-doc fast path; any non-engageable layout (nulls,
        # non-binary column) or a C-side overflow falls through to the
        # per-document path below, byte-identically.
        cb = _ce._cextract_batch if _h5._cparse_fast is not None else None
        for rb in batches:
            htmls = rb.column(n_pt)
            if cb is not None and len(htmls) and htmls.null_count == 0 and (
                pa.types.is_binary(htmls.type) or pa.types.is_large_binary(htmls.type)
            ):
                out = _assemble_from_batch(rb, htmls, cb, n_pt, pt_names,
                                           stage_metrics, clk)
                if out is not None:
                    yield out
                    continue
            texts: list[str] = []
            nn: list[int] = []
            pe: list[int] = []
            parse_us: list[int] = []
            kernel_us: list[int] = []
            c_engine: list[int] = []
            sp_node: list[np.ndarray] = []
            sp_tag: list[str] = []
            sp_start: list[np.ndarray] = []
            sp_end: list[np.ndarray] = []
            sp_bstart: list[np.ndarray] = []
            sp_bend: list[np.ndarray] = []
            sp_offsets = [0]
            # full-C kernel fast path (round-6): parse AND the
            # main-text kernel run inside the extension — no NodeTable
            # and no per-doc numpy micro-ops are built at all.  Gated
            # like the parse fast path: html5._cparse_fast is None
            # inside the html5lib-emulation patch contexts, and
            # GUMBO_PP_CENGINE=0 leaves _ce._cextract None.  A None
            # return (non-ASCII / CR / engine bail) falls back to
            # the reference path below, byte-identically.
            cx = _ce._cextract if _h5._cparse_fast is not None else None
            for raw in _iter_html(htmls):
                t0 = clk()
                if cx is not None and not isinstance(raw, str):
                    res = cx(raw, _BOILER_ID_BYTES)
                    if res is not None:
                        text, nn_i, errs_i, ids, s0a, s1a, ptag_list = res
                        t1 = clk()
                        texts.append(text)
                        sp_node.append(ids)
                        sp_start.append(s0a)
                        sp_end.append(s1a)
                        # identity byte map by construction (pure-ASCII
                        # CR-free raw bytes): byte cols == char cols
                        sp_bstart.append(s0a)
                        sp_bend.append(s1a)
                        sp_tag.extend(ptag_list)
                        sp_offsets.append(sp_offsets[-1] + len(ids))
                        nn.append(nn_i)
                        pe.append(errs_i)
                        if stage_metrics:
                            c_engine.append(1)
                            parse_us.append(int((t1 - t0) * 1e6))
                            kernel_us.append(int((clk() - t1) * 1e6))
                        continue
                c_before = _cstats["c"]
                nt = parse_html(raw)
                t1 = clk()
                if stage_metrics:
                    # which engine parsed THIS doc: the C fast path
                    # bumps _cstats["c"] exactly once per accepted doc
                    c_engine.append(1 if _cstats["c"] > c_before else 0)
                tag_id = nt.tag_id
                body = int(np.argmax(tag_id == _BODY_ID))
                lo, hi = nt.subtree(body) if tag_id[body] == _BODY_ID else (0, nt.n)
                bad = np.nonzero(_BOILER_LUT[tag_id])[0]
                t = nt.type
                keep = _TEXTUAL_LUT[t]
                keep[:lo] = False
                keep[hi:] = False
                if len(bad):
                    keep &= ~_excluded_mask(nt, bad)
                kids = np.nonzero(keep)[0]
                texts.append("".join(nt.text[kids].tolist()))
                tids = kids[t[kids] == TEXT]
                sp_node.append(tids.astype(np.int32))
                s0a, s1a = nt.src_start[tids], nt.src_end[tids]
                sp_start.append(s0a)
                sp_end.append(s1a)
                # byte offsets: identity (zero cost) on ASCII CR-free
                # pages; exact vectorized gather otherwise
                sp_bstart.append(nt.byte_offsets(s0a))
                sp_bend.append(nt.byte_offsets(s1a))
                sp_tag.extend(nt.tag_name[nt.parent[tids]].tolist())
                sp_offsets.append(sp_offsets[-1] + len(tids))
                nn.append(nt.n)
                pe.append(nt.parse_errors)
                if stage_metrics:
                    parse_us.append(int((t1 - t0) * 1e6))
                    kernel_us.append(int((clk() - t1) * 1e6))
            struct = pa.StructArray.from_arrays(
                [
                    pa.array(np.concatenate(sp_node) if sp_node else empty_i32),
                    pa.array(sp_tag, pa.string()),
                    pa.array(np.concatenate(sp_start) if sp_start else empty_i64),
                    pa.array(np.concatenate(sp_end) if sp_end else empty_i64),
                    pa.array(np.concatenate(sp_bstart) if sp_bstart else empty_i64),
                    pa.array(np.concatenate(sp_bend) if sp_bend else empty_i64),
                ],
                names=["node_id", "tag", "start", "end", "start_byte", "end_byte"],
            )
            spans = pa.ListArray.from_arrays(pa.array(sp_offsets, pa.int32()), struct)
            cols = [rb.column(i) for i in range(n_pt)]
            cols += [pa.array(texts, pa.string()), spans,
                     pa.array(nn, pa.int32()), pa.array(pe, pa.int32())]
            names = [*pt_names, "text", "spans", "n_nodes", "parse_errors"]
            if stage_metrics:
                cols += [pa.array(parse_us, pa.int64()), pa.array(kernel_us, pa.int64()),
                         pa.array(c_engine, pa.int8())]
                names += ["parse_us", "kernel_us", "c_engine"]
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return fn


def extract_main_text(
    df: DataFrame, passthrough=("doc_id", "url"), stage_metrics: bool = False
) -> DataFrame:
    """Flagship stage on the Arrow fast path: ``mapInArrow`` with fully
    vectorized output construction (span struct arrays built from
    concatenated numpy columns + offsets — no per-row dict conversion;
    ~25-30% over the generic pandas runner on the bench corpus).

    Output ``spans`` follow :func:`main_text_program`'s offset
    contract: indices into the decoded, newline-normalized parser
    input, not the raw ``html`` bytes."""
    from gumbo_pp_spark.plans.partitioning import ensure_min_parallelism

    pt_types = _passthrough_types(df, passthrough)
    pruned = ensure_min_parallelism(df.select(*passthrough, "html"))
    return pruned.mapInArrow(
        main_text_batches(pt_types, stage_metrics), main_text_schema(pt_types, stage_metrics)
    )


# ----------------------------------------------------------------------
# kernel: the reference table_scrape structural query at corpus scale
# ----------------------------------------------------------------------
def table_scrape_program(div_id: str) -> Callable[[NodeTable], dict]:
    """tests/src/table_scrape.cpp:43-71 semantics: find
    div#<id> → first tbody from there (anchored DFS, not subtree
    bounded) → per-<tr> per-<td> content_text, comma-joined lines.

    Round-8 kernel shape: the anchor div is found through the flat
    attribute index (|attrs|-sized vectorized compares — the round-7
    per-node Python genexpr walked every node), and tbody/tr/td masks
    are int16 ``tag_id`` compares instead of object-string equality."""
    _div = TAG_IDS["div"]
    _tbody = TAG_IDS["tbody"]
    _tr = TAG_IDS["tr"]
    _td = TAG_IDS["td"]

    def program(nt: NodeTable) -> dict:
        nt._ensure_attr_index()
        m = (nt._attr_names == "id") & (nt._attr_vals == div_id)
        owners = nt._attr_owner[m]
        tag_id = nt.tag_id
        divs = owners[tag_id[owners] == _div]
        if len(divs) == 0:
            return {"csv": None}
        div = int(divs[0])  # owners ascend in preorder → first match
        tbody = nt.first_match(tag_id == _tbody, start=div)
        if tbody < 0:
            return {"csv": None}
        lines = []
        lo, hi = nt.child_range_dfs(tbody)
        tr_mask = tag_id == _tr
        td_mask = tag_id == _td
        for tr in nt.matches_in(tr_mask, lo, hi):
            tlo, thi = nt.child_range_dfs(int(tr))
            cells = nt.matches_in(td_mask, tlo, thi)
            lines.append(",".join(nt.content_text_many(cells)))
        return {"csv": "\n".join(lines) + "\n" if lines else ""}

    return program


def scrape_tables(df: DataFrame, div_id: str, passthrough=("doc_id", "url")) -> DataFrame:
    return run_program(df, table_scrape_program(div_id), "csv string", passthrough)


# ----------------------------------------------------------------------
# kernel: selector-program extraction (first match / all matches)
# ----------------------------------------------------------------------
def select_first_program(
    matcher,
    projections: dict[str, str | Callable[[NodeTable, int], object]],
) -> Callable[[NodeTable], dict]:
    """First node matching ``matcher`` (std::find_if semantics), then
    one output column per projection: 'content' | 'inner' | 'outer' |
    'attr:<name>' | 'start' | 'end' | 'node_id' | callable(nt, i)."""

    def project(nt: NodeTable, i: int, spec) -> object:
        if callable(spec):
            return spec(nt, i)
        if spec == "content":
            return nt.content_text(i)
        if spec == "inner":
            return nt.inner_text(i)
        if spec == "outer":
            return nt.outer_text(i)
        if spec == "start":
            return int(nt.src_start[i])
        if spec == "end":
            return int(nt.src_end[i])
        if spec == "start_byte":
            return int(nt.byte_offsets(int(nt.src_start[i])))
        if spec == "end_byte":
            return int(nt.byte_offsets(int(nt.src_end[i])))
        if spec == "inner_start":
            return int(nt.tag_end[i])
        if spec == "inner_end":
            return int(nt.endtag_start[i])
        if spec == "node_id":
            return int(i)
        if spec.startswith("attr:"):
            a = nt.attrs[i]
            return a.get(spec[5:]) if a is not None else None
        raise ValueError(spec)

    def program(nt: NodeTable) -> dict:
        i = nt.first_match(matcher(nt))
        if i < 0:
            return {c: None for c in projections}
        return {c: project(nt, i, spec) for c, spec in projections.items()}

    return program


NODES_FIELDS = (
    "node_id int, parent_id int, subtree_end int, node_type tinyint, "
    "tag string, ns tinyint, attrs map<string,string>, text string, "
    "index_within_parent int, src_start bigint, src_end bigint, "
    "src_start_byte bigint, src_end_byte bigint"
)


def explode_nodes(df: DataFrame, passthrough: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """Surface the per-document preorder node table as ROWS — the
    dataset level of SURVEY.md §2's mappings: every traversal/query
    becomes plain DataFrame algebra (subtree containment = range
    predicates on node_id/subtree_end, direct children =
    parent_id equality, first match = min(node_id) per doc).

    Debug/interop surface; the in-UDF kernels remain the fast path.
    """
    import pyarrow as pa

    pt_types = _passthrough_types(df, passthrough)
    schema = ", ".join([*(f"{c} {t}" for c, t in pt_types), NODES_FIELDS])
    n_pt = len(passthrough)

    def fn(batches):
        for rb in batches:
            htmls = rb.column(n_pt)
            counts = np.empty(rb.num_rows, dtype=np.int64)
            node_id, parent_id, subtree_end, ntype = [], [], [], []
            tag, ns, attrs, text, iwp, s0, s1 = [], [], [], [], [], [], []
            b0, b1 = [], []
            for row, raw in enumerate(_iter_html(htmls)):
                nt = parse_html(raw)
                counts[row] = nt.n
                b0.append(nt.byte_offsets(nt.src_start))
                b1.append(nt.byte_offsets(nt.src_end))
                node_id.append(np.arange(nt.n, dtype=np.int32))
                parent_id.append(nt.parent)
                subtree_end.append(nt.subtree_end)
                ntype.append(nt.type)
                tag.extend(nt.tag_name.tolist())
                ns.append(nt.ns)
                attrs.extend(a if a else None for a in nt.attrs)
                text.extend(nt.text.tolist())
                iwp.append(nt.index_within_parent)
                s0.append(nt.src_start)
                s1.append(nt.src_end)
            # passthrough replication: one Arrow take() per column with
            # np.repeat'ed row indices — no per-row .as_py() loop, and
            # the passthrough values never round-trip through Python.
            rep_idx = pa.array(np.repeat(np.arange(rb.num_rows), counts))
            cols = [rb.column(j).take(rep_idx) for j in range(n_pt)]
            cols += [
                pa.array(np.concatenate(node_id) if node_id else np.array([], np.int32)),
                pa.array(np.concatenate(parent_id) if parent_id else np.array([], np.int32)),
                pa.array(np.concatenate(subtree_end) if subtree_end else np.array([], np.int32)),
                pa.array(np.concatenate(ntype) if ntype else np.array([], np.int8)),
                pa.array(tag, pa.string()),
                pa.array(np.concatenate(ns) if ns else np.array([], np.int8)),
                pa.array(attrs, pa.map_(pa.string(), pa.string())),
                pa.array(text, pa.string()),
                pa.array(np.concatenate(iwp) if iwp else np.array([], np.int32)),
                pa.array(np.concatenate(s0) if s0 else np.array([], np.int64)),
                pa.array(np.concatenate(s1) if s1 else np.array([], np.int64)),
                pa.array(np.concatenate(b0) if b0 else np.array([], np.int64)),
                pa.array(np.concatenate(b1) if b1 else np.array([], np.int64)),
            ]
            names = [*(c for c, _ in pt_types), "node_id", "parent_id", "subtree_end",
                     "node_type", "tag", "ns", "attrs", "text", "index_within_parent",
                     "src_start", "src_end", "src_start_byte", "src_end_byte"]
            yield pa.RecordBatch.from_arrays(cols, names=names)

    from gumbo_pp_spark.plans.partitioning import ensure_min_parallelism

    pruned = ensure_min_parallelism(df.select(*passthrough, "html"))
    return pruned.mapInArrow(fn, schema)


DOM_STATS_FIELDS = (
    "n_elements bigint, n_links bigint, text_chars bigint, "
    "link_text_chars bigint, max_depth bigint, link_density_e4 bigint"
)


def dom_stats_program(nt: NodeTable) -> dict:
    """Per-page DOM statistics for boilerplate heuristics (the
    link-density family used by CC-scale extraction pipelines):
    element/link counts, textual mass, text mass inside <a> subtrees,
    max tree depth, and link density (link_text/text, e4-scaled).

    All vectorized: depth is an interval-containment count (each
    node's subtree paints [i+1, subtree_end)), link text reuses the
    subtree-painting kernel from the boilerplate strip."""
    from ..nodetable import ELEMENT

    t = nt.type
    textual = (t == TEXT) | (t == WHITESPACE) | (t == CDATA)
    text_lens = np.where(textual, nt.text_lengths(), 0)
    a_roots = np.nonzero(nt.tag_name == "a")[0]
    link_chars = 0
    if len(a_roots):
        in_a = _excluded_mask(nt, a_roots)
        link_chars = int(text_lens[in_a].sum())
    # depth[j] = number of strictly-containing intervals
    diff = np.zeros(nt.n + 1, dtype=np.int32)
    idx = np.arange(nt.n)
    np.add.at(diff, idx + 1, 1)
    np.subtract.at(diff, nt.subtree_end, 1)
    depth = np.cumsum(diff[: nt.n])
    text_chars = int(text_lens.sum())
    return {
        "n_elements": int((t == ELEMENT).sum()),
        "n_links": int(len(a_roots)),
        "text_chars": text_chars,
        "link_text_chars": link_chars,
        "max_depth": int(depth.max()) if nt.n else 0,
        # half-UP rounding (Python round() is banker's; DuckDB/Spark
        # round half away from zero — 312.5 must be 313 on both sides)
        "link_density_e4": int(10000.0 * link_chars / text_chars + 0.5) if text_chars else 0,
    }


def dom_stats(df: DataFrame, passthrough=("doc_id",)) -> DataFrame:
    """Map-only DOM-statistics stage (no shuffle; scan pruned to
    passthrough+html like every run_program stage)."""
    return run_program(df, dom_stats_program, DOM_STATS_FIELDS, passthrough)


def count_matches_program(matcher) -> Callable[[NodeTable], dict]:
    def program(nt: NodeTable) -> dict:
        return {"n_matches": int(matcher(nt).sum())}

    return program


def all_matches_program(
    matcher,
    attr: str = "href",
    out_col: str = "hrefs",
) -> Callable[[NodeTable], dict]:
    """Collect ``attr`` from EVERY node matching ``matcher`` (document
    order) — the find_if→find_iterator loop of the reference driver
    (reference: include/gumbo_pp/gumbo_algorithms.hpp find_iterator)
    vectorized to one mask + one gather."""
    import numpy as np

    def program(nt: NodeTable) -> dict:
        ids = np.nonzero(matcher(nt))[0]
        vals = []
        for i in ids:
            a = nt.attrs[int(i)]
            v = a.get(attr) if a is not None else None
            if v is not None:
                vals.append(v)
        return {out_col: vals}

    return program


def extract_links(df: DataFrame, passthrough=("doc_id", "url")) -> DataFrame:
    """(passthrough..., href) — one row per anchor with an href, in
    document order.  Map-only: the per-doc program returns the href
    ARRAY (no node-table explode), and the only row-multiplying step
    is the JVM-side explode of that small array."""
    from .. import matchers as m

    out = run_program(df, all_matches_program(m.tag.A), "hrefs array<string>", passthrough)
    return out.select(*passthrough, F.explode("hrefs").alias("href"))


def link_graph(df: DataFrame) -> DataFrame:
    """Host-level link graph from parsed anchors:
    (src_host, dst_host, n_links).  The web-graph construction stage —
    feeds :func:`gumbo_pp_spark.operators.graph.pagerank`.

    Scale shape: parse+collect is the map-only extraction stage; the
    single shuffle is the (src_host, dst_host)-keyed count with
    map-side combine (edge-type cardinality ≪ anchor cardinality, so
    partials collapse hard); skewed hub hosts are exactly the
    ``salt_skewed_keys`` case when an edge-level (not host-level)
    downstream needs balance."""
    links = extract_links(df)
    host = "https?://([^/]+)"
    return (
        links.withColumn("src_host", F.regexp_extract("url", host, 1))
        .withColumn("dst_host", F.regexp_extract("href", host, 1))
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_links"))
    )


# ----------------------------------------------------------------------
# kernel: density-scored main-block selection (DOM heuristics)
# ----------------------------------------------------------------------
# the classic readability negative hints; bare "ad" deliberately needs
# a token edge ("heading" must not match)
_NEG_HINT = re.compile(
    r"nav|menu|footer|header|sidebar|aside|comment|share|promo|related"
    r"|banner|breadcrumb|(^|[-_ ])ads?([-_ ]|$)",
    re.I,
)
_CANDIDATE_TAGS = frozenset("body div main article section td".split())
_CAND_LUT = np.zeros(max(TAG_IDS.values()) + 2, dtype=bool)
_CAND_LUT[[TAG_IDS[t] for t in _CANDIDATE_TAGS]] = True
_A_ID = TAG_IDS["a"]
LINK_PENALTY = 5

DENSITY_FIELDS = (
    "block_tag string, block_text string, text_chars bigint, "
    "link_chars bigint, score bigint, n_candidates int"
)


def density_extract_program(nt: NodeTable) -> dict:
    """Readability/boilerpipe-family main-CONTENT-BLOCK selection (the
    north rule's "DOM heuristics" beside the fixed tag-list strip of
    ``main_text_program``), as vectorized interval kernels:

    1. EXCLUDE chrome: the flagship boilerplate tags PLUS elements
       whose class/id matches the classic negative hints
       (nav|menu|footer|sidebar|…) — subtree-painted out.
    2. SCORE every candidate block (body/div/main/article/section/td
       not excluded): ``kept_text_chars − 5 × kept_link_text_chars``
       — a link farm with much anchor text scores negative, prose
       scores its length (boilerpipe's link-density signal in integer
       form).
    3. PICK the max score; ties go to the SMALLEST subtree, then the
       latest preorder id — so a wrapper chain (body > div > main >
       article) resolves to the innermost block holding the text.

    Output text is the kept (chrome-stripped) text of the winning
    block, content_text semantics (document order, no separators).
    """
    t = nt.type
    tag_id = nt.tag_id
    textual = _TEXTUAL_LUT[t]
    text_lens = np.where(textual, nt.text_lengths(), 0)

    bad = np.nonzero(_BOILER_LUT[tag_id])[0]
    cls = nt.attr_values("class")
    idv = nt.attr_values("id")
    hinted = np.nonzero(((cls != None) | (idv != None)) & (t == ELEMENT))[0]  # noqa: E711
    if len(hinted):
        hint_bad = [
            int(i)
            for i in hinted
            if _NEG_HINT.search((cls[i] or "") + " " + (idv[i] or ""))
        ]
        if hint_bad:
            bad = np.union1d(bad, np.asarray(hint_bad, dtype=np.int64))
    excluded = _excluded_mask(nt, bad) if len(bad) else np.zeros(nt.n, dtype=bool)

    kept = np.where(excluded, 0, text_lens)
    a_roots = np.nonzero((tag_id == _A_ID) & ~excluded)[0]
    in_a = _excluded_mask(nt, a_roots) if len(a_roots) else np.zeros(nt.n, dtype=bool)
    link = np.where(in_a, kept, 0)

    ctext = np.empty(nt.n + 1, dtype=np.int64)
    ctext[0] = 0
    np.cumsum(kept, out=ctext[1:])
    clink = np.empty(nt.n + 1, dtype=np.int64)
    clink[0] = 0
    np.cumsum(link, out=clink[1:])

    cand = np.nonzero(_CAND_LUT[tag_id] & ~excluded)[0]
    empty = {
        "block_tag": None, "block_text": None, "text_chars": None,
        "link_chars": None, "score": None, "n_candidates": int(len(cand)),
    }
    if len(cand) == 0:
        return empty
    se = nt.subtree_end[cand]
    tc = ctext[se] - ctext[cand]
    lc = clink[se] - clink[cand]
    score = tc - LINK_PENALTY * lc
    order = np.lexsort((-cand, se - cand, -score))
    w = int(cand[order[0]])
    wi = int(order[0])
    if tc[wi] == 0:
        return empty
    lo, hi = w, int(nt.subtree_end[w])
    ids = np.nonzero(textual[lo:hi] & ~excluded[lo:hi])[0] + lo
    return {
        "block_tag": str(nt.tag_name[w]),
        "block_text": "".join(nt.text[ids].tolist()),
        "text_chars": int(tc[wi]),
        "link_chars": int(lc[wi]),
        "score": int(score[wi]),
        "n_candidates": int(len(cand)),
    }


def density_extract(df: DataFrame, passthrough=("doc_id",)) -> DataFrame:
    """Map-only density-scored block extraction (same execution shape
    as the flagship: pruned scan → mapInArrow → columns, no shuffle)."""
    return run_program(df, density_extract_program, DENSITY_FIELDS, passthrough=passthrough)


# ----------------------------------------------------------------------
# head metadata: canonical link + robots directives (crawl hygiene)
# ----------------------------------------------------------------------
HEAD_META_FIELDS = "title string, canonical string, robots string"


def head_meta_program() -> Callable[[NodeTable], dict]:
    """<head> signals a CC-style pipeline reads before dedup/indexing:
    rel=canonical (mirror-cluster collapse), meta robots (index
    gating), title.  Selectors are CSS strings — the css.py front-end
    feeding a production program."""
    from ..css import css

    progs = [
        select_first_program(css("head > title"), {"title": "content"}),
        select_first_program(css('link[rel=canonical]'), {"canonical": "attr:href"}),
        select_first_program(css('meta[name=robots]'), {"robots": "attr:content"}),
    ]

    def program(nt: NodeTable) -> dict:
        out: dict = {}
        for p in progs:
            out.update(p(nt))
        return out

    return program


def extract_head_meta(df: DataFrame, passthrough=("doc_id",)) -> DataFrame:
    """Map-only head-metadata extraction; adds ``indexable`` (no
    'noindex' directive — absent robots meta defaults to indexable,
    per the robots-meta convention)."""
    out = run_program(df, head_meta_program(), HEAD_META_FIELDS, passthrough=passthrough)
    return out.withColumn(
        "indexable",
        F.coalesce(~F.col("robots").contains("noindex"), F.lit(True)),
    )


# ----------------------------------------------------------------------
# structured page metadata: OpenGraph + JSON-LD (the webtext tier's
# provenance columns: title/type/date for filtering and dating)
# ----------------------------------------------------------------------
PAGE_META_FIELDS = (
    "og_title string, og_type string, published string, jsonld string"
)


def page_meta_program() -> Callable[[NodeTable], dict]:
    """OpenGraph <meta property=og:*> + the first ld+json script
    payload.  The JSON-LD body is extracted RAW here — parsing it is
    JVM-side ``get_json_object`` in :func:`extract_page_meta` (the
    kernel ships one string per page; Catalyst's JSON path evaluation
    stays in codegen, not Python)."""
    from ..css import css

    progs = [
        select_first_program(
            css('meta[property="og:title"]'), {"og_title": "attr:content"}
        ),
        select_first_program(
            css('meta[property="og:type"]'), {"og_type": "attr:content"}
        ),
        select_first_program(
            css('meta[property="article:published_time"]'),
            {"published": "attr:content"},
        ),
        select_first_program(
            css('script[type="application/ld+json"]'), {"jsonld": "content"}
        ),
    ]

    def program(nt: NodeTable) -> dict:
        out: dict = {}
        for p in progs:
            out.update(p(nt))
        return out

    return program


def extract_page_meta(df: DataFrame, passthrough=("doc_id",)) -> DataFrame:
    """Map-only OpenGraph/JSON-LD metadata stage.  JSON-LD fields
    (`@type`, headline, datePublished) are projected with
    ``get_json_object`` — whole-stage-codegen JSON path evaluation
    over the one raw string the kernel extracted."""
    out = run_program(df, page_meta_program(), PAGE_META_FIELDS, passthrough=passthrough)
    return out.select(
        *passthrough,
        "og_title",
        "og_type",
        "published",
        F.get_json_object("jsonld", "$['@type']").alias("ld_type"),
        F.get_json_object("jsonld", "$.headline").alias("ld_headline"),
        F.get_json_object("jsonld", "$.datePublished").alias("ld_published"),
    )


# ----------------------------------------------------------------------
# anchor-text aggregation (per-target link text — the classic search/
# quality signal: what the WEB calls a page, not what the page calls
# itself)
# ----------------------------------------------------------------------
def anchor_texts_program(nt: NodeTable) -> dict:
    """Parallel (hrefs, texts) arrays for every <a> carrying an href,
    document order; content text via the vectorized prefix-sum kernel."""
    from .. import matchers as m

    ids = np.nonzero(m.tag.A(nt))[0]
    hrefs: list[str] = []
    keep: list[int] = []
    for i in ids:
        a = nt.attrs[i]
        h = a.get("href") if a else None
        if h is not None:
            hrefs.append(h)
            keep.append(int(i))
    return {"hrefs": hrefs, "texts": nt.content_text_many(keep)}


def extract_anchor_texts(df: DataFrame, passthrough=("doc_id",)) -> DataFrame:
    """(passthrough..., href, anchor_text) — one row per anchor.  The
    kernel ships two small parallel arrays per page; the only
    row-multiplying step is the JVM-side arrays_zip + explode."""
    out = run_program(
        df, anchor_texts_program,
        "hrefs array<string>, texts array<string>", passthrough,
    )
    return out.select(
        *passthrough, F.explode(F.arrays_zip("hrefs", "texts")).alias("z")
    ).select(
        *passthrough,
        F.col("z.hrefs").alias("href"),
        F.col("z.texts").alias("anchor_text"),
    )


def anchor_text_stats(pairs: DataFrame) -> DataFrame:
    """Per-target anchor-text profile: ``href, n_refs, n_texts,
    min_text`` (min = deterministic representative).

    Scale shape: ONE hash shuffle on href with map-side partial
    count/min; countDistinct rewrites to a two-phase partial under
    AQE.  Hub targets (every page linking "home") collapse map-side —
    the same skew argument as canonical_url_collapse."""
    return pairs.groupBy("href").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_refs"),
        F.countDistinct("anchor_text").cast("bigint").alias("n_texts"),
        F.min("anchor_text").alias("min_text"),
    )

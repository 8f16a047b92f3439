"""Seeded input generator for the benchmark workloads.

Every page is built in-process from a seeded ``random.Random`` and a
fixed pseudo-word vocabulary, so the same ``(workload, seed)`` always
gives the same bytes and nothing is read from outside the checkout.

    python3 perfbench/workloads.py --workload extract_webmix --seed 3

prints the workload's properties (docs, MB, share per engagement
class, parse-error share, top-host share, size percentiles) as one
JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("extract_webmix", "query_matchers")

# engagement classes: which decode / engine path a page takes
ASCII, CRLF, UTF8, UTF8_CRLF, INVALID, BAIL = (
    "ascii", "crlf", "utf8", "utf8_crlf", "invalid_utf8", "py_bail",
)

# the selector the query workload compiles (tag / class / attribute /
# content-text combinators, gumbo_pp matcher style)
QUERY_SELECTOR = [
    "and",
    ["tag", "a"],
    ["class_token", "ext"],
    ["attr_starts_with", "href", "https://"],
    ["not", ["content_contains", "sponsored"]],
]


def _vocab() -> tuple[list[str], list[float], list[str]]:
    """Fixed (seed-independent) pseudo-word vocabulary with cumulative Zipf weights,
    plus a multibyte word list for the UTF-8 classes."""
    rng = random.Random(0)
    syll = ["ka", "lo", "mi", "ne", "tu", "ra", "si", "vo", "de", "pa", "gri", "sto",
            "an", "el", "or", "ul", "ber", "cam", "fin", "hol", "jun", "mor", "ter"]
    words: list[str] = []
    seen = set()
    while len(words) < 2000:
        w = "".join(rng.choice(syll) for _ in range(rng.randint(1, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    cum, acc = [], 0.0
    for i in range(len(words)):
        acc += 1.0 / (i + 1) ** 0.9
        cum.append(acc)
    multi = ["café", "naïve", "façade", "über", "straße", "grüße", "señor", "crème",
             "москва", "данные", "привет", "東京", "データ", "検索", "中文", "ελληνικά",
             "αλφα", "עברית", "عربى", "emoji😀", "Ωmega", "ångström", "smørrebrød"]
    return words, cum, multi


WORDS, CUM_WEIGHTS, MULTI = _vocab()


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


@dataclass
class Page:
    doc_id: int
    url: str
    html: bytes
    cls: str = ASCII


@dataclass
class Workload:
    """``pages`` are the distinct base pages; the job's input holds
    ``copies`` of each, under their own doc id and url (copy ``r`` of
    base page ``i`` is doc ``r * len(pages) + i``)."""

    name: str
    seed: int
    pages: list[Page]
    copies: int = 1
    # the in-process parser / matcher sample (base doc ids)
    sample_ids: list[int] = field(default_factory=list)

    @property
    def n_docs(self) -> int:
        return self.copies * len(self.pages)

    @property
    def in_bytes(self) -> int:
        return self.copies * sum(len(p.html) for p in self.pages)

    def write_parquet(self, path: str, n_files: int = 16, limit: int | None = None,
                      copies: int | None = None) -> None:
        """Write the first ``limit`` docs (default all) of ``copies``
        (default ``self.copies``) copies of the pages as ``n_files``
        parquet files (doc_id, url, html, base_id)."""
        os.makedirs(path, exist_ok=True)
        n = len(self.pages)
        docs = [(r * n + p.doc_id, p, r) for r in range(copies or self.copies) for p in self.pages][:limit]
        per = -(-len(docs) // n_files)
        for f in range(n_files):
            chunk = docs[f * per:(f + 1) * per]
            if not chunk:
                break
            tbl = pa.table({
                "doc_id": pa.array([d for d, _p, _r in chunk], pa.int64()),
                "url": pa.array([p.url if r == 0 else f"{p.url}-{r}" for _d, p, r in chunk], pa.string()),
                "html": pa.array([p.html for _d, p, _r in chunk], pa.binary()),
                "base_id": pa.array([p.doc_id for _d, p, _r in chunk], pa.int64()),
            })
            pq.write_table(tbl, os.path.join(path, f"part-{f:05d}.parquet"))


class _Gen:
    def __init__(self, seed: int, salt: str):
        self.r = random.Random(f"{salt}:{seed}")

    def words(self, n: int, multibyte: float = 0.0) -> str:
        ws = self.r.choices(WORDS, cum_weights=CUM_WEIGHTS, k=n)
        if multibyte:
            for i in range(n):
                if self.r.random() < multibyte:
                    ws[i] = self.r.choice(MULTI)
        return " ".join(ws)

    def sentence_text(self, n_words: int, multibyte: float = 0.0) -> str:
        return _esc(self.words(n_words, multibyte)) + (" AT&amp;T" if self.r.random() < 0.1 else "")

    def deal(self, n: int, shares: list[tuple[object, float]], rest: object) -> list:
        """``n`` labels with exactly ``round(share * n)`` of each, the
        remainder ``rest``, in seeded order."""
        out: list = []
        for label, share in shares:
            out += [label] * round(share * n)
        out += [rest] * (n - len(out))
        self.r.shuffle(out)
        return out

    def nav(self, host: str, n: int) -> str:
        items = "".join(
            f'<li class="nav-item"><a href="https://{host}/{self.words(1)}">{self.words(1)}</a></li>'
            for _ in range(n)
        )
        return f'<nav class="menu"><ul>{items}</ul></nav>'


def _doc(title: str, head_extra: str, body: str) -> str:
    return (f"<!DOCTYPE html><html><head><title>{title}</title>{head_extra}</head>"
            f"<body>{body}</body></html>")


def _article(g: _Gen, doc_id: int, host: str, n_par: int, words_per: int,
             multibyte: float = 0.0, nl: str = "\n") -> str:
    paras = nl.join(
        f'<p class="body">{g.sentence_text(words_per, multibyte)}</p>' for _ in range(n_par)
    )
    return (
        g.nav(host, 4) + nl
        + f'<div id="doc-{doc_id}" class="doc"><main><article><h1>Heading {doc_id}</h1>' + nl
        + paras + nl + "</article></main></div>" + nl
        + f'<footer><p class="fine">source {host}</p></footer>'
    )


def _dense_body(g: _Gen, doc_id: int, host: str, multibyte: float, nl: str) -> str:
    rows = "".join(
        f'<tr class="row"><td>{g.words(2, multibyte)}</td><td class="price">{g.r.randint(1, 999)}.99</td>'
        f'<td><a class="ext" href="https://shop{g.r.randrange(50)}.example.net/p/{g.r.randrange(10**6)}">'
        f'{g.words(2, multibyte)}</a></td></tr>' + nl
        for _ in range(g.r.randint(8, 20))
    )
    lists = "".join(
        "<ul>" + "".join(f"<li>{g.words(3, multibyte)}<ul><li>{g.words(2)}</li></ul></li>"
                         for _ in range(4)) + "</ul>"
        for _ in range(2)
    )
    return (g.nav(host, 20) + nl + f'<div id="doc-{doc_id}" class="doc dense"><h1>Table {doc_id}</h1>'
            + f'<table class="grid"><tbody>{rows}</tbody></table>{lists}'
            + f'<p class="body">{g.sentence_text(80, multibyte)}</p></div>')


def _misnested_body(g: _Gen, doc_id: int, multibyte: float, nl: str) -> str:
    w = lambda n: g.sentence_text(n, multibyte)  # noqa: E731
    return (
        f'<div id="doc-{doc_id}"><p><b>{w(8)} <i>{w(8)}</b> {w(8)}</i></p>' + nl
        + f"<p>{w(40)}</span></div></em><table><td>{w(6)}<tr><td>{w(6)}</table>" + nl
        + f"<p>{w(30)}<div>{w(30)}</p></div><a href=/x><a href=/y>{w(4)}</a>"
        + f"<ul><li>{w(10)}<li>{w(10)}</ul><p>{w(60)}"
    )


def _svg_body(g: _Gen, doc_id: int, multibyte: float, nl: str) -> str:
    return (
        f'<div id="doc-{doc_id}"><svg viewBox="0 0 10 10"><circle r="4"/><text>{g.words(3)}</text>'
        f"<foreignObject><p>{g.sentence_text(20, multibyte)}</p></foreignObject></svg>" + nl
        + f"<template><p>{g.words(12)}</p></template>"
        + f"<math><mi>x</mi></math><p>{g.sentence_text(120, multibyte)}</p>" + nl
        + f"<p>{g.sentence_text(120, multibyte)}</p></div>"
    )


def gen_extract_webmix(seed: int, n_docs: int = 1800, copies: int = 8) -> Workload:
    """Common-Crawl-like mix: half multibyte UTF-8 and/or CRLF, 3%
    invalid UTF-8, markup-dense / misnested / svg+template pages, 1.5%
    of the C engine's bail class (NUL inside colgroup), one host with
    half the pages and two large (~1.4 and ~2.8 MB) pages; ``copies``
    copies of each.  Every share is an exact count, so the work per run
    does not vary with the seed."""
    g = _Gen(seed, "webmix")
    classes = g.deal(n_docs, [(UTF8, 0.25), (CRLF, 0.15), (UTF8_CRLF, 0.10)], ASCII)
    shapes = g.deal(n_docs, [("dense", 0.20), ("misnested", 0.10), ("svg", 0.05)], "article")
    faults = g.deal(n_docs, [(INVALID, 0.03), (BAIL, 0.015)], None)
    heavy = g.deal(n_docs + 2, [(True, 0.5)], False)
    pages = []
    for i in range(n_docs + 2):
        host = "bighost.example.com" if heavy[i] else f"site{g.r.randrange(300)}.example.org"
        cls = classes[i] if i < n_docs else (UTF8, ASCII)[i - n_docs]
        shape = shapes[i] if i < n_docs else "tail"
        mb = 0.08 if cls in (UTF8, UTF8_CRLF) else 0.0
        nl = "\r\n" if cls in (CRLF, UTF8_CRLF) else "\n"
        if shape == "tail":
            body = _article(g, i, host, 2800 * (i - n_docs + 1), 60, mb, nl)
        elif shape == "dense":
            body = _dense_body(g, i, host, mb, nl)
        elif shape == "misnested":
            body = _misnested_body(g, i, mb, nl)
        elif shape == "svg":
            body = _svg_body(g, i, mb, nl)
        else:
            body = _article(g, i, host, g.r.randint(6, 18), 60, mb, nl)
        raw = _doc(f"Doc {i}", '<meta charset="utf-8">', body).encode("utf-8")
        fault = faults[i] if i < n_docs else None
        if fault == INVALID:
            # a stray continuation byte / truncated sequence mid-text
            cut = raw.index(b'<p', len(raw) // 3)
            raw = raw[:cut] + g.r.choice([b"\xff", b"\xc3(", b"\xe2\x82"]) + raw[cut:]
            cls = INVALID
        elif fault == BAIL:
            cut = raw.index(b"</body>")
            raw = raw[:cut] + b"<table><colgroup>\x00<col></colgroup><tr><td>x</td></tr></table>" + raw[cut:]
            cls = BAIL
        pages.append(Page(i, f"https://{host}/doc/{i}", raw, cls))
    return Workload("extract_webmix", seed, pages, copies, sample_ids=_sample(g, n_docs))


def gen_query_matchers(seed: int, n_docs: int = 750, copies: int = 8) -> Workload:
    """Markup-dense pages (nav, product tables, nested lists) with
    ``a.ext`` links, some marked sponsored, for the selector query;
    ``copies`` copies of each."""
    g = _Gen(seed, "query")
    heavy = g.deal(n_docs, [(True, 0.2)], False)
    sponsored = g.deal(n_docs, [(True, 0.3)], False)
    pages = []
    for i in range(n_docs):
        host = "bighost.example.com" if heavy[i] else f"site{g.r.randrange(200)}.example.org"
        body = _dense_body(g, i, host, 0.0, "\n")
        if sponsored[i]:
            body += f'<a class="ext promo" href="https://ads.example.com/{i}">sponsored offer</a>'
        html = _doc(f"Doc {i}", "", body)
        pages.append(Page(i, f"https://{host}/doc/{i}", html.encode("ascii")))
    return Workload("query_matchers", seed, pages, copies, sample_ids=_sample(g, n_docs))


def _sample(g: _Gen, n_docs: int, k: int = 200) -> list[int]:
    return sorted(g.r.sample(range(n_docs), min(k, n_docs)))


GENERATORS = {
    "extract_webmix": gen_extract_webmix,
    "query_matchers": gen_query_matchers,
}


def generate(name: str, seed: int) -> Workload:
    if name not in GENERATORS:
        raise ValueError(f"unknown workload {name!r}; choose from {', '.join(WORKLOADS)}")
    return GENERATORS[name](seed)


def _pct(vals: list[int], q: float) -> int:
    s = sorted(vals)
    return s[min(len(s) - 1, int(q * len(s)))]


def describe(w: Workload) -> dict:
    """Input properties of a generated workload."""
    from gumbo_pp_spark.parser.html5 import parse_html

    n = len(w.pages)
    sizes = [len(p.html) for p in w.pages]
    classes: dict[str, int] = {}
    hosts: dict[str, int] = {}
    for p in w.pages:
        classes[p.cls] = classes.get(p.cls, 0) + 1
        h = p.url.split("/")[2]
        hosts[h] = hosts.get(h, 0) + 1
    by_id = {p.doc_id: p for p in w.pages}
    err_docs = sum(1 for d in w.sample_ids if parse_html(by_id[d].html).parse_errors > 0)
    out = {
        "workload": w.name,
        "seed": w.seed,
        "base_pages": n,
        "copies": w.copies,
        "docs": w.n_docs,
        "mb": round(w.in_bytes / 1e6, 3),
        "class_share": {k: round(v / n, 4) for k, v in sorted(classes.items())},
        "parse_error_share_sample": round(err_docs / max(1, len(w.sample_ids)), 4),
        "top_host_share": round(max(hosts.values()) / n, 4),
        "size_bytes_p50_p90_p99_max": [_pct(sizes, 0.5), _pct(sizes, 0.9), _pct(sizes, 0.99), max(sizes)],
    }
    return out


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    print(json.dumps(describe(generate(a.workload, a.seed))))

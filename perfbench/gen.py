"""Seeded, deterministic input generator for the three benchmark workloads.

Pure Python + numpy: no Spark here, so the same seed gives the same pages
in any process. Every page is a PageXML-like document of the shape the
package parses (``PcGts/Page/TextRegion/Coords/TextLine/TextEquiv/Unicode``,
labels in ``custom="structure {type:...;}"``). The generator also keeps
what it planted, which is what the output checks compare against:

- ``expected_text``: the main-content text the extractor must return,
  byte for byte (the words of every paragraph/heading region in reading
  order, single-space joined);
- ``kind``: ``ok``, ``malformed`` (truncated bytes; must be skipped),
  ``oversize`` (more regions than the workload's node cap; must be
  truncated and audited) or ``snapshot`` (an older copy of a url that
  url dedup must drop);
- ``n_regions`` and, for oversize pages, ``truncated_text``.

Layout (the order the regions are written is their reading order, so
head-truncation in document order keeps a reading-order prefix):

- a normal page has a header, 1-5 content blocks of 1-4 lines, a
  page number and a footer; a document spills onto more pages as needed;
- a dense page (``layout`` only) is a two-column grid of one-line
  five-word blocks with 33-47 regions, so the line-of-sight kernel runs its >= 32-node
  branch; normal pages stay under 32 nodes.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
from dataclasses import dataclass, field

import numpy as np

PAGE_W, PAGE_H = 1240, 3000
X_LEFT, X_RIGHT = 150, 1090
LINE_H, BLOCK_GAP = 50, 30
EPOCH = _dt.datetime(2024, 1, 1)
N_HOSTS = 50

# Node cap the extract workload passes to extract_from_pages /
# parse_overflows (the extract job's --max-nodes-per-doc); oversize pages
# carry more TextRegions than this.
NODE_CAP = 128
DENSE_NODES_MIN = 32

_SYL = ["ka", "lo", "mi", "ne", "ru", "ta", "si", "po", "de", "fa", "gu", "ha",
        "jo", "be", "vi", "zo", "ch", "qu", "st", "tr", "an", "el", "or", "us"]


def _vocab() -> tuple[list[str], np.ndarray]:
    """Fixed 4000-word vocabulary (independent of the workload seed) with
    Zipf(1.1) word frequencies; a few words carry '&' so XML escaping is
    on the extraction path."""
    rng = np.random.default_rng(20240101)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < 4000:
        w = "".join(_SYL[i] for i in rng.integers(0, len(_SYL), int(rng.integers(1, 4))))
        if len(words) % 397 == 7:
            w = w + "&" + _SYL[len(words) % len(_SYL)]
        if w not in seen:
            seen.add(w)
            words.append(w)
    p = 1.0 / np.arange(1, len(words) + 1) ** 1.1
    return words, np.cumsum(p / p.sum())


VOCAB, _VOCAB_CDF = _vocab()


@dataclass
class Page:
    doc_id: int
    url: str
    warc_ts: _dt.datetime
    html: bytes
    expected_text: str
    kind: str = "ok"
    n_regions: int = 0
    max_page_nodes: int = 0
    truncated_text: str | None = None


@dataclass
class Workload:
    name: str
    seed: int
    pages: list[Page]
    # corpus only: doc_id groups planted as exact duplicates / near-dup chains
    exact_clusters: list[list[int]] = field(default_factory=list)
    near_chains: list[list[int]] = field(default_factory=list)

    def digest(self) -> str:
        h = hashlib.sha1()
        for p in self.pages:
            h.update(p.url.encode())
            h.update(str(p.warc_ts).encode())
            h.update(hashlib.sha1(p.html).digest())
        return h.hexdigest()

    def properties(self) -> dict:
        """What the run record says about its input."""
        n = len(self.pages)
        kinds = [p.kind for p in self.pages]
        sizes = [len(c) for c in self.exact_clusters]
        return {
            "docs": n,
            "html_mb": round(sum(len(p.html) for p in self.pages) / 2**20, 3),
            "dense_share": round(sum(p.max_page_nodes >= DENSE_NODES_MIN for p in self.pages) / n, 4),
            "truncated_share": round(kinds.count("oversize") / n, 4),
            "malformed_share": round(kinds.count("malformed") / n, 4),
            "exact_dup_share": round(sum(sizes) / n, 4),
            "largest_dup_cluster": max(sizes, default=0),
            "url_snapshot_dups": kinds.count("snapshot"),
            "near_dup_chains": len(self.near_chains),
            "digest": self.digest(),
        }


def _words(rng: np.random.Generator, n: int) -> list[str]:
    idx = np.searchsorted(_VOCAB_CDF, rng.random(n))
    return [VOCAB[min(int(i), len(VOCAB) - 1)] for i in idx]


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _region(rid: str, label: str, x1: int, y1: int, x2: int, lines: list[str], lh: int) -> str:
    y2 = y1 + lh * len(lines) - 10
    parts = [f'<TextRegion id="{rid}" custom="structure {{type:{label};}}">'
             f'<Coords points="{x1},{y1} {x2},{y1} {x2},{y2} {x1},{y2}"/>']
    for li, text in enumerate(lines):
        ly1 = y1 + li * lh
        ly2 = ly1 + lh - 10
        parts.append(f'<TextLine id="{rid}_l{li}"><Coords points="{x1},{ly1} {x2},{ly1} '
                     f'{x2},{ly2} {x1},{ly2}"/><TextEquiv><Unicode>{_esc(text)}</Unicode>'
                     f"</TextEquiv></TextLine>")
    parts.append("</TextRegion>")
    return "".join(parts)


def _chunks(rng: np.random.Generator, items: list, lo: int, hi: int) -> list[list]:
    out, i = [], 0
    while i < len(items):
        n = int(rng.integers(lo, hi + 1))
        out.append(items[i:i + n])
        i += n
    return out


def render(doc_id: int, words: list[str], rng: np.random.Generator,
           dense: bool = False) -> tuple[bytes, list[tuple[str, str]], int]:
    """Render one document. Returns (html, [(label, region_text)] in
    reading order, max regions on one page)."""
    host = int(doc_id * 2654435761 % N_HOSTS)
    hdr = f"site{host:03d} navigation home about contact"
    ftr = f"copyright site{host:03d} terms privacy sitemap"
    if dense:
        cells = [words[i:i + 5] for i in range(0, len(words), 5)]
        per_page = [cells[i:i + 44] for i in range(0, len(cells), 44)]
    else:
        blocks = _chunks(rng, _chunks(rng, words, 4, 8), 1, 4)
        per_page = _chunks(rng, blocks, 1, 5)
    pages_xml: list[str] = []
    regions: list[tuple[str, str]] = []
    max_nodes = 0
    for pnum, content in enumerate(per_page, start=1):
        rs = [_region(f"p{pnum}_hdr", "header", X_LEFT, 40, X_RIGHT, [hdr], LINE_H)]
        regions.append(("header", hdr))
        if dense:
            for ci, cell in enumerate(content):
                row, col = divmod(ci, 2)
                x1, x2 = (X_LEFT, 600) if col == 0 else (640, X_RIGHT)
                text = " ".join(cell)
                rs.append(_region(f"p{pnum}_c{ci}", "paragraph", x1, 150 + row * 60, x2, [text], 50))
                regions.append(("paragraph", text))
        else:
            y = 150
            for bi, blines in enumerate(content):
                label = "heading" if pnum == 1 and bi == 0 and len(blines) == 1 else "paragraph"
                x1 = X_LEFT + 2 * int(rng.integers(0, 10))
                x2 = X_RIGHT - 2 * int(rng.integers(0, 10))
                texts = [" ".join(ln) for ln in blines]
                rs.append(_region(f"p{pnum}_b{bi}", label, x1, y, x2, texts, LINE_H))
                regions.append((label, " ".join(texts)))
                y += LINE_H * len(blines) + BLOCK_GAP
        rs.append(_region(f"p{pnum}_pn", "page-number", 600, 2860, 640, [str(pnum)], LINE_H))
        rs.append(_region(f"p{pnum}_ftr", "other", X_LEFT, 2920, X_RIGHT, [ftr], LINE_H))
        regions += [("page-number", str(pnum)), ("other", ftr)]
        max_nodes = max(max_nodes, len(rs))
        pages_xml.append(f'<Page n="{pnum}" imageWidth="{PAGE_W}" imageHeight="{PAGE_H}">'
                         + "".join(rs) + "</Page>")
    html = '<PcGts lang="en">' + "".join(pages_xml) + "</PcGts>"
    return html.encode("utf-8"), regions, max_nodes


def _main_text(regions: list[tuple[str, str]]) -> str:
    return " ".join(t for lab, t in regions if lab in ("paragraph", "heading"))


def url_of(doc_id: int) -> str:
    """Hosts differ from the package synthesizer's (``hostNNN.example.org``)."""
    return f"https://site{doc_id * 2654435761 % N_HOSTS:03d}.example.net/doc/{doc_id:07d}"


def make_page(doc_id: int, words: list[str], rng: np.random.Generator, dense: bool = False,
              ts_offset: int = 0) -> Page:
    html, regions, max_nodes = render(doc_id, words, rng, dense)
    page = Page(doc_id, url_of(doc_id), EPOCH + _dt.timedelta(seconds=37 * doc_id + ts_offset),
                html, _main_text(regions), n_regions=len(regions), max_page_nodes=max_nodes)
    if len(regions) > NODE_CAP:
        page.kind = "oversize"
        page.truncated_text = _main_text(regions[:NODE_CAP])
    return page


def _malform(page: Page, rng: np.random.Generator) -> None:
    """Cut the document inside its markup: an XML parse error."""
    cut = int(rng.integers(len(page.html) // 4, len(page.html) // 2))
    page.html = page.html[:cut]
    page.kind = "malformed"


def _plant_malformed(pages: list[Page], share: float, rng: np.random.Generator) -> None:
    ok = [p for p in pages if p.kind == "ok"]
    for i in rng.choice(len(ok), size=round(share * len(pages)), replace=False):
        _malform(ok[int(i)], rng)


def extract_workload(seed: int, n_docs: int = 10000) -> Workload:
    """Unique pages shaped like the sf0.1 documents (8-96 words), 1%
    malformed, 0.25% oversize (1100-1700 words: more than NODE_CAP
    regions over many pages)."""
    rng = np.random.default_rng([seed, 1])
    n_over = round(0.0025 * n_docs)
    pages = []
    for d in range(n_docs):
        n = int(rng.integers(1100, 1700)) if d < n_over else int(rng.integers(8, 97))
        pages.append(make_page(d, _words(rng, n), rng))
    _plant_malformed(pages, 0.01, rng)
    order = rng.permutation(len(pages))
    return Workload("extract", seed, [pages[int(i)] for i in order])


def corpus_workload(seed: int, n_base: int = 3000) -> Workload:
    """A crawl snapshot for the dedup funnel: unique base docs, exact
    duplicate clusters with skewed (Zipf-like) sizes, near-duplicate
    chains (each step appends one word: trigram Jaccard >= 0.95),
    older url snapshots with different content, and 1% malformed pages.

    The seed draws the words; the duplicate structure does not vary with
    it: cluster texts have 60 words (verifying a cluster's k^2/2 pairs
    costs in proportion to its text) and chains have 1, 2 and 3 steps in
    turn, so every seed asks the dedup layers for the same work."""
    rng = np.random.default_rng([seed, 2])
    texts = [_words(rng, int(rng.integers(20, 97))) for _ in range(n_base)]
    next_id = n_base
    exact: list[list[int]] = []
    sizes = [160, 80, 50, 30, 20] + [10] * 6 + [5] * 12 + [2] * 40
    n_chains = n_base // 100
    srcs = rng.choice(n_base, size=len(sizes) + n_chains, replace=False)
    for k in range(len(sizes)):
        texts[int(srcs[k])] = _words(rng, 60)
    pages = [make_page(d, w, rng) for d, w in enumerate(texts)]
    for k, size in enumerate(sizes):
        src = int(srcs[k])
        members = [src]
        for _ in range(size - 1):
            pages.append(make_page(next_id, texts[src], rng))
            members.append(next_id)
            next_id += 1
        exact.append(members)
    chains: list[list[int]] = []
    for k in range(n_chains):
        src = int(srcs[len(sizes) + k])
        words = list(texts[src])
        chain = [src]
        for _ in range(k % 3 + 1):
            words = words + _words(rng, 1)
            pages.append(make_page(next_id, words, rng))
            chain.append(next_id)
            next_id += 1
        chains.append(chain)
    # Older snapshots of 5% of the urls: same url, earlier crawl time, other text.
    for d in rng.choice(n_base, size=n_base // 20, replace=False):
        old = make_page(int(d), _words(rng, int(rng.integers(20, 97))), rng,
                        ts_offset=-86400 * int(rng.integers(1, 30)))
        old.kind = "snapshot"
        pages.append(old)
    _plant_malformed(pages, 0.01, rng)
    order = rng.permutation(len(pages))
    return Workload("corpus", seed, [pages[int(i)] for i in order], exact, chains)


def layout_workload(seed: int, n_docs: int = 200) -> Workload:
    """Pages for the DU graph path: 30% dense (>= 32 nodes on a page),
    the rest normal (< 32), 1% malformed."""
    rng = np.random.default_rng([seed, 3])
    pages = []
    for d in range(n_docs):
        dense = d % 10 < 3
        n = 5 * int(rng.integers(30, 45)) if dense else int(rng.integers(8, 97))
        # ids above the sf0.01 pages' that the layout workload adds
        pages.append(make_page(1_000_000 + d, _words(rng, n), rng, dense=dense))
    _plant_malformed(pages, 0.01, rng)
    order = rng.permutation(len(pages))
    return Workload("layout", seed, [pages[int(i)] for i in order])


WORKLOADS = {"extract": extract_workload, "corpus": corpus_workload, "layout": layout_workload}


def generate(name: str, seed: int) -> Workload:
    return WORKLOADS[name](seed)

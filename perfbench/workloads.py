"""The three benchmark workloads: input set-up, one iteration of the job,
and the output checks.

Each iteration calls the package's public functions in the order the
corresponding job (or DU graph path) calls them. Every call into a layer
goes through ``hook(layer, fn, *args)``: the plain hook just calls ``fn``;
the tracing hook (``tracing.py``) also forces and times the layer's output.
The layer names are the module names the functions live in.
"""

from __future__ import annotations

import json
import math
import shutil
from collections import Counter, defaultdict
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import gen

ROOT = Path(__file__).resolve().parent.parent


def plain_hook(layer, fn, *args, **kw):
    return fn(*args, **kw)


def write_pages(pages: list[gen.Page], path: Path, n_files: int = 16) -> None:
    """Write a pages table (the package's PAGES_SCHEMA columns) as
    ``n_files`` parquet files, like a crawl snapshot."""
    path.mkdir(parents=True)
    schema = pa.schema([("url", pa.string(), False), ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])
    for f in range(n_files):
        part = pages[f::n_files]
        table = pa.table({
            "url": [p.url for p in part],
            "warc_ts": [p.warc_ts for p in part],
            "html": [p.html for p in part],
            "text": [p.expected_text for p in part],
            "lang": ["en"] * len(part),
        }, schema=schema)
        pq.write_table(table, path / f"part-{f:05d}.parquet")


class Workload:
    name = ""

    def __init__(self, spark, data: gen.Workload, work: Path):
        self.spark = spark
        self.data = data
        self.work = work
        self.pages_dir = work / "pages"
        write_pages(self.input_pages(), self.pages_dir)

    def input_pages(self) -> list[gen.Page]:
        return self.data.pages

    def properties(self) -> dict:
        return self.data.properties()

    @property
    def n_pages(self) -> int:
        return len(self.input_pages())

    @property
    def expected_completed(self) -> int:
        """Pages that must come out of an iteration: all but the malformed."""
        return sum(p.kind != "malformed" for p in self.input_pages())

    def warm_up(self, traced: bool) -> None:
        """Timed iterations are fresh jobs, as a spark-submit run is: a
        warm-up iteration costs 10-30 s, which the run budget has no room
        for, and a warm iteration swung more between runs than a cold one.
        A traced run does warm up, since it compares a traced iteration
        with an untraced one and both must run warm."""
        if traced:
            self.run("warm")
            self.clean("warm")

    def out_dir(self, it) -> Path:
        return self.work / f"out-{it}"

    def clean(self, it) -> None:
        shutil.rmtree(self.out_dir(it), ignore_errors=True)
        self.spark.catalog.clearCache()


# --------------------------------------------------------------------------
# extract: jobs/extract_job.py with --max-nodes-per-doc NODE_CAP
# --------------------------------------------------------------------------
class Extract(Workload):
    name = "extract"

    def run(self, it, hook=plain_hook) -> dict:
        from transkribusdu_spark.pipeline.extract import extract_from_pages
        from transkribusdu_spark.pipeline.lineage import run_with_lineage, verify_lineage
        from transkribusdu_spark.pipeline.parse import parse_overflows

        pages = self.spark.read.parquet(str(self.pages_dir))
        extracted = hook("extract", extract_from_pages, pages, max_nodes_per_doc=gen.NODE_CAP)
        overflows = hook("parse", parse_overflows, pages, max_nodes_per_doc=gen.NODE_CAP)
        out = str(self.out_dir(it))
        hook("lineage", run_with_lineage, extracted, out, run_id=f"it{it}",
             input_snapshot=str(self.pages_dir), overflows=overflows)
        lin = hook("lineage", verify_lineage, self.spark, out, expected_docs=-1)
        return {"attempted": self.n_pages, "completed": lin["lineage_docs"], "lineage": lin}

    def check(self, it, res) -> list[str]:
        errs = []
        out = self.out_dir(it)
        got = dict(self.spark.read.parquet(str(out / "extracted"))
                   .select("url", "extracted_text").toPandas().itertuples(index=False))
        want = {p.url: (p.truncated_text if p.kind == "oversize" else p.expected_text)
                for p in self.data.pages if p.kind != "malformed"}
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        if missing:
            errs.append(f"extract: {len(missing)} well-formed docs have no output, e.g. {missing[:3]}")
        if extra:
            errs.append(f"extract: {len(extra)} malformed docs have output, e.g. {extra[:3]}")
        wrong = [u for u in want.keys() & got.keys() if got[u] != want[u]]
        if wrong:
            errs.append(f"extract: {len(wrong)} docs differ from documents.text, e.g. {wrong[:3]}")
        ovf = {(r.url, r.n_nodes) for r in
               self.spark.read.parquet(str(out / "overflows")).select("url", "n_nodes").collect()}
        want_ovf = {(p.url, p.n_regions) for p in self.data.pages if p.kind == "oversize"}
        if ovf != want_ovf:
            errs.append(f"extract: overflow audit has {len(ovf)} rows, planted {len(want_ovf)}")
        lin = res["lineage"]
        if not (lin["lineage_docs"] == lin["output_rows"] == lin["distinct_urls"] == len(want)):
            errs.append(f"extract: lineage {lin} does not cover the {len(want)} expected docs")
        return errs


# --------------------------------------------------------------------------
# corpus: jobs/corpus_job.py (url dedup -> extract -> minhash -> survivors)
# --------------------------------------------------------------------------
class Corpus(Workload):
    name = "corpus"

    def __init__(self, spark, data, work):
        super().__init__(spark, data, work)
        self.expected = expected_survivors(data)

    def run(self, it, hook=plain_hook) -> dict:
        from pyspark.sql import functions as F

        from transkribusdu_spark.ops import dedup, dedupgraph, urls
        from transkribusdu_spark.pipeline.extract import extract_from_pages
        from transkribusdu_spark.pipeline.lineage import run_with_lineage, verify_lineage

        funnel = {}
        pages = self.spark.read.parquet(str(self.pages_dir))
        raw = pages.persist()
        funnel["pages_in"] = raw.count()
        deduped = hook("urls", lambda p: urls.url_dedup_rows(p).drop("canonical_url", "n_snapshots"),
                       raw)
        funnel["after_url_dedup"] = deduped.count()
        extracted = hook("extract", extract_from_pages, deduped).persist()
        funnel["extracted"] = extracted.count()
        raw.unpersist()
        docs = extracted.select("doc_id", F.col("extracted_text").alias("text"))
        pairs = hook("dedup", dedup.minhash_lsh_pairs, docs)
        verdicts = hook("dedupgraph", dedupgraph.dedup_survivors, docs, pairs)
        final = extracted.join(verdicts.filter("survivor").select("doc_id"), "doc_id", "left_semi")
        funnel["after_content_dedup"] = final.count()
        out = str(self.out_dir(it))
        hook("lineage", run_with_lineage, final, out, run_id=f"it{it}",
             input_snapshot=str(self.pages_dir))
        lin = hook("lineage", verify_lineage, self.spark, out,
                   expected_docs=funnel["after_content_dedup"])
        extracted.unpersist()
        failed = funnel["after_url_dedup"] - funnel["extracted"]
        return {"attempted": funnel["pages_in"], "completed": funnel["pages_in"] - failed,
                "funnel": funnel, "lineage": lin}

    def check(self, it, res) -> list[str]:
        errs = []
        got = {r.doc_id for r in self.spark.read.parquet(str(self.out_dir(it) / "extracted"))
               .select("doc_id").collect()}
        if len(got) != len(self.expected):
            errs.append(f"corpus: {len(got)} survivors, independently derived {len(self.expected)}")
        elif got != self.expected:
            errs.append(f"corpus: survivor set differs in {len(got ^ self.expected)} docs")
        lin = res["lineage"]
        if not (lin["complete"] and lin["lineage_docs"] == lin["output_rows"] == len(self.expected)):
            errs.append(f"corpus: lineage {lin} does not cover the survivors")
        return errs


def _shingles(text: str, n: int = 3) -> frozenset:
    toks = text.split(" ")
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def expected_survivors(data: gen.Workload, threshold: float = 0.7) -> set[int]:
    """Single-process survivor set for the corpus funnel: the docs that
    reach extraction (newest snapshot of each url, well-formed), grouped
    into connected components over exact duplicates and word-trigram
    Jaccard >= ``threshold`` pairs; one survivor (min doc_id) each.

    All pairs above the threshold are found exactly with a prefix-filter
    similarity join (two sets with Jaccard >= t share a token among their
    first |s| - ceil(t*|s|) + 1 tokens under one global token order)."""
    texts = {p.doc_id: p.expected_text for p in data.pages if p.kind not in ("snapshot", "malformed")}
    parent = {d: d for d in texts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    by_text = defaultdict(list)
    for d, t in texts.items():
        by_text[t].append(d)
    reps = {}
    for t, ds in by_text.items():
        reps[min(ds)] = _shingles(t)
        for d in ds:
            union(d, min(ds))
    freq = Counter(g for s in reps.values() for g in s)
    index = defaultdict(list)
    for rep in sorted(reps):
        s = reps[rep]
        if not s:
            continue
        prefix = sorted(s, key=lambda g: (freq[g], g))[:len(s) - math.ceil(threshold * len(s)) + 1]
        cands = {c for g in prefix for c in index[g]}
        for c in cands:
            inter = len(s & reps[c])
            if inter / (len(s) + len(reps[c]) - inter) >= threshold:
                union(rep, c)
        for g in prefix:
            index[g].append(rep)
    return {d for d in texts if find(d) == d}


# --------------------------------------------------------------------------
# layout: parse -> edges -> node features + ECN -> edge features -> CC -> hulls
# --------------------------------------------------------------------------
class Layout(Workload):
    """The input is the seed's generated pages plus the 500 pages the
    truth/sf0.01 files were made from, so every run checks the sf0.01
    pages' ECN scores, cc cluster counts and hulls against those files.
    All 500 go in because the host-repetition node features, and so the
    ECN scores, depend on the whole page set; the generated pages use
    other hosts, so they leave those features unchanged."""

    name = "layout"
    truth_dir = ROOT / "truth" / "sf0.01"

    def __init__(self, spark, data, work):
        self.truth_pages = sf001_pages(self.truth_dir)
        super().__init__(spark, data, work)
        with open(ROOT / "truth" / "ecn_weights_sf0.01.json") as fh:
            self.weights = json.load(fh)

    def input_pages(self) -> list[gen.Page]:
        return self.data.pages + self.truth_pages

    def properties(self) -> dict:
        return self.data.properties() | {"docs": self.n_pages, "sf0.01_pages": len(self.truth_pages)}

    def run(self, it, hook=plain_hook) -> dict:
        from pyspark.sql import functions as F

        from transkribusdu_spark.pipeline.ecn import ecn_score
        from transkribusdu_spark.pipeline.edges import build_edges
        from transkribusdu_spark.pipeline.features import (
            NODE_FEATURE_COLS, edge_features, node_features)
        from transkribusdu_spark.pipeline.model import edge_oracle_scores
        from transkribusdu_spark.pipeline.parse import parse_pages
        from transkribusdu_spark.pipeline.segment import clusters_with_hulls, connected_components

        pages = self.spark.read.parquet(str(self.pages_dir))
        # nodes feed five consumers, edges and node features two each
        nodes = hook("parse", parse_pages, pages).persist()
        edges = hook("edges", build_edges, nodes).persist()
        nf = hook("features", node_features, nodes, edges).persist()
        scored = hook("ecn", ecn_score, nf, edges, self.weights, NODE_FEATURE_COLS)
        ecn = {r.url: (r.n_scored, r.n_main_pred) for r in scored.groupBy("url").agg(
            F.count("*").alias("n_scored"),
            F.sum((F.col("y_proba")[1] >= 0.5).cast("long")).alias("n_main_pred")).collect()}
        ef = hook("features", edge_features, edges, nodes)
        clusters = hook("segment", lambda e, n: connected_components(n, edge_oracle_scores(e)),
                        ef, nodes)
        hulls = hook("segment", clusters_with_hulls, clusters, nodes)
        rows = hulls.select("url", "cluster_id", "n_nodes", "hull_points").collect()
        for df in (nf, edges, nodes):
            df.unpersist()
        done = set(ecn) & {r.url for r in rows}
        return {"attempted": self.n_pages, "completed": len(done), "ecn": ecn, "hulls": rows}

    def check(self, it, res) -> list[str]:
        import pandas as pd

        errs = []
        truth_urls = {p.url for p in self.truth_pages}
        want = {p.url: p.n_regions for p in self.data.pages if p.kind != "malformed"}
        scored = {u: v[0] for u, v in res["ecn"].items() if u not in truth_urls}
        if scored != want:
            errs.append(f"layout: ECN scored {len(scored)} docs / {sum(scored.values())} nodes, "
                        f"planted {len(want)} / {sum(want.values())}")
        covered = Counter()
        for r in res["hulls"]:
            covered[r.url] += r.n_nodes
        if {u: n for u, n in covered.items() if u not in truth_urls} != want:
            errs.append("layout: clusters do not partition every document's nodes")

        t = pd.read_parquet(self.truth_dir / "ecn_scores.parquet")
        got = {u: v for u, v in res["ecn"].items() if u in truth_urls}
        if got != {r.url: (r.n_scored, r.n_main_pred) for r in t.itertuples()}:
            errs.append("layout: sf0.01 ecn_scores differ from truth")
        t = pd.read_parquet(self.truth_dir / "clusters.parquet").query("algo == 'cc'")
        got = Counter(r.url for r in res["hulls"] if r.url in truth_urls)
        if dict(got) != dict(zip(t.url, t.n_clusters)):
            errs.append("layout: sf0.01 cc cluster counts differ from truth")
        t = pd.read_parquet(self.truth_dir / "hulls.parquet").query("algo == 'cc'")
        want_h = {(r.url, r.cluster_id, r.n_nodes, r.hull_points) for r in t.itertuples()}
        if {tuple(r) for r in res["hulls"] if r.url in truth_urls} != want_h:
            errs.append("layout: sf0.01 hulls differ from truth")
        return errs


def sf001_pages(truth_dir: Path) -> list[gen.Page]:
    """Re-render the sf0.01 pages the truth files were made from. Each
    document's text is its main-content regions in reading order (the
    extraction contract), and the package's synthesizer lays a text out
    deterministically from (doc_id, text)."""
    import pandas as pd

    from transkribusdu_spark.synth import render_doc

    nodes = pd.read_parquet(truth_dir / "nodes.parquet")
    regions = nodes[(nodes.kind == "TextRegion") & nodes.label.isin(["paragraph", "heading"])]
    regions = regions.sort_values(["doc_id", "page_num", "y1", "x1", "node_id"])
    out = []
    for doc_id, g in regions.groupby("doc_id"):
        url, ts, html = render_doc(int(doc_id), " ".join(g.text), "en")
        out.append(gen.Page(int(doc_id), url, ts, html, " ".join(g.text)))
    return out


WORKLOADS = {"extract": Extract, "corpus": Corpus, "layout": Layout}

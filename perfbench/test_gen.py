"""The benchmark's input generator is deterministic and plants what it
records. Run with ``python -m pytest perfbench/test_gen.py``."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def test_same_seed_same_digest():
    for make in (lambda s: gen.extract_workload(s, n_docs=600),
                 lambda s: gen.corpus_workload(s, n_base=300),
                 lambda s: gen.layout_workload(s, n_docs=60)):
        assert make(7).digest() == make(7).digest()
        assert make(7).digest() != make(8).digest()


def test_planted_properties():
    ext = gen.extract_workload(3, n_docs=800)
    props = ext.properties()
    assert props["malformed_share"] == 0.01
    over = [p for p in ext.pages if p.kind == "oversize"]
    assert over and all(p.n_regions > gen.NODE_CAP for p in over)
    assert all(p.expected_text.startswith(p.truncated_text) for p in over)

    lay = gen.layout_workload(3, n_docs=100).properties()
    assert 0 < lay["dense_share"] < 1  # both sides of the 32-node switch

    corpus = gen.corpus_workload(3, n_base=400)
    props = corpus.properties()
    assert props["largest_dup_cluster"] == 160 and props["url_snapshot_dups"] == 20
    texts = {p.doc_id: p.expected_text for p in corpus.pages if p.kind != "snapshot"}
    for cluster in corpus.exact_clusters:
        assert len({texts[d] for d in cluster}) == 1

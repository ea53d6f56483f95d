"""Web link-graph operators (operators/webgraph.py): href resolution,
edge extraction, anchor-text aggregation, and the fixed-point PageRank's
exactness contracts (mass conservation, partition invariance, dangling
handling)."""

import pytest
from pyspark.sql import functions as F

from pdf_extract_spark.operators.webgraph import (
    SCALE,
    anchor_text_agg,
    edge_list,
    extract_links,
    pagerank_fixed_point,
)


def _pages(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, url string, html string")


def test_extract_links_resolution_and_canonicalization(spark):
    rows = [
        (
            "d1",
            # messy src: upper-case scheme/host + default port
            "HTTPS://Host.TEST:443/page",
            "<p><a href='/x'>X link</a>"
            "<a href='https://other.test/abs'>abs</a>"
            "<a href='mailto:a@b.c'>mail</a>"  # dropped: unresolvable
            "<a href='/x'>X link</a></p>",  # duplicate occurrence
        ),
    ]
    links = extract_links(_pages(spark, rows)).collect()
    got = sorted((r.src, r.dst, r.anchor_text) for r in links)
    assert got == [
        ("https://host.test/page", "https://host.test/x", "X link"),
        ("https://host.test/page", "https://host.test/x", "X link"),
        ("https://host.test/page", "https://other.test/abs", "abs"),
    ]
    edges = {
        (r.src, r.dst): r.n_anchors
        for r in edge_list(extract_links(_pages(spark, rows))).collect()
    }
    assert edges[("https://host.test/page", "https://host.test/x")] == 2
    assert edges[("https://host.test/page", "https://other.test/abs")] == 1


def test_anchor_text_agg_sorted_distinct(spark):
    rows = [
        ("d1", "https://h.test/a", "<a href='/t'>beta</a><a href='/t'>alpha</a>"),
        ("d2", "https://h.test/b", "<a href='/t'>alpha</a>"),
    ]
    out = {r.dst: r for r in anchor_text_agg(extract_links(_pages(spark, rows))).collect()}
    t = out["https://h.test/t"]
    assert t.n_inlinks == 3
    assert t.n_sources == 2
    assert t.anchor_texts == "alpha|beta"


def _ranks(spark, edges, **kw):
    e = spark.createDataFrame(edges, "src string, dst string")
    return {r.node: r.rank_e12 for r in pagerank_fixed_point(e, **kw).collect()}


def test_pagerank_two_node_cycle_exact(spark):
    """a <-> b is symmetric: both ranks must be EXACTLY equal at every
    iteration, and total mass stays within floor-loss of SCALE."""
    r = _ranks(spark, [("a", "b"), ("b", "a")], iterations=10)
    assert r["a"] == r["b"]
    assert 0 <= SCALE - (r["a"] + r["b"]) < 200  # floor losses only


def test_pagerank_dangling_mass_redistributed(spark):
    """a -> b with b dangling: b's mass must come back via the dangling
    term, not vanish — total stays ~SCALE and b outranks a (it receives
    a's full share plus teleport)."""
    r = _ranks(spark, [("a", "b")], iterations=10)
    assert 0 <= SCALE - sum(r.values()) < 400
    assert r["b"] > r["a"]


def test_pagerank_hub_authority_ordering(spark):
    """Star graph: everything points at 'hub', hub points at 'a' only —
    hub and 'a' (which receives hub's whole rank) must both dominate the
    leaf sources, which hold identical ranks by symmetry."""
    edges = [("s1", "hub"), ("s2", "hub"), ("s3", "hub"), ("hub", "a")]
    r = _ranks(spark, edges, iterations=10)
    assert r["s1"] == r["s2"] == r["s3"]
    assert min(r["hub"], r["a"]) > r["s1"]


def test_pagerank_partition_invariance(spark):
    """The fixed-point arithmetic is associative-safe (integer sums), so
    the ranks must be IDENTICAL regardless of input partitioning — the
    reproducibility property floating-point PageRank cannot give."""
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "b"), ("d", "a")]
    e1 = spark.createDataFrame(edges, "src string, dst string").coalesce(1)
    e8 = spark.createDataFrame(edges, "src string, dst string").repartition(8)
    r1 = {r.node: r.rank_e12 for r in pagerank_fixed_point(e1, iterations=7).collect()}
    r8 = {r.node: r.rank_e12 for r in pagerank_fixed_point(e8, iterations=7).collect()}
    assert r1 == r8


def test_pagerank_matches_float_reference(spark):
    """Fixed-point ranks track a float64 reference PageRank to ~1e-9
    relative — the scaling is a representation change, not a different
    algorithm."""
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]
    r = _ranks(spark, edges, iterations=10)

    nodes = sorted({n for e in edges for n in e})
    out = {n: [d for s, d in edges if s == n] for n in nodes}
    ranks = {n: 1.0 / len(nodes) for n in nodes}
    for _ in range(10):
        dangling = sum(ranks[n] for n in nodes if not out[n])
        nxt = {}
        for v in nodes:
            inflow = sum(ranks[u] / len(out[u]) for u in nodes if v in out[u])
            nxt[v] = 0.15 / len(nodes) + 0.85 * (inflow + dangling / len(nodes))
        ranks = nxt
    for n in nodes:
        assert abs(r[n] / SCALE - ranks[n]) < 1e-6


def _hits(spark, edges, **kw):
    from pdf_extract_spark.operators.webgraph import hits_fixed_point

    e = spark.createDataFrame(edges, "src string, dst string")
    return {
        r.node: (r.hub_e9, r.auth_e9) for r in hits_fixed_point(e, **kw).collect()
    }


def test_hits_bipartite_ordering(spark):
    """h1 links both authorities, h2 links one; a1 has two in-links, a2
    one — so h1 must out-hub h2 and a1 must out-auth a2, while pure hubs
    hold zero authority and pure authorities zero hub score."""
    r = _hits(spark, [("h1", "a1"), ("h1", "a2"), ("h2", "a1")], iterations=8)
    assert r["h1"][0] > r["h2"][0] > 0
    assert r["a1"][1] > r["a2"][1] > 0
    assert r["h1"][1] == r["h2"][1] == 0  # no in-links -> no authority
    assert r["a1"][0] == r["a2"][0] == 0  # no out-links -> no hub score


def test_hits_symmetric_cycle_exact(spark):
    """a <-> b is symmetric: hubs and authorities must be EXACTLY equal
    across the two nodes, and each L1-normalized vector sums to SCALE_H
    within floor loss."""
    from pdf_extract_spark.operators.webgraph import SCALE_H

    r = _hits(spark, [("a", "b"), ("b", "a")], iterations=6)
    assert r["a"] == r["b"]
    assert 0 <= SCALE_H - (r["a"][0] + r["b"][0]) < 4
    assert 0 <= SCALE_H - (r["a"][1] + r["b"][1]) < 4


def test_hits_partition_invariance(spark):
    """Integer fixed-point HITS must produce IDENTICAL scores regardless
    of input partitioning (same reproducibility contract as PageRank)."""
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "b"), ("d", "a")]
    e1 = spark.createDataFrame(edges, "src string, dst string").coalesce(1)
    e8 = spark.createDataFrame(edges, "src string, dst string").repartition(8)
    from pdf_extract_spark.operators.webgraph import hits_fixed_point

    r1 = {r.node: (r.hub_e9, r.auth_e9) for r in hits_fixed_point(e1, iterations=5).collect()}
    r8 = {r.node: (r.hub_e9, r.auth_e9) for r in hits_fixed_point(e8, iterations=5).collect()}
    assert r1 == r8


def test_hits_matches_float_reference(spark):
    """Fixed-point HITS tracks a float64 L1-normalized reference to
    ~1e-6 relative — representation change, not a different algorithm."""
    from pdf_extract_spark.operators.webgraph import SCALE_H

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "c")]
    iters = 8
    r = _hits(spark, edges, iterations=iters)

    nodes = sorted({n for e in edges for n in e})
    hub = {n: 1.0 / len(nodes) for n in nodes}
    auth = {}
    for _ in range(iters):
        auth = {v: sum(hub[u] for u, w in edges if w == v) for v in nodes}
        tot = sum(auth.values())
        auth = {v: x / tot for v, x in auth.items()}
        hub = {u: sum(auth[v] for s, v in edges if s == u) for u in nodes}
        tot = sum(hub.values())
        hub = {u: x / tot for u, x in hub.items()}
    for n in nodes:
        assert abs(r[n][0] / SCALE_H - hub[n]) < 1e-6
        assert abs(r[n][1] / SCALE_H - auth[n]) < 1e-6


def _bp_blocks(spark, html):
    from pdf_extract_spark.operators.boilerpipe import densitometric_blocks

    pages = spark.createDataFrame([("u", html)], "url string, html string")
    return {
        r.block_ord: (r.words, r.link_words, r.label, r.text)
        for r in densitometric_blocks(pages).collect()
    }


def test_boilerpipe_link_dense_block_is_boilerplate(spark):
    """A block over the 1/3 link-density line is boilerplate regardless
    of length; a long link-light paragraph is content."""
    long_text = " ".join(["word"] * 45)
    html = (
        "<body><div><a href='/x'>one two three</a> four</div>"
        f"<p>{long_text}</p></body>"
    )
    b = _bp_blocks(spark, html)
    assert b[1][2] == "boilerplate" and b[1][1] == 3  # 3 of 4 words linked
    assert b[2][2] == "content" and b[2][0] == 45


def test_boilerpipe_context_rules(spark):
    """A short link-free block flips to content when its NEIGHBORS carry
    enough words (the WSDM'10 prev/next context rules)."""
    short = "just a few words here"  # 5 words, <= 16
    long_p = " ".join(["w"] * 20)
    # alone: prev=0 words, next=0 -> boilerplate
    alone = _bp_blocks(spark, f"<body><p>{short}</p></body>")
    assert alone[1][2] == "boilerplate"
    # sandwiched after a 20-word paragraph (prev_words > 4) -> content
    ctx = _bp_blocks(spark, f"<body><p>{long_p}</p><p>{short}</p></body>")
    assert ctx[2][2] == "content"


def test_boilerpipe_head_and_scripts_dropped(spark):
    """head/script/style/comment subtrees contribute no blocks."""
    html = (
        "<html><head><title>ttt</title><script>var x='<p>hi</p>';</script>"
        "<style>.x{}</style></head><body><!-- note --><p>"
        + " ".join(["tok"] * 18)
        + "</p></body></html>"
    )
    b = _bp_blocks(spark, html)
    assert len(b) == 1 and b[1][0] == 18 and b[1][2] == "content"


def test_enriched_corpus_structure(spark):
    """The web-only pages give the graph the structure the fixture
    families can't: the link farm is the dominant hub, the target ring
    carries authority, edges cross hosts, and every farm block
    classifies boilerplate (40 anchors, near-1 link density)."""
    from pdf_extract_spark.operators.boilerpipe import densitometric_blocks
    from pdf_extract_spark.queries import _HTML_CORPUS_PARQUET, web_hits

    pages = spark.read.parquet(_HTML_CORPUS_PARQUET)
    farm_blocks = densitometric_blocks(
        pages.filter(pages.url == "https://corpus.test/farm")
    ).collect()
    assert farm_blocks and all(b.label == "boilerplate" for b in farm_blocks)

    hits = {r.node: (r.hub_e9, r.auth_e9) for r in web_hits(spark, "").collect()}
    farm = hits["https://corpus.test/farm"]
    # the farm out-links the whole ring so it out-hubs every ring target
    # (each links just 2 pages); every target holds authority from
    # farm + ring + mirror in-links; the mirrors have no in-links at all.
    # NB: mirrors legitimately out-hub the farm globally — one link onto
    # the high-authority fixture nav hub beats eight low-authority
    # targets, which is HITS working as specified.
    for i in range(8):
        t = hits[f"https://corpus.test/t{i}"]
        assert farm[0] > t[0] and t[1] > 0
    for i in range(3):
        assert hits[f"https://mirror.test/m{i}"][1] == 0
    # cross-host edge from the mirror onto the origin exists
    from pdf_extract_spark.operators.webgraph import edge_list, extract_links

    edges = edge_list(extract_links(pages))
    cross = edges.filter(
        (F.col("src").startswith("https://mirror.test"))
        & (F.col("dst").startswith("https://corpus.test"))
    ).count()
    assert cross >= 3


def test_label_propagation_two_cliques(spark):
    """Two K4 cliques joined by one bridge edge: in-clique majority
    beats the bridge every round after the first, so the cliques keep
    separate communities (hand-traced: A-side converges to 'a1',
    B-side to 'b1' by round 3)."""
    import itertools

    from pdf_extract_spark.operators.webgraph import label_propagation

    k4a = list(itertools.combinations(["a1", "a2", "a3", "a4"], 2))
    k4b = list(itertools.combinations(["b1", "b2", "b3", "b4"], 2))
    edges = spark.createDataFrame(
        k4a + k4b + [("a4", "b1")], "src string, dst string"
    )
    out = {r["node"]: r["community"] for r in label_propagation(edges, 5).collect()}
    assert {out[n] for n in ("a1", "a2", "a3", "a4")} == {"a1"}
    assert {out[n] for n in ("b1", "b2", "b3", "b4")} == {"b1"}


def test_label_propagation_triangle_pendant_one_community(spark):
    """Triangle + pendant converges to ONE community labelled by the
    min member (hand-traced fixpoint by round 3), community_size 4."""
    from pdf_extract_spark.operators.webgraph import label_propagation

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")],
        "src string, dst string",
    )
    rows = label_propagation(edges, 5).collect()
    assert {r["community"] for r in rows} == {"a"}
    assert all(r["community_size"] == 4 for r in rows)


def test_label_propagation_partition_invariant(spark):
    from pdf_extract_spark.operators.webgraph import label_propagation

    edges = [(f"h{i}", f"h{(i * 7 + 1) % 23}") for i in range(40)]
    df = spark.createDataFrame(edges, "src string, dst string")
    a = sorted(map(tuple, label_propagation(df.repartition(2), 5).collect()))
    b = sorted(map(tuple, label_propagation(df.repartition(11), 5).collect()))
    assert a == b


def test_triangle_stats_k4_and_path(spark):
    """K4: every node is in C(3,2)=3 triangles with coefficient 1.0;
    a path graph has zero triangles and zero coefficients; direction
    and duplicate edges must not double-count."""
    import itertools

    from pdf_extract_spark.operators.webgraph import triangle_stats

    k4 = list(itertools.combinations(["a", "b", "c", "d"], 2))
    # add reversed + duplicate edges: canonicalization must dedupe
    edges = spark.createDataFrame(
        k4 + [(b, a) for a, b in k4] + [("a", "b")],
        "src string, dst string",
    )
    out = {r["node"]: r for r in triangle_stats(edges).collect()}
    for n in "abcd":
        assert out[n]["degree"] == 3
        assert out[n]["n_triangles"] == 3
        assert out[n]["clustering_x1000"] == 1000
    path = spark.createDataFrame(
        [("p", "q"), ("q", "r"), ("r", "s")], "src string, dst string"
    )
    pr = {r["node"]: r for r in triangle_stats(path).collect()}
    assert all(r["n_triangles"] == 0 for r in pr.values())
    assert pr["q"]["degree"] == 2 and pr["q"]["clustering_x1000"] == 0


def test_triangle_stats_single_triangle_plus_pendant(spark):
    from pdf_extract_spark.operators.webgraph import triangle_stats

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")],
        "src string, dst string",
    )
    out = {r["node"]: r for r in triangle_stats(edges).collect()}
    assert out["a"]["n_triangles"] == out["b"]["n_triangles"] == 1
    # c has degree 3, one triangle of C(3,2)=3 possible -> 2/6 = 333
    assert out["c"]["degree"] == 3 and out["c"]["clustering_x1000"] == 333
    assert out["d"] ["n_triangles"] == 0 and out["d"]["degree"] == 1


def test_resolve_href_protocol_relative(spark):
    """'//host/path' joins the BASE's scheme (not its host); mailto:
    and bare-relative stay NULL."""
    from pdf_extract_spark.operators.webgraph import resolve_href

    df = spark.createDataFrame(
        [("https://a.test/p", "//b.test/x"),
         ("http://a.test/p", "//b.test/x"),
         ("https://a.test/p", "/root"),
         ("https://a.test/p", "mailto:x@y"),
         ("https://a.test/p", "rel/path")],
        "base string, href string",
    )
    out = [r["r"] for r in df.select(
        resolve_href(F.col("href"), F.col("base")).alias("r")).collect()]
    assert out == ["https://b.test/x", "http://b.test/x",
                   "https://a.test/root", None, None]


def test_resolve_href_schemeless_base_nulls(spark):
    """A protocol-relative or root-relative href against a malformed
    schemeless base must NULL out (and be dropped), not emit
    '://host/path' or a bare '/rel' edge."""
    from pyspark.sql import functions as F

    from pdf_extract_spark.operators.webgraph import resolve_href

    df = spark.createDataFrame(
        [("//b.example/x", "not-a-url"),
         ("//b.example/x", "https://a.example/p"),
         ("/rel", "not-a-url")],
        "href string, base string",
    )
    got = [
        r["r"]
        for r in df.select(
            resolve_href(F.col("href"), F.col("base")).alias("r")
        ).collect()
    ]
    assert got[0] is None
    assert got[1] == "https://b.example/x"
    assert got[2] is None

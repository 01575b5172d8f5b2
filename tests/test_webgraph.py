"""Web-graph operators: link extraction, host graph, fixed-point
PageRank (operators/webgraph.py)."""

import pytest
from pyspark.sql import functions as F

from layout_parser_spark.operators.webgraph import (
    PAGERANK_UNIT,
    extract_links,
    host_link_graph,
    pagerank_hosts,
)


def test_extract_links_and_host_graph(spark):
    pages = spark.createDataFrame(
        [
            (
                "https://a.com/p1",
                b'<html><a href="https://b.com/x">b</a> '
                b'<a href="https://a.com/p2">self</a> '
                b'<a href="/relative">rel</a> <a>bare</a></html>',
            ),
            ("https://b.com/p1", b"<html>no links</html>"),
        ],
        "url string, html binary",
    )
    links = extract_links(pages).collect()
    assert {(r.src_url, r.href) for r in links} == {
        ("https://a.com/p1", "https://b.com/x"),
        ("https://a.com/p1", "https://a.com/p2"),
        ("https://a.com/p1", "/relative"),
    }
    g = {
        (r.src_host, r.dst_host): r.n_links
        for r in host_link_graph(extract_links(pages)).collect()
    }
    # relative link dropped; self-host edge kept
    assert g == {("a.com", "b.com"): 1, ("a.com", "a.com"): 1}


def _edges(spark, rows):
    return spark.createDataFrame(
        rows, "src_host string, dst_host string, n_links long"
    )


def test_pagerank_mass_conserved_and_dangling(spark):
    """b is a pure sink (dangling): its mass redistributes uniformly;
    total mass stays ≈ UNIT (integer flooring loses < n_nodes+n_edges
    micro-units per iteration)."""
    e = _edges(spark, [("a", "b", 2), ("c", "a", 1), ("a", "c", 1)])
    ranks = {r.host: r.rank_micro for r in pagerank_hosts(e, iters=3).collect()}
    assert set(ranks) == {"a", "b", "c"}
    total = sum(ranks.values())
    assert abs(total - PAGERANK_UNIT) < 100  # micro-units of flooring loss
    # b receives 2/3 of a's emitted mass vs c's 1/3 → b outranks c
    assert ranks["b"] > ranks["c"]


def test_pagerank_symmetric_cycle_uniform(spark):
    """A symmetric 2-cycle must stay exactly uniform — any asymmetry
    would be an engine artifact."""
    e = _edges(spark, [("a", "b", 1), ("b", "a", 1)])
    ranks = {r.host: r.rank_micro for r in pagerank_hosts(e, iters=4).collect()}
    assert ranks["a"] == ranks["b"]


def test_pagerank_deterministic_across_runs(spark):
    e = _edges(
        spark,
        [("a", "b", 3), ("b", "c", 1), ("c", "a", 2), ("a", "c", 5)],
    )
    r1 = sorted(
        (r.host, r.rank_micro) for r in pagerank_hosts(e, iters=3).collect()
    )
    r2 = sorted(
        (r.host, r.rank_micro) for r in pagerank_hosts(e, iters=3).collect()
    )
    assert r1 == r2


def _pagerank_reference(edges, iters, damping_pct):
    """The docstring's fixed-point update in plain Python, integer //.
    A NULL (None) host is a node that no link leaves or reaches, as in
    SQL joins: it is dangling, and links to it carry no mass."""
    nodes = {s for s, _, _ in edges} | {t for _, t, _ in edges}
    outw = {}
    for s, _, w in edges:
        if s is not None:
            outw[s] = outw.get(s, 0) + w
    n = len(nodes)
    rank = {h: PAGERANK_UNIT // n for h in nodes}
    for _ in range(iters):
        dang = sum(r for h, r in rank.items() if h not in outw)
        base = (PAGERANK_UNIT // n) * (100 - damping_pct) // 100 + (
            dang // n
        ) * damping_pct // 100
        new = dict.fromkeys(nodes, base)
        for s, t, w in edges:
            if s in outw and t is not None:
                new[t] += (rank[s] * w // outw[s]) * damping_pct // 100
        rank = new
    return rank


def _pagerank_graphs():
    """(edges, iters, damping_pct): the empty edge list, a one-edge graph,
    a self-loop alone, two graphs with NULL hosts, then 48 seeded random
    graphs with pure sinks, hosts that no link reaches and self-loops."""
    import random

    rng = random.Random(20261019)
    cases = [
        ([], 3, 85),
        ([("a", "b", 2)], 2, 85),
        ([("a", "a", 1)], 4, 50),
        ([("a", "b", 1), (None, "a", 2), ("b", None, 1), ("a", None, 3)],
         3, 85),
        ([(None, None, 1), ("a", "b", 1)], 2, 85),
    ]
    for g in range(48):
        hosts = [f"h{i}" for i in range(rng.randint(2, 9))]
        sinks = set(rng.sample(hosts, rng.randint(0, len(hosts) - 1)))
        pairs = {
            (s, rng.choice(hosts))
            for s in hosts if s not in sinks
            for _ in range(rng.randint(1, 4))
        }
        if rng.random() < 0.5:
            pairs |= {(s, s) for s in rng.sample(hosts, 1) if s not in sinks}
        edges = [(s, t, rng.randint(1, 7)) for s, t in sorted(pairs)]
        cases.append((edges, g % 5, rng.choice([0, 15, 50, 85, 85, 100])))
    return cases


def test_pagerank_matches_python_reference(spark):
    """Ranks equal the plain-Python fixed point on every case of
    ``_pagerank_graphs``: iters 0-4, damping 0-100, NULL hosts, the empty
    edge list (no rows)."""
    for edges, iters, damping in _pagerank_graphs():
        got = {
            r.host: r.rank_micro
            for r in pagerank_hosts(
                _edges(spark, edges), iters=iters, damping_pct=damping
            ).collect()
        }
        want = _pagerank_reference(edges, iters, damping) if edges else {}
        assert got == want, (edges, iters, damping)


def test_canonicalize_url_cases(spark):
    from layout_parser_spark.operators.webgraph import canonicalize_url

    cases = [
        # (input, canonical)
        ("https://A.Com/Path", "https://a.com/Path"),          # host lc, path kept
        ("HTTPS://a.com:443/x", "https://a.com/x"),            # scheme lc + default port
        ("http://a.com:80/", "http://a.com/"),
        ("http://a.com:8080/", "http://a.com:8080/"),          # non-default port kept
        ("https://a.com", "https://a.com/"),                   # empty path → /
        ("https://a.com/x#sec-2", "https://a.com/x"),          # fragment dropped
        ("https://a.com/x?utm_source=n&b=2&a=1", "https://a.com/x?a=1&b=2"),
        ("https://a.com/x?b=2&a=1&gclid=z", "https://a.com/x?a=1&b=2"),
        ("https://a.com/x?utm_campaign=only", "https://a.com/x"),  # all-tracking → no query
        ("https://a.com/x?", "https://a.com/x"),               # empty query dropped
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [
        r.c for r in df.select(canonicalize_url("url").alias("c")).collect()
    ]
    assert got == [want for _, want in cases]


def test_url_dedup_collapses_variants(spark):
    from layout_parser_spark.operators.webgraph import url_dedup

    df = spark.createDataFrame(
        [
            (0, "https://a.com/x?b=2&a=1"),
            (1, "HTTPS://A.COM:443/x?a=1&b=2&utm_source=m#top"),
            (2, "https://a.com/y"),
        ],
        "doc_id long, url string",
    )
    out = {r.canonical_url: (r.keep_id, r.n_variants)
           for r in url_dedup(df).collect()}
    assert out == {
        "https://a.com/x?a=1&b=2": (0, 2),
        "https://a.com/y": (2, 1),
    }


#: the graph from ADVICE.md: a loop that stops once no contracted edge is
#: left, with no pointer jumping after it, gives node 58 the label 36
ADVICE_EDGES = [(7, 39), (7, 49), (32, 49), (36, 39), (36, 45), (45, 46),
                (46, 58)]


def test_connected_components_chain_and_singleton(spark):
    """A 5-node chain (worst case for 1-hop propagation) collapses to
    min-label and a separate pair forms its own component; the ADVICE
    graph collapses to 7."""
    from layout_parser_spark.operators.webgraph import connected_components

    for edges, expected in [
        ([(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)],
         {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}),
        (ADVICE_EDGES, {n: 7 for e in ADVICE_EDGES for n in e}),
    ]:
        e = spark.createDataFrame(edges, "u long, v long")
        out = {r.id: r.lbl for r in connected_components(e).collect()}
        assert out == expected, edges


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _property_graphs():
    """200 seeded random graphs of 5-40 edges over shuffled ids, chains of
    2-128 nodes in random id order, and stars centred on the smallest,
    the largest and a middle id."""
    import random

    rng = random.Random(20261017)
    graphs = []
    for _ in range(200):
        n = rng.randint(4, 40)
        ids = rng.sample(range(1000), n)
        graphs.append([(rng.choice(ids), rng.choice(ids))
                       for _ in range(rng.randint(5, 40))])
    for n in (2, 3, 4, 5, 7, 8, 9, 16, 31, 32, 33, 64, 100, 127, 128):
        ids = rng.sample(range(1000), n)
        chain = [(ids[i], ids[i + 1]) for i in range(n - 1)]
        rng.shuffle(chain)
        graphs.append(chain)
    for n in (2, 5, 40):
        ids = sorted(rng.sample(range(1000), n + 1))
        for c in (ids[0], ids[-1], ids[n // 2]):
            graphs.append([(c, x) for x in ids if x != c])
    return graphs


def test_connected_components_matches_union_find(spark):
    """Labels equal a plain-Python union-find on every property graph,
    run over their disjoint union (graph g's ids shifted by g * 1000).
    A batch runs every graph for as many rounds as its slowest one, and
    those extra rounds collapse label chains a lone graph would keep, so
    the first 16 graphs also run one at a time."""
    from layout_parser_spark.operators.webgraph import connected_components

    graphs = _property_graphs()
    # self-loops are dropped, so a node with only a self-loop is absent
    want = [_union_find([e for e in es if e[0] != e[1]]) for es in graphs]
    keyed = spark.createDataFrame(
        [(g, a, b) for g, es in enumerate(graphs) for a, b in es],
        "g long, u long, v long",
    )
    flat = keyed.selectExpr("u + g * 1000 AS u", "v + g * 1000 AS v")
    got = {r.id: r.lbl for r in connected_components(flat).collect()}
    assert got == {g * 1000 + x: g * 1000 + lbl
                   for g, uf in enumerate(want) for x, lbl in uf.items()}

    for g in range(16):
        e = keyed.where(f"g = {g}")
        got = {r.id: r.lbl for r in connected_components(e).collect()}
        assert got == want[g], g


def test_connected_components_raises_when_max_iter_runs_out(spark):
    from layout_parser_spark.operators.webgraph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "u long, v long"
    )
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components(chain, max_iter=1)


def test_dedup_clusters_transitive(spark):
    """A≈B and B≈C but A̸≈C must still cluster together (the reason
    pairs alone can't drive a keep-list)."""
    from layout_parser_spark.operators.dedup import dedup_clusters

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog today"),
            (1, "the quick brown fox jumps over the lazy cat today"),
            (2, "a quick brown fox jumps over the lazy cat today ok"),
            (3, "completely unrelated text about distributed dataframes"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.id: (r.cluster_id, r.is_keeper)
        for r in dedup_clusters(
            docs, num_hashes=32, bands=16, threshold=0.05
        ).collect()
    }
    assert out[0] == (0, True)
    # 1 and 2 chain through shared shingles into doc 0's cluster
    assert out[1][0] == out[2][0] == 0
    assert not out[1][1] and not out[2][1]
    assert out[3] == (3, True)  # singleton keeps itself


def test_registered_domain(spark):
    from layout_parser_spark.operators.webgraph import registered_domain

    cases = [
        ("www.bbc.co.uk", "bbc.co.uk"),
        ("news.example.com", "example.com"),
        ("a.b.deep.example.org", "example.org"),
        ("shop.foo.com.au", "foo.com.au"),
        ("example.com", "example.com"),
        ("localhost", "localhost"),
        ("site3.example.com", "example.com"),
        ("t.co", "t.co"),  # 2-label host passes through
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "host string")
    got = [
        r.d for r in df.select(registered_domain("host").alias("d")).collect()
    ]
    assert got == [want for _, want in cases]


def test_canonicalize_url_idempotent_property(spark):
    """Property: canonicalization is idempotent — canon(canon(u)) ==
    canon(u) — over a generated grid of scheme/case/port/params/fragment
    combinations (exhaustive 384-case grid; evaluation batched through
    ONE Spark job for speed)."""
    from itertools import product

    from layout_parser_spark.operators.webgraph import canonicalize_url

    urls = []
    for scheme, host, port, path, query, frag in product(
        ["http", "HTTPS"],
        ["A.com", "www.b.co.uk"],
        ["", ":80", ":443", ":8080"],
        ["", "/", "/X/y"],
        ["", "?b=2&a=1", "?utm_source=x", "?utm_a=1&z=9&b=2"],
        ["", "#frag"],
    ):
        urls.append(f"{scheme}://{host}{port}{path}{query}{frag}")
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = df.select(
        F.col("url"), canonicalize_url(F.col("url")).alias("c1")
    )
    both = once.select(
        "url", "c1", canonicalize_url(F.col("c1")).alias("c2")
    ).collect()
    bad = [(r.url, r.c1, r.c2) for r in both if r.c1 != r.c2]
    assert not bad, f"non-idempotent: {bad[:5]}"
    # and the canonical form never retains fragments or tracking params
    assert all("#" not in r.c1 and "utm_" not in r.c1 for r in both)

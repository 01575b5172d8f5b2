"""Web-graph operators over crawled pages: link extraction, host-level
link graph, and fixed-point PageRank.

The operations a crawl-scale pipeline runs right after extraction:
outlink harvesting (dedup priors, spam signals), the host graph (seed
scheduling, domain-level quality), and a centrality score (PageRank is
the canonical crawl-frontier / quality prior — Page et al. 1999).

Scale design:

* ``extract_links`` is MAP-ONLY: one regexp over the decoded payload +
  posexplode; no shuffle.  At 10^12 docs this runs inside the same scan
  that feeds extraction.
* ``host_link_graph`` is one combinable hash aggregate on
  (src_host, dst_host) — host cardinality (~10^8 at web scale) is tiny
  next to the edge list, and the map-side partial agg collapses each
  partition's duplicate host pairs before the exchange.
* ``pagerank_hosts`` iterates entirely in DataFrames: per-iteration one
  equi-join (ranks ⋈ edges on src) + one hash aggregate on dst.  Node
  count and dangling mass come from ``Observation``s on the checkpoint
  jobs and ride into the next round as one literal; each round's output
  is ``localCheckpoint``-ed so lineage stays constant.

Determinism contract (the driver oracle value-matches in DuckDB): ranks
are FIXED-POINT BIGINT micro-units (``UNIT`` = 10^12) and every division
is integer division, so both engines produce bit-identical ranks — no
float summation-order hazard.  The deviation from real-valued PageRank
is bounded by n_edges / UNIT per iteration (≪ 1e-6 here).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

#: fixed-point scale for PageRank ranks (micro-units of probability mass)
PAGERANK_UNIT = 10**12

#: href attribute value, double-quoted (the overwhelmingly dominant form
#: in real HTML; the segmentation tokenizer's quoted-attr discipline)
HREF_PATTERN = r'href="([^"]+)"'

#: host of an absolute http(s) URL
HOST_PATTERN = r"https?://([^/]+)"


def _idiv(a: Column, b: Column) -> Column:
    """Exact BIGINT integer division for non-negative operands via
    Spark's ``div`` (IntegralDivide — stays in long arithmetic, never
    converts through double, so it is exact for the full 64-bit range;
    the previous ``(a - a % b) / b`` form rounded for operands ≥ 2^53).
    Truncating vs DuckDB ``//``'s flooring — identical for the
    non-negative operands this module uses."""
    return F.call_function("div", a, b)


def extract_links(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """pages(url, html BINARY, …) → one row per outlink:
    (src_url, href).  Map-only: regexp_extract_all + posexplode, no
    shuffle; pages without links emit no rows."""
    hrefs = F.regexp_extract_all(
        F.col(html_col).cast("string"), F.lit(HREF_PATTERN), F.lit(1)
    )
    # outer + notnull: an inner explode gets an inferred size()>0
    # pre-filter that re-runs regexp_extract_all over the full html
    # (3x the regex CPU at scale); see sources/gcv.py for the mechanism
    return (
        pages.select(F.col(url_col).alias("src_url"), hrefs.alias("_h"))
        .select("src_url", F.explode_outer("_h").alias("href"))
        .where(F.col("href").isNotNull())
    )


def host_of(c: Column) -> Column:
    """Host part of an absolute URL ('' for relative links)."""
    return F.regexp_extract(c, HOST_PATTERN, 1)


def host_link_graph(links: DataFrame) -> DataFrame:
    """(src_url, href) → weighted host edge list
    (src_host, dst_host, n_links), self-loops kept (intra-host nav is a
    real signal), relative links (no host) dropped."""
    e = links.select(
        host_of(F.col("src_url")).alias("src_host"),
        host_of(F.col("href")).alias("dst_host"),
    ).where(F.col("dst_host") != "")
    return e.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).alias("n_links")
    )


def pagerank_hosts(
    edges: DataFrame, iters: int = 3, damping_pct: int = 85
) -> DataFrame:
    """Weighted PageRank over (src_host, dst_host, n_links), ``iters``
    fixed iterations, damping d = damping_pct/100.

    Fixed-point update (ALL divisions integer — see module doc):

        base            = (UNIT // N) * (100 - damping_pct) // 100
        edge contrib    = ((rank_src * n_links) // outw_src)
                          * damping_pct // 100
        dangling share  = ((Σ rank_dangling) // N) * damping_pct // 100
        rank'           = base + dangling share + Σ edge contribs

    Returns (host, rank_micro BIGINT) with Σ rank ≈ UNIT; an empty edge
    list ranks no host.  Jobs at call time: the eager checkpoints (edges,
    nodes, each iteration), each one job plus one per shuffle stage — 15
    at 3 iterations, sf0.001 (the ``pagerank_hosts`` build-job budget)."""
    # materialize the edge list once, out-weight attached: it is joined
    # EVERY iteration, and without this the whole upstream lineage (page
    # render + link regex + host aggregate) re-executes per round
    edges = edges.withColumn(
        "outw", F.sum("n_links").over(Window.partitionBy("src_host"))
    ).localCheckpoint(eager=True)
    # a host is dangling unless it has out-links; a NULL source host
    # matches no rank in the round's join, so its mass counts as dangling
    seen = Observation()
    ranks = (
        edges.select(
            F.col("src_host").alias("host"),
            F.col("src_host").isNull().alias("dangling"),
        )
        .union(edges.select("dst_host", F.lit(True)))
        .groupBy("host")
        .agg(F.bool_and("dangling").alias("dangling"))
        .observe(
            seen,
            F.count(F.lit(1)).alias("n"),
            F.count_if("dangling").alias("n_dangling"),
        )
        .localCheckpoint(eager=True)
    )
    # N and the dangling mass are driver-side ints that ride in the plan
    # as one literal; max(·, 1) only keeps an empty node table defined
    m = seen.get
    n = max(m["n"], 1)
    share = PAGERANK_UNIT // n
    ranks = ranks.withColumn("rank", F.lit(share).cast("long"))
    dang = m["n_dangling"] * share
    d, rest = damping_pct, 100 - damping_pct
    for _ in range(iters):
        # a link to a NULL host reaches no node: its mass is dropped
        contribs = ranks.join(
            edges, F.col("host") == F.col("src_host")
        ).where(F.col("dst_host").isNotNull()).select(
            F.col("dst_host").alias("host"),
            F.lit(None).alias("dangling"),
            _idiv(
                _idiv(F.col("rank") * F.col("n_links"), F.col("outw"))
                * F.lit(d),
                F.lit(100),
            ).alias("rank"),
        )
        # every node keeps a row (contribution 0), so one groupBy on the
        # union ranks hosts that receive no links too
        base = share * rest // 100 + dang // n * d // 100
        seen = Observation()
        ranks = (
            ranks.withColumn("rank", F.lit(0).cast("long"))
            .union(contribs)
            .groupBy("host")
            .agg(
                F.bool_or("dangling").alias("dangling"),
                (F.lit(base) + F.sum("rank")).alias("rank"),
            )
            .observe(
                seen,
                F.sum(F.when(F.col("dangling"), F.col("rank"))).alias("d"),
            )
            .localCheckpoint(eager=True)
        )
        dang = seen.get["d"] or 0
    return ranks.select("host", F.col("rank").alias("rank_micro"))


# ---------------------------------------------------------------------------
# URL canonicalization + URL-level dedup
# ---------------------------------------------------------------------------

#: query parameters that never change content (tracking)
TRACKING_PARAM_PATTERN = r"^(utm_[^=]*|gclid|fbclid|ref)="


def canonicalize_url(c: Column) -> Column:
    """Canonical form of an absolute http(s) URL, as ONE columnar
    expression (no UDF): lowercase scheme+host, strip the default port
    (:80 http / :443 https), drop the fragment, drop tracking query
    params (utm_*, gclid, fbclid, ref), sort surviving params, normalize
    an empty path to '/'.  The crawl-dedup key: the same content fetched
    through mailer links, mixed-case hosts, or shuffled params collapses
    to one canonical URL.

    Every piece is a regexp/array op with an exact DuckDB twin (see
    __spark_entry__.SQL_URL_DEDUP) so the dedup query value-verifies."""
    u = F.regexp_replace(c, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://", 1))
    host = F.lower(F.regexp_extract(u, r"^[^:/]+://([^/?#]+)", 1))
    host = F.when(
        scheme == "http", F.regexp_replace(host, r":80$", "")
    ).otherwise(
        F.when(scheme == "https", F.regexp_replace(host, r":443$", ""))
        .otherwise(host)
    )
    path = F.regexp_extract(u, r"^[^:/]+://[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_PATTERN),
        )
    )
    qpart = F.when(
        F.size(params) > 0,
        F.concat(F.lit("?"), F.array_join(params, "&")),
    ).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, path, qpart)


def url_dedup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the minimum id per canonical URL; report the collapse count.
    Same scale shape as dedup_exact: one hash aggregate, canonical URL
    computed map-side."""
    return (
        df.select(
            canonicalize_url(F.col(url_col)).alias("canonical_url"),
            F.col(id_col).alias("id"),
        )
        .groupBy("canonical_url")
        .agg(
            F.min("id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_variants"),
        )
    )


# ---------------------------------------------------------------------------
# global connected components (graph machinery shared by dedup clustering)
# ---------------------------------------------------------------------------


def _jump(labels: DataFrame) -> DataFrame:
    """One pointer-jumping pass, ``lbl := lbl(lbl)``, with ``_moved``
    marking the nodes whose label changed.  Every label is itself a node
    of ``labels``, so the inner join keeps every row."""
    ptr = labels.select(F.col("id").alias("lbl"), F.col("lbl").alias("_l2"))
    return labels.join(ptr, on=["lbl"]).select(
        "id", F.col("_l2").alias("lbl"),
        (F.col("_l2") != F.col("lbl")).alias("_moved"),
    )


def connected_components(
    edges: DataFrame,
    u: str = "u",
    v: str = "v",
    max_iter: int = 25,
) -> DataFrame:
    """Undirected connected components over an edge list → ``(id, lbl)``,
    where ``lbl`` is the minimum node id of the component.  Self-loops
    are dropped, and nodes that appear in no other edge are not in the
    output.

    Min-label propagation over contracted edges.  Each round every edge
    endpoint takes the minimum of its label and its neighbours, one
    pointer-jumping pass (``lbl := lbl(lbl)``) doubles how far labels
    travel, and the edges are rewritten onto the new labels, dropping
    those whose ends now agree.  The loop stops once no edge is left.
    Nodes that left the edge set earlier can still point at a label that
    has dropped since, so pointers are then jumped until no label
    changes.  Every round's outputs are ``localCheckpoint``-ed, which
    keeps the lineage constant; the checkpoints are lazy, so the stage
    that next reads one fills it and no separate count job runs.

    Raises ``RuntimeError`` when ``max_iter`` rounds, or ``max_iter``
    jumping passes, end before the labels reach a fixpoint.  Jobs at call
    time: one ``isEmpty`` probe per round and per final jumping pass, each
    one job plus one per shuffle stage it fills — 15 at sf0.001, which
    with ``minhash_lsh_pairs``' 2 is the ``dedup_clusters`` budget of 17."""
    cur = (
        edges.select(
            F.least(u, v).alias("u"),
            F.greatest(u, v).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )
    labels = None
    for _ in range(max_iter):
        nbr = cur.select(
            F.col("u").alias("id"), F.col("v").alias("lbl")
        ).unionByName(
            cur.select(F.col("v").alias("id"), F.col("u").alias("lbl"))
        )
        if labels is not None:
            nbr = nbr.unionByName(labels.select("id", "lbl"))
        hop = nbr.groupBy("id").agg(
            F.least(F.col("id"), F.min("lbl")).alias("lbl")
        )
        labels = _jump(hop).localCheckpoint(eager=False)
        lu = labels.select(F.col("id").alias("u"), F.col("lbl").alias("lu"))
        lv = labels.select(F.col("id").alias("v"), F.col("lbl").alias("lv"))
        cur = (
            cur.join(lu, on=["u"])
            .join(lv, on=["v"])
            .where(F.col("lu") != F.col("lv"))
            .select(
                F.least("lu", "lv").alias("u"),
                F.greatest("lu", "lv").alias("v"),
            )
            .dropDuplicates()
            .localCheckpoint(eager=False)
        )
        if cur.isEmpty():
            break
    else:
        raise RuntimeError(
            f"connected_components: edges left after max_iter={max_iter}"
            " rounds"
        )
    # a pass that moves no label leaves lbl(lbl) = lbl everywhere
    for _ in range(max_iter):
        if labels.where("_moved").isEmpty():
            return labels.drop("_moved")
        labels = _jump(labels.drop("_moved")).localCheckpoint(eager=False)
    raise RuntimeError(
        f"connected_components: labels still moving after max_iter={max_iter}"
        " jumps"
    )


# ---------------------------------------------------------------------------
# registered domain (public-suffix heuristic)
# ---------------------------------------------------------------------------

#: second-level labels that combine with a 2-letter ccTLD into a public
#: suffix (the high-frequency core of the Mozilla Public Suffix List —
#: a heuristic subset, NOT the full PSL; documented trade: covers
#: co.uk/com.au/ac.jp-style domains, misses exotic multi-part suffixes)
MULTI_PART_SLDS = (
    "co", "com", "net", "org", "gov", "ac", "edu", "sch", "or", "ne", "go",
)


def registered_domain(host: Column) -> Column:
    """eTLD+1 of a hostname via the public-suffix heuristic: when the
    last label is a 2-letter ccTLD and the second-to-last is a known
    multi-part SLD (``MULTI_PART_SLDS``), keep three labels, else two;
    hosts with fewer than two labels (localhost, IPs are out of scope)
    pass through.  The host-level dedup/aggregation key one level above
    ``host_of`` — site grouping by OWNER, not subdomain."""
    if isinstance(host, str):  # F.when would treat a str as a LITERAL
        host = F.col(host)
    parts = F.split(host, r"\.")
    n = F.size(parts)
    sld = F.element_at(parts, -2)
    tld = F.element_at(parts, -1)
    take3 = (
        (n >= 3) & (F.length(tld) == 2) & sld.isin(*MULTI_PART_SLDS)
    )
    return (
        F.when(n <= 2, host)
        .when(
            take3,
            F.concat_ws(".", F.element_at(parts, -3), sld, tld),
        )
        .otherwise(F.concat_ws(".", sld, tld))
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Incremental-crawl diff between two corpus snapshots:
    (url, status ∈ added|removed|changed|unchanged, old_digest,
    new_digest).  The bookkeeping behind incremental re-processing —
    only ``added``/``changed`` rows re-enter the pipeline, which is how
    a 10^12-doc corpus refreshes without a full recompute.

    One full-outer equi-join on the url with md5 digests computed
    map-side (content never shuffles)."""
    o = old.select(
        F.col(url_col).alias("url"),
        F.md5(F.encode(F.col(text_col), "utf-8")).alias("old_digest"),
    )
    n = new.select(
        F.col(url_col).alias("url"),
        F.md5(F.encode(F.col(text_col), "utf-8")).alias("new_digest"),
    )
    j = o.join(n, on="url", how="full_outer")
    status = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(F.col("old_digest") != F.col("new_digest"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select("url", status.alias("status"), "old_digest", "new_digest")

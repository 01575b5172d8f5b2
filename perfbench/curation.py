"""``curate_dedup``: the curation funnel over a seeded, already-extracted
corpus.

The corpus is ``gen.crawl_corpus`` written in the shape of the job's
output (url, warc_ts, lang, extracted_text, n_blocks): heavy-tailed pages,
re-crawls under tracking-parameter urls, exact duplicates and
near-duplicate chains of known length.  No page is segmented, so the work
is JVM shuffles, windows, MinHash LSH and the iterative
connected-components loop.

One pass is two timed operations: ``curate_corpus`` with the annotated
rows collected, then ``curation_stats``.  Checked outside the timing:
``n_input`` equals the input size, ``url_keep`` and ``exact_keep`` equal the
injected re-crawls and duplicates, and ``cluster_id`` of every survivor
equals a plain-Python union-find over the pairs ``minhash_lsh_pairs``
returns for the same survivors.  The last check may fail while
``webgraph.connected_components`` stops before its labels collapse; the
failures are counted, not hidden.

The traced run adds probes for LSH, connected components and quality
scoring on inputs materialised first; each probe span has a child span
that scans the same input, so its self time excludes the scan.
"""

from __future__ import annotations

import os
import time

import gen
from crawl import scan

#: error messages kept in the summary
MAX_ERRORS = 5
#: untimed passes in set-up: pass times fall over the first passes on a
#: fresh JVM (about 20 s, 8 s, 6.5 s, then 6 s); with fewer, the first
#: timed pass is still slow and a run's median depends on how many passes
#: fit in it
WARM_PASSES = 3
MINHASH = dict(num_hashes=64, bands=16, n=3, threshold=0.7)  # curate defaults


def expected_flags(corpus) -> tuple:
    """(url survivors, exact survivors) from the ground truth: a re-crawl
    loses to its earlier original; among equal texts the smallest url
    stays (``curate_corpus`` orders its digest window by url)."""
    url_keep = set(corpus.docs["url"]) - set(corpus.recrawls)
    by_text = {}
    for url, text in zip(corpus.docs["url"], corpus.docs["text"]):
        if url in url_keep:
            by_text.setdefault(text, []).append(url)
    exact_keep = {min(urls) for urls in by_text.values()}
    return url_keep, exact_keep


def union_find(ids, pairs) -> dict:
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def cluster_mismatches(rows, labels: dict) -> int:
    """Exact-stage survivors whose ``cluster_id`` is not their union-find
    label; a survivor the truth does not expect counts as wrong."""
    return sum(r.url not in labels or r.cluster_id != labels[r.url]
               for r in rows if r.exact_keep)


def write_corpus(corpus, path: str) -> None:
    """The corpus as an extraction output, one parquet file.  ``warc_ts``
    grows with doc id, as in ``synth_pages``, so a re-crawl (a later id)
    loses to its original."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = corpus.docs
    pdf = pd.DataFrame({
        "url": d["url"],
        "warc_ts": pd.to_datetime(d["doc_id"], unit="s", origin="2024-01-01"
                                  ).astype("datetime64[us]"),  # Spark reads us
        "lang": d["lang"],
        "extracted_text": d["text"],
        "n_blocks": d["text"].str.count(" ").astype("int32") // 40 + 1,
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(path, "part-0.parquet"))


def _state(corpus, path: str) -> dict:
    url_keep, exact_keep = expected_flags(corpus)
    return {"corpus": corpus, "path": path, "url_keep": url_keep,
            "exact_keep": exact_keep, "text": corpus.text_by_url, "rows": []}


def setup(ctx) -> dict:
    """Generate and write the corpus, then curate it untimed, so the timed
    passes run on a warm JVM."""
    tr = ctx.tracer
    gen_s = []
    for _ in range(3):
        t0 = time.perf_counter()
        corpus = gen.crawl_corpus(ctx.seed)
        gen_s.append(time.perf_counter() - t0)
    ctx.setup["gen_s"] = gen.median(gen_s)
    ctx.info["input_digest"] = gen.crawl_digest(corpus)
    ctx.n_docs = len(corpus.docs)
    st = _state(corpus, os.path.join(ctx.work, "corpus"))
    t0 = time.perf_counter()
    with tr.span("synth", "sources"):
        write_corpus(corpus, st["path"])
    ctx.setup["write_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    for _ in range(WARM_PASSES):
        with tr.span("warm_up", "workload"):
            p = _pass(ctx, st)
        ctx.info.setdefault("warm_pass_s", []).append(round(sum(p["ops"].values()), 3))
        if p["failures"] or p["errors"]:
            ctx.info["warm_up_failures"] = {**p["failures"], "errors": p["errors"]}
    ctx.setup["warm_s"] = time.perf_counter() - t0
    st["rows"].clear()  # the checks in finish cover the timed passes
    return st


def _pass(ctx, st: dict) -> dict:
    """One pass (two timed operations) and the checks that need no Spark."""
    from layout_parser_spark.plans.curate import curate_corpus, curation_stats

    spark, tr = ctx.spark, ctx.tracer
    ops, errors, failures = {}, [], {}
    ann, rows, stats = None, [], None
    t0 = time.perf_counter()
    with tr.span("curate_corpus", "curate"):
        try:
            ann = curate_corpus(spark.read.parquet(st["path"]))
            rows = ann.select("url", "url_keep", "exact_keep", "cluster_id"
                              ).collect()
        except Exception as e:  # counted as failed, the run goes on
            failures["curate_corpus"] = "raised"
            errors.append(f"curate_corpus: {type(e).__name__}: {e}"[:300])
    ops["curate_corpus"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    with tr.span("curation_stats", "curate"):
        try:
            stats = curation_stats(ann).collect()[0]
        except Exception as e:  # also when curate_corpus raised
            failures["curation_stats"] = "raised"
            errors.append(f"curation_stats: {type(e).__name__}: {e}"[:300])
    ops["curation_stats"] = time.perf_counter() - t0

    if stats is not None:
        st["kept"] = stats.keep
        if stats.n_input != len(st["text"]):
            failures["curation_stats"] = "n_input differs from the input size"
    if "curate_corpus" not in failures:
        got_url = {r.url for r in rows if r.url_keep}
        got_exact = {r.url for r in rows if r.exact_keep}
        if got_url != st["url_keep"] or got_exact != st["exact_keep"]:
            failures["curate_corpus"] = (
                "url/exact dedup flags differ from the injected truth")
    st["rows"].append((rows, failures))
    return {"ops": ops, "failures": failures, "errors": errors}


def window(ctx, st: dict) -> dict:
    passes, ops = [], {}
    t_begin = time.perf_counter()
    while ctx.more_passes(t_begin, passes):
        with ctx.tracer.span("pass", "workload"):
            p = _pass(ctx, st)
        passes.append(sum(p["ops"].values()))
        for k, v in p["ops"].items():
            ops.setdefault(k, []).append(v)
        errs = ctx.info.setdefault("errors", [])
        errs.extend(p["errors"][:MAX_ERRORS - len(errs)])
        ctx.rss.lap()
    return {
        "passes": passes,
        "attempted": sum(len(v) for v in ops.values()),
        "failed": 0,  # set by finish, once every check has run
        "e2e": {
            "pass_s": gen.median(passes),
            "docs_per_s": ctx.n_docs / gen.median(passes),
        },
        "info": {"ops_s": {k: [round(x, 3) for x in v] for k, v in ops.items()}},
    }


def finish(ctx, st: dict, res: dict) -> None:
    """The checks that need Spark: ``cluster_id`` of every pass against a
    union-find over ``minhash_lsh_pairs`` of the expected survivors.  Sets
    ``res["failed"]`` from every check of the timed passes."""
    from layout_parser_spark.operators.dedup import minhash_lsh_pairs

    surv = ctx.spark.createDataFrame(
        [(u, st["text"][u]) for u in sorted(st["exact_keep"])],
        "doc_id string, text string")
    pairs = [(r.id_a, r.id_b) for r in
             minhash_lsh_pairs(surv, **MINHASH).select("id_a", "id_b").collect()]
    labels = union_find(sorted(st["exact_keep"]), pairs)
    st["pairs"], st["surv"] = pairs, surv
    found = {tuple(sorted(p)) for p in pairs}
    ctx.info["lsh_pairs"] = len(pairs)
    ctx.info["pair_recall"] = (len(found & st["corpus"].chain_pairs)
                               / len(st["corpus"].chain_pairs))
    fails = {}
    for rows, f in st["rows"]:
        if "curate_corpus" not in f:
            wrong = cluster_mismatches(rows, labels)
            if wrong:
                f["curate_corpus"] = (
                    f"cluster_id differs from union-find on {wrong} docs")
        fails.update(f)
    res["failed"] = sum(len(f) for _, f in st["rows"])
    ctx.info["check_failures"] = fails


def probes(ctx, st: dict, n_traced_passes: int, input_scans: int) -> None:
    """One span per layer on materialised inputs; self time = span minus
    its child scan."""
    from pyspark.sql import functions as F

    from layout_parser_spark.operators.dedup import minhash_lsh_pairs
    from layout_parser_spark.operators.text_analysis import hashed_linear_score
    from layout_parser_spark.operators.webgraph import connected_components

    tr, L = ctx.tracer, ctx.layer
    surv_dir = os.path.join(ctx.work, "probe_survivors")
    pairs_dir = os.path.join(ctx.work, "probe_pairs")
    st["surv"].write.parquet(surv_dir)
    ctx.spark.createDataFrame(st["pairs"], "id_a string, id_b string").write.parquet(
        pairs_dir)

    with tr.span("minhash_lsh_pairs", "dedup") as s:
        surv = scan(ctx, surv_dir)
        pairs = minhash_lsh_pairs(surv, **MINHASH).select("id_a", "id_b").collect()
    L["dedup.lsh_s"] = s.self_s
    L["dedup.pairs"] = len(pairs)
    found = {tuple(sorted(p)) for p in pairs}
    L["dedup.pair_recall"] = (len(found & st["corpus"].chain_pairs)
                              / len(st["corpus"].chain_pairs))

    with tr.span("connected_components", "webgraph") as s:
        edges = scan(ctx, pairs_dir)
        connected_components(edges, u="id_a", v="id_b").collect()
    L["webgraph.cc_s"] = s.self_s
    L["webgraph.cc_jobs"] = s.jobs

    with tr.span("hashed_linear_score", "text_analysis") as s:
        surv = scan(ctx, surv_dir)
        hashed_linear_score(surv, dim=1024).agg(
            F.count("*"), F.sum("score_int")).collect()
    L["text_analysis.quality_s"] = s.self_s

    cur = tr.by_name("curate_corpus")[-n_traced_passes:]
    L["curate.s"] = gen.median([x.dur for x in cur])
    L["curate.kept"] = st.get("kept", 0)

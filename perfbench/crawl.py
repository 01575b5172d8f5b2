"""``extract_job``: a seeded crawl through the production job.

One pass is three operations on a fresh output root:

1. ``job.main`` stopped after half of the buckets (``--max-buckets``);
2. ``job.main`` again, resuming the pending buckets;
3. ``job.main`` a third time, a no-op over a fully committed output.

Each pass is checked outside its timing: the stopped run committed exactly
half of the buckets, every url is committed exactly once with
byte-identical ``extracted_text``, and the manifest covers every bucket
once with ``doc_count`` summing to the input size.

The traced run adds one probe per layer on inputs materialised first
(segmentation, boilerplate drop, XY-cut, manifest listing); each probe's
span has a child span that scans the same input, so its self time
excludes the scan.  It also runs the ``entry`` layer probe
(``contract.probe``).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time

import contract
import gen

BUCKETS = 2
#: untimed passes in set-up: pass times fall over the first passes on a
#: fresh JVM (codegen, JIT, Python workers) and are flat from the third on
WARM_PASSES = 2
#: error messages kept in the summary
MAX_ERRORS = 5


def write_pages(spark, corpus, path: str) -> None:
    from pyspark.sql import functions as F

    from layout_parser_spark.sources import synth_pages

    docs = spark.createDataFrame(corpus.docs[["doc_id", "text", "lang", "url"]])
    # re-crawls carry tracking-parameter urls of an earlier page: keep the
    # generated url instead of the one synth_pages derives from doc_id
    pages = synth_pages(docs.drop("url")).drop("url").join(
        F.broadcast(docs.select("doc_id", "url")), "doc_id"
    )
    pages.select("url", "warc_ts", "html", "text", "lang", "doc_id").coalesce(
        4).write.mode("overwrite").parquet(path)


def _bytes_under(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root) for f in files
    )


def _manifest_commit_times(root: str) -> list:
    """mtimes of the manifest files, one appended per committed bucket."""
    m = os.path.join(root, "_manifest")
    if not os.path.isdir(m):
        return []
    return sorted(
        os.path.getmtime(os.path.join(m, f))
        for f in os.listdir(m) if f.endswith(".parquet")
    )


def _manifest_buckets(root: str) -> list:
    import pyarrow.dataset as ds

    m = os.path.join(root, "_manifest")
    if not os.path.isdir(m):
        return []
    t = ds.dataset(m, format="parquet").to_table(columns=["bucket_id", "doc_count"])
    return list(zip(t.column("bucket_id").to_pylist(),
                    t.column("doc_count").to_pylist()))


def setup(ctx) -> dict:
    """Generate and write the crawl, then run untimed passes over it, so
    the timed passes run on a warm JVM (codegen, JIT, Python workers) and
    measure the engine rather than its start-up."""
    spark, tr = ctx.spark, ctx.tracer
    gen_s = []
    for _ in range(3):
        t0 = time.perf_counter()
        corpus = gen.crawl_corpus(ctx.seed)
        gen_s.append(time.perf_counter() - t0)
    ctx.setup["gen_s"] = gen.median(gen_s)
    ctx.info["input_digest"] = gen.crawl_digest(corpus)
    ctx.n_docs = len(corpus.docs)
    st = {"pages": os.path.join(ctx.work, "pages"), "text": corpus.text_by_url,
          "n_pass": 0}
    t0 = time.perf_counter()
    with tr.span("synth_pages", "sources"):
        write_pages(spark, corpus, st["pages"])
    ctx.setup["write_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    for _ in range(WARM_PASSES):
        with tr.span("warm_up", "workload"):
            p = _pass(ctx, st, os.path.join(ctx.work, "warm_out"))
        ctx.info.setdefault("warm_pass_s", []).append(round(p["pass_s"], 3))
        if p["failures"] or p["errors"]:
            ctx.info["warm_up_failures"] = {**p["failures"], "errors": p["errors"]}
    ctx.setup["warm_s"] = time.perf_counter() - t0
    return st


def _pass(ctx, st: dict, root: str) -> dict:
    """One pass (three timed operations) and its checks."""
    import job

    tr = ctx.tracer
    shutil.rmtree(root, ignore_errors=True)
    args = ["--input", st["pages"], "--output", root,
            "--buckets", str(BUCKETS), "--run-id", f"p{st['n_pass']}"]
    st["n_pass"] += 1
    ops, errors, bucket_s, failures = {}, [], [], {}
    for name, extra in (("job_partial", ["--max-buckets", str(BUCKETS // 2)]),
                        ("job_resume", []), ("job_noop", [])):
        t_wall = time.time()
        t0 = time.perf_counter()
        with tr.span(name, "manifest"):
            try:
                with contextlib.redirect_stdout(sys.stderr):
                    job.main(args + extra)
            except Exception as e:  # counted as failed, the run goes on
                failures[name] = "raised"
                errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
        ops[name] = time.perf_counter() - t0
        if name == "job_partial" and name not in failures and len(
                _manifest_buckets(root)) != BUCKETS // 2:
            failures[name] = "did not stop after --max-buckets buckets"
        if name != "job_noop":
            prev = t_wall
            for t in _manifest_commit_times(root):
                if t > t_wall:
                    bucket_s.append(t - prev)
                    prev = t

    for k, v in _check(st, root).items():
        failures.setdefault(k, v)
    out_bytes = _bytes_under(root)
    return {"pass_s": sum(ops.values()), "ops": ops, "failures": failures,
            "errors": errors, "bucket_s": bucket_s, "bytes": out_bytes,
            "write_amp": out_bytes / max(1, st.get("text_bytes", 1))}


def _check(st: dict, root: str) -> dict:
    """Per operation, a reason if its output is wrong."""
    import pyarrow.dataset as ds

    bad = {}
    text = st["text"]
    try:
        t = ds.dataset(root, format="parquet", partitioning="hive").to_table(
            columns=["url", "extracted_text"])
    except Exception as e:
        return {"job_resume": f"output unreadable: {type(e).__name__}"}
    urls, texts = t.column("url").to_pylist(), t.column("extracted_text").to_pylist()
    st["text_bytes"] = sum(len(x.encode()) for x in texts if x is not None)
    if len(urls) != len(set(urls)) or set(urls) != set(text):
        bad["job_resume"] = "urls not committed exactly once"
    elif any(text[u] != x for u, x in zip(urls, texts)):
        bad["job_resume"] = "extracted_text differs from the source text"
    man = _manifest_buckets(root)
    if (sum(n for _, n in man) != len(text)
            or sorted(b for b, _ in man) != list(range(BUCKETS))):
        bad["job_noop"] = "manifest does not cover the input exactly once"
    return bad


def window(ctx, st: dict) -> dict:
    passes, ops, bucket_s, fails = [], {}, [], {}
    noop, amp, nbytes = [], [], []
    attempted = failed = 0
    t_begin = time.perf_counter()
    while ctx.more_passes(t_begin, passes):
        with ctx.tracer.span("pass", "workload"):
            p = _pass(ctx, st, os.path.join(ctx.work, "out"))
        passes.append(p["pass_s"])
        for k, v in p["ops"].items():
            ops.setdefault(k, []).append(v)
        noop.append(p["ops"]["job_noop"])
        bucket_s.extend(p["bucket_s"])
        amp.append(p["write_amp"])
        nbytes.append(p["bytes"])
        attempted += len(p["ops"])
        failed += len(p["failures"])
        fails.update(p["failures"])
        errs = ctx.info.setdefault("errors", [])
        errs.extend(p["errors"][:MAX_ERRORS - len(errs)])
        ctx.rss.lap()
    ctx.info["check_failures"] = fails
    return {
        "passes": passes,
        "attempted": attempted,
        "failed": failed,
        "e2e": {
            "pass_s": gen.median(passes),
            "docs_per_s": ctx.n_docs / gen.median(passes),
        },
        "layer": {
            "manifest.noop_rerun_s": gen.median(noop),
            "manifest.write_amp": gen.median(amp),
            "manifest.bytes_written": gen.median(nbytes),
            "manifest.bucket_s_p50": gen.median(bucket_s) if bucket_s else 0.0,
        },
        "info": {"ops_s": {k: [round(x, 3) for x in v] for k, v in ops.items()},
                 "noop_rerun_s": gen.median(noop),
                 "write_amp": gen.median(amp)},
    }


def finish(ctx, st: dict, res: dict) -> None:
    """Every check of this workload runs inside ``_pass``."""


def _materialise_probe_inputs(ctx, st: dict) -> None:
    """Inputs of the traced run's layer probes, written before the probes."""
    from pyspark.sql import functions as F

    from layout_parser_spark.plans.extract import drop_boilerplate
    from layout_parser_spark.plans.segment import segment_pages
    from layout_parser_spark.sources.iceberg import read_pages

    spark = ctx.spark
    st["seg_dir"] = os.path.join(ctx.work, "probe_segmented")
    st["ro_dir"] = os.path.join(ctx.work, "probe_main_blocks")
    segment_pages(read_pages(spark, st["pages"])).write.parquet(st["seg_dir"])
    main = drop_boilerplate(spark.read.parquet(st["seg_dir"]))

    def field(k):
        return F.transform("main_blocks", lambda b: b[k]).alias(k)

    main.select("url", *[field(k) for k in ("x_1", "y_1", "x_2", "y_2", "text")]
                ).write.parquet(st["ro_dir"])


def scan(ctx, path: str, *cols):
    """Child span: a plain scan of a probe's input."""
    from pyspark.sql import functions as F

    with ctx.tracer.span("scan", "sources"):
        df = ctx.spark.read.parquet(path)
        df.agg(F.count("*"), *[F.sum(F.size(c)) for c in cols]).collect()
    return df


def probes(ctx, st: dict, n_traced_passes: int, input_scans: int) -> None:
    """One span per layer on materialised inputs; self time = span minus
    its child scan."""
    from pyspark.sql import functions as F

    from layout_parser_spark.plans.extract import drop_boilerplate
    from layout_parser_spark.plans.manifest import completed_buckets
    from layout_parser_spark.plans.reading_order import xy_cut_joined
    from layout_parser_spark.plans.segment import segment_pages_arrays
    from layout_parser_spark.sources.iceberg import read_pages

    tr, spark, L = ctx.tracer, ctx.spark, ctx.layer
    n = ctx.n_docs
    _materialise_probe_inputs(ctx, st)

    with tr.span("scan", "sources") as s:
        read_pages(spark, st["pages"]).agg(
            F.count("*"), F.sum(F.length("html"))).collect()
    L["sources.scan_s"] = s.dur

    with tr.span("segment_pages_arrays", "segment") as s:
        with tr.span("scan", "sources"):
            read_pages(spark, st["pages"]).agg(
                F.count("*"), F.sum(F.length("html"))).collect()
        r = segment_pages_arrays(read_pages(spark, st["pages"])).agg(
            F.sum(F.size("_bx1")).alias("blocks")).collect()[0]
    L["segment.s"] = s.self_s
    L["segment.docs_per_s"] = n / s.self_s
    L["segment.blocks"] = r.blocks

    with tr.span("drop_boilerplate", "extract") as s:
        seg = scan(ctx, st["seg_dir"], "blocks")
        r = drop_boilerplate(seg).agg(
            F.sum(F.size("main_blocks")).alias("kept"),
            F.sum(F.size("blocks")).alias("all")).collect()[0]
    L["extract.drop_s"] = s.self_s
    L["extract.kept_block_frac"] = r.kept / r.all

    with tr.span("xy_cut_joined", "reading_order") as s:
        ro = scan(ctx, st["ro_dir"], "text")
        rows = ro.select("url", xy_cut_joined(
            "x_1", "y_1", "x_2", "y_2", "text").alias("t")).collect()
    L["reading_order.s"] = s.self_s
    L["reading_order.docs_per_s"] = n / s.self_s
    wrong = sum(st["text"][r.url] != r.t for r in rows)
    if wrong:
        ctx.info["xy_cut_mismatches"] = wrong

    with tr.span("completed_buckets", "manifest") as s:
        completed_buckets(spark, os.path.join(ctx.work, "out"))
    L["manifest.completed_s"] = s.dur
    L["manifest.input_scans"] = input_scans / max(1, n_traced_passes)
    job_spans = [x for x in tr.spans[ctx.window_from:]
                 if x.name in ("job_partial", "job_resume")]
    L["manifest.jobs_per_bucket"] = (
        sum(x.jobs for x in job_spans) / (BUCKETS * max(1, n_traced_passes)))

    contract.probe(ctx)

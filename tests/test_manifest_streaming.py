"""Checkpoint-manifest resume (north_rule lineage) and the Structured
Streaming extraction variant."""

import os
import shutil
import tempfile
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from layout_parser_spark.plans.extract import extract_main_text
from layout_parser_spark.plans.manifest import (
    completed_buckets,
    read_manifest,
    run_with_manifest,
)
from layout_parser_spark.sources import synth_pages


@pytest.fixture()
def pages(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(80)
    return synth_pages(docs)


def _executions(spark):
    """The SQL executions recorded by the session's status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    return [execs.apply(i) for i in range(execs.size())]


def _extract(df):
    return extract_main_text(df).select("url", "doc_id", "extracted_text")


def test_manifest_resume(spark, pages, tmp_path):
    # 24 docs over 8 buckets: bucket 5 gets none, so the empty-bucket
    # counters (0 docs, 0 bytes) are exercised too
    pages = pages.limit(24)
    out_root = str(tmp_path / "out")
    # first run: only 2 of 8 buckets (simulated interruption)
    r1 = run_with_manifest(
        spark, pages, out_root, n_buckets=8, pipeline=_extract,
        run_id="r1", max_buckets_per_run=2,
    )
    assert r1["processed"] == [0, 1] and r1["skipped"] == []
    assert completed_buckets(spark, out_root) == [0, 1]

    # resume: anti-join leaves only the pending buckets
    r2 = run_with_manifest(
        spark, pages, out_root, n_buckets=8, pipeline=_extract, run_id="r2",
    )
    assert r2["processed"] == [2, 3, 4, 5, 6, 7] and r2["skipped"] == [0, 1]

    # manifest metrics: per bucket, the observed counters equal the rows
    # committed under bucket=<b>/, read back independently
    m = read_manifest(spark, out_root)
    rows = m.collect()
    assert sorted(r.bucket_id for r in rows) == list(range(8))
    # the read covers exactly the committed manifest files, one a bucket
    man = os.path.join(out_root, "_manifest")
    committed = {
        os.path.join(man, f) for f in os.listdir(man) if f.endswith(".parquet")
    }
    assert len(committed) == 8
    assert {urlparse(f).path for f in m.inputFiles()} == committed
    for r in rows:
        got = spark.read.parquet(f"{out_root}/bucket={r.bucket_id}").agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.length("extracted_text")), F.lit(0)).alias("b"),
        ).collect()[0]
        assert (r.doc_count, r.byte_count) == (got.n, got.b), r
    assert sum(r.doc_count for r in rows) == 24
    assert any(r.doc_count == 0 and r.byte_count == 0 for r in rows)
    # input lineage: every bucket of the same source records the same
    # backing-file digest (here: the documents parquet the pages derive
    # from), and the digest is a real md5 hex string
    lin = m.select("n_input_files", "input_files_digest").distinct().collect()
    assert len(lin) == 1
    assert lin[0].n_input_files >= 1
    assert len(lin[0].input_files_digest) == 32
    # all output rows present exactly once
    got = spark.read.parquet(out_root + "/bucket=*")
    assert got.count() == 24
    assert got.select("doc_id").distinct().count() == 24

    # idempotence: a third run does nothing
    r3 = run_with_manifest(
        spark, pages, out_root, n_buckets=8, pipeline=_extract,
    )
    assert r3["processed"] == []


def test_manifest_job_budget(spark, pages, tmp_path):
    """Committing a bucket runs one job for its output and one for its
    manifest row; the resume listing runs one job, none on a fresh root.
    No execution re-reads a committed bucket= directory (the counters
    come from the write's observed metrics)."""
    # a parquet input like job.py's: the fixture's limit() would add a
    # shuffle stage (one more job) to every bucket write
    src = str(tmp_path / "pages")
    pages.write.parquet(src)
    pages = spark.read.parquet(src)
    sc = spark.sparkContext
    out_root = str(tmp_path / "out")
    since = max((e.executionId() for e in _executions(spark)), default=-1)
    jobs = []
    try:
        for i in range(3):
            group = f"manifest-budget-{i}"
            sc.setJobGroup(group, group)
            run_with_manifest(
                spark, pages, out_root, n_buckets=2, pipeline=_extract,
                max_buckets_per_run=1,
            )
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # fresh root, root with a manifest, fully committed root
    assert jobs[0] <= 2 and jobs[1] <= 3 and jobs[2] <= 1, jobs
    assert completed_buckets(spark, out_root) == [0, 1]

    rereads = [
        line
        for e in _executions(spark) if e.executionId() > since
        for line in e.physicalPlanDescription().splitlines()
        if "Location:" in line and "bucket=" in line
    ]
    assert rereads == []


def test_read_pages_runs_no_job(spark, pages, tmp_path):
    """Building ``read_pages`` on a parquet directory runs no job (the
    contract schema replaces inference) and reads the contract columns
    only: the fixture's doc_id is not read."""
    from layout_parser_spark.sources.iceberg import PAGES_SCHEMA, read_pages

    src = str(tmp_path / "pages")
    pages.write.parquet(src)
    sc = spark.sparkContext
    sc.setJobGroup("read-pages", "read-pages")
    try:
        got = read_pages(spark, src)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("read-pages")) == []
    assert got.schema == PAGES_SCHEMA
    want = spark.read.parquet(src).select(*PAGES_SCHEMA.names)
    assert sorted(got.collect()) == sorted(want.collect())


def test_unreadable_manifest_raises(spark, tmp_path):
    """Only a missing _manifest, or one with no manifest file, means
    "nothing done": a store that cannot be read must fail the resume, not
    redo and double-count every bucket."""
    (tmp_path / "bare" / "_manifest").mkdir(parents=True)
    for root in (tmp_path / "none", tmp_path / "bare"):
        assert completed_buckets(spark, str(root)) == []
        empty = read_manifest(spark, str(root))
        assert empty.collect() == []
        assert empty.dtypes == [
            ("bucket_id", "int"), ("run_id", "string"),
            ("doc_count", "bigint"), ("byte_count", "bigint"),
            ("status", "string"), ("n_input_files", "bigint"),
            ("input_files_digest", "string"),
        ]
    with pytest.raises(Exception, match="nofs"):
        completed_buckets(spark, "nofs://x/out")
    with pytest.raises(Exception, match="nofs"):
        read_manifest(spark, "nofs://x/out")


def test_streaming_extraction(spark, pages, tmp_path):
    from layout_parser_spark.streaming import extract_stream

    src = str(tmp_path / "pages")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    pages.repartition(4).write.parquet(src)

    stream = extract_stream(spark, src, max_files_per_trigger=2)
    assert stream.isStreaming
    q = (
        stream.select("url", "doc_id", "text", "extracted_text")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(sink)
    rows = out.collect()
    assert len(rows) == 80
    # streaming output preserves the byte-identity invariant
    assert all(r.extracted_text == r.text for r in rows)

    # exactly-once on restart: availableNow with same checkpoint adds nothing
    q2 = (
        extract_stream(spark, src, max_files_per_trigger=2)
        .select("url", "doc_id", "text", "extracted_text")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(sink).count() == 80


def test_streaming_windowed_stats(spark, pages, tmp_path):
    from layout_parser_spark.streaming import extract_stream, windowed_block_stats

    src = str(tmp_path / "pages2")
    pages.write.parquet(src)
    stream = extract_stream(spark, src)
    stats = windowed_block_stats(stream)
    q = (
        stats.writeStream.format("memory")
        .queryName("winstats")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from winstats").collect()
    assert sum(r.n_docs for r in got) == 80
    assert all(r.text_bytes > 0 for r in got)


def test_stateful_host_stats(spark, pages, tmp_path):
    """applyInPandasWithState custom stateful op: per-host running stats."""
    from layout_parser_spark.streaming import extract_stream
    from layout_parser_spark.streaming.stateful import host_session_stats

    src = str(tmp_path / "pages3")
    pages.write.parquet(src)
    stream = extract_stream(spark, src, max_files_per_trigger=100)
    stats = host_session_stats(stream)
    q = (
        stats.writeStream.format("memory")
        .queryName("hoststats")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "select host, max(docs) as docs, max(text_bytes) as tb "
        "from hoststats group by host"
    ).collect()
    assert sum(r.docs for r in got) == 80
    assert all(r.tb > 0 for r in got)
    assert all(r.host.startswith("site") for r in got)


def test_iceberg_ddl_and_conf_construction(spark):
    """Gated Iceberg path: the DDL / conf / bucket expression are
    constructed correctly without a runtime jar; executing entry points
    raise the documented gate error."""
    import pytest as _pytest

    from layout_parser_spark.sources.iceberg import (
        create_pages_table,
        iceberg_bucket_of,
        iceberg_session_conf,
        pages_table_ddl,
    )

    ddl = pages_table_ddl("lps.db.pages", n_buckets=4096,
                          location="/warehouse/pages")
    assert "PARTITIONED BY (bucket(4096, url))" in ddl
    assert "USING iceberg" in ddl
    for col in ("url STRING", "warc_ts TIMESTAMP", "html BINARY",
                "text STRING", "lang STRING"):
        assert col in ddl
    assert "LOCATION '/warehouse/pages'" in ddl

    conf = iceberg_session_conf("lps", "/tmp/wh")
    assert conf["spark.sql.catalog.lps"].endswith("SparkCatalog")
    assert conf["spark.sql.catalog.lps.warehouse"] == "/tmp/wh"

    # bucket expr builds the system.bucket call (unresolved without a
    # catalog, so only its string form is checked)
    expr = iceberg_bucket_of("url", 4096)
    assert "bucket" in str(expr) and "4096" in str(expr)

    with _pytest.raises(NotImplementedError, match="Iceberg runtime"):
        create_pages_table(spark, "lps.db.pages", 16)


def test_dedup_stream_within_watermark(spark, tmp_path):
    """Streaming exact dedup: the duplicate text arriving within the
    watermark horizon is dropped; distinct texts survive."""
    import datetime as dt

    from layout_parser_spark.streaming import dedup_stream

    src = tmp_path / "in"
    out = tmp_path / "out"
    ckpt = tmp_path / "ck"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        ("u1", t0, "same text"),
        ("u2", t0 + dt.timedelta(seconds=30), "same text"),   # dup, in horizon
        ("u3", t0 + dt.timedelta(seconds=60), "other text"),
    ]
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string"
    ).coalesce(1).write.parquet(str(src / "batch0"))
    schema = spark.read.parquet(str(src / "batch0")).schema
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = (
        dedup_stream(stream)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(out)).collect()
    texts = sorted(r.text for r in got)
    assert texts == ["other text", "same text"]  # one copy each


def test_curate_corpus_funnel(spark, tmp_path):
    """End-to-end curation funnel: URL variants collapse, exact copies
    collapse, near-dups cluster to one representative, junk fails the
    quality gate — flags AND the one-row stats agree.  curate_corpus
    returns a materialized table, so building it, the collect and the
    stats read the input parquet in exactly one scan."""
    import json
    import subprocess
    import sys

    from layout_parser_spark.plans.curate import (
        curate_corpus,
        curation_stats,
    )

    good = ("the quick brown fox jumps over the lazy dog and the bird "
            "today with the usual calm of the morning")
    near = ("the quick brown fox jumps over the lazy cat and the bird "
            "today with the usual calm of the morning")
    rows = [
        # same canonical URL twice (tracking params) → url dedup
        ("https://a.com/x?utm_source=m", "2024-01-01T00:00:00", good),
        ("https://a.com/x", "2024-01-02T00:00:00", good),
        # exact copy at a different URL → exact dedup
        ("https://b.com/copy", "2024-01-01T00:00:00", good),
        # near-dup → cluster loser
        ("https://c.com/near", "2024-01-01T00:00:00", near),
        # too short → quality gate
        ("https://d.com/short", "2024-01-01T00:00:00", "tiny"),
        # distinct survivor
        ("https://e.com/other", "2024-01-01T00:00:00",
         "completely different article text about columnar engines and "
         "the joy of equi-joins in the morning light of the data center"),
        # a later re-fetch of the url-stage survivor's own raw url
        ("https://a.com/x?utm_source=m", "2024-03-01T00:00:00", good),
    ]
    path = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "url string, warc_ts string, extracted_text string"
    ).withColumn("warc_ts", F.to_timestamp("warc_ts")).write.parquet(path)

    since = max((e.executionId() for e in _executions(spark)), default=-1)
    ann = curate_corpus(
        spark.read.parquet(path), minhash_threshold=0.5, min_tokens=5
    )
    got = ann.collect()
    (refetch,) = [r for r in got if r.warc_ts.month == 3]
    flags = {r.url: r for r in got if r.warc_ts.month != 3}

    # url stage: earliest fetch per canonical keeps (utm variant, day 1)
    assert flags["https://a.com/x?utm_source=m"].url_keep
    assert not flags["https://a.com/x"].url_keep
    # the re-fetch loses the url stage and inherits nothing from the
    # survivor that shares its raw url
    assert not refetch.url_keep and not refetch.keep
    assert refetch.cluster_id is None and refetch.quality_score is None
    # exact stage: b.com/copy duplicates the a.com text
    assert not flags["https://b.com/copy"].exact_keep
    # near-dup: c.com/near clusters with the a.com survivor and loses
    a_url = "https://a.com/x?utm_source=m"
    assert flags["https://c.com/near"].cluster_id == flags[a_url].cluster_id
    assert not flags["https://c.com/near"].cluster_keep
    # quality: 'tiny' fails min_tokens
    assert not flags["https://d.com/short"].quality_keep
    # kept set: the two funnel survivors, minus any the (deterministic
    # stand-in) classifier scores non-positive — compute the expectation
    import hashlib

    from layout_parser_spark.operators.text_analysis import model_weights

    W = model_weights(1024)

    def q_keep(text):
        sc = sum(
            W[int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % 1024]
            for t in text.split(" ")
        )
        return sc > 0

    survivors = {a_url: good, "https://e.com/other": rows[5][2]}
    expected_kept = {u for u, t in survivors.items() if q_keep(t)}
    kept = {u for u, r in flags.items() if r.keep}
    assert kept == expected_kept

    st = curation_stats(ann).collect()[0]
    assert st.n_input == 7
    assert st.url_keep == 5 and st.exact_keep == 4
    assert st.cluster_keep == 3
    assert st.keep == len(kept)

    scans = sum(
        1
        for e in _executions(spark) if e.executionId() > since
        for line in e.physicalPlanDescription().splitlines()
        if "Location:" in line and path in line
    )
    assert scans == 1


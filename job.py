#!/usr/bin/env python
"""Production entry point: main-content extraction over a pages table.

Deployment (north_rule)::

    zip -r layout_parser_spark.zip layout_parser_spark
    spark-submit --py-files layout_parser_spark.zip job.py \
        --input  <pages parquet/iceberg path> \
        --output <output root> \
        --buckets 4096 --salt-partitions 8192

Design for the 10^12-doc cluster run:

* the input table is expected hash-bucketed on url (Iceberg
  ``bucket(N, url)``); ``--buckets`` drives the manifest/resume unit —
  re-running the same command after ANY interruption resumes exactly at
  the pending buckets (plans/manifest.py).  Each bucket commits in one
  job for its output plus one for its manifest row; the row's
  ``doc_count``/``byte_count`` are the write's own observed metrics, and
  the resume listing is one job (none before the first commit);
* ``--salt-partitions`` applies the explicit salted repartition
  ``pmod(xxhash64(url, 0), S)`` in front of the segmentation UDF stage
  to spread hot hosts;
* AQE + Arrow batch sizing come from ``session.DEFAULT_CONF`` and can be
  overridden by ``spark-submit --conf``.
"""

from __future__ import annotations

import argparse
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="pages source: parquet path (contains '/') or an "
                         "Iceberg table identifier like lps.db.pages")
    ap.add_argument("--input-format", default="auto",
                    choices=["auto", "parquet", "warc", "table"],
                    help="auto: table id without '/', .warc/.warc.gz glob, "
                         "else parquet")
    ap.add_argument("--bucket-method", default=None,
                    choices=["xxhash64", "iceberg"],
                    help="resume-bucket hash; 'iceberg' aligns with the "
                         "table's bucket(N, url) partitions for pruned "
                         "resume (default: iceberg for table inputs, "
                         "xxhash64 for paths)")
    ap.add_argument("--output", required=True, help="output root")
    ap.add_argument("--buckets", type=int, default=64,
                    help="manifest/resume bucket count (match table bucketing)")
    ap.add_argument("--salt-partitions", type=int, default=None,
                    help="salted repartition width before the UDF stage")
    ap.add_argument("--run-id", default="r0")
    ap.add_argument("--max-buckets", type=int, default=None,
                    help="process at most N pending buckets (for canaries)")
    ap.add_argument("--lang", default=None,
                    help="optional lang pushdown filter, e.g. 'en'")
    ap.add_argument("--curate", action="store_true",
                    help="curation mode: input is an EXTRACTION OUTPUT "
                         "parquet; run the URL-dedup -> exact-dedup -> "
                         "near-dup-cluster -> quality funnel and write "
                         "<output>/corpus (keep=true rows) plus "
                         "<output>/stats (one-row funnel report)")
    ap.add_argument("--minhash-threshold", type=float, default=0.7)
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--stream", action="store_true",
                    help="incremental mode: Structured Streaming file "
                         "source over a GROWING pages parquet directory; "
                         "each invocation drains only files not yet "
                         "committed in the checkpoint (trigger="
                         "availableNow) and stops - exactly-once without "
                         "the bucket manifest")
    ap.add_argument("--checkpoint", default=None,
                    help="streaming checkpoint location "
                         "(default <output>/_checkpoint)")
    ap.add_argument("--max-files-per-trigger", type=int, default=8,
                    help="streaming micro-batch size in input files")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from layout_parser_spark.plans.extract import extract_main_text
    from layout_parser_spark.plans.manifest import run_with_manifest
    from layout_parser_spark.session import get_spark

    from layout_parser_spark.sources.iceberg import read_pages

    spark = get_spark("lps-extract")
    if args.stream:
        from layout_parser_spark.streaming.extract_stream import (
            extract_stream,
        )

        ckpt = args.checkpoint or f"{args.output}/_checkpoint"
        out = extract_stream(
            spark,
            args.input,
            max_files_per_trigger=args.max_files_per_trigger,
            where=(F.col("lang") == args.lang) if args.lang else None,
            salt_partitions=args.salt_partitions,
        ).select("url", "warc_ts", "lang", "extracted_text", "n_blocks")
        q = (
            out.writeStream.format("parquet")
            .option("path", f"{args.output}/extracted")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_rows = sum(
            int(
                p.numInputRows
                if hasattr(p, "numInputRows")
                else p["numInputRows"]
            )
            for p in q.recentProgress
        )
        print(f"stream: input_rows={n_rows} checkpoint={ckpt}")
        return 0
    if args.curate:
        from layout_parser_spark.plans.curate import (
            curate_corpus,
            curation_stats,
        )

        corpus = spark.read.parquet(args.input)
        if "extracted_text" not in corpus.columns:
            # raw pages table → run the extraction front-end first, then
            # curate its output (the funnel's text column is the
            # EXTRACTED text, not the raw page text)
            corpus = extract_main_text(
                corpus,
                salt_partitions=args.salt_partitions,
            ).select("url", "warc_ts", "lang", "extracted_text", "n_blocks")
        # materialized: the corpus write, the stats write and the collect
        # below scan it instead of re-running the funnel
        annotated = curate_corpus(
            corpus,
            minhash_threshold=args.minhash_threshold,
            min_tokens=args.min_tokens,
        )
        annotated.where("keep").write.mode("overwrite").parquet(
            f"{args.output}/corpus"
        )
        stats_df = curation_stats(annotated)
        # stats land NEXT TO the corpus (works on HDFS/S3, not just local)
        stats_df.coalesce(1).write.mode("overwrite").json(
            f"{args.output}/stats"
        )
        import json as _json

        print(_json.dumps(stats_df.collect()[0].asDict()))
        return 0
    fmt = args.input_format
    if fmt == "auto":
        if "/" not in args.input:
            fmt = "table"
        elif ".warc" in args.input:
            fmt = "warc"
        else:
            fmt = "parquet"
    if fmt == "warc":
        from layout_parser_spark.sources.warc import read_warc

        pages = read_warc(spark, args.input)
    else:
        pages = read_pages(spark, args.input)
    is_table = fmt == "table"
    bucket_method = args.bucket_method or (
        "iceberg" if is_table else "xxhash64"
    )
    if bucket_method == "iceberg":
        from layout_parser_spark.sources.iceberg import _have_iceberg

        if not _have_iceberg(spark):
            if args.bucket_method == "iceberg":
                # explicit request → fail loudly with the gate message
                raise NotImplementedError(
                    "--bucket-method iceberg needs an Iceberg runtime on "
                    "the classpath (spark-submit --packages org.apache."
                    "iceberg:iceberg-spark-runtime-...); falling back is "
                    "only automatic when the method was inferred"
                )
            print(
                "WARN: input-format=table but no Iceberg runtime on the "
                "classpath - resume buckets use pmod(xxhash64(url), N) "
                "(identical resume semantics, no partition pruning)",
                file=sys.stderr,
            )
            bucket_method = "xxhash64"
    if args.lang:
        # native Column filter BEFORE the UDF stage → pushed into the scan
        pages = pages.where(F.col("lang") == args.lang)

    def pipeline(df):
        out = extract_main_text(
            df,
            salt_partitions=args.salt_partitions,
        )
        return out.select(
            "url", "warc_ts", "lang", "extracted_text", "n_blocks"
        )

    result = run_with_manifest(
        spark,
        pages,
        args.output,
        n_buckets=args.buckets,
        pipeline=pipeline,
        run_id=args.run_id,
        max_buckets_per_run=args.max_buckets,
        bucket_method=bucket_method,
    )
    print(
        f"processed={len(result['processed'])} buckets, "
        f"skipped(previously done)={len(result['skipped'])}"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Checkpoint manifests + exact resume (north_rule: "resumable from
checkpoint with per-partition lineage + metrics").

Batch Spark has no built-in exactly-once resume over a 10^12-doc input, so
the engine provides plain-DataFrame bookkeeping:

* the input is split into BUCKETS by ``pmod(xxhash64(url), n_buckets)`` —
  the same hash family as the Iceberg ``bucket(N, url)`` table layout, so
  a bucket is a stable, partition-pruned unit of work;
* each completed bucket writes one MANIFEST row ``(bucket_id, run_id,
  doc_count, byte_count, status, n_input_files, input_files_digest)``
  next to its output — the file digest records the SOURCE SNAPSHOT
  backing the run (md5 of the sorted backing-file list from
  ``DataFrame.inputFiles()``, a file-index listing, not a Spark job;
  ``inputFiles()`` reflects the whole relation, not the bucket filter,
  so it is computed once per run and stamped on every bucket row), so
  an audit can prove which snapshot of the source each committed
  bucket was produced from;
* a resumed run anti-joins the bucket list against the manifest and only
  processes pending buckets.

Spark jobs per call: the resume listing runs none when ``_manifest`` holds
no parquet file (a Hadoop ``FileSystem.globStatus`` check) and one collect
otherwise.
Each pending bucket runs one job that writes its output (plus one per
shuffle stage of the pipeline, e.g. a salted repartition) and one that
appends its manifest row, built in the JVM from literals.  ``doc_count``
and ``byte_count`` are the observed metrics of that write
(``DataFrame.observe``), not a re-read of the bucket's output.

Output + manifest are written per bucket (separate subdirectories), so a
crashed bucket leaves no committed manifest row and is simply redone —
idempotent at-least-once execution with exactly-once OUTPUT visibility via
the manifest.
"""

from __future__ import annotations

import hashlib as _hashlib
import os
from typing import Callable, List, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = (
    "bucket_id int, run_id string, doc_count long, byte_count long, "
    "status string, n_input_files long, input_files_digest string"
)


def bucket_of(url_col, n_buckets: int, method: str = "xxhash64"):
    """Resume-bucket expression.  ``method='iceberg'`` uses the table's
    own ``system.bucket(N, url)`` transform (Murmur3, Iceberg spec
    Appendix B) so the bucket filter prunes to exactly one partition of a
    ``PARTITIONED BY (bucket(N, url))`` table; requires an Iceberg
    catalog.  Default xxhash64 works on any source (no pruning)."""
    if method == "iceberg":
        from ..sources.iceberg import iceberg_bucket_of

        name = url_col if isinstance(url_col, str) else "url"
        return iceberg_bucket_of(name, n_buckets)
    return F.pmod(F.xxhash64(url_col), F.lit(n_buckets)).cast("int")


def _manifest_dir(root: str) -> str:
    return os.path.join(root, "_manifest")


def _manifest_files(root: str) -> str:
    """The glob of the committed manifest files.  Spark reads a root
    named ``_manifest`` but warns that it ignored it as a hidden path;
    the file names under it are not hidden."""
    return os.path.join(_manifest_dir(root), "*.parquet")


def _exists(spark: SparkSession, pattern: str) -> bool:
    """Some path matches the glob ``pattern`` on the Hadoop ``FileSystem``
    of its scheme (local, HDFS, S3, ...); a scheme with no ``FileSystem``
    raises."""
    p = spark._jvm.org.apache.hadoop.fs.Path(pattern)
    found = p.getFileSystem(spark._jsc.hadoopConfiguration()).globStatus(p)
    return found is not None and len(found) > 0


def _manifest_frame(spark: SparkSession, values: Optional[list] = None):
    """A MANIFEST_SCHEMA frame built in the JVM: one row of ``values``,
    or no rows when ``values`` is None.  No Python rows are serialized."""
    fields = [f.split() for f in MANIFEST_SCHEMA.split(", ")]
    vals = values if values is not None else [None] * len(fields)
    return spark.range(int(values is not None), numPartitions=1).select(
        *[F.lit(v).cast(t).alias(n) for (n, t), v in zip(fields, vals)]
    )


def read_manifest(spark: SparkSession, root: str) -> DataFrame:
    """The committed manifest rows; an empty frame only when ``_manifest``
    does not exist or holds no parquet file.  Any other failure (listing,
    permissions, unknown scheme) raises, so a resume never mistakes it
    for "nothing done"."""
    files = _manifest_files(root)
    if not _exists(spark, files):
        return _manifest_frame(spark)
    return spark.read.schema(MANIFEST_SCHEMA).parquet(files)


def completed_buckets(spark: SparkSession, root: str) -> List[int]:
    """Sorted ids of the committed buckets: no job when ``_manifest`` has
    no parquet file, else one collect (deduplicated here, not by a
    shuffle)."""
    files = _manifest_files(root)
    if not _exists(spark, files):
        return []
    m = spark.read.schema(MANIFEST_SCHEMA).parquet(files)
    rows = m.where(F.col("status") == "done").select("bucket_id").collect()
    return sorted({r.bucket_id for r in rows})


def run_with_manifest(
    spark: SparkSession,
    pages: DataFrame,
    out_root: str,
    n_buckets: int,
    pipeline: Callable[[DataFrame], DataFrame],
    run_id: str = "r0",
    url_col: str = "url",
    text_col: str = "extracted_text",
    max_buckets_per_run: Optional[int] = None,
    bucket_method: str = "xxhash64",
) -> dict:
    """Process all PENDING buckets of ``pages`` through ``pipeline``,
    committing one output directory + manifest row per bucket.

    Spark jobs: the resume listing runs one (none on a root with no
    ``_manifest``); each pending bucket then runs one job that writes
    ``pipeline(part)`` (plus one per shuffle stage the pipeline has, e.g.
    a salted repartition) and one that appends its manifest row.  The
    row's ``doc_count``/``byte_count`` are the write's own observed
    metrics (``DataFrame.observe`` on the pipeline's final frame), not a
    re-read of the bucket's output.

    Returns {"processed": [...], "skipped": [...]} bucket ids.  Calling it
    again after an interruption resumes exactly where it stopped (the
    anti-join is against the committed manifest)."""
    done = set(completed_buckets(spark, out_root))
    pending = [b for b in range(n_buckets) if b not in done]
    if max_buckets_per_run is not None:
        pending = pending[:max_buckets_per_run]

    withb = pages.withColumn(
        "_bucket", bucket_of(url_col, n_buckets, method=bucket_method)
    )
    # source-snapshot lineage: inputFiles() returns the relation's full
    # (unpruned) file listing whatever filter sits on top, so one digest
    # per run is the honest granularity — every bucket row this run
    # stamps the same snapshot it was read from.  Computed only when
    # there is pending work: a fully-resumed run should not pay the
    # file-index listing (ADVICE r5).
    files: list = []
    fdigest = ""
    if pending:
        files = sorted(pages.inputFiles())
        fdigest = _hashlib.md5("\n".join(files).encode()).hexdigest()
    processed = []
    for b in pending:
        part = withb.where(F.col("_bucket") == b).drop("_bucket")
        # observed in the writing result stage: Spark applies each
        # partition's metric update once, whatever the task retries
        obs = Observation()
        pipeline(part).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.length(text_col)), F.lit(0)).alias("b"),
        ).write.mode("overwrite").parquet(f"{out_root}/bucket={b}")
        st = obs.get
        row = [b, run_id, st["n"], st["b"], "done", len(files), fdigest]
        _manifest_frame(spark, row).write.mode("append").parquet(
            _manifest_dir(out_root)
        )
        processed.append(b)
    return {"processed": processed, "skipped": sorted(done)}

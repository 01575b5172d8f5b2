"""SparkSession factory with the engine's scale-oriented defaults.

These settings are what we would ship in ``spark-defaults.conf`` on a real
1000-executor cluster; in the sandbox they apply to local[N].  Rationale:

* AQE on (+ skew-join handling) — runtime re-planning and skew-split for
  the host-skewed url distribution the north_rule calls out.
* Arrow enabled with a bounded batch size — the html payload rows are fat
  (tens of KB); 2k rows/batch keeps Python-worker batches ~10-100 MB.
* shuffle.partitions sized for local mode; on a real cluster this is
  overridden per job (or left to AQE coalescing from a high initial count).
* the generated-class cache (``spark.sql.codegen.cache.maxEntries``)
  sized to the engine's working set, so each class is Janino-compiled
  (and then JIT-compiled) once per JVM.  Spark's default of 100 entries
  is smaller than one repeated call's distinct classes, so its LRU
  evicts each class before its reuse.  Measured working sets at local[2]: one
  ``curate_corpus`` call with ``curation_stats`` ~113-137 classes (a
  warm call recompiled 86-127 of them), the 62 contract queries ~850
  (a warm round recompiled 950), ``job.main`` 14.  2048 holds the
  largest with room to spare.  It is a static conf, read when the
  session is built.  ``tests/test_session.py`` fails when a warm call
  recompiles more than a tenth of its classes; when it does, raise the
  value here, never delete the test.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF = {
    "spark.driver.memory": "8g",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.sql.codegen.cache.maxEntries": "2048",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.ui.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    # Per-Column-op call-site capture costs an extra JVM round-trip on
    # EVERY DataFrame API call; the deep geometry expression trees make
    # thousands of such calls per query build (measured: is_in query
    # build 1.20 s → 0.47 s, intersect∪union 2.67 s → 1.54 s with this
    # off).  The only loss is the "called from file:line" origin in
    # error messages — re-enable via extra_conf when debugging.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "layout_parser_spark",
    master: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cores}]"
    )
    conf = dict(DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

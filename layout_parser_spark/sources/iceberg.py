"""Iceberg table path for the pages corpus (north_rule: "Iceberg table of
Common-Crawl-style web pages ... hash-bucketed partitioning on url").

The sandbox has no Iceberg runtime jar, so everything here is GATED: the
DDL/conf builders are pure string construction (tested), and the
executing entry points raise a clear error unless an Iceberg catalog is
actually configured on the session.

Bucket alignment: Iceberg's ``bucket(N, col)`` transform is a Murmur3
hash (public Iceberg spec §Appendix B), which Spark exposes through the
catalog function ``system.bucket(N, col)``.  When the input IS an Iceberg
table, the manifest's resume unit uses that same function, so
``WHERE system.bucket(N, url) = b`` prunes to exactly one table partition
per bucket — resume reads only pending partitions, never the full table.
On plain parquet the manifest falls back to ``pmod(xxhash64(url), N)``
(no partition pruning, but identical resume semantics).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: input_hint schema — the contract of the pages table
PAGES_SCHEMA = (
    StructType().add("url", "string").add("warc_ts", "timestamp")
    .add("html", "binary").add("text", "string").add("lang", "string")
)


def pages_table_ddl(
    table: str, n_buckets: int = 4096, location: str | None = None
) -> str:
    """CREATE TABLE DDL for the bucketed Iceberg pages table."""
    cols = ",\n  ".join(
        f"{f.name} {f.dataType.simpleString().upper()}" for f in PAGES_SCHEMA
    )
    loc = f"\nLOCATION '{location}'" if location else ""
    return (
        f"CREATE TABLE IF NOT EXISTS {table} (\n  {cols}\n)\n"
        f"USING iceberg\n"
        f"PARTITIONED BY (bucket({n_buckets}, url)){loc}\n"
        f"TBLPROPERTIES ('write.distribution-mode' = 'hash')"
    )


def iceberg_session_conf(
    catalog: str = "lps", warehouse: str = "/tmp/lps_warehouse"
) -> dict:
    """The spark-conf block to enable an Iceberg catalog (hadoop type) —
    merge into ``session.get_spark(extra_conf=...)`` or pass as
    ``spark-submit --conf`` pairs.  Requires the iceberg-spark-runtime jar
    on the cluster classpath."""
    return {
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions"
            ".IcebergSparkSessionExtensions"
        ),
    }


def _have_iceberg(spark: SparkSession) -> bool:
    # py4j resolves packages lazily, so attribute access never fails —
    # force an actual classload
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def create_pages_table(
    spark: SparkSession,
    table: str,
    n_buckets: int = 4096,
    location: str | None = None,
) -> str:
    """Execute the DDL (requires an Iceberg catalog on the session);
    returns the DDL string that was run."""
    ddl = pages_table_ddl(table, n_buckets, location)
    if not _have_iceberg(spark):
        raise NotImplementedError(
            "no Iceberg runtime on the classpath — run with "
            "--packages org.apache.iceberg:iceberg-spark-runtime-3.5_2.12 "
            "and iceberg_session_conf(); the DDL builder itself is tested "
            "without a runtime"
        )
    spark.sql(ddl)
    return ddl


def iceberg_bucket_of(url_col: str, n_buckets: int) -> Column:
    """The Iceberg-aligned bucket expression ``system.bucket(N, url)`` —
    matches the table's partition transform so a bucket filter prunes to
    one partition.  Only resolvable when an Iceberg catalog is active."""
    return F.expr(f"system.bucket({n_buckets}, {url_col})")


def read_pages(spark: SparkSession, source: str) -> DataFrame:
    """Read the pages corpus from either an Iceberg table identifier
    (``catalog.db.table`` — no slashes) or a parquet path.  Parquet is
    read with ``PAGES_SCHEMA`` (no schema-inference job; columns outside
    the contract are not read)."""
    if "/" in source:
        return spark.read.schema(PAGES_SCHEMA).parquet(source)
    return spark.read.table(source)

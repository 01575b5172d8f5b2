"""Session defaults that the engine's speed depends on."""

import random

from pyspark.sql import functions as F

from layout_parser_spark.plans.curate import curate_corpus, curation_stats
from layout_parser_spark.session import DEFAULT_CONF


def _near_dup_corpus(spark, path, seed=7):
    """30 random 30-word pages, three of them heading a chain of three
    near-duplicates (each link changes one word of the previous one)."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(300)]
    rows = []
    for i in range(30):
        words = [rng.choice(vocab) for _ in range(30)]
        rows.append((f"https://s{i % 5}.com/p{i}", " ".join(words)))
        if i % 10 == 0:
            for j in range(3):
                words = list(words)
                words[rng.randrange(30)] = rng.choice(vocab)
                rows.append((f"https://n{i}.com/c{j}", " ".join(words)))
    spark.createDataFrame(rows, "url string, extracted_text string").withColumn(
        "warc_ts", F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    ).write.parquet(path)
    return len(rows)


def test_codegen_cache_holds_curate_working_set(spark, tmp_path):
    """A warm curate_corpus call reuses the generated classes of the
    previous one.  With a codegen cache smaller than the call's distinct
    classes (Spark's default of 100 entries) the LRU evicts each class
    before its reuse and the second call recompiles half or more of
    them at this scale; when this fails, raise the cache size in
    session.DEFAULT_CONF."""
    path = str(tmp_path / "corpus")
    n = _near_dup_corpus(spark, path)
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles():
        return metrics.METRIC_COMPILATION_TIME().getCount()

    counts = []
    for _ in range(2):
        before = compiles()
        ann = curate_corpus(
            spark.read.parquet(path), minhash_threshold=0.5, min_tokens=5
        )
        assert len(ann.collect()) == n
        st = curation_stats(ann).collect()[0]
        counts.append(compiles() - before)
        # the chains collapse, so the connected-components loop ran
        assert st.n_input == n and st.cluster_keep < st.exact_keep
    first, second = counts
    assert second <= max(2, first // 10), counts
    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == DEFAULT_CONF.get(key)

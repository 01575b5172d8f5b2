"""Pin the r6 text-analysis fast paths value-identical to their
original Column-expression forms:

* ``with_lang_id`` / native ``stopword_ratio`` (regexp-count over
  space-doubled text) == the original interpreted filter-lambda cascade;
* ``repetition_stats_batched`` (Arrow integer-count kernel + JVM
  ratios) == the original interpreted sorted-array folds.

Both originals are reconstructed here verbatim so any drift in the fast
paths is caught against the frozen semantics, on real corpus data plus
adversarial whitespace/tie edge cases.
"""

import functools
import os

import pytest
from pyspark.sql import functions as F

from layout_parser_spark.operators.text_analysis import (
    STOPWORDS,
    repetition_stats,
    repetition_stats_batched,
    stopword_ratio,
    tokens,
    with_lang_id,
)

SF = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")

EDGE_TEXTS = [
    "",
    " ",
    "  ",
    "the",
    "the the",
    "the and of to in",
    "der die und",
    "的 是 了",
    "xx the  and yy",
    " the and ",
    "thee band",
    "the-and",
    "el la de que la la",
    "le la et les",
    "the der el le 的",
    "a b c d e f",
    "und und und und",
    "de de de",
    "la la la la de de que",
    "x " * 50 + "x",
    "tie tie bar bar",
]


@pytest.fixture(scope="module")
def corpus(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    edge = spark.createDataFrame(
        [(10**9 + i, t) for i, t in enumerate(EDGE_TEXTS)],
        "doc_id long, text string",
    )
    return d.unionByName(edge)


def _old_stopword_ratio(text, lang):
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def _old_lang_id(text):
    pairs = [
        F.struct(
            _old_stopword_ratio(text, lang).alias("r"),
            F.lit(lang).alias("l"),
        )
        for lang in sorted(STOPWORDS)
    ]
    best = F.greatest(*pairs)
    return F.when(best["r"] > 0, best["l"]).otherwise(F.lit("und"))


def test_stopword_ratio_matches_filter_lambda(corpus):
    conds = [
        ~_old_stopword_ratio(F.col("text"), lang).eqNullSafe(
            stopword_ratio(F.col("text"), lang)
        )
        for lang in sorted(STOPWORDS)
    ]
    assert (
        corpus.where(functools.reduce(lambda a, b: a | b, conds)).count()
        == 0
    )


def test_with_lang_id_matches_column_form(corpus):
    staged = with_lang_id(corpus).select("doc_id", "pred_lang")
    col = corpus.select(
        "doc_id", _old_lang_id(F.col("text")).alias("pred_lang")
    )
    j = staged.alias("a").join(col.alias("b"), "doc_id")
    assert (
        j.where(
            ~F.col("a.pred_lang").eqNullSafe(F.col("b.pred_lang"))
        ).count()
        == 0
    )


def test_repetition_kernel_matches_fold(corpus):
    toksd = corpus.select(
        "doc_id", F.split(F.col("text"), " ").alias("_toks")
    )
    stats = repetition_stats(F.col("_toks"))
    old = toksd.select(
        "doc_id", *[c.alias(n) for n, c in stats.items()]
    )
    new = repetition_stats_batched(corpus)
    cols = [
        "n_tokens",
        "distinct_ratio",
        "top_token_frac",
        "top_bigram_frac",
    ]
    j = old.alias("a").join(new.alias("b"), "doc_id")
    conds = [
        ~F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}")) for c in cols
    ]
    assert (
        j.where(functools.reduce(lambda a, b: a | b, conds)).count() == 0
    )
    assert new.count() == corpus.count()

"""Corpus curation: the full training-data pipeline composition over an
extraction output — what actually runs between "crawl extracted" and
"tokens into the trainer".

Stage order (cheap → expensive, each stage only sees prior survivors):

1. **URL dedup** — first fetch per canonical URL
   (``webgraph.canonicalize_url``; earliest ``warc_ts`` wins, url as
   tie-break) — kills re-crawls/tracking-param duplicates before any
   content hashing;
2. **exact dedup** — first page per md5(text) digest;
3. **near-dup clusters** — MinHash-LSH pairs → connected components →
   keep only each cluster's representative (``dedup.dedup_clusters``);
4. **quality gate** — minimum token count + the hashed-linear
   classifier score (``text_analysis.hashed_linear_score``).

Every row carries per-stage boolean flags, so the curated corpus AND
the funnel statistics come from the SAME annotated DataFrame — one
pipeline, no per-stage recounting passes over the input.

``curate_corpus`` is an eager operator: it runs Spark jobs when called
and returns a materialized table.  At call time it

* reads the input once and runs the url and exact windows, and
  ``localCheckpoint``-s the flagged frame;
* runs ``minhash_lsh_pairs``' signature checkpoint over the exact-stage
  survivors (read from that checkpoint);
* runs the connected-components loop: its convergence probes and
  per-round checkpoints;
* joins clusters and quality scores onto the flagged frame and
  ``localCheckpoint``-s the annotated result.

Every consumer of the result (``curation_stats``, ``.where("keep")``
writes, collects) scans that last checkpoint: the input scan and both
windows never run again.  Like the component loop's checkpoints, the two
``localCheckpoint``-s keep their blocks in executor storage, not in
reliable storage, so they do not survive the loss of an executor: a job
that then reads a lost block fails instead of recomputing it.

Scale shape: stages 1-2 are window/hash-agg equi-shuffles on canonical
url / digest; stage 3 is the banded equi-join + O(log n) component
rounds; stage 4 is map-side + one combinable agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def curate_corpus(
    df: DataFrame,
    text_col: str = "extracted_text",
    url_col: str = "url",
    ts_col: str = "warc_ts",
    min_tokens: int = 5,
    minhash_threshold: float = 0.7,
    quality_threshold: int = 0,
    quality_dim: int = 1024,
) -> DataFrame:
    """Annotate every input row with the curation-funnel flags:

    (…input columns…, canonical_url, url_keep, exact_keep, cluster_id,
    cluster_keep, n_tokens, quality_score, quality_keep, keep)

    Flags are cumulative: each stage flag means "survived through that
    stage", so ``keep`` equals ``quality_keep`` (kept as an explicit
    conjunction for auditability) and ``curation_stats`` is a monotone
    funnel.  Rows cut before the near-dup stage carry NULL
    ``cluster_id`` and rows cut before the quality stage NULL
    ``quality_score`` — later stages never compute on losers.  The
    curated corpus is ``curate_corpus(df).where("keep")``.

    Runs the whole funnel before it returns (the module docstring lists
    the jobs) and returns a ``localCheckpoint``-ed table, which is lost
    with the executor that holds it."""
    from ..operators.dedup import dedup_clusters
    from ..operators.text_analysis import hashed_linear_score, tokens
    from ..operators.webgraph import canonicalize_url

    d = df.withColumn("canonical_url", canonicalize_url(F.col(url_col)))
    w_url = Window.partitionBy("canonical_url").orderBy(
        F.col(ts_col).asc_nulls_last(), F.col(url_col)
    )
    d = d.withColumn("url_keep", F.row_number().over(w_url) == 1)

    # exact dedup over URL-stage survivors only: URL-stage losers get a
    # unique digest partition (their own url) so they never displace a
    # survivor, and the url_keep conjunction zeroes them regardless
    digest = F.md5(F.encode(F.col(text_col), "utf-8"))
    survivor_digest = F.when(F.col("url_keep"), digest).otherwise(
        F.concat(F.lit("loser:"), F.col(url_col))
    )
    w_digest = Window.partitionBy(survivor_digest).orderBy(F.col(url_col))
    d = d.withColumn(
        "exact_keep",
        F.col("url_keep") & (F.row_number().over(w_digest) == 1),
    )
    # the flagged frame feeds the LSH signature job, the cluster join and
    # the score input: materialize it so the input scan and both windows
    # run once
    d = d.localCheckpoint(eager=True)

    survivors = d.where(F.col("exact_keep")).select(
        F.col(url_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    clusters = dedup_clusters(
        survivors, threshold=minhash_threshold
    ).select(
        F.col("id").alias(url_col),
        F.col("cluster_id"),
        F.col("is_keeper").alias("cluster_keep"),
    )
    # The cluster and score tables come from survivors, whose urls are
    # unique (url-stage dedup leaves at most one survivor per url), so
    # both joins are 1:1 on the survivor side.  They key on the raw url,
    # though, so a url_keep=false re-fetch of a survivor's url matches
    # the survivor's row: every joined column is gated on the row's own
    # flag from the stage before.
    d = d.join(clusters, on=url_col, how="left").withColumns({
        "cluster_id": F.when(F.col("exact_keep"), F.col("cluster_id")),
        "cluster_keep": F.col("exact_keep")
        & F.coalesce(F.col("cluster_keep"), F.lit(False)),
    })

    # score only cluster survivors: the classifier runs on survivors,
    # not the whole crawl
    scores = hashed_linear_score(
        d.where(F.col("cluster_keep")).select(
            F.col(url_col).alias("doc_id"), F.col(text_col).alias("text")
        ),
        dim=quality_dim,
        threshold=quality_threshold,
    ).select(
        F.col("id").alias(url_col),
        F.col("score_int").alias("quality_score"),
        F.col("keep").alias("_q_keep"),
    )
    d = (
        d.join(scores, on=url_col, how="left")
        .withColumn(
            "quality_score",
            F.when(F.col("cluster_keep"), F.col("quality_score")),
        )
        .withColumn("n_tokens", F.size(tokens(F.col(text_col))))
        .withColumn(
            "quality_keep",
            F.col("cluster_keep")
            & F.coalesce(F.col("_q_keep"), F.lit(False))
            & (F.col("n_tokens") >= min_tokens),
        )
        .drop("_q_keep")
    )
    return d.withColumn(
        "keep",
        F.col("url_keep") & F.col("exact_keep")
        & F.col("cluster_keep") & F.col("quality_keep"),
    ).localCheckpoint(eager=True)


def curation_stats(annotated: DataFrame) -> DataFrame:
    """One-row funnel report over ``curate_corpus`` output — a single
    combinable aggregate over the materialized table (no per-stage
    recount jobs, no re-run of the funnel)."""
    cnt = lambda c: F.sum(F.col(c).cast("long")).alias(c)  # noqa: E731
    return annotated.agg(
        F.count(F.lit(1)).alias("n_input"),
        cnt("url_keep"),
        cnt("exact_keep"),
        cnt("cluster_keep"),
        cnt("quality_keep"),
        cnt("keep"),
    )

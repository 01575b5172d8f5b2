"""Text-analysis operators for a large-scale training-data pipeline:
language ID, quality scoring, token stats, document fingerprinting.

Column expressions (JVM-side, codegen) over a text column, except two
per-row Python kernels on ``transport.map_pages``: the repetition counts
(``repetition_stats_batched``) and NFC (``nfc_normalize_text``).  Each
query has an exact ANSI-SQL twin in ``__spark_entry__.oracle_sql``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StringType, StructField

from ..transport import map_pages

#: tiny per-language stopword lists (n-gram heuristic lexicons — public
#: common function words).  Deliberately small: the heuristic's quality is
#: not the point, its deterministic distributed evaluation is.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "auf", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "dans", "que", "pour", "une"],
    "es": ["el", "la", "de", "que", "los", "en", "es", "por", "con", "para"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "人"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (the corpus is single-space separated)."""
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def regex_token_count(text: Column) -> Column:
    """BPE-ish pre-tokenizer count: alnum runs + single non-alnum-non-space
    marks, the standard GPT-style pre-split approximation."""
    return F.size(
        F.regexp_extract_all(text, F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), 0)
    )


def _space_doubled(text: Column) -> Column:
    """`` text-with-doubled-spaces ``: every token (as produced by
    ``split(text, ' ')``) is flanked by its OWN leading and trailing
    space, so counting non-overlapping occurrences of ``' w '`` counts
    exactly the tokens equal to ``w`` (adjacent matches can't steal each
    other's separator)."""
    return F.concat(
        F.lit(" "), F.replace(text, F.lit(" "), F.lit("  ")), F.lit(" ")
    )


def _stopword_hits(padded: Column, lang: str) -> Column:
    """Number of tokens equal to any stopword of ``lang``, counted over a
    ``_space_doubled`` text.  The alternation is over literal words (no
    regex metacharacters in the lexicons), and the flanking spaces force
    whole-token matches, so this equals the filter-lambda count exactly —
    but it runs as ONE codegen'd regexp pass instead of an interpreted
    higher-order-function loop (guide §4.1: HOF lambdas evaluate outside
    whole-stage codegen, ~3 ms/doc for the 2x5-language cascade)."""
    pat = " (" + "|".join(STOPWORDS[lang]) + ") "
    return F.regexp_count(padded, F.lit(pat))


def stopword_ratio(text: Column, lang: str) -> Column:
    """fraction of tokens that are stopwords of ``lang``."""
    hits = _stopword_hits(_space_doubled(text), lang)
    # token count without materializing the split array: one separator
    # per single space (split(text, ' ') yields n_spaces+1 elements,
    # empties included)
    n_toks = (
        F.length(text) - F.length(F.replace(text, F.lit(" "), F.lit("")))
        + F.lit(1)
    )
    return hits / F.greatest(n_toks, F.lit(1))


def _lang_id_cascade(ratio_cols: "dict[str, Column]") -> Column:
    """argmax-by-(ratio, lang-code) cascade over per-language ratio
    COLUMNS; 'und' when all ratios are 0 (ties resolve to the largest
    lang code — pinned by the driver oracle's reversed CASE)."""
    pairs = [
        F.struct(ratio_cols[lang].alias("r"), F.lit(lang).alias("l"))
        for lang in sorted(ratio_cols)
    ]
    best = F.greatest(*pairs) if len(pairs) > 1 else pairs[0]
    return F.when(best["r"] > 0, best["l"]).otherwise(F.lit("und"))


def with_lang_id(df, text_col: str = "text", out_col: str = "pred_lang"):
    """Heuristic language ID into ``out_col``: argmax of per-language
    stopword ratios, ties broken by language code order; 'und' when all
    ratios are 0.

    The per-language stopword counts are staged through their own
    projection, so each counting pass runs ONCE per row (CollapseProject
    keeps the stage because the counts are non-cheap and multiply
    referenced); the same cascade over inline ratios would re-reference
    each counting pass twice, and codegen does not CSE it (measured 2x)."""
    padded = _space_doubled(F.col(text_col))
    n_toks = (
        F.length(text_col)
        - F.length(F.replace(F.col(text_col), F.lit(" "), F.lit("")))
        + F.lit(1)
    )
    langs = sorted(STOPWORDS)
    staged = df.withColumns(
        {f"_lh_{lang}": _stopword_hits(padded, lang) for lang in langs}
    ).withColumn("_lh_n", n_toks)
    denom = F.greatest(F.col("_lh_n"), F.lit(1))
    pred = _lang_id_cascade(
        {lang: F.col(f"_lh_{lang}") / denom for lang in langs}
    )
    return staged.withColumn(out_col, pred).drop(
        "_lh_n", *[f"_lh_{lang}" for lang in langs]
    )


def quality_score(text: Column) -> Column:
    """Composite quality score in [0,1]: length band + mean token length
    band + punctuation ratio penalty — the standard cheap pre-filter
    family (C4/Gopher-style rules, re-expressed columnar)."""
    n_chars = F.length(text)
    n_toks = token_count(text)
    mean_tok = n_chars / F.greatest(n_toks, F.lit(1))
    punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s一-鿿]", ""))
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    len_ok = (
        F.when(n_chars < 20, 0.0).when(n_chars > 10000, 0.5).otherwise(1.0)
    )
    tok_ok = F.when((mean_tok >= 2) & (mean_tok <= 12), 1.0).otherwise(0.5)
    return F.round(
        len_ok * 0.5 + tok_ok * 0.3 + (1.0 - punct_ratio) * 0.2, 6
    )


def doc_fingerprint(text: Column) -> Column:
    """Deterministic position-weighted token fingerprint:
    sum over tokens of (i+1) * (131*len(tok) + ascii(first char)), mod
    2^31−1.  A cheap rolling-hash-style document signature that is exactly
    expressible in both Spark and ANSI SQL (for the oracle)."""
    toks = tokens(text)
    weighted = F.zip_with(
        toks,
        F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1))),
        lambda t, i: i.cast("long")
        * (F.lit(131) * F.length(t) + F.ascii(t)).cast("long"),
    )
    return F.pmod(
        F.aggregate(weighted, F.lit(0).cast("long"), lambda a, x: a + x),
        F.lit(2147483647).cast("long"),
    )


def _max_run(sorted_arr: Column) -> Column:
    """Longest run of equal consecutive elements in a SORTED array — the
    per-document mode count, computed by one fold (no explode/shuffle)."""
    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc, x):
        run = F.when(
            acc["prev"].isNull() | (acc["prev"] != x), F.lit(1)
        ).otherwise(acc["run"] + 1)
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(sorted_arr, acc0, step, lambda a: a["best"])


def repetition_stats(toks: Column) -> "dict[str, Column]":
    """Gopher-style repetition quality signals from a TOKEN ARRAY
    attribute (stage split() first — see shingles_from_tokens contract):

    * ``distinct_ratio`` — type/token ratio,
    * ``top_token_frac`` — fraction of tokens that are the single most
      frequent token,
    * ``top_bigram_frac`` — fraction of bigrams that are the most
      frequent bigram.

    All per-document folds over sorted arrays; no explode, no shuffle —
    the map-side shape that survives 10^12 docs (the published Gopher/C4
    repetition rules are thresholds over exactly these fractions)."""
    n = F.size(toks)
    bigrams = F.zip_with(
        toks,
        F.slice(toks, 2, F.greatest(n - 1, F.lit(1))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    # zip_with pads the shorter side with null → drop the tail pair
    bigrams = F.slice(bigrams, 1, F.greatest(n - 1, F.lit(0)))
    return {
        "n_tokens": n.cast("long"),
        "distinct_ratio": F.round(
            F.size(F.array_distinct(toks)) / F.greatest(n, F.lit(1)), 6
        ),
        "top_token_frac": F.round(
            _max_run(F.array_sort(toks)) / F.greatest(n, F.lit(1)), 6
        ),
        "top_bigram_frac": F.round(
            _max_run(F.array_sort(bigrams))
            / F.greatest(n - 1, F.lit(1)),
            6,
        ),
    }


def repetition_stats_batched(
    df, text_col: str = "text", id_col: str = "doc_id"
):
    """``repetition_stats`` with its INTEGER counts from a per-row
    kernel on ``transport.map_pages``: per document (n_tokens,
    n_distinct, max_token_count, max_bigram_count) from the raw text,
    then the ratios and ROUND in the JVM — value-identical output,
    map-only, no shuffle.

    Why a designed Python slot: the Column form is three interpreted
    higher-order-function folds per row (aggregate with a struct
    accumulator over sorted arrays — HOF lambdas evaluate outside
    whole-stage codegen; measured ~1.3 ms/doc).  The kernel returns
    ONLY exact integers — every ratio, division and ROUND stays in the
    JVM expression layer, so there is zero float-semantics surface.
    Equality with the fold form is pinned by
    tests/test_text_analysis_kernels.py.

    Token/bigram equivalence notes: ``split(text, ' ')`` ==
    ``str.split(' ')`` (both keep empties, both yield [''] for ''); the
    fold's max-run-over-sorted-array IS the max multiplicity; bigram
    strings ``concat_ws(' ', a, b)`` are in bijection with the (a, b)
    pairs because tokens cannot contain the separator — counting pairs
    directly is identical."""
    from collections import Counter

    def counts(text):
        if text is None:
            return [(None, None, None, None)]
        toks = text.split(" ")
        c = Counter(toks)
        mb = max(Counter(zip(toks, toks[1:])).values()) if len(toks) > 1 else 0
        return [(len(toks), len(c), max(c.values()), mb)]

    cnt = map_pages(
        df.select(id_col, F.col(text_col).alias("_text")),
        counts,
        ["_text"],
        [StructField(c, LongType()) for c in ("_n", "_d", "_mx", "_mb")],
    )
    n = F.col("_n")
    return cnt.select(
        id_col,
        n.alias("n_tokens"),
        F.round(F.col("_d") / F.greatest(n, F.lit(1)), 6).alias(
            "distinct_ratio"
        ),
        F.round(F.col("_mx") / F.greatest(n, F.lit(1)), 6).alias(
            "top_token_frac"
        ),
        F.round(F.col("_mb") / F.greatest(n - 1, F.lit(1)), 6).alias(
            "top_bigram_frac"
        ),
    )


def unigram_logprob(df, text_col: str = "text", id_col: str = "doc_id"):
    """Corpus-trained unigram LM score per document — the shuffle-shape
    analog of CCNet's KenLM perplexity filter: estimate p(tok) from the
    corpus itself, score each document by the mean token log-probability
    (higher = more typical text, very low = gibberish/outlier).

    Returns (id, avg_logprob, n_tokens).

    Scale shape: token frequencies are one map-side-combinable aggregate;
    the corpus total is a one-row broadcast; the score join shuffles on
    the token (the same equi-shuffle every dedup op here uses).  No
    smoothing is needed because the vocabulary IS the corpus (every
    scored token has count >= 1)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        # outer + notnull: avoids the inferred pre-filter re-tokenizing
        F.explode_outer(tokens(F.col(text_col))).alias("tok"),
    ).where(F.col("tok").isNotNull())
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("t"))
    return (
        toks.join(freq, on="tok")
        .crossJoin(F.broadcast(total))
        .groupBy("id")
        .agg(
            F.round(F.avg(F.log(F.col("c") / F.col("t"))), 6).alias(
                "avg_logprob"
            ),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


def corpus_top_ngrams(
    df,
    n: int = 2,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Corpus-level top-k n-gram frequency table — the Gopher-style
    corpus statistic behind repetition thresholds and stopword lists.

    Returns (gram, occurrences, doc_frequency, rank) with a fully
    deterministic integer ordering (occurrences DESC, gram ASC), so the
    result is engine-independent (no float ranking ties).

    Scale shape: gram construction is MAP-SIDE (an array transform over
    each doc's token array — no window, so no shuffle on the doc id
    before aggregation), then one combinable hash aggregate and
    ``orderBy().limit(k)`` — Spark compiles that to
    TakeOrderedAndProject (per-partition heap top-k + driver merge), so
    NO full sort and no unpartitioned window ever touches the
    vocabulary-sized gram table; only the final k rows see a window,
    partitioned by a constant."""
    from pyspark.sql import Window

    toksd = df.select(
        F.col(id_col).alias("_rid"), tokens(F.col(text_col)).alias("_toks")
    )
    if n > 1:
        kk = F.size(F.col("_toks")) - (n - 1)
        gram_arr = F.when(
            kk >= 1,
            F.transform(
                F.sequence(F.lit(1), F.greatest(kk, F.lit(1))),
                lambda i: F.concat_ws(
                    " ",
                    *[F.element_at(F.col("_toks"), i + j) for j in range(n)],
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        grams = toksd.select(
            "_rid", F.explode_outer(gram_arr).alias("gram")
        ).where(F.col("gram").isNotNull())
    else:
        grams = toksd.select(
            "_rid", F.explode_outer(F.col("_toks")).alias("gram")
        ).where(F.col("gram").isNotNull())
    agg = grams.groupBy("gram").agg(
        F.count(F.lit(1)).alias("occurrences"),
        F.countDistinct("_rid").alias("doc_frequency"),
    )
    topk = agg.orderBy(F.desc("occurrences"), F.asc("gram")).limit(k)
    w_rank = Window.partitionBy(F.lit(0)).orderBy(
        F.desc("occurrences"), F.asc("gram")
    )
    return topk.withColumn("rank", F.row_number().over(w_rank))


def model_weights(dim: int = 1024, seed: str = "quality-v1"):
    """Deterministic integer weight vector for the hashed linear
    classifier — an md5-derived stand-in for trained fasttext-style
    weights (values in [-1000, 1000]).  Shared by the Spark plan and the
    SQL-oracle generator; a real deployment swaps in trained weights via
    the same broadcast-literal slot."""
    import hashlib

    return [
        int.from_bytes(hashlib.md5(f"{seed}:{i}".encode()).digest()[:4],
                       "big") % 2001 - 1000
        for i in range(dim)
    ]


def hashed_linear_score(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 1024,
    seed: str = "quality-v1",
    threshold: int = 0,
):
    """fasttext-style document scoring via the hashing trick: token →
    md5 lane → bucket ``lane % dim`` → weight lookup in a broadcast
    LITERAL array — NO join, the weight vector rides inside the
    expression tree to every executor — then one combinable integer sum
    per document.  Returns (id, score_int BIGINT, keep BOOL).

    This is the model-based quality-filtering slot (CCNet/fasttext
    language+quality classifiers): swap ``model_weights`` for trained
    values and the plan is production-shaped.  All-integer arithmetic →
    the driver oracle value-matches exactly (no float summation-order
    hazard).

    Scale shape: explode + map-side lookup + hash aggregate on the doc
    id; weight vectors up to ~10^6 dims fit comfortably as a broadcast
    literal."""
    from .dedup import md5_lane60

    # the weights as ONE parsed SQL literal, i.e. one py4j call: F.lit of
    # a numpy array sets each element through its own py4j call (~2,000
    # calls per build at dim 1024)
    W = F.expr(f"array({', '.join(map(str, model_weights(dim, seed)))})")
    toksd = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_toks")
    )
    tok = toksd.select("id", F.explode_outer("_toks").alias("tok")).where(
        F.col("tok").isNotNull()
    )
    scored = tok.select(
        "id",
        F.element_at(
            W, (F.pmod(md5_lane60(F.col("tok")), F.lit(dim)) + 1).cast("int")
        ).alias("w"),
    )
    return scored.groupBy("id").agg(
        F.sum("w").cast("long").alias("score_int"),
        (F.sum("w") > threshold).alias("keep"),
    )


def hash_split(id_c, train_pct: int = 98, val_pct: int = 1,
               seed: str = "split-v1"):
    """Deterministic train/val/test assignment by md5 lane of the id —
    stable across runs, machines, and corpus growth (a doc's split never
    changes when other docs arrive; the held-out set can't leak via
    re-shuffles).  Returns a string Column."""
    from .dedup import md5_lane60

    bucket = F.pmod(
        md5_lane60(F.concat(F.lit(seed + ":"), id_c.cast("string"))),
        F.lit(100),
    )
    return (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def pack_sequences(
    df,
    target_tokens: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    part_col=None,
):
    """Greedy in-order sequence packing for trainer feeds: documents are
    laid end-to-end in deterministic id order and cut into bins of
    ~``target_tokens`` — ``bin_id = (running_total_before_doc) div
    target`` (each bin holds the docs whose starting offset falls inside
    it; a doc spilling past a boundary stays in its starting bin, the
    standard first-fit-in-order approximation).

    Returns (id, n_tokens, bin_id, bin_offset).

    Scale shape: ONE window cumsum.  Partition the window by real
    partition columns (``part_col`` — a name or a SEQUENCE of names)
    so no single ordering spans the corpus: packing is per-group, which
    is exactly what a sharded trainer wants anyway.  A low-cardinality
    column alone (e.g. the 3-value train/val/test split) still makes
    one reducer sort ~1/3 of the corpus at 100 TB — compose it with a
    shard key, e.g. ``["split", "shard"]`` where ``shard =
    pmod(xxhash64(id), K)``; bin_id is then bucket-local, which
    trainers (who shard their readers anyway) consume directly.  With
    ``part_col=None`` the window is global — fine for tests, WARNED
    against at scale."""
    from pyspark.sql import Window

    if part_col is None:
        parts = []
    elif isinstance(part_col, str):
        # single name keeps the historical output alias "part"
        parts = [(part_col, "part")]
    else:
        parts = [(c, c) for c in part_col]
    n = F.size(tokens(F.col(text_col)))
    base = df.select(
        F.col(id_col).alias("id"), n.cast("long").alias("n_tokens"),
        *[F.col(src).alias(dst) for src, dst in parts],
    )
    w = (
        Window.partitionBy(*[dst for _, dst in parts])
        if parts else Window.partitionBy()
    ).orderBy("id")
    before = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    return base.select(
        "id",
        *[dst for _, dst in parts],
        "n_tokens",
        ((before - before % target_tokens) / target_tokens)
        .cast("long")
        .alias("bin_id"),
        (before % target_tokens).alias("bin_offset"),
    )


#: PII patterns — written in the common subset of Java regex (Spark) and
#: RE2 (DuckDB): character classes + bounded repeats only, no
#: backreferences/lookarounds, so both engines match identically.
PII_EMAIL = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z][A-Za-z]+"
PII_IPV4 = (
    r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
)
PII_PHONE = r"\+?[0-9]{1,3}[ \-][0-9]{3}[ \-][0-9]{3,4}[ \-]?[0-9]{0,4}"


def scrub_pii(df, text_col: str = "text", id_col: str = "doc_id"):
    """PII redaction (the CCNet/Dolma-style pre-release scrub): emails,
    IPv4 addresses, and international-format phone numbers are replaced
    with typed placeholders; per-document counts come from the SAME
    match pass so the audit trail is free.

    Returns (id, clean_text, n_emails, n_ips, n_phones).  Pure
    regexp_replace / regexp_count codegen — map-only, no shuffle; the
    patterns are deliberately restricted to the Java-regex ∩ RE2 subset
    so the DuckDB oracle matches exactly."""
    t = F.col(text_col)
    counts = {
        "n_emails": PII_EMAIL,
        "n_ips": PII_IPV4,
        "n_phones": PII_PHONE,
    }
    cleaned = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    cleaned = F.regexp_replace(cleaned, PII_IPV4, "<IP>")
    cleaned = F.regexp_replace(cleaned, PII_PHONE, "<PHONE>")
    return df.select(
        F.col(id_col).alias("id"),
        cleaned.alias("clean_text"),
        *[
            F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0)))
            .cast("long")
            .alias(name)
            for name, pat in counts.items()
        ],
    )


def stratified_sample(
    df,
    rates: "dict[str, float]",
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "mix-v1",
    default_rate: float = 0.0,
):
    """Deterministic data-mixing sampler: keep a document iff the md5
    lane of (seed, id) falls under its stratum's rate — the mixing-
    weights stage of a training-data pipeline, reproducible across runs
    and cluster sizes (no RNG state, no sampleBy nondeterminism), and
    CONSISTENT under corpus growth (a kept doc stays kept).

    ``rates``: stratum value → keep fraction in [0,1].  Rates are
    applied at 1e-6 granularity.  Returns the kept subset."""
    from .dedup import md5_lane60

    bucket = F.pmod(
        md5_lane60(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))),
        F.lit(1_000_000),
    )
    rate = None
    for val, r in sorted(rates.items()):
        thr = int(r * 1_000_000)
        cond = F.col(strata_col) == val
        rate = (
            F.when(cond, thr) if rate is None else rate.when(cond, thr)
        )
    rate = (
        rate.otherwise(int(default_rate * 1_000_000))
        if rate is not None
        else F.lit(int(default_rate * 1_000_000))
    )
    return df.where(bucket < rate)


def nfc_normalize_text(df, text_col: str = "text", id_col: str = "doc_id"):
    """Unicode NFC normalization (the canonical-composition pass a text
    pipeline runs before hashing/dedup — 'café' as e+combining-acute and
    precomposed 'café' must collide, not survive as distinct docs).

    Spark has no built-in normalizer, so this is a per-row kernel on
    ``transport.map_pages`` over ``unicodedata.normalize`` — a genuine
    table-lookup transform with no columnar equivalent; UCD parity with
    DuckDB's ``nfc_normalize`` is what makes the driver oracle exact.

    Returns (id, norm_text, changed); NULL text gives NULL for both."""
    import unicodedata

    def nfc(text):
        if text is None:
            return [(None, None)]
        norm = unicodedata.normalize("NFC", text)
        return [(norm, norm != text)]

    return map_pages(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_text")),
        nfc,
        ["_text"],
        [StructField("norm_text", StringType()),
         StructField("changed", BooleanType())],
    )

"""Deduplication operators for web-scale corpora: exact, n-gram Jaccard,
MinHash+LSH, SimHash.

Scale design notes (the point of each implementation):

* exact — one hash-aggregate on a digest of the text, never on the raw
  text bytes (group keys stay 16 bytes in the shuffle).
* n-gram Jaccard — explode distinct shingles → self-join on shingle →
  pair-count; candidate pairing cost is bounded by shingle frequency, and
  at 10^12 docs the standard cap (drop shingles with document-frequency
  above a threshold) applies before the join.
* MinHash+LSH — ONE md5-derived base hash per shingle, then k
  Carter-Wegman permutations h_i = (a_i·x + b_i) mod p (p = 2^31−1,
  products stay < 2^62 so the arithmetic is overflow-free in any engine)
  taken to their minima map-side; banded into b bands of r rows; a
  shuffle on (band, band-key) buckets candidates; only bucket-mates are
  compared.  This is the O(n)-candidate near-dup path for 100 TB.
* SimHash — 60-bit sign-aggregated token hashes; hamming-adjacent
  bucketing by 4×15-bit chunks through ``hamming_pairs``, the one
  pigeonhole Hamming join (pHash, video and audio fingerprints pair
  through it too): a SHUFFLE_HASH equi-join that emits each pair once
  from its first agreeing chunk, no dedup exchange.

Hash-lane policy: keys that must match the oracle BY VALUE derive from
md5 lanes (``md5_lane60`` — DuckDB hex-casts the same md5 prefix), so
the driver can value-verify them.  Two operators are deliberate
exceptions: ``repeated_line_removal`` and ``duplicated_span_removal``
use JVM-native ``F.xxhash64`` for their INTERNAL 8-byte shuffle keys
(the md5 CPU measurably regressed them — BENCH/PLANS.md r4); their
DuckDB oracles detect duplicates from the RAW segment/gram text
instead, so a green row doubles as a collision-freeness certificate
for the xxhash64 lane.

Python crosses Arrow only through ``transport.map_pages``: the MinHash
and SimHash signature stages are one fused text → signature kernel each
(``minhash_signatures``, ``simhash_signatures``), and embedding cosine
is scored by one kernel per block/bucket over its collected vectors.
Everything else is columnar expressions + hash aggregates.
"""

from __future__ import annotations

import functools
import hashlib
from typing import List, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField
from pyspark.storagelevel import StorageLevel

from ..transport import map_pages

#: Mersenne prime 2^31−1: Carter-Wegman universe for minhash permutations.
#: a·x with a,x < 2^31 stays < 2^62 — no overflow in Spark longs or
#: DuckDB BIGINTs (which error rather than wrap).
MINHASH_P = 2147483647

#: 60-bit simhash (top 15 hex chars of md5) — BIGINT-safe in every engine.
SIMHASH_BITS = 60


def md5_lane60(c: Column) -> Column:
    """60-bit integer lane from the md5 of a string column — the shared
    hash primitive of the dedup family.  Exact DuckDB twin:
    ``('0x' || substr(md5(col), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(F.encode(c, "utf-8")), 1, 15), 16, 10).cast(
        "long"
    )


def minhash_perm_consts(num_hashes: int) -> List[Tuple[int, int]]:
    """Deterministic (a_i, b_i) Carter-Wegman constants, derived from md5
    of fixed strings (no RNG state) — shared by the Spark plan and the
    SQL-oracle generator so both engines hash identically."""
    consts = []
    for i in range(num_hashes):
        ha = int(hashlib.md5(f"minhash-a:{i}".encode()).hexdigest()[:15], 16)
        hb = int(hashlib.md5(f"minhash-b:{i}".encode()).hexdigest()[:15], 16)
        consts.append((1 + ha % (MINHASH_P - 1), hb % MINHASH_P))
    return consts


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: keep the minimum id per distinct text; report group
    size.  Hash-aggregate on md5(text) — the raw text never becomes a
    shuffle key."""
    return (
        df.groupBy(F.md5(F.encode(F.col(text_col), "utf-8")).alias("digest"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a TOKEN ARRAY column.

    Performance contract: ``toks`` must be a plain attribute (stage
    ``split()`` into its own select first).  Catalyst does not CSE across
    lambda boundaries, so passing ``split(text)`` here re-evaluates the
    split for every element access — O(tokens²) per document."""
    k = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    # guard: F.sequence(1, 0) would count DOWN; texts shorter than n
    # tokens contribute no shingles
    return F.when(k >= 1, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def _staged_shingles(df: DataFrame, text_col: str, id_col: str, n: int,
                     block_col=None) -> DataFrame:
    """(id[, blk], _sh) with tokens and shingles staged through separate
    projections so each is computed exactly once per document."""
    cols = [F.col(id_col).alias("id")]
    if block_col:
        cols.append(F.col(block_col).alias("blk"))
    toksd = df.select(*cols, F.split(F.col(text_col), " ").alias("_toks"))
    return toksd.select(
        *[c for c in ["id", "blk"] if block_col or c == "id"],
        shingles_from_tokens(F.col("_toks"), n).alias("_sh"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    block_col: str | None = None,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All (a,b) id pairs with word-n-gram Jaccard ≥ threshold.

    explode(distinct shingles) → self-join on shingle (optionally also on a
    blocking column to bound candidates) → |A∩B| by pair-count →
    J = inter / (|A| + |B| − inter).  Returns (id_a, id_b, jaccard),
    id_a < id_b.

    ``max_shingle_df`` is the standard document-frequency cap: a shingle
    appearing in more than τ documents (stop-word-like boilerplate)
    produces O(df²) candidate pairs — a quadratic bomb at 10^12 docs — and
    carries no dedup signal, so it is dropped BEFORE the self-join.  The
    hot-shingle list is tiny by construction (only shingles with df > τ),
    so the drop is a broadcast anti-join — the exploded table is never
    shuffled for it, and the groupBy that finds the hot list is map-side
    combined.  Jaccard denominators keep the FULL shingle-set sizes, so
    scores for surviving pairs are true Jaccard."""
    staged = _staged_shingles(df, text_col, id_col, n, block_col)
    # the join key is an 8-byte xxhash64 lane of (block, shingle) — the
    # raw shingle STRING never enters a shuffle (same internal-lane
    # policy as repeated_line_removal / duplicated_span_removal, see the
    # module docstring: the DuckDB oracle joins on the raw gram text, so
    # a green row certifies the lane collision-free)
    lane = (
        F.xxhash64(F.col("blk"), F.col("shingle"))
        if block_col
        else F.xxhash64(F.col("shingle"))
    )
    sh = (
        staged.select(
            "id",
            *(["blk"] if block_col else []),
            F.size("_sh").alias("n_sh"),
            # outer + notnull: inner generates let InferFiltersFromGenerate
            # clone the staged shingle transform into a size()>0 pre-filter
            # (2x the shingle CPU); see sources/gcv.py for the full story
            F.explode_outer("_sh").alias("shingle"),
        )
        .where(F.col("shingle").isNotNull())
        .select("id", F.col("n_sh"), lane.alias("_lane"))
    )
    # the exploded shingle table is consumed by up to three subtrees
    # (df-cap aggregate + both self-join sides): persisting it is the
    # two-pass production shape (at 10^12 docs this is a materialized
    # shingle-index table); measured 27% on the sf0.1 bench.  The cache
    # entry lives until session LRU eviction — callers doing many dedup
    # passes should unpersist via the returned plan's lineage or use a
    # real intermediate table.
    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("_lane")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_shingle_df)
            .select("_lane")
        )
        sh = sh.join(F.broadcast(hot), on="_lane", how="left_anti")
    # SHUFFLE_HASH hint: without a hint Spark broadcasts one side of the
    # self-join — collecting the ENTIRE exploded shingle table to the
    # driver and rebuilding its hash table per task (measured 2× slower
    # at sf0.1, and a driver OOM at 10^12 docs).  Both sides shuffle on
    # the 8-byte lane (one exchange, AQE reuses it for the second side);
    # the per-partition hash build skips the two sorts a MERGE join
    # would pay, and spills gracefully if a partition outgrows memory
    # (guide §3.1).
    a = sh.select(
        "_lane",
        F.col("id").alias("id_a"),
        F.col("n_sh").alias("na"),
    ).hint("SHUFFLE_HASH")
    b = sh.select(
        "_lane",
        F.col("id").alias("id_b"),
        F.col("n_sh").alias("nb"),
    ).hint("SHUFFLE_HASH")
    pairs = (
        a.join(b, on=["_lane"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return pairs


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    n: int = 3,
) -> DataFrame:
    """(id, sig): the MinHash signature of every document, one per-row
    kernel on ``transport.map_pages`` fusing tokenize → distinct
    word-n-gram shingles → md5 base lane → Carter-Wegman minima.

    Definition (the DuckDB oracle ``_sql_minhash_lsh`` computes the same
    values): tokens are ``str.split(' ')`` (== Spark ``split(text, ' ')``,
    which the zero-shingle filter upstream uses), shingles the distinct
    ``' '.join`` of n consecutive tokens, base x = md5 lane of the utf-8
    shingle (``int(hexdigest[:15], 16)`` == ``md5_lane60``) mod p, and
    component i = min over x of (a_i·x + b_i) mod p.  a·x < 2^62 keeps
    the int64 matrix ``(A·x + B) mod p`` exact.  NULL text and docs with
    fewer than n tokens (zero shingles) return the identity [p]*k;
    ``minhash_lsh_pairs`` excludes them upstream.  A plain-Python
    reference pins it in tests/test_dedup_similarity.py.

    Why one kernel: as Column expressions the shingle, md5 and
    permutation stages evaluate interpreted (HOF lambdas + per-element
    md5/conv, ~100 M boxed ops per 5 k docs at k=64); hashlib + numpy do
    the same integer math in one Arrow slot."""
    import numpy as np

    perms = minhash_perm_consts(num_hashes)
    A = np.array([a for a, _ in perms], dtype=np.int64)[:, None]
    B = np.array([b for _, b in perms], dtype=np.int64)[:, None]
    empty = [MINHASH_P] * num_hashes
    _md5 = hashlib.md5

    def kernel(text):
        toks = [] if text is None else text.split(" ")
        grams = {" ".join(toks[k : k + n]) for k in range(len(toks) - n + 1)}
        if not grams:
            return [(empty,)]
        x = np.fromiter(
            (int(_md5(g.encode()).hexdigest()[:15], 16) % MINHASH_P
             for g in grams),
            dtype=np.int64,
            count=len(grams),
        )
        return [(((A * x + B) % MINHASH_P).min(axis=1).tolist(),)]

    return map_pages(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_text")),
        kernel,
        ["_text"],
        [StructField("sig", ArrayType(LongType()))],
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """MinHash LSH near-dup candidates, verified by estimated Jaccard
    (= fraction of agreeing signature components).

    rows-per-band r = num_hashes // bands; a pair lands in a bucket iff
    one band's r components all agree — the scale path: candidates are
    generated by an equi-shuffle on (band, band-key), never by a cross
    join.  Docs with zero shingles (< n tokens) carry no content signal
    and are excluded.  Returns (id_a, id_b, est_jaccard).  Jobs at call
    time: the eager signature checkpoint, one job plus one per shuffle
    stage upstream — 2 for ``minhash_lsh`` (its input is repartitioned)."""
    r = num_hashes // bands
    # zero-shingle exclusion is expressed on the RAW token count (size ≥ n
    # ⇔ at least one n-gram), so the signature kernel only ever sees docs
    # with content signal
    docs = df.where(F.size(F.split(F.col(text_col), " ")) >= n)
    # ONE fused Arrow kernel: text → shingles → md5 lanes → signature
    sig = minhash_signatures(docs, text_col, id_col, num_hashes, n)
    # The signature table feeds THREE consumers below (the banded
    # self-join's shared exchange and both per-id signature attaches);
    # materialize it once so the fused kernel runs exactly once per
    # document instead of once per consumer subtree.  localCheckpoint
    # (not persist) on purpose: it is NOT CacheManager-keyed, so every
    # fresh invocation of this function recomputes from the inputs —
    # the cost stays inside whatever is being timed, and nothing is
    # shared across bench runs.  At 10^12 docs this is the standard
    # materialized signature-index intermediate (MEMORY_AND_DISK,
    # spills; ~8·num_hashes bytes/doc).
    sig = sig.localCheckpoint(eager=True)
    # band KEYS are the r raw component LONGS (k0..k{r-1}) — tuple
    # equality is all the join needs; no per-row string building, and
    # the shuffle carries 8-byte ints instead of a concat'd string.
    # The full signature array (num_hashes longs, ~0.5 KB) is NOT
    # carried into the banded self-join: candidates are decided on the
    # light (band, k0..k{r-1}, id) rows, the (id_a, id_b) pairs dedup
    # while still light, and the two signatures re-attach by id only
    # for the surviving unique pairs — the §8 "decide with small rows,
    # attach the payload once" shape.  (The former plan shipped the
    # signature on every one of the bands× exploded rows through the
    # self-join exchange; with duplicate-heavy corpora each candidate
    # copy re-shipped ~1 KB of signatures.)
    banded = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        *[
                            F.element_at(
                                F.col("sig"), bi * r + j + 1
                            ).alias(f"k{j}")
                            for j in range(r)
                        ],
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(
        "id",
        F.col("bb.band").alias("band"),
        *[F.col(f"bb.k{j}").alias(f"k{j}") for j in range(r)],
    )

    # SHUFFLE_HASH: avoid broadcasting the banded table (see
    # ngram_jaccard_pairs) — both sides shuffle on the band key (AQE
    # reuses one exchange for the self-join), per-partition hash build
    # skips the sort-merge sorts
    a = banded.alias("a").hint("SHUFFLE_HASH")
    b = banded.alias("b").hint("SHUFFLE_HASH")
    pair_ids = (
        a.join(
            b,
            functools.reduce(
                lambda acc, c: acc & c,
                [
                    F.col(f"a.k{j}") == F.col(f"b.k{j}")
                    for j in range(r)
                ],
                F.col("a.band") == F.col("b.band"),
            )
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # est is identical on every candidate copy of a pair (same two
    # signatures), so filtering after the pair-dedup is value-identical
    # to the former filter-then-dedup order.  One signature exchange
    # (keyed on id) is AQE-reused by both attach joins.
    sa = sig.select(
        F.col("id").alias("id_a"), F.col("sig").alias("_sa")
    ).hint("SHUFFLE_HASH")
    sb = sig.select(
        F.col("id").alias("id_b"), F.col("sig").alias("_sb")
    ).hint("SHUFFLE_HASH")
    est = F.size(
        F.filter(
            F.zip_with(
                F.col("_sa"), F.col("_sb"), lambda x, y: x == y
            ),
            lambda v: v,
        )
    ) / F.lit(num_hashes)
    return (
        pair_ids.join(sa, on="id_a")
        .join(sb, on="id_b")
        .where(est >= threshold)
        .select(
            "id_a",
            "id_b",
            F.round(est, 6).alias("est_jaccard"),
        )
    )


def _pairwise_cosine_group_fn(threshold: float):
    """Per-group kernel factory for ``embedding_near_dup_pairs``: one
    block/bucket's collected ``{id, v}`` members in, one row
    (id_a, id_b, sim) out per pair with id_a < id_b and
    sim ≥ threshold − 1e-6 (the margin keeps every pair that could still
    clear the threshold after the JVM-side ROUND(…, 6); the exact filter
    happens there).

    Bit-identity with the former per-pair Column fold
    (``similarity.cosine`` = aggregate(zip_with(a,b,x*y), 0.0, +) /
    (sqrt-fold × sqrt-fold)), not near-equality — the driver oracle
    hash-compares:

    * summation is a SEQUENTIAL left fold starting at +0.0, implemented
      as ``np.add.accumulate`` along the element axis with a +0.0 first
      column (ufunc.accumulate is defined element-sequential; NumPy's
      pairwise-summation fast path applies to ``sum``/``add.reduce``
      only, never to accumulate);
    * every scalar op (multiply, add, sqrt, divide) is a correctly
      rounded IEEE-754 double op in both NumPy and the JVM, so with the
      association fixed the results are bit-equal; the per-vector norm
      is computed once per vector from the same input the per-pair fold
      saw, hence the same bits;
    * pairs the fold scored NULL (zip_with length padding) or NaN
      (zero-norm ±0.0/0.0) never passed the ≥ threshold filter, and here
      are simply not emitted — identical query output.  NULL vectors
      never reach the kernel (``embedding_near_dup_pairs`` filters them).

    Pinned by tests/test_dedup_similarity.py (group kernel vs fold on
    adversarial vectors) and the oracle rows at three scales."""
    import numpy as np

    margin = threshold - 1e-6

    def _fn(members):
        out: list = []
        # same-length partitions: a cross-length pair is NULL under
        # zip_with padding and is never emitted
        by_len: dict = {}
        for m in members:
            by_len.setdefault(len(m["v"]), []).append(m)
        for grp in by_len.values():
            ids = np.array([m["id"] for m in grp])
            order = np.argsort(ids, kind="stable")
            sid = ids[order]
            sid_py = sid.tolist()
            A = np.array([grp[o]["v"] for o in order], dtype=np.float64)
            m = A.shape[0]
            z = np.zeros((m, 1))
            # sqrt-fold per vector; x² is never -0.0, so the fold's +0.0
            # start is already the accumulate start
            norms = np.sqrt(
                np.add.accumulate(np.hstack((z, A * A)), axis=1)[:, -1]
            )
            for i in range(m - 1):
                # strict id_a < id_b: skip equal-id rows, like the join
                j0 = np.searchsorted(sid, sid[i], side="right")
                if j0 >= m:
                    continue
                prods = A[j0:] * A[i]
                zz = np.zeros((m - j0, 1))
                dots = np.add.accumulate(
                    np.hstack((zz, prods)), axis=1
                )[:, -1]
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = dots / (norms[i] * norms[j0:])
                keep = sims >= margin  # NaN compares False, like the fold
                kj = np.nonzero(keep)[0]
                out.extend(
                    (sid_py[i], sid_py[j0 + k], sim)
                    for k, sim in zip(kj.tolist(), sims[kj].tolist())
                )
        return out

    return _fn


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    block_col: str | None = None,
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a,b) with
    cos(v_a, v_b) ≥ threshold.

    Two candidate generators, both keyed shuffles of the VECTORS (one
    row per vector per key — never a pair-level theta/cross join, and
    never a pair-level shuffle of vector payloads):

    * ``block_col`` given — all pairs within the blocking column
      (label/host), scored per block by one pairwise kernel on
      ``transport.map_pages`` over the block's collected vectors; right
      when blocks are small and near-dups cannot cross blocks.
    * ``block_col=None`` — multi-table random-hyperplane LSH: each vector
      gets ``n_tables`` signatures (independent plane families via
      ``plane_offset``); candidates share (table, signature) and are
      scored per bucket by the same kernel, then pair-deduped on light
      (id, id, sim) rows.  Recall for a pair at cosine s is
      1 − (1 − p^r)^b with p = 1 − θ(s)/π, r = n_planes, b = n_tables
      (≈ 0.97 at s = 0.95 with r = 6, b = 4); pinned by
      tests/test_dedup_similarity.py.  This is the 10^12-scale path: the
      pair space is bounded by bucket occupancy, not n².

    Exact-cosine scoring is bit-identical to the former per-pair Column
    fold — see ``_pairwise_cosine_group_fn``."""
    from .similarity import rh_signature

    # A NULL vector has no cosine with anything, so it is dropped before
    # any grouping: ``rh_signature`` reads it as signature 0, which would
    # pile every NULL row into bucket (tbl, 0) of every table.  A NULL
    # id pairs with nothing (id_a < id_b never holds), so it goes too.
    v = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        *([F.col(block_col).alias("blk")] if block_col else []),
    ).where(F.col("v").isNotNull() & F.col("id").isNotNull())
    id_t = v.schema["id"].dataType
    pair_fields = [
        StructField("id_a", id_t),
        StructField("id_b", id_t),
        StructField("sim", DoubleType()),
    ]
    pair_fn = _pairwise_cosine_group_fn(threshold)

    def _pairs(grouped) -> DataFrame:
        # one row per group, its members collected; the kernel's pairs
        # replace it
        members = grouped.agg(F.collect_list(F.struct("id", "v")).alias("_m"))
        return map_pages(members, pair_fn, ["_m"], pair_fields, keep=[])

    def _finish(near_pairs: DataFrame) -> DataFrame:
        # ROUND and the exact threshold filter stay JVM-side; the group
        # kernel emits a slight superset (margin threshold − 1e-6) so
        # round-half-up boundary pairs survive to this exact filter.
        return near_pairs.select(
            "id_a", "id_b", F.round(F.col("sim"), 6).alias("cosine_sim")
        ).where(F.col("cosine_sim") >= threshold)

    if block_col:
        # One kernel call per block: each VECTOR crosses the python
        # boundary once (m members per block), not once per pair
        # (m²/2 rows of 2×dim doubles) — the "decide with small rows"
        # shape.  blk IS NOT NULL mirrors the former inner self-join on
        # blk (null keys never matched).
        return _finish(
            _pairs(v.where(F.col("blk").isNotNull()).groupBy("blk"))
        )

    sigs = v.select(
        "id",
        "v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        rh_signature(
                            F.col("v"), dim, n_planes, plane_offset=t * n_planes
                        ).alias("sig"),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("ts"),
    ).select("id", "v", F.col("ts.tbl").alias("tbl"), F.col("ts.sig").alias("sig"))
    # Per-bucket pairwise verify, then dedup pairs seen in multiple
    # tables on LIGHT (id, id, sim) rows.  The former shape shuffled
    # every candidate pair carrying BOTH vectors (2×dim doubles) into a
    # dropDuplicates exchange and then paid an interpreted cosine fold
    # per pair; now vectors move once per (table, bucket) membership and
    # the dedup exchange carries ~24-byte rows.  A pair sharing several
    # buckets is scored once per bucket — identical inputs give a
    # bit-identical score, so dropDuplicates keeping any copy is
    # value-deterministic.
    return _finish(
        _pairs(sigs.groupBy("tbl", "sig")).dropDuplicates(["id_a", "id_b"])
    )


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, sig): the 60-bit SimHash of every document, one per-row
    kernel on ``transport.map_pages`` fusing tokenize → per-token md5
    lane → bit-majority pack.

    Definition (the DuckDB oracle ``_sql_simhash_buckets`` computes the
    same values): tokens are ``str.split(' ')``, each hashed to its md5
    lane (``int(hexdigest[:15], 16)`` == ``md5_lane60``); bit b of the
    result is set iff 2·(tokens with bit b set) ≥ the token count.  NULL
    text → 0.  A plain-Python reference pins it in
    tests/test_dedup_similarity.py.

    Why one kernel: as Column expressions the per-token md5/conv
    transform and the 60 per-bit ``filter`` passes evaluate interpreted
    (~1.8 s over the hash staging at sf0.1 before the kernel existed)."""
    import numpy as np

    BITS = np.arange(SIMHASH_BITS, dtype=np.int64)
    WEIGHTS = np.int64(1) << BITS
    _md5 = hashlib.md5

    def kernel(text):
        if text is None:
            return [(0,)]
        toks = text.split(" ")
        h = np.fromiter(
            (int(_md5(t.encode()).hexdigest()[:15], 16) for t in toks),
            dtype=np.int64,
            count=len(toks),
        )
        cnt = ((h[None, :] >> BITS[:, None]) & 1).sum(axis=1)
        return [(int(WEIGHTS[2 * cnt >= len(toks)].sum()),)]

    return map_pages(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_text")),
        kernel,
        ["_text"],
        [StructField("sig", LongType())],
    )


def hamming_pairs(sigs: DataFrame, bits: int, n_chunks: int) -> DataFrame:
    """The pigeonhole Hamming-radius join (Manku et al., WWW'07):
    ``(id, sig)`` rows → ``(id_a, id_b, hamming)`` for every pair with
    ``id_a < id_b`` that shares at least one of the ``n_chunks`` chunks of
    ``bits // n_chunks`` bits — so every pair within hamming
    ``n_chunks − 1`` — with ``hamming = bit_count(sig_a XOR sig_b)`` (int).

    One SHUFFLE_HASH equi-join on ``(chunk_idx, chunk)``; no dedup
    exchange: a pair agreeing on several chunks is emitted only from its
    FIRST agreeing chunk (the join adds 'every earlier chunk differs').
    Precondition: one signature per id."""
    bpc = bits // n_chunks
    mask = (1 << bpc) - 1 if bpc < 64 else -1

    def _chunk(col, i):
        return F.shiftright(col, bpc * i).bitwiseAND(F.lit(mask))

    chunks = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        _chunk(F.col("sig"), i).alias("chunk"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select("id", "sig", "c.chunk_idx", "c.chunk")
    a = chunks.alias("a").hint("SHUFFLE_HASH")
    b = chunks.alias("b").hint("SHUFFLE_HASH")
    # first-agreeing-chunk guard: for this row's chunk_idx = i, every
    # chunk j < i must DIFFER between the two sigs — each distinct pair
    # then appears exactly once across the n_chunks chunk streams
    first_match = functools.reduce(
        lambda acc, j: acc
        & (
            (F.col("a.chunk_idx") <= F.lit(j))
            | (_chunk(F.col("a.sig"), j) != _chunk(F.col("b.sig"), j))
        ),
        range(n_chunks - 1),
        F.lit(True),
    )
    return a.join(
        b,
        (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
        & (F.col("a.chunk") == F.col("b.chunk"))
        & (F.col("a.id") < F.col("b.id"))
        & first_match,
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
    )


def simhash_buckets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash near-dup bucketing: split the 60-bit hash into 4×15-bit
    chunks; docs within hamming distance 3 share at least one chunk
    (pigeonhole), so ``hamming_pairs``' equi-join on (chunk_idx, chunk)
    finds all such pairs, each once, without a cross join or a dedup
    exchange.  The signature stage is ONE fused Arrow kernel
    (``simhash_signatures``).  Precondition: one row per id."""
    pairs = hamming_pairs(
        simhash_signatures(df, text_col, id_col), SIMHASH_BITS, 4
    )
    return pairs.withColumn("hamming", F.col("hamming").cast("long"))


def ngram_overlap_counts(
    df: DataFrame,
    is_eval: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination: per TRAIN document (``is_eval`` false),
    the number of distinct word n-grams it shares with ANY eval document
    (``is_eval`` true) — the standard 13-gram test-set-overlap rule; n is
    configurable for short-document corpora.  Returns every train doc:
    (id, n_overlap, contaminated).

    Shape: the shingle table derives ONCE from the one corpus and is
    persisted for its two consumers (the eval side's distinct grams and
    the train side); one equi-join on the gram, then a left join back so
    clean docs report 0.  No cross join anywhere."""
    flagged = df.select(
        F.col(id_col), F.col(text_col), is_eval.alias("_is_eval")
    )
    staged = _staged_shingles(flagged, text_col, id_col, n,
                              block_col="_is_eval")
    # gram strings die in this projection; the overlap join runs on the
    # 8-byte xxhash64 lane (internal-lane policy — module docstring; the
    # oracle joins raw grams, so a green row certifies collision-freeness)
    sh = (
        staged.select("id", "blk", F.explode_outer("_sh").alias("g"))
        .where(F.col("g").isNotNull())
        .select("id", "blk", F.xxhash64(F.col("g")).alias("g"))
    )
    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    ev = sh.where(F.col("blk")).select("g").distinct()
    tr = sh.where(~F.col("blk")).select("id", "g")
    hits = (
        tr.join(ev, on="g")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    ids = flagged.where(~F.col("_is_eval")).select(F.col(id_col).alias("id"))
    return ids.join(hits, on="id", how="left").select(
        "id",
        F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
        (F.coalesce(F.col("n_overlap"), F.lit(0)) > 0).alias("contaminated"),
    )


def repeated_line_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
    max_df: int = 100,
) -> DataFrame:
    """CCNet/RefinedWeb-style repeated-segment removal: split every
    document on ``delim``, count each distinct segment's document
    frequency across the corpus, DROP all occurrences of segments
    appearing in more than ``max_df`` documents (nav bars, cookie
    banners, footers), and reassemble the survivors in original order.

    Returns (id, clean_text, n_kept, n_dropped).

    Scale shape: the df-count is a map-side-combinable hash aggregate on
    the xxhash64 LANE of the segment — arbitrarily long boilerplate lines
    shuffle as 8-byte longs, never as raw strings (xxhash64 is JVM-native
    and ~free per call, unlike the md5 lane this used in round 3, whose
    per-call cost regressed the short-segment case 0.86→1.45 s at sf0.1);
    the hot set (df > max_df) is tiny by construction — boilerplate is
    common, so few distinct lanes clear the bar — and broadcasts into a
    LEFT ANTI join, so the corpus-sized side never re-shuffles for the
    filter.  The driver oracle computes the hot set from RAW segments, so
    the green row also certifies the lane path collision-free on the test
    corpus.  Reassembly is one shuffle on the doc id."""
    import re as _re

    pat = _re.escape(delim)
    parts = F.split(F.col(text_col), pat)
    lines = (
        df.select(
            F.col(id_col).alias("id"),
            # outer + notnull: the inner form's inferred pre-filter
            # re-evaluates the split (see sources/gcv.py)
            F.posexplode_outer(parts).alias("pos", "line"),
        )
        .where(F.col("pos").isNotNull())
        .select("id", "pos", "line", F.xxhash64(F.col("line")).alias("ll"))
    )
    hot = (
        lines.groupBy("ll")
        .agg(F.countDistinct("id").alias("dfc"))
        .where(F.col("dfc") > max_df)
        .select("ll")
    )
    kept = lines.join(F.broadcast(hot), on="ll", how="left_anti")
    agg = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            delim,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    base = df.select(
        F.col(id_col).alias("id"), F.size(parts).alias("_n_lines")
    )
    return base.join(agg, on="id", how="left").select(
        "id",
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        (
            F.col("_n_lines").cast("long")
            - F.coalesce(F.col("n_kept"), F.lit(0))
        ).alias("n_dropped"),
    )


def duplicated_span_removal(
    df: DataFrame,
    n: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring deduplication in the style of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"): any
    n-token span whose exact text occurs more than once in the corpus
    (across documents or repeated within one) is removed from every
    occurrence; the surviving tokens reassemble in order.

    Returns (id, clean_text, n_kept, n_removed).  Production uses
    n≈50; tests use small n so the synthetic corpus has collisions.

    Scale shape (the suffix-array of the paper re-expressed as joins):
    gram staging is MAP-SIDE — each doc's token array yields its gram
    xxhash64 lanes via an array transform + posexplode, so no shuffle
    happens before anything else (the old per-doc window cost one
    exchange on the doc id); duplicate detection is one combinable count
    on the 8-byte gram LANE (an n=50 gram is ~300 raw bytes — the raw
    string never becomes a shuffle key; xxhash64 is JVM-native, so the
    lane costs ~nothing per gram, unlike the r3 md5 lane), the occurrence
    join an equi-join on the lane, and coverage expansion an explode +
    distinct + anti-join on (doc, position) — every shuffle is an
    equi-shuffle on fixed-width keys; nothing is quadratic in the corpus.
    The driver oracle detects duplicate grams from RAW gram text, so its
    green row certifies the lane collision-free on the test corpus."""
    toksd = df.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("_toks")
    )
    k = F.size(F.col("_toks")) - (n - 1)
    # gram start positions are 0-based token positions; lane computed
    # inside the transform so gram STRINGS die within this projection
    gram_lanes = F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
            lambda i: F.xxhash64(
                F.concat_ws(
                    " ",
                    *[F.element_at(F.col("_toks"), i + j) for j in range(n)],
                )
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))
    grams = toksd.select(
        "id",
        # outer + notnull: the inferred pre-filter of an inner generate
        # would re-run the whole gram-lane transform (2x gram hashing)
        F.posexplode_outer(gram_lanes).alias("pos", "gl"),
    ).where(F.col("gl").isNotNull())
    dup = (
        grams.groupBy("gl")
        .agg(F.count(F.lit(1)).alias("occ"))
        .where(F.col("occ") > 1)
        .select("gl")
    )
    # covered positions gather into ONE per-doc array (collect_set is
    # map-side partial, so the seq-exploded rows dedup before the
    # exchange); reassembly is then an in-place array filter on the
    # document row — the r5 shape exploded every TOKEN and paid three
    # corpus-sized shuffles (anti-join both sides + collect_list
    # re-sort), ~2.5 s of the 4.4 s query at sf1.0 (guide §2.4)
    covered = (
        grams.join(dup, on="gl")
        .select(
            "id",
            F.explode_outer(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("pos"),
        )
        .where(F.col("pos").isNotNull())
        .groupBy("id")
        .agg(F.collect_set("pos").alias("_cov"))
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.split(F.col(text_col), " ").alias("_toks"),
    )
    joined = base.join(covered, on="id", how="left")
    # 2-arg filter lambda receives (element, 0-based index) — exactly
    # the gram position space; docs with no duplicated span keep all
    kept_arr = F.when(
        F.col("_cov").isNull(), F.col("_toks")
    ).otherwise(
        F.filter(
            F.col("_toks"),
            lambda t, i: ~F.array_contains(F.col("_cov"), i),
        )
    )
    staged = joined.select("id", F.size("_toks").alias("_n"),
                           kept_arr.alias("_kept"))
    return staged.select(
        "id",
        F.coalesce(F.array_join(F.col("_kept"), " "), F.lit("")).alias(
            "clean_text"
        ),
        F.coalesce(F.size("_kept"), F.lit(0)).cast("long").alias("n_kept"),
        (
            F.col("_n").cast("long")
            - F.coalesce(F.size("_kept"), F.lit(0))
        ).alias("n_removed"),
    )


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.7,
    max_iter: int = 25,
) -> DataFrame:
    """The actionable end of near-dup detection: MinHash-LSH pairs →
    connected components → one cluster id per document and a canonical
    keeper (minimum id) per cluster.  Pairs alone don't dedup a corpus —
    transitive near-dup chains (A≈B≈C with A̸≈C) must land in ONE
    cluster or the keep-list double-keeps.

    Returns (id, cluster_id, is_keeper); docs outside every pair are
    their own singleton cluster.

    Scale shape: candidate pairs from the banded equi-join
    (``minhash_lsh_pairs``), components via
    ``webgraph.connected_components`` (min-label propagation over
    contracted edges, then pointer jumping until no label changes; it
    raises when ``max_iter`` rounds are not enough), final assignment one
    LEFT join from the corpus id list."""
    from .webgraph import connected_components

    pairs = minhash_lsh_pairs(
        df, text_col=text_col, id_col=id_col,
        num_hashes=num_hashes, bands=bands, n=n, threshold=threshold,
    )
    comp = connected_components(
        pairs, u="id_a", v="id_b", max_iter=max_iter
    )
    ids = df.select(F.col(id_col).alias("id"))
    return ids.join(comp, on="id", how="left").select(
        "id",
        F.coalesce(F.col("lbl"), F.col("id")).alias("cluster_id"),
        (F.coalesce(F.col("lbl"), F.col("id")) == F.col("id")).alias(
            "is_keeper"
        ),
    )


def kmv_distinct_sketch(
    df: DataFrame,
    col: str,
    k: int = 256,
    group_cols: "Sequence[str] | None" = None,
) -> DataFrame:
    """K-minimum-values distinct-count sketch over md5 lanes — the
    DETERMINISTIC cardinality sketch (unlike HLL implementations, two
    engines hashing with the same md5 lane produce the IDENTICAL sketch,
    so the driver oracle value-matches; and the sketch is MERGEABLE —
    the union's k smallest lanes are the k smallest of the concatenated
    sketches, which is exactly how partial aggregation combines it
    across 1000 executors).

    Estimate: (k−1) · (2^60 // lane_k) for the k-th smallest 60-bit lane
    — integer-only (2^60 fits int64; dividing BEFORE multiplying keeps
    every intermediate in range), so both engines compute the identical
    number; exact count reported instead when fewer than k distinct
    values exist.

    Returns group_cols + (n_sketch, kth_lane, est_distinct)."""
    groups = list(group_cols or [])
    lanes = df.select(
        *groups, md5_lane60(F.col(col)).alias("_lane")
    ).dropDuplicates(groups + ["_lane"])
    # Two-level k-minima so per-group aggregate state is bounded:
    # level 1 keeps only k minima per (group, input partition) — state
    # capped by partition size, never by group cardinality — and level 2
    # merges ≤num_partitions arrays of ≤k lanes (O(P·k) per group).  A
    # single collect_list per group would hold ALL distinct lanes of a
    # group on one reducer, which a high-cardinality group would blow.
    part = lanes.groupBy(*groups, F.spark_partition_id().alias("_pid")).agg(
        F.slice(F.array_sort(F.collect_list("_lane")), 1, k).alias("_psk")
    )
    agg = part.groupBy(*groups).agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("_psk"))), 1, k
        ).alias("_sk")
    )
    n = F.size("_sk")
    kth = F.element_at(F.col("_sk"), n)
    big = F.lit(1 << 60).cast("long")
    # exact BIGINT division (IntegralDivide) — the double-division trick
    # rounds for numerators ≥ 2^53, and 2^60 is always ≥ 2^53
    est = F.when(n < k, n.cast("long")).otherwise(
        F.call_function("div", big, kth) * (k - 1)
    )
    return agg.select(
        *groups,
        n.cast("long").alias("n_sketch"),
        kth.alias("kth_lane"),
        est.alias("est_distinct"),
    )

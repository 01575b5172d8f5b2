"""Property pins for the near-dup, similarity and grouping operators.

MinHash+LSH and SimHash have full DuckDB oracles (``minhash_lsh``,
``simhash_buckets`` in tests/test_entry_contract.py); here their fused
signature kernels are also pinned against a plain-Python reference on
adversarial and seeded random texts.  Random-hyperplane LSH, the
embedding and n-gram operators, and the grouping/CCA tools ported from
test_tools.py are pinned by property tests."""

import hashlib
import random

import pytest
from pyspark.sql import functions as F

from layout_parser_spark.operators.dedup import (
    MINHASH_P,
    SIMHASH_BITS,
    minhash_lsh_pairs,
    minhash_perm_consts,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_buckets,
    simhash_signatures,
)
from layout_parser_spark.operators.grouping import (
    _line_close,
    _line_components,
    connected_components_1d,
    detect_lines,
    detect_lines_local,
    gcca_1d,
)
from layout_parser_spark.operators.similarity import cosine_topk, lsh_topk, ivf_topk


BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "near the warm fire and dreams of fish"
)


def _lane(s):
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _ref_minhash(text, k, n):
    """MinHash by definition: distinct word n-grams of ``split(" ")``,
    md5 lane mod p, per permutation min (a·x + b) mod p; NULL text or
    fewer than n tokens → the identity [p]*k."""
    toks = [] if text is None else text.split(" ")
    grams = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    if not grams:
        return [MINHASH_P] * k
    xs = [_lane(g) % MINHASH_P for g in grams]
    return [
        min((a * x + b) % MINHASH_P for x in xs)
        for a, b in minhash_perm_consts(k)
    ]


def _ref_simhash(text):
    """SimHash by definition: bit b is set iff 2·(token lanes with bit b
    set) ≥ the token count of ``split(" ")``; NULL text → 0."""
    if text is None:
        return 0
    lanes = [_lane(t) for t in text.split(" ")]
    return sum(
        1 << b
        for b in range(SIMHASH_BITS)
        if 2 * sum((h >> b) & 1 for h in lanes) >= len(lanes)
    )


def _random_texts(seed, count):
    """Seeded texts over a small vocabulary (so shingles repeat), with
    multibyte and tab tokens and runs of spaces (empty tokens)."""
    rng = random.Random(seed)
    vocab = ["a", "b", "fox", "dog", "汉字", "分词", "é", "tab\tx", "", ""]
    return [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40)))
        for _ in range(count)
    ]


def _kernel_outputs(spark, texts, stage, **kw):
    """{id: sig} from the Spark signature stage ``stage`` over ``texts``."""
    df = spark.createDataFrame(
        list(enumerate(texts)), "id long, text string"
    )
    return {r.id: r.sig for r in stage(df, "text", "id", **kw).collect()}


@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = [
        (0, BASE, "s"),
        (1, BASE, "s"),  # exact duplicate of 0
        (2, BASE.replace("dog", "wolf"), "s"),  # near-dup of 0
        (3, "completely different words about spark query engines and "
            "columnar execution with vectorized operators", "s"),
        (4, "another unrelated text mentioning parquet iceberg shuffle "
            "partitions and adaptive execution plans", "s"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_minhash_lsh_finds_dups(spark, dup_docs):
    pairs = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(
            dup_docs, num_hashes=32, bands=16, threshold=0.3
        ).collect()
    }
    assert pairs.get((0, 1)) == 1.0  # exact dup: all signatures agree
    assert (0, 2) in pairs or (1, 2) in pairs  # near-dup found
    assert (0, 3) not in pairs and (3, 4) not in pairs


def test_simhash_hamming(spark, dup_docs):
    rows = simhash_buckets(dup_docs).collect()
    ham = {(r.id_a, r.id_b): r.hamming for r in rows}
    assert ham.get((0, 1)) == 0  # identical text → identical simhash
    if (0, 2) in ham:
        assert ham[(0, 2)] <= 16  # near-dup → small distance
    # unrelated docs should not collide in all-bucket terms with tiny dist
    for k, v in ham.items():
        if k in [(0, 3), (1, 3), (0, 4)]:
            assert v > 4


def test_ngram_jaccard_exact_pair(spark, dup_docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            dup_docs, threshold=0.1, block_col="source"
        ).collect()
    }
    assert pairs.get((0, 1)) == 1.0
    assert 0.5 < pairs.get((0, 2), 0) < 1.0  # one word changed


def test_lsh_topk_recall_vs_bruteforce(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    q = emb.where("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    v = emb.where("vec_id >= 2")
    exact = cosine_topk(v, q, k=10).collect()
    approx = lsh_topk(v, q, dim=64, k=10, n_planes=2).collect()
    exact_ids = {(r.query_id, r.vec_id) for r in exact}
    approx_ids = {(r.query_id, r.vec_id) for r in approx}
    # 2 planes → 4 buckets → ~25% of vectors share the query's bucket;
    # recall of the true top-10 should be well above random
    recall = len(exact_ids & approx_ids) / len(exact_ids)
    assert recall >= 0.2, recall
    # approx results are genuine (scores match the exact computation)
    exact_scores = {(r.query_id, r.vec_id): r.cosine_sim for r in exact}
    for r in approx:
        if (r.query_id, r.vec_id) in exact_scores:
            assert abs(exact_scores[(r.query_id, r.vec_id)] - r.cosine_sim) < 1e-9


def test_ivf_full_probe_equals_exact(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    q = emb.where("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    v = emb.where("vec_id >= 2")
    exact = {(r.query_id, r.rank): r.vec_id for r in cosine_topk(v, q, k=5).collect()}
    ivf = {(r.query_id, r.rank): r.vec_id for r in ivf_topk(v, q, k=5, nlist=8, nprobe=8).collect()}
    assert exact == ivf  # nprobe == nlist → exhaustive → exact


# ---------------------------------------------------------------------------
# grouping tools — ported from reference tests/test_tools.py
# ---------------------------------------------------------------------------
def test_gcca_integer_sequences():
    """test_tools.py:22-52: tolerance-1 CCA over [1,2,3,5,6,7] → 2 comps."""
    seq = [1, 2, 3, 5, 6, 7]
    comps = gcca_1d(seq, lambda a, b: abs(a - b) <= 1)
    assert comps == [[1, 2, 3], [5, 6, 7]]
    comps = gcca_1d(seq, lambda a, b: abs(a - b) <= 2)
    assert comps == [[1, 2, 3, 5, 6, 7]]
    # aggregation function applied per component
    comps = gcca_1d(seq, lambda a, b: abs(a - b) <= 1, sum)
    assert comps == [6, 18]


def test_line_detection_tolerance_swap():
    """The call-site tolerance swap (shape_operations.py:126-130): passing
    asymmetric tolerances must behave SWAPPED — x_tolerance acts on y."""
    # two tokens on the same row, 5px horizontal gap, same center y
    a = (0.0, 0.0, 10.0, 10.0)
    b = (15.0, 0.0, 25.0, 10.0)
    # gap = 5; same y.  y_tolerance (which acts as the horizontal gap
    # budget, due to the swap) = 6 → merged; 4 → not merged.
    assert len(detect_lines_local([a, b], x_tolerance=0, y_tolerance=6)) == 1
    assert len(detect_lines_local([a, b], x_tolerance=0, y_tolerance=4)) == 2
    # vertical offset 5 with x_tolerance (vertical budget, swapped) 6 vs 4
    c = (15.0, 5.0, 25.0, 15.0)
    assert len(detect_lines_local([a, c], x_tolerance=6, y_tolerance=6)) == 1
    assert len(detect_lines_local([a, c], x_tolerance=4, y_tolerance=6)) == 2


def test_line_detection_counts_multirow():
    """Default tolerances group a 2-row word grid into 2 lines (the
    reference invariant style: 15 lines on example.pdf)."""
    row1 = [(i * 20.0, 0.0, i * 20.0 + 15.0, 10.0) for i in range(5)]
    row2 = [(i * 20.0, 30.0, i * 20.0 + 15.0, 40.0) for i in range(5)]
    lines = detect_lines_local(row1 + row2)
    assert len(lines) == 2
    assert lines[0] == (0.0, 0.0, 95.0, 10.0)
    assert lines[1] == (0.0, 30.0, 95.0, 40.0)


#: (x_tolerance, y_tolerance) pairs for the line tests; the asymmetric
#: ones exercise the reference's tolerance swap
LINE_TOLS = [(10, 10), (5, 5), (2.5, 10), (10, 2.5)]


def _seeded_pages(count, seed=20261018):
    """Random pages of 0-60 boxes on a 2.5-unit grid, so centre gaps land
    exactly on every tolerance in LINE_TOLS; 17 row offsets, so centres
    tie; one box in five has zero width."""
    rng = random.Random(seed)
    pages = []
    for _ in range(count):
        page = []
        for _ in range(rng.randint(0, 60)):
            x = rng.randint(0, 40) * 2.5
            y = rng.randint(0, 16) * 2.5
            w = 0.0 if rng.random() < 0.2 else rng.randint(1, 8) * 2.5
            page.append((x, y, x + w, y + rng.randint(0, 4) * 2.5))
        pages.append(page)
    return pages


def test_line_sweep_equals_all_pairs():
    """The y-centre sweep's candidate pairs give the components of all
    pairs (the reference's full score matrix) on 400 seeded pages, each
    also with a NaN-centre box (a NULL coordinate reaches the kernel as
    NaN) inserted at a seeded position."""
    rng = random.Random(3)
    for page in _seeded_pages(400):
        with_nan = list(page)
        with_nan.insert(
            rng.randint(0, len(page)), (0.0, float("nan"), 5.0, 5.0)
        )
        for boxes in (page, with_nan):
            for xt, yt in LINE_TOLS:
                close = _line_close(xt, yt)
                want = connected_components_1d(
                    len(boxes), lambda i, j: close(boxes[i], boxes[j])
                )
                got = _line_components(boxes, xt, yt)
                assert got == want, (boxes, xt, yt)


def test_gcca_apply_matches_local_kernel(spark):
    """The distributed generic-scoring slot (gcca_apply) equals the
    reference-form local gcca_1d run per document, for an asymmetric
    custom scoring function."""
    import random

    from layout_parser_spark.operators.grouping import (
        _union_boxes,
        gcca_apply,
        gcca_1d,
    )

    rng = random.Random(5)
    rows = []
    for doc in range(6):
        for i in range(rng.randint(1, 25)):
            x1 = rng.uniform(0, 200)
            y1 = rng.uniform(0, 200)
            rows.append(
                (doc, i, x1, y1, x1 + rng.uniform(5, 60), y1 + 10.0)
            )
    df = spark.createDataFrame(
        rows,
        "doc long, block_id long, x_1 double, y_1 double, "
        "x_2 double, y_2 double",
    )

    def score(a, b):  # ≥40% x-overlap of the narrower box
        ov = min(a[2], b[2]) - max(a[0], b[0])
        return 1 if ov >= 0.4 * min(a[2] - a[0], b[2] - b[0]) else 0

    got = {}
    out = gcca_apply(
        df.repartition(5), ["doc"], score, id_col="block_id"
    ).collect()
    for r in out:
        got.setdefault(r.doc, {})[r.comp_id] = (
            round(r.x_1, 9), round(r.y_1, 9),
            round(r.x_2, 9), round(r.y_2, 9), r.n_blocks,
        )
    for doc in range(6):
        boxes = [
            (r[2], r[3], r[4], r[5])
            for r in sorted(rows, key=lambda t: t[1]) if r[0] == doc
        ]
        want = {
            ci: (*[round(v, 9) for v in _union_boxes(comp)], len(comp))
            for ci, comp in enumerate(
                gcca_1d(boxes, score, lambda xs: xs)
            )
        }
        assert got[doc] == want, f"doc {doc}"


def test_gcca_apply_missing_key_col_raises(spark):
    from layout_parser_spark.operators.grouping import gcca_apply

    df = spark.range(3).select(
        F.col("id").alias("block_id"),
        F.lit(0.0).alias("x_1"), F.lit(0.0).alias("y_1"),
        F.lit(1.0).alias("x_2"), F.lit(1.0).alias("y_2"),
    )
    with pytest.raises(ValueError, match=r"key_cols \['nope'\]"):
        gcca_apply(df, ["nope"], lambda a, b: 1)


def test_cca_keys_exact_next_to_null_keys(spark):
    """``gcca_apply`` and ``detect_lines`` keep a long document key
    exact when a NULL-key row shares its partition: keys 2^53 and
    2^53+1 stay two documents (as float64 they would be one, and their
    two boxes 2 apart one line).  NULL-key rows yield no row, and a NULL
    coordinate reaches the kernel as a float NaN: the box with a NULL
    y_1 stays out of the sweep, a line of its own, whose NaN corner
    comes out NULL."""
    from layout_parser_spark.operators.grouping import gcca_apply

    big = 2**53
    rows = [
        (big, 0, 0.0, 0.0, 10.0, 10.0),
        (big + 1, 0, 12.0, 0.0, 22.0, 10.0),
        (None, 0, 0.0, 0.0, 10.0, 10.0),
        (None, 1, 5.0, 0.0, 15.0, 10.0),
        (7, 2, 0.0, None, 10.0, 10.0),
        (7, 0, 0.0, 0.0, 10.0, 10.0),
        (7, 1, 12.0, 0.0, 22.0, 10.0),
    ]
    df = spark.createDataFrame(
        rows,
        "doc long, block_id long, x_1 double, y_1 double, "
        "x_2 double, y_2 double",
    )

    def floats_only(a, b):
        assert all(isinstance(v, float) for v in a + b), (a, b)
        return 1 if abs(a[0] - b[0]) <= 15 else 0

    def norm(out):
        return sorted(
            (tuple(r) for r in out.collect()), key=lambda r: (r[0], r[1])
        )

    docs = [
        (big, 0, 0.0, 0.0, 10.0, 10.0, 1),
        (big + 1, 0, 12.0, 0.0, 22.0, 10.0, 1),
    ]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        lines = detect_lines(df, ["doc"], id_col="block_id")
        comps = gcca_apply(df, ["doc"], floats_only, id_col="block_id")
        assert norm(lines) == [
            (7, 0, 0.0, 0.0, 22.0, 10.0, 2),
            (7, 1, 0.0, None, 10.0, 10.0, 1),
            *docs,
        ]
        # the x test joins the NaN-y box; min(0.0, 0.0, nan) is 0.0
        assert norm(comps) == [(7, 0, 0.0, 0.0, 22.0, 10.0, 3), *docs]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_embedding_near_dup_lsh_path_recall(spark):
    """Unblocked embedding_near_dup_pairs must use LSH candidates (an
    equi-join, never a cross join) and recover most true near-dup pairs;
    every emitted score must equal the exact cosine."""
    from layout_parser_spark.operators.dedup import embedding_near_dup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))

    thr = 0.3
    # exact all-pairs baseline via the blocked path with ONE block
    exact = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in embedding_near_dup_pairs(
            emb.withColumn("one", F.lit(1)), threshold=thr, block_col="one"
        ).collect()
    }
    # r/b matched to the LOW test threshold: p(0.3) ≈ 0.60 → recall
    # 1−(1−p²)⁸ ≈ 0.97.  The default (r=6, b=4) targets s ≥ 0.9.
    approx_df = embedding_near_dup_pairs(
        emb, threshold=thr, block_col=None, n_planes=2, n_tables=8
    )
    # plan shape: candidate generation must be an equi-join (hash/sort-merge
    # join with join keys), not a cartesian/broadcast-nested-loop product
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    approx = {(r.id_a, r.id_b): r.cosine_sim for r in approx_df.collect()}

    assert exact, "baseline found no pairs — test corpus/threshold wrong"
    recall = len(set(approx) & set(exact)) / len(exact)
    assert recall >= 0.5, (recall, len(exact), len(approx))
    for k, v in approx.items():
        assert k in exact and abs(exact[k] - v) < 1e-9


def test_embedding_null_vectors_filtered_before_grouping(spark):
    """NULL vectors leave the plan before bucketing/blocking: the random-
    hyperplane signature of a NULL vector is 0, so without the filter
    every NULL row would land in bucket (tbl, 0) of every table.  Pairs
    are unchanged by 50 added NULL rows and by rows with a NULL id (which
    pair with nothing), and the optimized plan carries the null filter
    on the vector column."""
    from layout_parser_spark.operators.dedup import embedding_near_dup_pairs

    rng = random.Random(3)
    rows = [(i, "x", [rng.gauss(0, 1) for _ in range(8)]) for i in range(40)]
    nulls = [(100 + i, "x", None) for i in range(50)]
    nulls += [(None, "x", v) for _, _, v in rows[:3]]
    schema = "vec_id long, label string, embedding array<double>"
    clean = spark.createDataFrame(rows, schema)
    dirty = spark.createDataFrame(rows + nulls, schema)

    def pairs(out):
        return {(r.id_a, r.id_b): r.cosine_sim for r in out.collect()}

    for kw in ({"dim": 8, "n_planes": 2, "n_tables": 4},
               {"block_col": "label"}):
        out = embedding_near_dup_pairs(dirty, threshold=0.2, **kw)
        got = pairs(out)
        assert got and got == pairs(
            embedding_near_dup_pairs(clean, threshold=0.2, **kw)
        ), kw
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "isnotnull(embedding#" in plan, kw


def test_detect_lines_equals_local(spark):
    """``detect_lines`` (the per-document kernel, candidate pairs from
    the y-centre sweep) gives ``detect_lines_local``'s lines per
    document: same boxes, token counts and line_id order.  Documents:
    word grids with gaps around the tolerance and a 60-token chain,
    seeded random pages (centre gaps exactly on the tolerance, tied
    centres, zero-width boxes) and one dense page of 3 200 boxes."""
    pages = []
    for doc in range(6):
        page = []
        for r in range(4):
            for i in range(20):
                x = i * (12.0 + (r % 3))  # gap 12/13/14 vs eff_x_tol=10
                y = r * 30.0 + doc
                page.append((x, y, x + 10.0, y + 10.0))
        # a long chain on one line: 60 adjacent tokens
        for i in range(60):
            page.append((i * 15.0, 200.0 + doc, i * 15.0 + 10.0, 210.0 + doc))
        pages.append(page)
    pages += _seeded_pages(60, seed=7)
    rng = random.Random(11)
    # 50 rows 15 apart with centre jitter of 0/2.5/5: some rows land
    # exactly 10 apart and merge
    dense = [
        (i * 12.0, y, i * 12.0 + 10.0, y + 10.0)
        for y in (r * 15.0 + rng.choice((0.0, 2.5, 5.0)) for r in range(50))
        for i in range(64)
    ]
    # the reference scores every pair: the dense page runs once
    for docs, xt, yt in [(pages + [dense], 10, 10), (pages, 2.5, 10)]:
        df = spark.createDataFrame(
            [(doc, bid, *b) for doc, page in enumerate(docs)
             for bid, b in enumerate(page)],
            "doc_id long, block_id long, x_1 double, y_1 double, "
            "x_2 double, y_2 double",
        ).repartition(3)
        got = {}
        for r in detect_lines(
            df, ["doc_id"], id_col="block_id", x_tolerance=xt, y_tolerance=yt
        ).collect():
            got.setdefault(r.doc_id, []).append(
                (r.line_id, r.x_1, r.y_1, r.x_2, r.y_2, r.n_tokens)
            )
        for doc, page in enumerate(docs):
            counts = gcca_1d(page, _line_close(xt, yt), len)
            want = [
                (li, *u, n) for li, (u, n) in enumerate(
                    zip(detect_lines_local(page, xt, yt), counts)
                )
            ]
            assert sorted(got.get(doc, [])) == want, (doc, xt, yt)


def _ivf_inputs(spark):
    """The sf0.001 embeddings as doubles: vec_id ≥ 2 are the vectors,
    vec_id < 2 the queries."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    q = emb.where("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return emb.where("vec_id >= 2"), q


def test_kmeans_centroids_deterministic_and_improving(spark):
    """DataFrame-native Lloyd's k-means: deterministic across runs, and
    mean distortion (cosine to assigned centroid) does not decrease with
    iterations; full-probe IVF over trained centroids stays exact."""
    from layout_parser_spark.operators.similarity import (
        assign_to_centroids,
        kmeans_centroids,
    )

    v, q = _ivf_inputs(spark)

    def mean_sim(cents):
        return (
            assign_to_centroids(v, cents)
            .agg(F.avg("c_sim"))
            .collect()[0][0]
        )

    c0 = kmeans_centroids(v, nlist=8, dim=64, iters=0)
    c3 = kmeans_centroids(v, nlist=8, dim=64, iters=3)
    c3b = kmeans_centroids(v, nlist=8, dim=64, iters=3)
    # determinism: identical centroids bit-for-bit
    rows_a = sorted((r.c_id, tuple(r.c_vec)) for r in c3.collect())
    rows_b = sorted((r.c_id, tuple(r.c_vec)) for r in c3b.collect())
    assert rows_a == rows_b
    # training improves (or at least never worsens) assignment similarity
    assert mean_sim(c3) >= mean_sim(c0) - 1e-9

    # full probe with trained centroids is still the exact answer
    exact = {(r.query_id, r.rank): r.vec_id for r in cosine_topk(v, q, k=5).collect()}
    ivf = {
        (r.query_id, r.rank): r.vec_id
        for r in ivf_topk(v, q, k=5, nlist=8, nprobe=8, centroids=c3).collect()
    }
    assert exact == ivf


def _np_lloyd(X, k, iters, metric, m):
    """Plain-numpy Lloyd's, the reference for ``similarity.lloyd``: rows
    of ``X`` in id order, init = the first k rows split into m
    subspaces, first index wins a tie, an empty cluster keeps its
    centroid.  Scores are left-to-right sums (``np.cumsum``), the order
    of the Spark folds, so both sides compare the same doubles."""
    import numpy as np

    sub = X.shape[1] // m
    model = X[:k].reshape(-1, m, sub).transpose(1, 0, 2).copy()

    def score(a, c):
        if metric == "cos":
            na, nc = np.cumsum(a * a)[-1], np.cumsum(c * c)[-1]
            return np.cumsum(a * c)[-1] / (np.sqrt(na) * np.sqrt(nc))
        return np.cumsum((a - c) * (a - c))[-1]

    def nearest(a, book):
        best, best_s = 0, score(a, book[0])
        for i in range(1, len(book)):
            s = score(a, book[i])
            if (s > best_s) if metric == "cos" else (s < best_s):
                best, best_s = i, s
        return best

    for _ in range(iters):
        new = model.copy()
        for j in range(m):
            xs = X[:, j * sub : (j + 1) * sub]
            codes = np.array([nearest(a, model[j]) for a in xs])
            for c in set(codes.tolist()):
                new[j, c] = xs[codes == c].sum(axis=0) / (codes == c).sum()
        model = new
    return model


def test_lloyd_matches_numpy_reference(spark):
    """``lloyd`` against ``_np_lloyd`` on seeded integer-lattice vectors,
    for both metrics and m ∈ {1, 4}: after one round the centroids are
    equal bit for bit (integer sums are exact in any order), after three
    to a relative 1e-12.  Adversarial inputs: exact ties (duplicate
    vectors, and 2·b next to b, equal under cosine), k above the number
    of distinct vectors (empty clusters keep their centroid), and n < k
    (the model has n rows).  Rows reach Spark shuffled, under ids that
    are not their positions, so the init must sort by id."""
    import numpy as np

    from layout_parser_spark.operators.similarity import lloyd

    rng = np.random.default_rng(2024)
    lattice = rng.integers(1, 4, size=(48, 8)).astype(float)
    base = rng.integers(1, 4, size=(3, 8)).astype(float)
    pool = np.vstack([base, 2 * base[:1]])
    dups = pool[[0, 3, 1, 0, 2, 0, 1, 3, 0, 2, 3, 0, 1, 0]]
    cases = [("lattice", lattice, 5), ("dups", dups, 6), ("n<k", lattice[:3], 5)]
    for name, X, k in cases:
        ids = np.sort(rng.choice(10**6, size=len(X), replace=False))
        rows = [(int(i), x.tolist()) for i, x in zip(ids, X)]
        random.Random(len(X)).shuffle(rows)
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        for metric in ("cos", "l2"):
            for m in (1, 4):
                for iters in (1, 3):
                    got = lloyd(df, k, 8, iters, metric, m=m)
                    want = _np_lloyd(X, k, iters, metric, m)
                    assert got.shape == want.shape == (m, min(k, len(X)), 8 // m)
                    if iters == 1:
                        np.testing.assert_array_equal(
                            got, want, err_msg=f"{name} {metric} m={m}"
                        )
                    else:
                        np.testing.assert_allclose(
                            got, want, rtol=1e-12, atol=0,
                            err_msg=f"{name} {metric} m={m}",
                        )


def test_repeated_line_removal_newline_delim(spark):
    from layout_parser_spark.operators.dedup import repeated_line_removal

    nav = "home | products | contact"
    foot = "(c) 2026 example inc"
    docs = [
        (0, f"{nav}\nunique alpha\n{foot}"),
        (1, f"{nav}\nunique beta\n{foot}"),
        (2, f"{nav}\nunique gamma\n{foot}"),
        (3, f"{nav}\n{foot}"),  # boilerplate-only → empty after cleaning
        (4, "standalone page"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r.id: r
        for r in repeated_line_removal(df, delim="\n", max_df=2).collect()
    }
    assert out[0].clean_text == "unique alpha"
    assert out[1].clean_text == "unique beta"
    assert out[2].clean_text == "unique gamma"
    assert (out[0].n_kept, out[0].n_dropped) == (1, 2)
    assert out[3].clean_text == "" and out[3].n_kept == 0
    assert out[3].n_dropped == 2
    assert out[4].clean_text == "standalone page"  # df=1 survives


def test_repeated_line_removal_preserves_order(spark):
    from layout_parser_spark.operators.dedup import repeated_line_removal

    # repeated segment interleaved between unique ones; order must hold
    docs = [(i, f"u{i}a\nSPAM\nu{i}b\nSPAM\nu{i}c") for i in range(5)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r.id: r
        for r in repeated_line_removal(df, delim="\n", max_df=3).collect()
    }
    for i in range(5):
        assert out[i].clean_text == f"u{i}a\nu{i}b\nu{i}c"
        assert out[i].n_dropped == 2


def test_duplicated_span_removal(spark):
    from layout_parser_spark.operators.dedup import duplicated_span_removal

    spam = "click here to subscribe now"  # 5 tokens, shared verbatim
    docs = [
        (0, f"alpha beta gamma {spam} delta0"),
        (1, f"{spam} epsilon zeta eta theta1"),
        (2, "totally unique content with no repeats at all"),
        (3, f"{spam}"),  # nothing but the duplicated span
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.id: r for r in duplicated_span_removal(df, n=5).collect()}
    # the 5-token spam span occurs in docs 0, 1, 3 -> removed everywhere;
    # n=5 windows also cover tokens overlapping the span boundary
    assert spam.split()[0] not in out[0].clean_text
    assert out[2].clean_text == docs[2][1]  # unique doc untouched
    assert out[2].n_removed == 0
    assert out[3].clean_text == "" and out[3].n_removed == 5
    # every kept token order-preserved and from the original
    assert out[0].clean_text.startswith("alpha beta gamma")
    total = out[0].n_kept + out[0].n_removed
    assert total == len(docs[0][1].split())


def test_hashed_linear_score_exact(spark):
    """Hashing-trick classifier: integer weight sums computed by hand
    must match, and the broadcast-literal lookup must not join."""
    import hashlib

    from layout_parser_spark.operators.text_analysis import (
        hashed_linear_score,
        model_weights,
    )

    W = model_weights(1024)

    def lane(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)

    docs = [(0, "alpha beta gamma"), (1, "delta delta")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.id: (r.score_int, r.keep)
           for r in hashed_linear_score(df).collect()}
    for did, text in docs:
        want = sum(W[lane(t) % 1024] for t in text.split(" "))
        assert out[did] == (want, want > 0)
    plan = hashed_linear_score(df)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # weight lookup is a literal-array index


def test_hash_split_stability_and_packing(spark):
    """A doc's split never changes when the corpus grows; packing bins
    are contiguous in-order with offsets that match the running sum."""
    from pyspark.sql import functions as F

    from layout_parser_spark.operators.text_analysis import (
        hash_split,
        pack_sequences,
    )

    small = spark.range(0, 50).select(F.col("id").alias("doc_id"))
    big = spark.range(0, 500).select(F.col("id").alias("doc_id"))
    s_small = {
        r.doc_id: r.s
        for r in small.select(
            "doc_id", hash_split(F.col("doc_id")).alias("s")
        ).collect()
    }
    s_big = {
        r.doc_id: r.s
        for r in big.select(
            "doc_id", hash_split(F.col("doc_id")).alias("s")
        ).collect()
    }
    assert all(s_big[k] == v for k, v in s_small.items())
    assert set(s_big.values()) == {"train", "val", "test"}

    docs = spark.createDataFrame(
        [(i, " ".join(["tok"] * (3 + i % 4))) for i in range(20)],
        "doc_id long, text string",
    )
    packed = sorted(
        pack_sequences(docs, target_tokens=10).collect(),
        key=lambda r: r.id,
    )
    run = 0
    for r in packed:
        assert r.bin_id == run // 10 and r.bin_offset == run % 10
        run += r.n_tokens


def test_pack_sequences_multi_part_sharding(spark):
    """part_col accepts a SEQUENCE of names (the 100 TB shape: compose
    the low-cardinality split with a shard key so no window reducer
    sorts a whole split); packing is then independent per (part, shard)
    group and equals the single-group packing of that group's docs."""
    from pyspark.sql import functions as F

    from layout_parser_spark.operators.text_analysis import pack_sequences

    docs = spark.createDataFrame(
        [
            (i, "a" if i % 2 else "b", i % 3, " ".join(["tok"] * (2 + i % 5)))
            for i in range(60)
        ],
        "doc_id long, grp string, shard long, text string",
    )
    out = pack_sequences(
        docs, target_tokens=7, part_col=["grp", "shard"]
    ).collect()
    # multi-col mode keeps the original column names
    assert {"grp", "shard"} <= set(out[0].asDict())
    by_group = {}
    for r in sorted(out, key=lambda r: r.id):
        by_group.setdefault((r.grp, r.shard), []).append(r)
    assert len(by_group) == 6
    for rows in by_group.values():
        run = 0
        for r in rows:  # id-ascending within the group
            assert r.bin_id == run // 7 and r.bin_offset == run % 7
            run += r.n_tokens


PQ_DIM = 32


def _pq_inputs(spark):
    """200 vectors in 10 integer-lattice clusters with centi-scale noise,
    and 3 queries at cluster centres: clusterable, so PQ + refinement is
    exact."""

    def vec(c, d):
        return F.array(
            *[
                ((c * 31 + i * 17) % 13 - 6).cast("double")
                + ((d * 7 + i * 3) % 5 - 2).cast("double") * 0.01
                for i in range(PQ_DIM)
            ]
        )

    d = F.col("id")
    vectors = spark.range(200).select(
        d.alias("vec_id"), vec(d % 10, d).alias("embedding")
    )
    queries = spark.range(3).select(
        d.alias("query_id"), vec(d, d * 0).alias("query_vec")
    )
    return vectors, queries


def _with_null_vector(df, id_col, vec_col):
    """``df`` plus one NULL-vector row with the smallest id (-1)."""
    null = df.sparkSession.range(1).select(
        F.lit(-1).cast("long").alias(id_col),
        F.lit(None).cast("array<double>").alias(vec_col),
    )
    return df.unionByName(null, allowMissingColumns=True)


def test_pq_topk_recall_on_clustered_data(spark):
    """PQ + exact refinement equals brute force on clusterable vectors
    (recall-1 configuration); on pure-noise embeddings the lossy codes
    genuinely cannot guarantee that — which is why the contract query runs
    over the deterministic clustered fixture."""
    from layout_parser_spark.operators.similarity import pq_topk

    vectors, queries = _pq_inputs(spark)
    pq = sorted(
        (r.query_id, r.rank, r.vec_id, r.cosine_sim)
        for r in pq_topk(
            vectors, queries, k=5, m=4, k_codes=16, refine=40, dim=PQ_DIM
        ).collect()
    )
    ex = sorted(
        (r.query_id, r.rank, r.vec_id, round(r.cosine_sim, 6))
        for r in cosine_topk(vectors, queries, k=5).collect()
    )
    assert pq == ex


def test_trained_ann_ignores_null_vectors(spark):
    """A NULL embedding enters no k-means init and no mean.  Appended to
    the PQ and IVF-k-means inputs with the smallest id (an unfiltered
    init would pick it), it leaves every trained centroid NULL-free and
    the top-k unchanged."""
    import numpy as np

    from layout_parser_spark.operators.similarity import (
        kmeans_centroids,
        lloyd,
        pq_topk,
    )

    vectors, queries = _pq_inputs(spark)
    vn = _with_null_vector(vectors, "vec_id", "embedding")
    model = lloyd(vn, 16, PQ_DIM, 3, "l2", m=4)
    assert not np.isnan(model).any()
    np.testing.assert_array_equal(model, lloyd(vectors, 16, PQ_DIM, 3, "l2", m=4))

    def pq(v):
        out = pq_topk(v, queries, k=5, m=4, k_codes=16, refine=40, dim=PQ_DIM)
        return sorted(tuple(r) for r in out.collect())

    assert pq(vn) == pq(vectors)

    v, q = _ivf_inputs(spark)
    vn = _with_null_vector(v, "vec_id", "embedding")
    cents = kmeans_centroids(vn, nlist=8, dim=64, iters=3)
    rows = cents.collect()
    assert len(rows) == 8
    assert all(r.c_vec is not None and None not in r.c_vec for r in rows)

    def ivf(v, cents):
        out = ivf_topk(v, q, k=5, nlist=8, nprobe=8, centroids=cents)
        return sorted(tuple(r) for r in out.collect())

    assert ivf(vn, cents) == ivf(v, kmeans_centroids(v, nlist=8, dim=64, iters=3))


def test_untrained_ivf_ignores_null_vectors(spark):
    """The default centroids (the nlist smallest ids) skip NULL vectors
    like ``lloyd``'s init: a NULL row with id -1 would otherwise become a
    centroid no vector or query matches, losing one list."""
    v, q = _ivf_inputs(spark)
    vn = _with_null_vector(v, "vec_id", "embedding")

    def ivf(v):
        out = ivf_topk(v, q, k=5, nlist=8, nprobe=2)
        return sorted(tuple(r) for r in out.collect())

    assert ivf(vn) == ivf(v)


def test_scrub_pii_and_stratified_sample(spark):
    from pyspark.sql import functions as F

    from layout_parser_spark.operators.text_analysis import (
        scrub_pii,
        stratified_sample,
    )

    df = spark.createDataFrame(
        [
            (0, "mail a.b+c@x-corp.io now and 192.168.0.1 or +44 207-946-0958"),
            (1, "clean text with no identifiers at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in scrub_pii(df).collect()}
    assert "<EMAIL>" in out[0].clean_text
    assert "<IP>" in out[0].clean_text
    assert "<PHONE>" in out[0].clean_text
    assert "a.b+c@x-corp.io" not in out[0].clean_text
    assert (out[0].n_emails, out[0].n_ips, out[0].n_phones) == (1, 1, 1)
    assert out[1].clean_text == "clean text with no identifiers at all"
    assert (out[1].n_emails, out[1].n_ips, out[1].n_phones) == (0, 0, 0)

    # sampler: rate-0 stratum drops everything, rate-1 keeps everything,
    # kept set is stable under corpus growth
    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "keepall").otherwise("dropall")
        .alias("source"),
    )
    kept = stratified_sample(
        docs, {"keepall": 1.0, "dropall": 0.0}, strata_col="source"
    ).collect()
    assert {r.source for r in kept} == {"keepall"}
    assert len(kept) == 150
    half = stratified_sample(
        docs, {"keepall": 0.5, "dropall": 0.0}, strata_col="source"
    )
    kept_ids = {r.doc_id for r in half.collect()}
    assert 45 <= len(kept_ids) <= 105  # ~50% of 150, hash-binomial
    grown = docs.union(
        spark.range(300, 600).select(
            F.col("id").alias("doc_id"), F.lit("keepall").alias("source")
        )
    )
    kept_ids2 = {
        r.doc_id
        for r in stratified_sample(
            grown, {"keepall": 0.5, "dropall": 0.0}, strata_col="source"
        ).collect()
        if r.doc_id < 300
    }
    assert kept_ids2 == kept_ids  # growth never flips a decision


def test_kmv_sketch_partition_invariant(spark):
    """The two-level bounded k-minima aggregation (level 1 per input
    partition, level 2 merge) must give the identical sketch for ANY
    partitioning of the input — the mergeability the operator advertises
    for 1000-executor combines."""
    from pyspark.sql import functions as F

    from layout_parser_spark.operators.dedup import kmv_distinct_sketch

    df = spark.range(5000).select(
        (F.col("id") % 7).alias("g"), F.col("id").cast("string").alias("v")
    )
    outs = []
    for nparts in (1, 13):
        rows = kmv_distinct_sketch(
            df.repartition(nparts), "v", k=32, group_cols=["g"]
        ).collect()
        outs.append(
            sorted((r.g, r.n_sketch, r.kth_lane, r.est_distinct)
                   for r in rows)
        )
    assert outs[0] == outs[1]


def test_cosine_topk_partition_invariant(spark):
    """The de-skewed partial-top-k path (per-partition k-minima → merge
    → posexplode rank) must be invariant to vector partitioning and must
    equal the straightforward global ranking."""
    import numpy as np
    from pyspark.sql import functions as F

    from layout_parser_spark.operators.similarity import cosine_topk

    rng = np.random.RandomState(11)
    vecs = [(i, [float(x) for x in rng.randn(8)]) for i in range(300)]
    qs = [(100 + j, [float(x) for x in rng.randn(8)]) for j in range(2)]
    v = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        qs, "query_id long, query_vec array<double>"
    )

    def rows(df):
        return sorted(
            (r.query_id, r.rank, r.vec_id, r.cosine_sim)
            for r in df.collect()
        )

    base = rows(cosine_topk(v.repartition(1), q, k=7))
    assert rows(cosine_topk(v.repartition(17), q, k=7)) == base
    # oracle: plain numpy global ranking with the same round-then-rank
    # and (sim desc, vec_id asc) tie-break
    want = []
    for qid, qv in qs:
        qv = np.array(qv)
        sims = [
            (round(float(
                np.dot(e, qv) / (np.linalg.norm(e) * np.linalg.norm(qv))
            ), 6), vid)
            for vid, e in ((vid, np.array(e)) for vid, e in vecs)
        ]
        sims.sort(key=lambda t: (-t[0], t[1]))
        want += [
            (qid, r + 1, vid, s) for r, (s, vid) in enumerate(sims[:7])
        ]
    assert base == sorted(want)


def test_kmv_sketch_properties(spark):
    """Exact below k; estimate within ~2/sqrt(k) above k; MERGEABLE:
    sketch(A ∪ B) == merge of sketch(A), sketch(B) by k-smallest."""
    import hashlib

    from pyspark.sql import functions as F

    from layout_parser_spark.operators.dedup import kmv_distinct_sketch

    small = spark.range(40).select(F.col("id").cast("string").alias("v"))
    r = kmv_distinct_sketch(small, "v", k=64).collect()[0]
    assert (r.n_sketch, r.est_distinct) == (40, 40)  # exact under k

    big = spark.range(20000).select(F.col("id").cast("string").alias("v"))
    r = kmv_distinct_sketch(big, "v", k=64).collect()[0]
    assert r.n_sketch == 64
    assert abs(r.est_distinct - 20000) / 20000 < 0.35  # 2/sqrt(64)=0.25ish

    # mergeability: python twin over md5 lanes
    def lane(x):
        return int(hashlib.md5(x.encode()).hexdigest()[:15], 16)

    a = sorted(lane(str(i)) for i in range(0, 10000))[:64]
    b = sorted(lane(str(i)) for i in range(5000, 20000))[:64]
    merged_kth = sorted(set(a) | set(b))[63]
    assert merged_kth == sorted(lane(str(i)) for i in range(20000))[63]


#: adversarial texts for both signature kernels: NULL, empty,
#: whitespace-only, fewer than n tokens, exactly n, multibyte, tabs,
#: runs of spaces, repeated shingles, a long doc
EDGE_TEXTS = [
    None,
    "",
    " ",
    "  ",
    "a",
    "a b",
    "a b c",
    "dup dup dup dup dup",
    "x  y   z w",
    "汉字 分词 测试 汉字 分词",
    "tab\tinside token here ok",
    " leading and trailing space ",
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox " * 40,
    "the " * 200,
]


def test_minhash_fused_text_kernel_equals_staged_pipeline(spark):
    """The fused text→signature kernel (tokenize + shingle + md5 +
    minima in one Arrow slot) equals the step-by-step plain-Python
    reference ``_ref_minhash`` on adversarial texts, so the signature
    stage cannot drift from the definition the oracle also computes."""
    got = _kernel_outputs(
        spark, EDGE_TEXTS, minhash_signatures, num_hashes=16, n=3
    )
    assert got == {i: _ref_minhash(t, 16, 3) for i, t in enumerate(EDGE_TEXTS)}


def test_simhash_fused_text_kernel_equals_staged_pipeline(spark):
    """The fused text→simhash kernel (tokenize + per-token md5 lane +
    bit-majority in one Arrow slot) equals the step-by-step plain-Python
    reference ``_ref_simhash``, incl. NULL text → 0 and texts made of
    empty tokens only."""
    got = _kernel_outputs(spark, EDGE_TEXTS, simhash_signatures)
    assert got == {i: _ref_simhash(t) for i, t in enumerate(EDGE_TEXTS)}
    assert got[0] == 0


def test_simhash_buckets_first_match_uniqueness(spark):
    """simhash_buckets emits every bucket-mate pair EXACTLY once (the
    first-agreeing-chunk guard replaces the dropDuplicates exchange) —
    uniqueness plus set-equality with the dedup-exchange construction."""
    from layout_parser_spark.operators.dedup import simhash_buckets

    # doc pairs engineered to agree on multiple chunks (identical texts
    # agree on ALL 4) plus partially-similar docs
    texts = [
        "alpha beta gamma delta",
        "alpha beta gamma delta",      # identical → 4-chunk agreement
        "alpha beta gamma epsilon",
        "zeta eta theta iota",
        "zeta eta theta iota",
        "completely different words here",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = simhash_buckets(df).collect()
    pairs = [(r.id_a, r.id_b) for r in out]
    assert len(pairs) == len(set(pairs))  # unique by construction
    assert (0, 1) in set(pairs) and (3, 4) in set(pairs)
    for r in out:
        if (r.id_a, r.id_b) in ((0, 1), (3, 4)):
            assert r.hamming == 0


_U64 = (1 << 64) - 1


def _flip(sig, positions):
    """``sig`` with the bits at ``positions`` flipped, as a signed long."""
    u = sig & _U64
    for p in positions:
        u ^= 1 << p
    return u - (1 << 64) if u >> 63 else u


def _random_sigs(seed, bits, n_chunks):
    """Seeded (id, sig) rows: random bases (signed 64-bit, negative ones
    included, or non-negative 60-bit) and per base variants at hamming
    0–3, n_chunks − 1, n_chunks and n_chunks + 1, plus one with 3 flips
    inside a single chunk (it agrees with its base on every other
    chunk)."""
    rng = random.Random(seed)
    bpc = bits // n_chunks
    sigs = []
    for _ in range(25):
        base = rng.getrandbits(bits)
        if bits == 64:
            base = _flip(base, [])
        sigs.append(base)
        for k in sorted({0, 1, 2, 3, n_chunks - 1, n_chunks, n_chunks + 1}):
            sigs.append(_flip(base, rng.sample(range(bits), k)))
        c = rng.randrange(n_chunks)
        sigs.append(_flip(base, rng.sample(range(c * bpc, (c + 1) * bpc), 3)))
    return list(enumerate(sigs))


def _ref_pairs(rows, keep):
    """Plain-Python all pairs: (id_a, id_b, hamming) for id_a < id_b where
    ``keep(u_a, u_b, hamming)`` holds on the unsigned 64-bit values."""
    out = []
    for i, (ia, sa) in enumerate(rows):
        for ib, sb in rows[i + 1:]:
            ua, ub = sa & _U64, sb & _U64
            out.append((min(ia, ib), max(ia, ib), bin(ua ^ ub).count("1"), ua, ub))
    return sorted((a, b, h) for a, b, h, ua, ub in out if keep(ua, ub, h))


def test_hamming_pairs_match_all_pairs_reference(spark):
    """``hamming_pairs`` (the one pigeonhole join of SimHash, pHash and
    the audio fingerprints) equals a plain-Python all-pairs scan: every
    pair sharing a chunk, each exactly once, with its exact hamming; and
    ``phash_near_dup_pairs`` keeps exactly the pairs at hamming ≤
    max_hamming (pairs at max_hamming and max_hamming + 1 are in the
    data)."""
    from layout_parser_spark.operators.dedup import hamming_pairs
    from layout_parser_spark.operators.phash import phash_near_dup_pairs

    for seed, bits, n_chunks in ((1, 60, 4), (2, 64, 4), (3, 64, 8), (4, 64, 1)):
        rows = _random_sigs(seed, bits, n_chunks)
        assert bits == 60 or any(s < 0 for _, s in rows)
        df = spark.createDataFrame(rows, "id long, sig long")
        bpc, mask = bits // n_chunks, (1 << (bits // n_chunks)) - 1

        def shares_chunk(ua, ub, _h):
            return any(
                (ua >> (bpc * i)) & mask == (ub >> (bpc * i)) & mask
                for i in range(n_chunks)
            )

        got = sorted(tuple(r) for r in hamming_pairs(df, bits, n_chunks).collect())
        assert got == _ref_pairs(rows, shares_chunk), (bits, n_chunks)
        if bits == 64:
            for max_h in {min(2, n_chunks - 1), n_chunks - 1}:
                pairs = phash_near_dup_pairs(
                    df, hash_col="sig", id_col="id",
                    max_hamming=max_h, n_chunks=n_chunks,
                )
                want = _ref_pairs(rows, lambda ua, ub, h: h <= max_h)
                assert sorted(tuple(r) for r in pairs.collect()) == want
                assert any(h == max_h for _, _, h in want)
                assert _ref_pairs(rows, lambda ua, ub, h: h == max_h + 1)


def test_simhash_kernel_property_random_arrays(spark):
    """Seeded sweep: on 300 random texts (even and odd token counts, so
    exact half votes occur) both fused kernels equal the plain-Python
    references."""
    texts = _random_texts(11, 300)
    sim = _kernel_outputs(spark, texts, simhash_signatures)
    assert sim == {i: _ref_simhash(t) for i, t in enumerate(texts)}
    mh = _kernel_outputs(
        spark, texts, minhash_signatures, num_hashes=16, n=3
    )
    assert mh == {i: _ref_minhash(t, 16, 3) for i, t in enumerate(texts)}


def test_pairwise_cosine_group_kernel_bit_identical_to_fold(spark):
    """The per-group pairwise kernel behind embedding_near_dup_pairs
    must emit EXACTLY the pairs (and bit-equal cosine doubles) of the
    former per-pair Column fold construction (self-join + zip_with/
    aggregate cosine + ROUND + filter), which the oracle certifies —
    on adversarial vectors: denormals, negative zeros, mixed magnitudes,
    NULL vectors, and mismatched lengths.  (Zero-norm vectors are pinned
    separately below: under ANSI mode the former fold RAISED
    DIVIDE_BY_ZERO on them, while the kernel drops them like the DuckDB
    oracle's NaN — fixtures contain none, so no declared query result
    changes.)"""
    import math
    import struct

    from layout_parser_spark.operators.dedup import embedding_near_dup_pairs
    from layout_parser_spark.operators.similarity import cosine

    rows = [
        (1, "x", [1.0, 2.0, 3.0, 4.0]),
        (2, "x", [1.0, 2.0, 3.0, 4.000001]),
        (3, "x", [-1.0, -2.0, -3.0, -4.0]),
        (6, "x", [5e-324, -5e-324, 5e-308, 1.0]),  # denormals
        (7, "x", [1e150, 1e150, -1e150, 1e-150]),  # huge/tiny mix
        (8, "x", [1.0, 2.0, 3.0]),                 # length mismatch
        (9, "x", None),                            # NULL vector
        (10, "x", [0.1 + 0.2, 0.3, 0.7, 1.1]),     # non-representable sums
        (11, "y", [1.0, 1.0, 1.0, 1.0]),
        (12, "y", [1.0, 1.0, 1.0, 0.999999999]),
        (13, "y", [1.0, 2.0, 3.0]),                # same length as 8, other blk
        (14, "y", [2.0, 4.0, 6.0]),                # exact colinear (sim 1.0)
        (15, "y", [-2.0, -4.0, -6.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    for thr in (0.3, -0.5, 0.9999995):
        got = embedding_near_dup_pairs(
            df, threshold=thr, block_col="label"
        ).collect()
        # the former construction, verbatim
        v = df.select(
            F.col("vec_id").alias("id"),
            F.col("embedding").cast("array<double>").alias("v"),
            F.col("label").alias("blk"),
        )
        a, b = v.alias("a"), v.alias("b")
        pairs = a.join(b, on="blk").where(F.col("a.id") < F.col("b.id"))
        sim = cosine(F.col("a.v"), F.col("b.v"))
        want = pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(sim, 6).alias("cosine_sim"),
        ).where(F.col("cosine_sim") >= thr).collect()

        def norm(rs):
            out = {}
            for r in rs:
                assert r.cosine_sim is not None and not math.isnan(r.cosine_sim)
                out[(r.id_a, r.id_b)] = struct.pack("<d", r.cosine_sim)
            return out

        g, w = norm(got), norm(want)
        assert g == w, (
            f"thr={thr}: kernel pairs != fold pairs "
            f"(only-kernel={set(g) - set(w)}, only-fold={set(w) - set(g)}, "
            f"bit-diff={[k for k in g if k in w and g[k] != w[k]]})"
        )
        assert g, f"thr={thr}: empty comparison is vacuous"

    # zero-norm vectors: the kernel's NaN sim is never emitted (the
    # DuckDB oracle's 0/0 is NaN and fails >= too); pairs among the
    # well-formed rows are unaffected by the degenerate rows' presence
    zdf = spark.createDataFrame(
        [
            (1, "z", [0.0, 0.0]),
            (2, "z", [-0.0, -0.0]),
            (3, "z", [1.0, 1.0]),
            (4, "z", [2.0, 2.0]),
        ],
        "vec_id long, label string, embedding array<double>",
    )
    zgot = embedding_near_dup_pairs(
        zdf, threshold=-2.0, block_col="label"
    ).collect()
    assert {(r.id_a, r.id_b) for r in zgot} == {(3, 4)}
    assert [r.cosine_sim for r in zgot] == [1.0]

"""Tests of the benchmark's own parts that need no Spark session.

    python3 -m pytest perfbench -q
"""

import json
import os
import re
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import contract  # noqa: E402
import curation  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def _shingles(text, n=3):
    t = text.split(" ")
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def _jaccard(a, b):
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


@pytest.mark.parametrize("make,dig", [
    (gen.crawl_corpus, gen.crawl_digest),
    (lambda s: gen.contract_tables(s, 0.002), gen.digest),
])
def test_same_seed_same_digest_other_seed_other_digest(make, dig):
    assert dig(make(11)) == dig(make(11))
    assert dig(make(11)) != dig(make(12))


def test_crawl_work_is_fixed_and_heavy_tailed():
    for seed in (1, 2, 3):
        c = gen.crawl_corpus(seed, n_base=200, total_tokens=20_000,
                             n_recrawls=10, n_exact_dups=10,
                             chain_lengths=(2, 3))
        injected = set(c.recrawls) | set(c.exact_dups) | {
            u for ch in c.chains for u in ch}
        base = c.docs[~c.docs["url"].isin(injected)]
        counts = base["text"].str.split(" ").str.len()
        assert counts.sum() == 20_000
        assert counts.min() >= 12 and counts.max() <= 2400
        assert counts.max() > 4 * counts.median()  # heavy tail
        assert base["text"].is_unique
        assert c.docs["url"].is_unique and c.docs["doc_id"].is_unique


def test_crawl_ground_truth():
    c = gen.crawl_corpus(5)
    text = c.text_by_url
    doc_id = dict(zip(c.docs["url"], c.docs["doc_id"]))
    for url, orig in c.recrawls.items():
        assert url.split("?")[0] == orig and text[url] == text[orig]
        assert doc_id[url] > doc_id[orig]  # later doc id -> later warc_ts
    for url, src in c.exact_dups.items():
        assert text[url] == text[src] and url != src
    assert [len(ch) for ch in c.chains] == [2, 2, 3, 3, 4, 4, 5, 5, 6, 6]
    for a, b in c.chain_pairs:
        assert _jaccard(text[a], text[b]) > 0.8
    for ch in c.chains:
        if len(ch) >= 5:
            assert _jaccard(text[ch[0]], text[ch[-1]]) < 0.7
    # hosts are uneven: the hottest host holds several times its fair share
    hosts = c.docs["url"].str.extract(r"site(\d+)\.")[0].value_counts()
    assert hosts.iloc[0] > 5 * len(c.docs) / gen.N_HOSTS


def test_expected_flags():
    c = gen.crawl_corpus(6)
    url_keep, exact_keep = curation.expected_flags(c)
    assert url_keep == set(c.docs["url"]) - set(c.recrawls)
    assert len(url_keep) - len(exact_keep) == len(c.exact_dups)
    for dup, src in c.exact_dups.items():
        assert (dup in exact_keep) != (src in exact_keep)
        assert min(dup, src) in exact_keep


def test_union_find_labels_components_by_min_id():
    ids = ["a", "b", "c", "d", "e", "f"]
    labels = curation.union_find(ids, [("e", "c"), ("c", "d"), ("f", "b")])
    assert labels == {"a": "a", "b": "b", "c": "c", "d": "c", "e": "c",
                      "f": "b"}
    # a long chain fed in reverse order still collapses to its minimum
    chain = [f"n{i:02d}" for i in range(30)]
    pairs = list(zip(chain[1:], chain[:-1]))[::-1]
    assert set(curation.union_find(chain, pairs).values()) == {"n00"}


def test_cluster_check_counts_unexpected_survivors_without_raising():
    from collections import namedtuple

    Row = namedtuple("Row", "url exact_keep cluster_id")
    labels = curation.union_find(["a", "b", "c"], [("b", "c")])
    rows = [Row("a", True, "a"), Row("b", True, "b"), Row("c", True, "b"),
            Row("x", False, None)]
    assert curation.cluster_mismatches(rows, labels) == 0
    # a survivor the truth does not expect, and a wrong label
    rows += [Row("zz", True, "zz"), Row("c", True, "c")]
    assert curation.cluster_mismatches(rows, labels) == 2


FIXTURE_SCHEMAS = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size",
             "p_retailprice"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "embedding", "label"],
}


def test_contract_tables_have_fixture_columns_and_sizes(tmp_path):
    import pyarrow.parquet as pq

    t = gen.contract_tables(3, sf=0.01)
    assert {k: list(v.columns) for k, v in t.items()} == FIXTURE_SCHEMAS
    assert len(t["lineitem"]) == 60_000 and len(t["documents"]) == 500
    contract.write_tables(t, str(tmp_path))
    emb = pq.read_schema(tmp_path / "embeddings.parquet")
    assert str(emb.field("embedding").type) == "list<element: float>"
    assert pq.read_metadata(tmp_path / "lineitem.parquet").num_row_groups == 1
    # two-decimal money, as the fixtures store it
    cents = t["lineitem"]["l_extendedprice"] * 100
    assert np.allclose(cents, np.round(cents))


def test_result_hash_ignores_row_order_and_int_float_spelling():
    a = pd.DataFrame({"k": [1, 2], "v": [1.0, 2.5], "arr": [[1, 2], [3]]})
    b = pd.DataFrame({"arr": [np.array([3]), np.array([1, 2])],
                      "v": [2.5, 1], "k": np.array([2, 1], dtype="int32")})
    assert contract.result_hash(a) == contract.result_hash(b)
    c = b.assign(v=[2.5, 1.5])
    assert contract.result_hash(a) != contract.result_hash(c)


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.E2E
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER
    names = [w["name"] for w in spec["workloads"]]
    assert names == list(run.WORKLOADS)
    assert {m["name"] for m in spec["end_to_end"]} >= {"setup_s"}
    ok = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    allm = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(ok.match(n) for n in allm + names)
    assert len(allm) == len(set(allm)) and len(spec["per_layer"]) <= 128
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])

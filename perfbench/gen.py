"""Seeded input generators for the benchmark workloads.

Everything here is plain Python + NumPy: the program under test only ever
sees the tables these functions return (or the parquet files written from
them).  The same seed gives byte-identical inputs, and ``digest`` proves it.

* ``crawl_corpus``: documents for the ``extract_job`` and ``curate_dedup``
  workloads, with the ground truth the correctness gates need: the source
  text per url, the injected re-crawls (tracking-parameter urls of an
  earlier page), exact duplicates, and near-duplicate chains of known
  length.
* ``contract_tables``: the ten TPC-H-like tables ``__spark_entry__`` queries
  read (the traced ``entry`` probe), with the column names, types and value
  domains of the fixture tables, sized by a scale factor.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

#: ``layout_parser_spark.sources.pages.page_url`` spreads doc ids over this
#: many hosts (doc_id % 97); picking doc ids per host sets each host's share.
N_HOSTS = 97


def _vocabulary(n: int) -> list:
    """A fixed, seed-independent vocabulary of lowercase pseudo-words."""
    cons, vows = "bcdfghklmnprstvz", "aeiou"
    words = []
    for i in range(n):
        a, b, c = i % 16, (i // 16) % 5, (i // 80) % 16
        d = (i // 1280) % 5
        words.append(cons[a] + vows[b] + cons[c] + vows[d] + "n" * (i // 6400))
    return words


CRAWL_VOCAB = _vocabulary(600)


@dataclass
class CrawlCorpus:
    """A generated crawl and its ground truth (all keyed by url)."""

    docs: pd.DataFrame  # doc_id int64, text str, lang str, url str
    recrawls: dict = field(default_factory=dict)  # recrawl url -> original url
    exact_dups: dict = field(default_factory=dict)  # dup url -> source url
    chains: list = field(default_factory=list)  # lists of urls, in edit order

    @property
    def text_by_url(self) -> dict:
        return dict(zip(self.docs["url"], self.docs["text"]))

    @property
    def chain_pairs(self) -> set:
        """Injected near-duplicate pairs: consecutive chain members."""
        return {
            tuple(sorted(p))
            for ch in self.chains
            for p in zip(ch[:-1], ch[1:])
        }


def _page_url(doc_id: int) -> str:
    # same formula as layout_parser_spark.sources.pages.page_url; kept here
    # so ground truth is computed without importing the program
    return f"https://site{doc_id % N_HOSTS}.example.com/page/{doc_id}"


def _host_skewed_ids(rng, n: int, start_block: int) -> np.ndarray:
    """``n`` distinct doc ids whose hosts (id % 97) follow a Zipf-like share:
    a few hot hosts hold most pages, as in a real crawl."""
    w = 1.0 / np.arange(1, N_HOSTS + 1) ** 1.1
    hosts = rng.choice(N_HOSTS, size=n, p=w / w.sum())
    hosts = rng.permutation(N_HOSTS)[hosts]  # which host is hot varies by seed
    ids = np.empty(n, dtype=np.int64)
    next_k = {}
    for i, h in enumerate(hosts):
        k = next_k.get(h, start_block)
        next_k[h] = k + 1
        ids[i] = h + N_HOSTS * k
    return ids


def _token_counts(rng, n: int, total: int, lo: int, hi: int) -> np.ndarray:
    """Heavy-tailed (log-normal) token counts in [lo, hi] summing exactly to
    ``total``, so every seed does the same amount of text work while block
    counts and XY-cut depth vary from page to page."""
    raw = np.clip(rng.lognormal(mean=0.0, sigma=1.0, size=n), 0.05, None)
    counts = np.clip(np.round(raw * total / raw.sum()), lo, hi).astype(np.int64)
    diff = int(total - counts.sum())
    order = rng.permutation(n)
    i = 0
    while diff != 0:
        j = order[i % n]
        step = 1 if diff > 0 else -1
        if lo <= counts[j] + step <= hi:
            counts[j] += step
            diff -= step
        i += 1
    return counts


def _words(rng, k: int) -> list:
    # mild Zipf over the vocabulary: common words repeat, shingles rarely do
    w = 1.0 / np.arange(1, len(CRAWL_VOCAB) + 1) ** 0.8
    idx = rng.choice(len(CRAWL_VOCAB), size=k, p=w / w.sum())
    return [CRAWL_VOCAB[i] for i in idx]


LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = np.array([0.42, 0.14, 0.15, 0.15, 0.14])


def crawl_corpus(
    seed: int,
    n_base: int = 480,
    total_tokens: int = 60_000,
    n_recrawls: int = 40,
    n_exact_dups: int = 30,
    chain_lengths: tuple = (2, 2, 3, 3, 4, 4, 5, 5, 6, 6),
    chain_tokens: int = 150,
    edits_per_step: int = 3,
) -> CrawlCorpus:
    """Generate the crawl: ``n_base`` pages with heavy-tailed lengths, plus
    re-crawls, exact duplicates and near-duplicate chains.

    Chain member ``i+1`` is member ``i`` with ``edits_per_step`` token
    substitutions, so neighbours are near-duplicates (3-shingle Jaccard
    ~0.9) while the chain ends are not; only the transitive closure puts a
    chain in one cluster."""
    rng = np.random.default_rng(np.random.PCG64(seed))
    counts = _token_counts(rng, n_base, total_tokens, lo=12, hi=2400)
    texts, seen = [], set()
    for c in counts:
        t = " ".join(_words(rng, int(c)))
        while t in seen:  # exact duplicates are injected, never accidental
            t = " ".join(_words(rng, int(c)))
        seen.add(t)
        texts.append(t)
    ids = _host_skewed_ids(rng, n_base, start_block=0)
    langs = rng.choice(LANGS, size=n_base, p=LANG_P)
    urls = [_page_url(int(i)) for i in ids]
    rows = list(zip(ids.tolist(), texts, langs.tolist(), urls))

    # later injections get ids from a higher block: a larger doc id means a
    # later warc_ts in synth_pages, so the original fetch is the earliest
    next_id = iter(
        _host_skewed_ids(rng, n_recrawls + n_exact_dups + sum(chain_lengths),
                         start_block=10_000).tolist()
    )
    src = rng.permutation(n_base)
    recrawl_src = src[:n_recrawls]
    dup_src = src[n_recrawls:n_recrawls + n_exact_dups]

    corpus = CrawlCorpus(docs=None)
    tracking = ["utm_source=news", "utm_medium=email&utm_campaign=s",
                "gclid=x1", "fbclid=y2", "ref=feed"]
    for k, j in enumerate(recrawl_src):
        did = next(next_id)
        url = f"{urls[j]}?{tracking[k % len(tracking)]}"
        rows.append((did, texts[j], langs[j], url))
        corpus.recrawls[url] = urls[j]
    for j in dup_src:
        did = next(next_id)
        url = _page_url(did)
        rows.append((did, texts[j], langs[j], url))
        corpus.exact_dups[url] = urls[j]
    for length in chain_lengths:
        toks = _words(rng, chain_tokens)
        chain = []
        for step in range(length):
            if step:
                for p in rng.choice(chain_tokens, size=edits_per_step,
                                    replace=False):
                    old = toks[p]
                    while toks[p] == old:
                        toks[p] = _words(rng, 1)[0]
            did = next(next_id)
            url = _page_url(did)
            rows.append((did, " ".join(toks), "en", url))
            chain.append(url)
        corpus.chains.append(chain)

    order = rng.permutation(len(rows))
    corpus.docs = pd.DataFrame(
        [rows[i] for i in order], columns=["doc_id", "text", "lang", "url"]
    ).astype({"doc_id": "int64"})
    return corpus


# ---------------------------------------------------------------------------
# contract tables (shapes and domains of the sf fixture tables)
# ---------------------------------------------------------------------------

DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "old", "new", "green"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "cap"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Prices with exactly two decimals (as the fixtures store them)."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng, n: int, span: int) -> np.ndarray:
    return _EPOCH_1995 + (rng.integers(0, span, n) * _DAY_US).astype(
        "timedelta64[us]"
    )


def contract_tables(seed: int, sf: float = 0.01) -> dict:
    """The ten tables of the sf fixtures, generated from ``seed``.

    Row counts follow the fixtures (lineitem 6M x sf, documents 50k x sf,
    ...).  Prices and values keep two decimals and keys are dense, as in
    the fixtures, so every query's DuckDB oracle is well defined."""
    rng = np.random.default_rng(np.random.PCG64(seed + 1_000_003))
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = int(50_000 * sf)
    n_emb = int(50_000 * sf)

    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part),
                            rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, 2400),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, 2500),
    })
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ev_ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": _cents(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _contract_documents(rng, n_docs)
    t["embeddings"] = _contract_embeddings(rng, n_emb)
    return t


def _contract_documents(rng, n: int) -> pd.DataFrame:
    texts = []
    for _ in range(n):
        k = int(rng.integers(8, 100))
        texts.append(" ".join(rng.choice(DOC_VOCAB, k)))
    # a few exact and near copies (marked with the fixtures' 'dup' token),
    # so the dedup queries have pairs to find
    for i in range(0, n - 1, 20):
        j = int(rng.integers(0, n))
        texts[i] = texts[j] if i % 40 == 0 else texts[j] + " dup"
    texts = [t.strip() for t in texts]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _contract_embeddings(rng, n: int, dim: int = 64, k: int = 10) -> pd.DataFrame:
    centers = rng.normal(0.0, 1.0, (k, dim))
    labels = rng.integers(0, k, n)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32),
    })


def digest(frames: dict, extra=None) -> str:
    """sha256 over every column of every table (name-sorted), plus any
    ground-truth object given as ``extra`` (hashed through ``repr``)."""
    h = hashlib.sha256()
    for name in sorted(frames):
        df = frames[name]
        h.update(name.encode())
        for col in df.columns:
            h.update(col.encode())
            s = df[col]
            if s.dtype == object:
                for v in s:
                    h.update(v.tobytes() if isinstance(v, np.ndarray)
                             else str(v).encode())
                    h.update(b"\x00")
            else:
                h.update(np.ascontiguousarray(s.to_numpy()).tobytes())
    if extra is not None:
        h.update(repr(extra).encode())
    return h.hexdigest()


def crawl_digest(c: CrawlCorpus) -> str:
    return digest(
        {"docs": c.docs},
        extra=(sorted(c.recrawls.items()), sorted(c.exact_dups.items()),
               c.chains),
    )


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    return xs[n // 2] if n % 2 else 0.5 * (xs[n // 2 - 1] + xs[n // 2])

"""The ``entry`` layer probe: the frozen bench's 20 headline queries plus
``extract_main_text``, over seeded tables shaped like the sf fixture
tables, run once each in a seed-permuted order.

Each query is built and collected inside its own span (``build`` and
``run`` children), and its result is hashed against its ``oracle_sql()``
DuckDB twin.  The probe runs in the traced run of ``extract_job``: a
workload of its own (a check pass, a warm-up and timed passes of 21
queries) does not fit the benchmark's time budget on 4 cores.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np

import gen

#: ``bench.py``'s headline list, plus the flagship extraction query
QUERIES = [
    "extract_main_text", "agg_pricing_summary", "join_region_revenue",
    "topk_events_per_user", "sessionize_events", "ocr_gather_data",
    "group_by_category", "dedup_exact", "dedup_ngram_jaccard", "minhash_lsh",
    "docs_token_stats", "docs_lang_id", "docs_fingerprint", "docs_repetition",
    "decontaminate", "remove_boilerplate", "docs_lm_score", "ann_cosine_topk",
    "geom_rect_algebra", "geom_is_in_join", "media_phash_pairs",
]

#: fixture scale: the queries run cold, where plan building, codegen and
#: job scheduling dominate, so a larger scale adds time but little signal
SF = 0.001


def _canon(v):
    """One form for values that compare equal across pandas-from-Spark and
    pandas-from-DuckDB (int vs float, numpy scalars, arrays, timestamps)."""
    if v is None:
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return int(f) if f.is_integer() else f
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def result_hash(pdf) -> str:
    """Order-insensitive hash of a result: columns sorted by name, rows
    canonicalised and sorted."""
    cols = sorted(pdf.columns)
    rows = [
        tuple(_canon(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    rows.sort(key=lambda r: tuple(str(x) for x in r))
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def write_tables(tables: dict, sf_dir: str) -> None:
    """One parquet file with one row group per table, like the fixtures."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    for name, df in tables.items():
        t = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            t = t.set_column(1, "embedding",
                             t.column(1).cast(pa.list_(pa.float32())))
        pq.write_table(t, f"{sf_dir}/{name}.parquet",
                       row_group_size=max(1, len(df)))


def probe(ctx) -> None:
    """Run every query once, cold, in spans; fills ``entry.*`` in
    ``ctx.layer`` and lists oracle mismatches in ``ctx.info``."""
    import duckdb

    import __spark_entry__ as entry

    tr, L = ctx.tracer, ctx.layer
    sf_dir = os.path.join(ctx.work, "sf")
    with tr.span("synth", "sources"):
        tables = gen.contract_tables(ctx.seed, SF)
        write_tables(tables, sf_dir)
    ctx.info["entry_input_digest"] = gen.digest(tables)
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    qs, oracles = entry.queries(), entry.oracle_sql()
    order = [str(q) for q in np.random.default_rng(ctx.seed).permutation(QUERIES)]
    bad = {}
    for q in order:
        b = r = None
        with tr.span(q, "entry"):
            try:
                with tr.span("build", "entry") as b:
                    df = qs[q](ctx.spark, sf_dir)
                with tr.span("run", "entry") as r:
                    got = result_hash(df.toPandas())
                if got != result_hash(con.execute(oracles[q]).fetchdf()):
                    bad[q] = "result differs from the DuckDB oracle"
            except Exception as e:  # counted, the run goes on
                bad[q] = f"{type(e).__name__}: {e}"[:300]
        L[f"entry.{q}.build_ms"] = 1000 * b.dur if b and b.end else 0.0
        L[f"entry.{q}.run_ms"] = 1000 * r.dur if r and r.end else 0.0
        L[f"entry.{q}.jobs"] = sum(s.jobs for s in (b, r) if s and s.end)
    con.close()
    L["entry.check_failures"] = len(bad)
    ctx.info["entry_check_failures"] = bad

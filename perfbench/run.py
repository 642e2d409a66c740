"""Benchmark of the contacts engine: one workload per process.

    python3 perfbench/run.py --workload contacts_cli --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for sizes and the metric map):

* ``contacts_cli``: the paper's pipeline through ``pipeline.run_cli`` on a
  generated 88-column master TSV plus two enrichment sources, exported as
  one CRM TSV (``--single-file``);
* ``registry_mix``: 9 registered queries over generated harness tables,
  each built and written to the noop sink, as ``bench.py`` runs them.

Each is a closed loop with one client in one process against
``local[<cpus>]``. Inputs come from ``--seed``; the engine sees only the
generated files. Every operation's output is checked. The last stdout line
is ``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics (recorded from outside the engine,
see spans.py) with ``--trace 1``.

Everything the run writes lives under ``perfbench/.work`` (removed at the
end) and ``perfbench/.out`` (span dumps), except what the engine itself
places in ``/dev/shm`` for streaming checkpoints (removed by the engine).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

from spans import STAGE_TOTALS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "bcg_contacts_data_pipeline_spark"

#: streaming drains: each overrides the session's shuffle-partition count
#: while it runs, so no two of them may run at once
DRAINS = ["stream_sessions", "stream_dedup_keys"]
#: 9 registry queries, by family. Left out, for the run budget (see
#: README.md): the contacts-family queries (contacts_pipeline_e2e,
#: enrich_*, dedup_merge, ...), which run the operators contacts_cli
#: measures through the CLI and cost half of a cold pass (without them this
#: workload is the control that never calls operators.enrich), and the
#: slowest drain, stream_click_attribution (a quarter of a warm pass).
REGISTRY_QUERIES = [
    # shingle/similarity consumers (regressed in round 15)
    "prefix_jaccard_pairs", "contamination_score", "ngram_jaccard",
    # connected components run at build time
    "dedup_components",
    # streaming drains
    *DRAINS,
    # TPC-H scans and joins
    "q1_pricing_summary", "q5_region_revenue", "q18_large_orders",
]
#: Warm-up. After one cold operation the JIT is still compiling: the first
#: timed registry pass then ran 12-50% slower than the next ones, and the
#: first timed run_cli call 7-27% slower. So the warm-up does each
#: operation twice, on threads, which costs about one cold operation of
#: wall time. After it, the first timed operation is 7-12% slower.
#: Registry warm-up rounds, each collecting every query once:
WARMUP_ROUNDS = 2
#: threads of a registry warm-up round (the drains take one of them):
WARMUP_THREADS = 4
#: concurrent run_cli calls of the contacts warm-up:
WARMUP_CALLS = 2
#: timed run_cli calls per run, at least: steal on the shared host comes in
#: bursts that can stretch one call by a third, and the median of three
#: calls drops one such call where the mean of two does not
MIN_TIMED_CALLS = 3
#: generated table scale (half the harness's sf0.01 sizes)
REGISTRY_SF = 0.005

#: layer modules wrapped in traced runs: metric prefix -> module
TRACED_LAYERS = {
    "io.readers": f"{ENGINE}.io.readers",
    "io.writers": f"{ENGINE}.io.writers",
    "io.schemas": f"{ENGINE}.io.schemas",
    "plans.contacts": f"{ENGINE}.plans.contacts",
    "operators.enrich": f"{ENGINE}.operators.enrich",
    "operators.dedup": f"{ENGINE}.operators.dedup",
    "operators.validate": f"{ENGINE}.operators.validate",
    "operators.similarity": f"{ENGINE}.operators.similarity",
    "operators.graph": f"{ENGINE}.operators.graph",
    "streaming.runner": f"{ENGINE}.streaming.runner",
}
#: private layer functions called from outside their module, wrapped too
#: (``pipeline`` peeks each source's header with ``io.readers._peek_header``)
TRACED_PRIVATE = {"io.readers": ("_peek_header",)}


def contacts_spec(tiny: bool = False):
    import gen_contacts as G

    # ~2.3k master rows, ~1/3 duplicates, ~40 keyless rows, 2 sources
    return G.Spec(groups=60, keyless=4) if tiny else G.Spec(groups=1500, keyless=40)


def per_layer_names() -> list[str]:
    names = [
        "session.get_spark_s",
        "io.readers.call_s", "io.readers.jobs",
        "plans.contacts.run_pipeline_s", "plans.contacts.run_pipeline_jobs",
        "operators.enrich.calls", "operators.enrich.call_s", "operators.enrich.jobs",
        "operators.enrich.fill_hit_ratio",
        "operators.dedup.call_s", "operators.dedup.jobs", "operators.dedup.merge_ratio",
        "operators.validate.call_s",
        "io.writers.call_s", "io.writers.jobs",
        "pipeline.driver_s", "pipeline.jobs", "pipeline.stages",
        "plans.queries.build_s", "plans.queries.build_jobs", "plans.queries.exec_s",
        "plans.queries.query_p50_s",
        "io.schemas.read_table_s", "streaming.runner.run_available_now_s",
        "operators.similarity.call_s", "operators.graph.call_s", "operators.graph.jobs",
        "spark.jobs", "spark.stages", "spark.tasks", *STAGE_TOTALS,
        "trace.overhead_s",
        "host.busy_s", "host.steal_s", "host.idle_s",
    ]
    for q in REGISTRY_QUERIES:
        names += [f"plans.queries.{q}.build_s", f"plans.queries.{q}.exec_s"]
    return names


class Run:
    """State of one benchmark process."""

    def __init__(self, args):
        self.args = args
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.spark = None
        self.work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.out = os.path.join(HERE, ".out")
        self._lock = threading.Lock()  # contacts warm-up calls run on threads

    def record(self, ok: bool, what: str | None) -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.problems.append(what)
        if not ok:
            print(f"# check failed: {what}", file=sys.stderr, flush=True)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["contacts_cli", "registry_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--tiny", action="store_true", help="small inputs (the benchmark's own smoke tests)")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"engine package {ENGINE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]

    run = Run(args)
    os.makedirs(run.out, exist_ok=True)
    _isolate(run.work)
    try:
        if args.workload == "contacts_cli":
            metrics, detail = contacts_cli(run)
        else:
            metrics, detail = registry_mix(run)
    finally:
        if run.spark is not None:
            _stop(run.spark)
        shutil.rmtree(run.work, ignore_errors=True)
    detail.update(workload=args.workload, seed=args.seed, problems=run.problems[:20])
    print(json.dumps({"detail": detail}, sort_keys=True))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


def _isolate(work: str) -> None:
    """Point every scratch location of this process, the JVM and the
    Python workers at ``work`` and size the session to this host."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _session(run: Run):
    """Start the engine's session (``session.get_spark``) for this run."""
    from bcg_contacts_data_pipeline_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
    }
    if run.args.trace:
        # keep every job and stage of the run in the status store
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    t = time.perf_counter()
    spark = run.spark = get_spark(f"perfbench-{run.args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t


def _stop(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _host():
    from bench import proc_stat_seconds

    return proc_stat_seconds()


def _host_delta(a, b) -> dict[str, float]:
    if not a or not b:
        return {"busy": 0.0, "steal": 0.0, "idle": 0.0}
    return {k: round(b[k] - a[k], 3) for k in ("busy", "steal", "idle")}


# --------------------------------------------------------------- contacts


def contacts_cli(run: Run):
    import gen_contacts as G

    args = run.args
    t = time.perf_counter()
    inputs = G.generate(os.path.join(run.work, "in"), args.seed, contacts_spec(args.tiny))
    gen_s = time.perf_counter() - t
    facts = inputs.facts

    # process start -> session up and warm-up done, input generation excluded
    spark, get_spark_s = _session(run)
    from bcg_contacts_data_pipeline_spark import pipeline

    seen: dict[str, int] = {}  # counts read from the last checked output

    def call(i: int) -> float:
        """One checked run_cli call; returns its wall time. The caller
        discards the engine's progress log (see _quiet)."""
        out = os.path.join(run.work, f"out{i}")
        t = time.perf_counter()
        try:
            rc = pipeline.run_cli(inputs.argv(out), spark=spark)
        except Exception as e:  # noqa: BLE001 - a raising call is a failed operation
            run.record(False, f"run_cli raised {type(e).__name__}: {e}")
            return time.perf_counter() - t
        wall = time.perf_counter() - t
        problems = check_contacts_output(out, rc, facts, seen)
        run.record(not problems, f"call {i}: {problems}")
        shutil.rmtree(out, ignore_errors=True)
        return wall

    with ThreadPoolExecutor(WARMUP_CALLS) as pool:
        _quiet(lambda: list(pool.map(call, range(-WARMUP_CALLS, 0))))
    setup_s = time.perf_counter() - T_START - gen_s

    host0 = _host()
    walls: list[float] = []
    while sum(walls) < args.seconds or len(walls) < MIN_TIMED_CALLS:
        walls.append(_quiet(call, len(walls) + 1))
    if args.trace:
        # one more call, traced; the overhead compares it with the untraced
        # calls before it (later calls run slightly warmer, so this reads low)
        layers, _, _ = _traced(run, spark, lambda: _quiet(call, len(walls) + 1))
        # the ratios come from the traced call's own output files
        layers["operators.enrich.fill_hit_ratio"] = seen["fill_rows"] / facts.needy_rows
        layers["operators.dedup.merge_ratio"] = seen["exported_rows"] / facts.master_rows
        layers["trace.overhead_s"] = layers.pop("__result") - statistics.median(walls)
    host = _host_delta(host0, _host())

    pipeline_s = statistics.median(walls)
    detail = {
        "gen_s": round(gen_s, 3), "setup_s": setup_s, "get_spark_s": get_spark_s,
        "walls": walls, "facts": facts.as_dict(), "host": host,
    }
    if args.trace:
        layers["session.get_spark_s"] = get_spark_s
        layers.update({f"host.{k}_s": v for k, v in host.items()})
        return _metric_block(layers), detail
    return (
        {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pipeline_s": {"value": pipeline_s, "unit": "s"},
            "rows_per_s": {"value": facts.master_rows / pipeline_s, "unit": "1/s"},
        },
        detail,
    )


def check_contacts_output(out: str, rc: int, facts, seen: dict | None = None) -> list[str]:
    """Compare one run_cli output directory with the generator's facts;
    store the counts read in ``seen``."""
    seen = {} if seen is None else seen
    problems = []
    if rc != facts.return_code:
        problems.append(f"return code {rc} != {facts.return_code}")
    try:
        with open(os.path.join(out, "MergedDatabase.tsv"), encoding="utf-8") as f:
            header = f.readline().rstrip("\n").split("\t")
            seq = [line.split("\t", 1)[0] for line in f]
    except OSError as e:
        return problems + [f"no export: {e}"]
    if header[0] != "seqno":
        problems.append(f"first column {header[0]!r}")
    seen["exported_rows"] = len(seq)
    if len(seq) != facts.exported_rows:
        problems.append(f"exported {len(seq)} rows != {facts.exported_rows}")
    if seq != [str(k) for k in range(1, len(seq) + 1)]:
        problems.append("seqno is not 1..N in order")
    for name, want in (
        ("validation_errors.json", facts.error_docs),
        ("fill_change_log.json", facts.fill_log_entries),
    ):
        try:
            with open(os.path.join(out, name), encoding="utf-8") as f:
                docs = [json.loads(line) for line in f if line.strip()]
        except (OSError, ValueError) as e:
            problems.append(f"unreadable {name}: {e}")
            continue
        if len(docs) != want:
            problems.append(f"{name}: {len(docs)} documents != {want}")
        if name == "fill_change_log.json":
            seen["fill_rows"] = len({d.get("__row_id") for d in docs})
            if seen["fill_rows"] != facts.fill_rows:
                problems.append(f"filled rows {seen['fill_rows']} != {facts.fill_rows}")
    return problems


# --------------------------------------------------------------- registry


def registry_mix(run: Run):
    import gen_tables

    args = run.args
    t = time.perf_counter()
    sf_dir = os.path.join(run.work, "tables")
    rows = gen_tables.generate(sf_dir, args.seed, REGISTRY_SF / 10 if args.tiny else REGISTRY_SF)
    gen_s = time.perf_counter() - t
    order = list(REGISTRY_QUERIES)
    random.Random(args.seed).shuffle(order)

    spark, get_spark_s = _session(run)
    from bcg_contacts_data_pipeline_spark.plans.queries import ORACLE, QUERIES

    # warm-up: build + collect, compared with the DuckDB oracle; the oracle
    # side (DuckDB + canonicalisation) is kept out of setup_s
    check_s = warm_up(run, spark, sf_dir, order, QUERIES, ORACLE)
    setup_s = time.perf_counter() - T_START - gen_s - check_s

    def one_pass() -> float:
        passes.append(timed_pass(run, spark, sf_dir, order, QUERIES))
        return sum(e for _, e in passes[-1].values())

    host0 = _host()
    passes: list[dict[str, tuple[float, float]]] = []
    boards: list[float] = []
    while sum(boards) < args.seconds or not boards:
        boards.append(one_pass())
    if args.trace:
        # one more pass, traced (see contacts_cli)
        layers = trace_registry(run, spark, lambda: timed_pass(run, spark, sf_dir, order, QUERIES))
        layers["trace.overhead_s"] = layers.pop("__result") - statistics.median(boards)
    host = _host_delta(host0, _host())

    board_s = statistics.median(boards)
    query_walls = [e for p in passes for _, e in p.values()]
    detail = {
        "gen_s": round(gen_s, 3), "setup_s": setup_s, "get_spark_s": get_spark_s,
        "oracle_check_s": check_s, "boards": boards, "rows": rows, "host": host,
        "query_s_p50": statistics.median(query_walls),
        "queries": {q: [round(e, 3) for _, e in (p[q] for p in passes)] for q in order},
    }
    if args.trace:
        layers["session.get_spark_s"] = get_spark_s
        layers.update({f"host.{k}_s": v for k, v in host.items()})
        return _metric_block(layers), detail
    scanned = sum(rows.values())
    return (
        {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pipeline_s": {"value": board_s, "unit": "s"},
            "rows_per_s": {"value": scanned / board_s, "unit": "1/s"},
        },
        detail,
    )


def warm_up(run: Run, spark, sf_dir, order, QUERIES, ORACLE) -> float:
    """Collect every query WARMUP_ROUNDS times and compare each result with
    its DuckDB oracle. Returns the seconds spent on the oracle side.

    Each round runs the queries on WARMUP_THREADS threads at once; the
    drains share one thread (see DRAINS)."""
    import duckdb

    from tools.check import canon

    def collect(names):
        got = {}
        for name in names:
            try:
                got[name] = QUERIES[name](spark, sf_dir).toPandas()
            except Exception as e:  # noqa: BLE001 - a raising query is a failed operation
                got[name] = e
        return got

    rest = [n for n in order if n not in DRAINS]
    lanes = [[n for n in order if n in DRAINS]]
    lanes += [rest[i :: WARMUP_THREADS - 1] for i in range(WARMUP_THREADS - 1)]
    check_s = 0.0
    want = {}
    con = duckdb.connect()
    try:
        for t in os.listdir(sf_dir):
            con.execute(f"CREATE VIEW {t.split('.')[0]} AS SELECT * FROM '{os.path.join(sf_dir, t)}'")
        for _ in range(WARMUP_ROUNDS):
            got = {}
            with ThreadPoolExecutor(len(lanes)) as pool:
                for part in _quiet(lambda: list(pool.map(collect, lanes))):
                    got.update(part)
            spark.catalog.clearCache()
            t = time.perf_counter()
            for name in order:
                if isinstance(got[name], Exception):
                    e = got[name]
                    run.record(False, f"{name} raised {type(e).__name__}: {e}")
                    continue
                if name not in want:
                    want[name] = canon(con.execute(ORACLE[name]).df())
                a = canon(got[name])
                run.record(a == want[name], f"{name}: result differs from oracle ({a[0]} vs {want[name][0]} rows)")
            check_s += time.perf_counter() - t
    finally:
        con.close()
    return check_s


def timed_pass(run: Run, spark, sf_dir, order, QUERIES) -> dict[str, tuple[float, float]]:
    """One pass the way bench.py runs it: build, then noop write."""
    out = {}
    for name in order:
        t = time.perf_counter()
        error = None
        try:
            df = QUERIES[name](spark, sf_dir)
            b = time.perf_counter() - t
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - a raising query is a failed operation
            b, error = time.perf_counter() - t, f"{name} raised {type(e).__name__}: {e}"
        out[name] = (b, time.perf_counter() - t)
        run.record(error is None, error)
        spark.catalog.clearCache()
    return out


def trace_registry(run: Run, spark, op) -> dict[str, float]:
    """One traced pass (``op``), with a build span per registry query."""
    import spans as T

    from bcg_contacts_data_pipeline_spark.plans import queries as Q

    originals = dict(Q.QUERIES)
    try:
        m, tracer, jobs = _traced(run, spark, op, wrap=lambda tracer: Q.QUERIES.update(
            {name: _build_span(tracer, name, fn) for name, fn in originals.items()}
        ))
    finally:
        Q.QUERIES.update(originals)
    timings = m.pop("__result")
    builds = [s for s in tracer.spans if s.layer == "plans.queries"]
    m["plans.queries.build_s"] = sum(b for b, _ in timings.values())
    m["plans.queries.exec_s"] = sum(e - b for b, e in timings.values())
    m["plans.queries.build_jobs"] = len(T.jobs_in(jobs, builds))
    m["plans.queries.query_p50_s"] = statistics.median(e for _, e in timings.values())
    for name, (b, e) in timings.items():
        m[f"plans.queries.{name}.build_s"] = b
        m[f"plans.queries.{name}.exec_s"] = e - b
    m["__result"] = sum(e for _, e in timings.values())
    return m


def _build_span(tracer, name, fn):
    def build(spark, sf_dir):
        with tracer.span(f"plans.queries.{name}", "plans.queries"):
            return fn(spark, sf_dir)

    return build


# --------------------------------------------------------------- shared


def _traced(run: Run, spark, op, wrap=None):
    """Run ``op`` once with every layer of TRACED_LAYERS wrapped (and
    ``wrap(tracer)`` applied); return the per-layer metrics, the tracer and
    the Spark jobs the operation submitted. ``op``'s result is under
    ``"__result"``."""
    import importlib

    import spans as T

    tracer = T.Tracer(f"{run.args.workload}-{run.args.seed}")
    store = T.StatusStore(spark)
    before = {j["id"] for j in store.jobs()}
    try:
        for layer, mod in TRACED_LAYERS.items():
            tracer.patch_layer(importlib.import_module(mod), layer, TRACED_PRIVATE.get(layer, ()))
        if wrap is not None:
            wrap(tracer)
        with tracer.span("pipeline.operation", "pipeline") as top:
            result = op()
    finally:
        tracer.unpatch()
    jobs = [j for j in store.jobs() if j["id"] not in before]
    m = _layer_metrics(tracer, jobs, store)
    m["pipeline.driver_s"] = (top.end - top.start) - T.busy_seconds(jobs, top.start, top.end)
    m["pipeline.jobs"] = len(jobs)
    m["pipeline.stages"] = m["spark.stages"]
    m["__result"] = result
    tracer.dump(os.path.join(run.out, f"spans-{run.args.workload}-{run.args.seed}.json"))
    return m, tracer, jobs


def _layer_metrics(tracer, jobs, store) -> dict[str, float]:
    """Per-layer call time and job counts plus executor totals."""
    import spans as T

    m: dict[str, float] = {k: 0.0 for k in per_layer_names()}
    for layer in TRACED_LAYERS:
        spans = T.outermost(tracer.spans, layer)
        m[f"{layer}.call_s"] = sum(s.end - s.start for s in spans)
        m[f"{layer}.calls"] = len(spans)
        m[f"{layer}.jobs"] = len(T.jobs_in(jobs, spans))
    m["io.schemas.read_table_s"] = m.pop("io.schemas.call_s")
    m["streaming.runner.run_available_now_s"] = _span_s(tracer, "streaming.runner.run_available_now")
    run_pipeline = [s for s in tracer.spans if s.name == "plans.contacts.run_pipeline"]
    m["plans.contacts.run_pipeline_s"] = _span_s(tracer, "plans.contacts.run_pipeline")
    m["plans.contacts.run_pipeline_jobs"] = len(T.jobs_in(jobs, run_pipeline))
    stages = store.stages()
    mine = {sid for j in jobs for sid in j["stages"] if sid in stages}
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = len(mine)
    m["spark.tasks"] = sum(stages[s]["tasks"] for s in mine)
    for key in STAGE_TOTALS:
        m[key] = sum(stages[s][key] for s in mine)
    return m


def _span_s(tracer, name: str) -> float:
    return sum(s.end - s.start for s in tracer.spans if s.name == name)


def metric_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_b"):
        return "bytes"
    if name.endswith("ratio"):
        return "ratio"
    return "count"


def _metric_block(layers: dict[str, float]) -> dict[str, dict]:
    return {
        name: {"value": float(layers.get(name, 0.0)), "unit": metric_unit(name)}
        for name in per_layer_names()
    }


def _quiet(fn, *args, **kwargs):
    """Run ``fn`` with the engine's progress log (stderr) discarded. Not
    reentrant: threads started under it must not call it themselves."""
    saved = sys.stderr
    with open(os.devnull, "w") as devnull:
        sys.stderr = devnull
        try:
            return fn(*args, **kwargs)
        finally:
            sys.stderr = saved


if __name__ == "__main__":
    sys.exit(main())

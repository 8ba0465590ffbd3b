#!/usr/bin/env python3
"""Repository benchmark: one closed-loop client over the engine's public API.

    python3 perfbench/run.py --workload curate_small --seed 1 --seconds 5 --trace 0

Run it from the repository root (as ``bench.py`` and the tests are run);
it puts that root on ``sys.path`` itself and needs no ``PYTHONPATH``.
Workloads, metrics and the output contract are described in
``perfbench/README.md``. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import os
import sys

if __name__ == "__main__" and os.environ.get("PYTHONHASHSEED") != "0":
    # one string hash seed for every run, so that the order of string
    # sets in the engine's plan building does not vary from run to run
    os.execve(sys.executable, [sys.executable, *sys.argv], {**os.environ, "PYTHONHASHSEED": "0"})

import time  # noqa: E402

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
from contextlib import contextmanager  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
sys.path.insert(0, str(ROOT))

import checks  # noqa: E402
import corpus  # noqa: E402
import feed  # noqa: E402
from tracing import (  # noqa: E402
    SinkPlans, Tracer, covered_seconds, persisted_rdds, python_node_count, self_times,
)

#: curate_small: a pair-hit and a member-fold verify consumer (2k
#: embeddings, so the JVM kernels run, below ARROW_VERIFY_MIN_ROWS) and
#: the build-layer-bound co-purchase BFS
CURATE_MIX = ("emb_near_dups", "emb_dup_threshold_sweep", "parts_copurchase_3hop_bfs")
WORKLOADS = ("curate_small", "etl_load")
#: measured passes a run makes at least, whatever ``--seconds`` says:
#: a curate pass is three short operations, so a single one is too few
#: for a steady median
MIN_PASSES = {"curate_small": 2, "etl_load": 1}
ENDPOINT = "directory"

#: engine functions wrapped in traced runs: (module, attribute, span name)
ETL_LAYERS = (
    ("ipeds_etl_spark.sources.raw", "pages_from_fetched", "raw.pages"),
    ("ipeds_etl_spark.sources.raw", "write_pages", "raw.write"),
    ("ipeds_etl_spark.lineage", "append_source_trace", "lineage.trace"),
    ("ipeds_etl_spark.lineage", "merge_counts", "lineage.counts"),
    ("ipeds_etl_spark.lineage", "append_load_log", "lineage.log"),
    ("ipeds_etl_spark.plans.core_pipeline", "map_from_raw", "core_pipeline.map"),
    ("ipeds_etl_spark.plans.core_pipeline", "write_core", "core_pipeline.write"),
    ("ipeds_etl_spark.operators.merge", "_publish_partition", "merge.swap"),
)
#: memo builders billed by bench.py, plus the embedding row-count memo
MEMO_BUILDERS = (
    ("ipeds_etl_spark.operators.indexes", "lsh_doc_pairs"),
    ("ipeds_etl_spark.operators.indexes", "basket_items"),
    ("ipeds_etl_spark.queries_ext", "_ivf_codebook"),
    ("ipeds_etl_spark.queries_ext", "_pq_codebook"),
    ("ipeds_etl_spark.queries_ext", "_emb_count"),
    ("ipeds_etl_spark.queries_wave15", "_res_books"),
    ("ipeds_etl_spark.queries_wave15", "_sq8_bounds"),
    ("ipeds_etl_spark.queries_wave15", "_frozen_vocab"),
)


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T_PROCESS:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _metric_specs() -> tuple[list[dict], list[dict]]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec["end_to_end"], spec["per_layer"]


def _revision() -> str:
    """The git commit of the checkout, or a digest of the engine sources
    when the checkout is not a git work tree."""
    try:
        top, head = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"],
            cwd=ROOT, capture_output=True, text=True, check=True,
        ).stdout.split()
        if Path(top).resolve() == ROOT:
            return head
    except (OSError, ValueError, subprocess.CalledProcessError):
        pass
    h = hashlib.sha256()
    for p in sorted((ROOT / "ipeds_etl_spark").rglob("*.py")):
        h.update(p.read_bytes())
    return f"src-sha256:{h.hexdigest()[:16]}"


def _vm_hwm_kb(pid: int) -> int:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


def _prepare_env(run_dir: Path) -> None:
    """Keep every file Spark and the JVM write inside the checkout."""
    tmp = run_dir / "tmp"
    local = run_dir / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # the JVM that assembles the spark-submit command
    java_opts += f" -Dderby.system.home={run_dir}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} "
        f"--conf spark.sql.warehouse.dir={shlex.quote(str(run_dir / 'spark-warehouse'))} "
        "pyspark-shell"
    )


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)  # noqa: SLF001
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Run:
    """State shared by the workload functions."""

    def __init__(self, args):
        self.args = args
        self.rng = random.Random(f"order:{args.seed}")
        self.ops: list[dict] = []  # measured (untraced) operations
        self.passes: list[float] = []  # summed op seconds per untraced pass
        self.traced_pass_s: float | None = None
        self.tracer: Tracer | None = None
        self.setup_s = 0.0
        self.gen_s = 0.0
        self.errors: list[str] = []
        self.result_rows: dict[str, int] = {}  # query -> rows in its result

    def timed(self, kind: str, fn, *args):
        """Run one operation; returns (value, seconds, error)."""
        t0 = time.perf_counter()
        try:
            value, err = fn(*args), None
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            value, err = None, f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
            self.errors.append(f"{kind}: {err}")
        return value, time.perf_counter() - t0, err


# --------------------------------------------------------------------
# curate_small
# --------------------------------------------------------------------
def _curate(run: Run, spark) -> dict:
    from ipeds_etl_spark import queries as Q

    fns = Q.queries()
    oracles = Q.oracle_sql()
    data = str(run.corpus_dir)

    def hashes(stage, frame):
        """Collect each query's frame, ``frame(query)``, untimed, and hash
        its result."""
        out = {}
        for q in CURATE_MIX:
            pdf, _, err = run.timed(f"{stage} {q}", lambda: frame(q).toPandas())
            out[q] = None if err else checks.value_hash(pdf)
            run.result_rows.setdefault(q, 0 if err else len(pdf))
            _log(f"{stage} {q}")
        return out

    # warm pass, in a fixed order so that set-up does not depend on the
    # seed: fills memos, codegen and the table cache on the cold path,
    # whose results are checked against the oracle
    with _memo_spans(run):
        cold = hashes("warm", lambda q: fns[q](spark, data))
    # load the noop sink's classes here rather than in the first
    # measured operation
    spark.range(1).write.format("noop").mode("overwrite").save()
    run.setup_s = time.perf_counter() - T_PROCESS - run.gen_s

    built = {}  # query -> the frame its latest measured operation built

    def sink(q):
        built[q] = fns[q](spark, data)
        built[q].write.format("noop").mode("overwrite").save()

    t_end = time.perf_counter() + run.args.seconds
    while len(run.passes) < MIN_PASSES["curate_small"] or time.perf_counter() < t_end:
        total = 0.0
        for q in _curate_ops(run):
            _, dt, err = run.timed(q, sink, q)
            _log(f"{q} {dt:.2f}s")
            run.ops.append({"name": q, "s": dt, "ok": err is None, "records": run.result_rows[q]})
            total += dt
        run.passes.append(total)
    # the measured operations reuse the memos the warm pass built: the
    # frames the last of them built are collected and checked as well
    warm = hashes("check", built.__getitem__)

    layer = {}
    if run.tracer is not None:
        with _memo_spans(run):
            layer = _curate_traced(run, spark, fns, data)
        layer["session.peak_rss_mb"] = _peak_rss_mb(spark)

    want = corpus.oracle_hashes(run.corpus_dir, oracles, list(CURATE_MIX))
    apply_oracle_checks(run, {"cold path": cold, "warm path": warm}, want)
    return layer


def apply_oracle_checks(run: Run, got: dict[str, dict], want: dict) -> None:
    """Fail every operation of a query whose result hash, in any of the
    ``got`` runs (label -> query -> hash), differs from its oracle's."""
    bad = set()
    for label, spark_hash in got.items():
        for q in sorted(want):
            if spark_hash.get(q) != want[q]:
                bad.add(q)
                run.errors.append(f"{q}: {label} value hash differs from its DuckDB oracle")
    for op in run.ops:
        op["ok"] = op["ok"] and op["name"] not in bad


def _curate_ops(run: Run) -> list[str]:
    """One pass: the mix in a seeded order."""
    return run.rng.sample(CURATE_MIX, len(CURATE_MIX))


@contextmanager
def _memo_spans(run: Run):
    """In a traced run, bill the memo builders as ``indexes.build`` spans
    for the duration of the block only."""
    if run.tracer is None:
        yield
        return
    for mod, attr in MEMO_BUILDERS:
        run.tracer.wrap(importlib.import_module(mod), attr, "indexes.build")
    try:
        yield
    finally:
        run.tracer.unwrap()


def _curate_traced(run: Run, spark, fns, data) -> dict:
    tracer = run.tracer
    sinks = SinkPlans(spark)
    py_nodes = rdd_delta = 0
    plan_s = total = 0.0
    try:
        for i, q in enumerate(_curate_ops(run)):
            tracer.op = f"{i}:{q}"
            before = persisted_rdds(spark)
            with tracer.span("op") as op:
                with tracer.span("queries.build"):
                    df = fns[q](spark, data)
                with tracer.span("spark.exec"):
                    df.write.format("noop").mode("overwrite").save()
            total += op["end"] - op["start"]
            tracer.op = None
            rdd_delta += persisted_rdds(spark) - before
            event = sinks.wait("overwrite")
            if event is None:
                run.errors.append(f"traced {q}: no plan event from the noop sink")
            else:
                plan_s += event["plan_s"]
                py_nodes += python_node_count(event["plan"])
            for s in tracer.op_spans(f"{i}:{q}"):
                tracer.resolve(s)
    finally:
        tracer.op = None
        sinks.close()
    run.traced_pass_s = total
    return {
        "spark.plan_s": plan_s,
        "arrowverify.python_nodes": py_nodes,
        "session.persisted_rdds_delta": rdd_delta,
    }


# --------------------------------------------------------------------
# etl_load
# --------------------------------------------------------------------
def _etl(run: Run, spark) -> dict:
    from ipeds_etl_spark import lineage, pipeline

    warehouse = run.run_dir / "warehouse"
    core_path = f"{warehouse}/core/{ENDPOINT}"
    meta_path = f"{warehouse}/meta"
    state = {"loads": 0}

    def check_load(metrics, expected, inserted, updated):
        core = spark.read.parquet(core_path).select(*feed.CHECKED).collect()
        logs = lineage.read_load_log(spark, meta_path).count()
        return checks.load_problems(
            metrics, inserted, updated, [r.asDict() for r in core], expected,
            logs, state["loads"],
        )

    def load(pages):
        return pipeline.run_load(spark, ENDPOINT, feed.YEAR, pages, str(warehouse))

    def gold():
        return pipeline.rebuild_gold(spark, ENDPOINT, str(warehouse))

    def one_pass(version, record):
        pages, expected = run.feed_version(version)
        inserted, updated = (len(expected), 0) if version == 0 else (0, len(expected))
        metrics, dt, err = run.timed("run_load", load, pages)
        _log(f"run_load v{version} {dt:.2f}s")
        state["loads"] += 1
        problems = [err] if err else check_load(metrics, expected, inserted, updated)
        g, gdt, gerr = run.timed("rebuild_gold", gold)
        _log(f"rebuild_gold v{version} {gdt:.2f}s")
        gproblems = [gerr] if gerr else checks.gold_problems(g, expected)
        for p in problems + gproblems:
            run.errors.append(f"v{version}: {p}")
        if record:
            n = metrics["records_mapped"] if metrics else 0
            run.ops.append({"name": "run_load", "s": dt, "ok": not problems, "records": n})
            run.ops.append({"name": "rebuild_gold", "s": gdt, "ok": not gproblems, "records": 0})
            run.passes.append(dt + gdt)
        return dt + gdt

    one_pass(0, record=False)  # warm pass: the first (insert) load
    run.setup_s = time.perf_counter() - T_PROCESS - run.gen_s

    version = 1
    t_end = time.perf_counter() + run.args.seconds
    while len(run.passes) < MIN_PASSES["etl_load"] or time.perf_counter() < t_end:
        one_pass(version, record=True)
        version += 1

    layer = {}
    tracer = run.tracer
    if tracer is not None:
        for mod, attr, name in ETL_LAYERS:
            tracer.wrap(importlib.import_module(mod), attr, name)
        tracer.op = "etl"
        rdds = persisted_rdds(spark)
        pages, expected = run.feed_version(version)
        t0 = time.perf_counter()
        with tracer.span("pipeline.run_load"):
            metrics = load(pages)
        with tracer.span("pipeline.gold"):
            gold()
        run.traced_pass_s = time.perf_counter() - t0
        state["loads"] += 1
        tracer.op = None
        tracer.unwrap()
        for s in tracer.op_spans("etl"):
            tracer.resolve(s)
        for p in check_load(metrics, expected, 0, len(expected)):
            run.errors.append(f"traced v{version}: {p}")
        layer = _etl_layers(tracer, metrics, persisted_rdds(spark) - rdds, len(pages))
        layer["session.peak_rss_mb"] = _peak_rss_mb(spark)
    return layer


def _etl_layers(tracer: Tracer, metrics: dict, rdd_delta: int, pages_offered: int) -> dict:
    spans = tracer.op_spans("etl")
    selfs = self_times(tracer.spans)

    def dur(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def written(name):
        return sum(st["output_records"] for s in spans if s["name"] == name for st in s["stages"])

    load_span = next(s for s in spans if s["name"] == "pipeline.run_load")
    loads = [s for s in spans if s["name"] != "pipeline.gold"]
    changed = metrics["rows_inserted"] + metrics["rows_updated"]
    return {
        "raw.pages_s": dur("raw.pages"),
        "raw.write_s": dur("raw.write"),
        "raw.rewrite_frac": written("raw.write") / pages_offered,
        "lineage.trace_s": dur("lineage.trace"),
        "lineage.counts_s": dur("lineage.counts"),
        "lineage.log_s": dur("lineage.log"),
        "core_pipeline.map_s": dur("core_pipeline.map"),
        "core_pipeline.write_s": dur("core_pipeline.write"),
        "merge.swap_s": dur("merge.swap"),
        "merge.write_amp": written("core_pipeline.write") / max(changed, 1),
        "pipeline.self_s": selfs[load_span["id"]],
        "pipeline.jobs_per_load": sum(s["jobs"] for s in loads),
        "pipeline.gold_s": dur("pipeline.gold"),
        "session.persisted_rdds_delta": rdd_delta,
    }


# --------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------
def _peak_rss_mb(spark) -> float:
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())  # noqa: SLF001
    return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid)) / 1024.0


def warm_list_s(ops: list[dict]) -> float:
    """The operation list run once, warm: the sum over the list's
    operations of each one's median latency over the run's passes."""
    by_name: dict[str, list[float]] = {}
    for op in ops:
        by_name.setdefault(op["name"], []).append(op["s"])
    return sum(statistics.median(v) for v in by_name.values())


def _end_to_end(run: Run) -> dict:
    records = sum(op["records"] for op in run.ops)
    busy = sum(op["s"] for op in run.ops if op["records"])
    return {
        "setup_s": run.setup_s,
        "wall_s": warm_list_s(run.ops),
        "records_per_s": records / busy if busy else 0.0,
    }


def result_line(specs: list[dict], values: dict, run: Run) -> dict:
    """The result object: every metric named in ``specs``, with its unit."""
    failed = sum(not op["ok"] for op in run.ops)
    return {
        "correct": failed == 0 and not run.errors,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {
            s["name"]: {"value": float(values[s["name"]]), "unit": s["unit"]} for s in specs
        },
    }


def _common_layers(run: Run) -> dict:
    """Per-layer metrics both workloads report, from the traced pass."""
    tracer = run.tracer
    spans = [s for s in tracer.spans if s["op"]]  # the traced pass's operations
    stages = [st for s in spans for st in s.get("stages", [])]
    ops = {}
    for s in spans:
        if s["parent"] is None:
            ops.setdefault(s["op"], []).append(s)
    gap = wall = 0.0
    for op, roots in ops.items():
        lo = min(s["wall_start"] for s in roots)
        hi = max(s["wall_end"] for s in roots)
        ivs = [
            (st["start"], st["end"])
            for s in tracer.op_spans(op)
            for st in s.get("stages", [])
            if st["start"] is not None and st["end"] is not None
        ]
        wall += hi - lo
        gap += (hi - lo) - covered_seconds(ivs, lo, hi)

    def dur(name, among=spans):
        return sum(s["end"] - s["start"] for s in among if s["name"] == name)

    builds = [s for s in spans if s["name"] == "queries.build"]
    mb = 1024.0 * 1024.0
    return {
        "queries.build_s": dur("queries.build"),
        "queries.build_jobs": sum(s.get("jobs", 0) for s in builds),
        "spark.exec_s": dur("spark.exec"),
        "spark.jobs": sum(s.get("jobs", 0) for s in spans),
        "spark.stages": len(stages),
        "spark.tasks": sum(st["tasks"] for st in stages),
        "spark.task_s": sum(st["task_s"] for st in stages),
        "spark.shuffle_read_mb": sum(st["shuffle_read_b"] for st in stages) / mb,
        "spark.shuffle_write_mb": sum(st["shuffle_write_b"] for st in stages) / mb,
        "spark.spill_mb": sum(st["spill_b"] for st in stages) / mb,
        "spark.stage_gap_frac": gap / wall if wall else 0.0,
        "indexes.build_s": dur("indexes.build", tracer.spans),
        "trace.overhead_frac": run.traced_pass_s / warm_list_s(run.ops) - 1.0,
    }


def main(argv=None) -> int:
    args = _args(argv)
    end_specs, layer_specs = _metric_specs()
    import ipeds_etl_spark  # noqa: F401 - fail fast when the engine is absent

    if Path.cwd().resolve() != ROOT:
        os.chdir(ROOT)  # the engine is run from the repository root
    run = Run(args)
    run.run_dir = WORK / "run"
    shutil.rmtree(run.run_dir, ignore_errors=True)
    _prepare_env(run.run_dir)

    if args.workload == "etl_load":
        versions: dict[int, tuple] = {}

        def feed_version(v):
            """Feed pages for version ``v``; generation time is billed to gen_s."""
            if v not in versions:
                t = time.perf_counter()
                versions[v] = feed.year_pages(args.seed, v)
                run.gen_s += time.perf_counter() - t
            return versions[v]

        run.feed_version = feed_version
        feed_version(0)
    else:
        t = time.perf_counter()
        run.corpus_dir = corpus.ensure_corpus(WORK / "cache")
        run.gen_s += time.perf_counter() - t

    from ipeds_etl_spark.session import get_spark

    _log("engine imported")
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    _log("session started")
    try:
        if args.trace:
            run.tracer = Tracer(spark)
        layer = (_curate if args.workload == "curate_small" else _etl)(run, spark)
        _log("workload done")
    finally:
        _stop(spark)
    _log("session stopped")

    if args.trace:
        # a layer the workload does not run reads 0
        values = {**dict.fromkeys((m["name"] for m in layer_specs), 0), **_common_layers(run), **layer}
        run.tracer.dump(WORK / f"spans-{args.workload}-seed{args.seed}.json")
        out = result_line(layer_specs, values, run)
    else:
        out = result_line(end_specs, _end_to_end(run), run)
    import pyspark

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": os.environ["SPARK_GRAFT_CPUS"], "pyspark": pyspark.__version__,
        "revision": _revision(), "errors": run.errors, "ops": run.ops, "result": out,
    }
    (WORK / f"run-{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1)
    )
    for e in run.errors:
        print(f"perfbench: {e}", file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())

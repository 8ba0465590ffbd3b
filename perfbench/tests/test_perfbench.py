"""Tests of the benchmark's own machinery; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path
from types import SimpleNamespace

import pandas as pd
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import checks  # noqa: E402
import corpus  # noqa: E402
import feed  # noqa: E402
import run  # noqa: E402
from tracing import Tracer, covered_seconds, python_node_count, self_times  # noqa: E402

SPEC = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def _payloads(pages):
    # the canonical payload text the engine hashes (pages_from_fetched)
    return [json.dumps(p, sort_keys=True, separators=(",", ":"), default=str) for p in pages]


def test_feed_is_deterministic_per_seed():
    assert feed.year_pages(7, 0) == feed.year_pages(7, 0)
    assert feed.year_pages(7, 2) == feed.year_pages(7, 2)
    assert _payloads(feed.year_pages(7, 0)[0]) != _payloads(feed.year_pages(8, 0)[0])


def test_feed_revision_changes_one_page_and_keeps_the_rest_identical():
    base, exp0 = feed.year_pages(3, 0)
    rev, exp1 = feed.year_pages(3, 1)
    same = [a == b for a, b in zip(_payloads(base), _payloads(rev))]
    assert len(base) == feed.N_RECORDS // feed.PAGE_SIZE
    assert same.count(False) == 1 and same.count(True) == len(same) - 1
    changed = [u for u in exp0 if exp0[u] != exp1[u]]
    assert len(changed) == int(feed.PAGE_SIZE * feed.REVISE_FRACTION)
    # sentinels and malformed values are planted, so some cells read back NULL
    assert any(v is None for row in exp0.values() for v in row.values())


def test_corpus_is_deterministic(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    corpus.build_corpus(a)
    corpus.build_corpus(b)
    for t in corpus.TABLES:
        assert pq.read_table(a / f"{t}.parquet").equals(pq.read_table(b / f"{t}.parquet"))


def test_self_time_subtracts_direct_children_only():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 3, "parent": 0, "start": 5.0, "end": 9.0},
    ]
    assert self_times(spans) == {0: 3.0, 1: 2.0, 2: 1.0, 3: 4.0}


def test_covered_seconds_merges_overlaps_and_clips():
    ivs = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.0, 12.0)]
    assert covered_seconds(ivs, 0.0, 10.0) == 3.0 + 1.0 + 1.0
    assert covered_seconds([], 0.0, 5.0) == 0.0


def test_value_hash_is_order_insensitive_and_value_sensitive():
    df = pd.DataFrame({"b": [1.5, None, 3.0], "a": ["x", "y", "z"]})
    shuffled = df.iloc[[2, 0, 1]][["a", "b"]]
    assert checks.value_hash(df) == checks.value_hash(shuffled)
    changed = df.copy()
    changed.loc[0, "b"] = 1.25
    assert checks.value_hash(df) != checks.value_hash(changed)


def _fake_run(ops):
    return SimpleNamespace(
        ops=ops, passes=[sum(o["s"] for o in ops)], setup_s=30.0, traced_pass_s=11.0, errors=[],
    )


def test_injected_wrong_hash_raises_fail_rate():
    ops = [
        {"name": q, "s": 1.0, "ok": True, "records": 3}
        for q in ("q1", "q2", "q1", "q2")
    ]
    want = {"q1": "h1", "q2": "h2"}
    run_ok = _fake_run([dict(o) for o in ops])
    run.apply_oracle_checks(run_ok, {"cold": dict(want), "warm": dict(want)}, want)
    clean = run.result_line(SPEC["end_to_end"], run._end_to_end(run_ok), run_ok)
    assert clean["failed"] == 0 and clean["correct"]

    # a wrong hash on either path fails every operation of that query
    for got in ({"cold": {"q1": "h1", "q2": "WRONG"}, "warm": dict(want)},
                {"cold": dict(want), "warm": {"q1": "h1", "q2": "WRONG"}}):
        run_bad = _fake_run([dict(o) for o in ops])
        run.apply_oracle_checks(run_bad, got, want)
        bad = run.result_line(SPEC["end_to_end"], run._end_to_end(run_bad), run_bad)
        assert bad["failed"] == 2 and bad["attempted"] == 4 and not bad["correct"]


def test_wall_is_the_sum_of_per_operation_medians():
    ops = [
        {"name": n, "s": s, "ok": True, "records": 1}
        for n, s in (("a", 1.0), ("b", 5.0), ("a", 3.0), ("b", 4.0), ("a", 2.0), ("b", 9.0))
    ]
    assert run.warm_list_s(ops) == 2.0 + 5.0
    assert run.warm_list_s(ops[:2]) == 6.0


def test_python_nodes_skip_an_adaptive_plans_initial_plan():
    plan = "\n".join([
        "OverwriteByExpression NoopWrite",
        "+- AdaptiveSparkPlan isFinalPlan=true",
        "   +- == Final Plan ==",
        "      ResultQueryStage 1",
        "      +- MapInArrow f(k#1L)#6, [k#7L], false",
        "         +- ArrowEvalPython [g(k#1L)#5]",
        "            +- *(1) Range (0, 1000, step=1, splits=2)",
        "   +- == Initial Plan ==",
        "      MapInArrow f(k#1L)#6, [k#7L], false",
        "      +- ArrowEvalPython [g(k#1L)#5]",
        "         +- Range (0, 1000, step=1, splits=2)",
        "+- MapInPandas h(x)",
    ])
    assert python_node_count(plan) == 3
    assert python_node_count("Project\n+- Scan") == 0


def test_printed_end_to_end_metrics_match_the_spec():
    ops = [{"name": "q", "s": s, "ok": True, "records": 10} for s in (1.0, 2.0, 3.0)]
    fake = _fake_run(ops)
    values = run._end_to_end(fake)
    line = run.result_line(SPEC["end_to_end"], values, fake)
    assert set(values) == {m["name"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["end_to_end"]
    }
    assert all(v["value"] > 0 for v in line["metrics"].values())
    assert json.loads(json.dumps(line)) == line


def test_printed_per_layer_metrics_match_the_spec():
    tracer = Tracer(SimpleNamespace(sparkContext=None))
    stage = {"tasks": 4, "task_s": 1.0, "shuffle_read_b": 1 << 20, "shuffle_write_b": 1 << 20,
             "spill_b": 0, "output_records": 2, "start": 100.5, "end": 101.0}
    names = ["pipeline.run_load", "raw.pages", "raw.write", "lineage.trace", "lineage.counts",
             "lineage.log", "core_pipeline.map", "core_pipeline.write", "merge.swap"]
    for i, name in enumerate(names):
        tracer.spans.append({"id": i, "name": name, "parent": None if i == 0 else 0, "op": "etl",
                             "start": float(i), "end": 10.0 if i == 0 else i + 0.5,
                             "wall_start": 100.0, "wall_end": 102.0, "jobs": 1, "stages": [stage]})
    fake = _fake_run([{"name": "run_load", "s": 10.0, "ok": True, "records": 1000}])
    fake.tracer = tracer
    metrics = {"rows_inserted": 0, "rows_updated": 1000}
    layers = {
        **run._common_layers(fake),
        **run._etl_layers(tracer, metrics, 0, 2),
        # reported by the traced pass of curate_small and of both workloads
        "spark.plan_s": 0.0,
        "arrowverify.python_nodes": 0,
        "session.peak_rss_mb": 2000.0,
    }
    assert set(layers) == {m["name"] for m in SPEC["per_layer"]}
    line = run.result_line(SPEC["per_layer"], layers, fake)
    assert {k: v["unit"] for k, v in line["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["per_layer"]
    }
    assert layers["pipeline.self_s"] == 10.0 - 8 * 0.5
    assert layers["pipeline.jobs_per_load"] == len(names)
    assert layers["raw.rewrite_frac"] == 1.0
    assert layers["spark.stage_gap_frac"] == 0.75

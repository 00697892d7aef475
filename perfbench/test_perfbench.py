"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer, attribute, self_times  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_brewery_pages_are_a_function_of_seed_and_page():
    assert inputs.brewery_page(3, 7) == inputs.brewery_page(3, 7)
    assert inputs.brewery_page(3, 7) != inputs.brewery_page(4, 7)
    assert inputs.brewery_page(3, 7) != inputs.brewery_page(3, 8)
    assert all(len(inputs.brewery_page(5, p)) == inputs.PER_PAGE for p in range(3))


def test_brewery_pages_carry_the_fixture_edge_cases():
    records = [r for p in range(20) for r in inputs.brewery_page(11, p)]
    assert all(set(r) == set(inputs.BRONZE_COLUMNS) for r in records)
    countries = {r["country"] for r in records}
    assert {" United States", "United States"} <= countries
    assert any("�" in r["state"] for r in records)
    assert any("_" in r["state"] for r in records)
    assert any(r["latitude"] is None for r in records)
    assert any(r["latitude"] in inputs.MALFORMED_COORDINATES for r in records)
    dups = sum(a == b for a, b in zip(records, records[1:]))
    assert 0 < dups < 0.03 * len(records)


@pytest.mark.parametrize("seed", [0, 1, 2024])
def test_expected_gold_counts_every_record(seed):
    gold = inputs.expected_gold(seed, 10)
    assert sum(gold.values()) == 10 * inputs.PER_PAGE
    assert {country for _, country, _ in gold} <= {loc[4] for loc in inputs.LOCATIONS}


def test_location_table_normalizes_to_partition_safe_keys():
    for *_, state, country in inputs.LOCATIONS:
        assert re.fullmatch(r"[a-z-]+", state) and re.fullmatch(r"[a-z-]+", country)


def test_permuted_tables_keep_contents_and_follow_the_seed(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    rows = {"k": list(range(50)), "v": [f"x{i}" for i in range(50)]}
    pq.write_table(pa.table(rows), src / "t.parquet")
    inputs.permuted_tables(str(src), str(tmp_path / "a"), seed=1)
    inputs.permuted_tables(str(src), str(tmp_path / "b"), seed=1)
    inputs.permuted_tables(str(src), str(tmp_path / "c"), seed=2)
    a, b, c = (pq.read_table(tmp_path / d / "t.parquet").to_pydict() for d in "abc")
    assert a == b
    assert a != c
    assert sorted(a["k"]) == rows["k"] and sorted(c["k"]) == rows["k"]
    assert dict(zip(a["k"], a["v"])) == dict(zip(rows["k"], rows["v"]))


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, "pass", None, 0, 0.0, 10.0),
        Span(1, "a", 0, 0, 1.0, 3.0),
        Span(2, "b", 0, 0, 2.0, 5.0),  # overlaps a: [1, 5] counted once
        Span(3, "c", 0, 0, 9.0, 12.0),  # clipped to the parent's end
        Span(4, "d", 2, 0, 2.5, 3.5),
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert own[2] == pytest.approx(3.0 - 1.0)
    assert own[1] == pytest.approx(2.0)
    assert own[4] == pytest.approx(1.0)


class _FakeContext:
    def setJobGroup(self, group, description):
        self.group = group

    def setLocalProperty(self, key, value):
        self.group = value


def _stage(t, run_ms, status="COMPLETE"):
    return {
        "status": status, "submissionTime": t, "numTasks": 2, "executorRunTime": run_ms,
        "executorCpuTime": run_ms * 10**6, "jvmGcTime": 0, "inputBytes": 1 << 20,
        "shuffleReadBytes": 0, "shuffleWriteBytes": 0, "shuffleFetchWaitTime": 0,
        "diskBytesSpilled": 0, "numFailedTasks": 0,
    }


def test_attribution_and_pass_metrics_use_only_declared_names():
    tracer = Tracer(_FakeContext())
    tracer.new_pass()
    with tracer.span("catalog/pass") as pass_span:
        with tracer.span("catalog/q_gold_agg/build") as build:
            pass
        with tracer.span("catalog/q_gold_agg/exec") as execute:
            pass
    # pin the intervals so the arithmetic is exact
    pass_span.start, build.start, build.end, execute.start, execute.end, pass_span.end = (
        0.0, 0.0, 1.0, 1.0, 3.0, 4.0
    )
    ms = tracer.epoch_ms
    jobs = [
        {"jobGroup": f"perfbench-{build.id}", "submissionTime": ms(0.5)},
        {"jobGroup": "stream-query-run", "submissionTime": ms(0.7)},  # foreign: by time
        {"jobGroup": None, "submissionTime": ms(2.0)},
    ]
    stages = [
        _stage(ms(0.5), 400), _stage(ms(2.0), 4000),
        _stage(ms(2.5), 999, status="SKIPPED"),
    ]
    got = attribute(tracer, build, jobs, stages)
    assert (got["jobs"], got["stages"], got["task_run_s"]) == (2, 1, 0.4)
    m = run.pass_layer_metrics(tracer, pass_span, jobs, stages, cores=4)
    assert set(m) == set(run.PER_LAYER)
    assert m["operators.build_s"] == 1.0 and m["exec.run_s"] == 2.0
    assert m["operators.construction_share"] == 0.25
    assert m["operators.scan_construction_share"] == pytest.approx(1.0 / 3.0)
    assert m["operators.driver_s"] == pytest.approx(1.0 - 0.4 / 4)
    assert m["orchestration_s"] == pytest.approx(4.0 - 4.4 / 4)
    assert m["exec.utilisation"] == pytest.approx(4.0 / (2.0 * 4))
    assert m["trace.self.harness_s"] == pytest.approx(1.0)


def test_spark_counts_take_jobs_and_ran_stages_inside_the_pass():
    jobs = [{"submissionTime": 5}, {"submissionTime": 10}, {"submissionTime": 11}, {}]
    stages = [
        _stage(5, 1), _stage(10, 1), _stage(7, 1, status="SKIPPED"), _stage(20, 1),
    ]
    assert run.spark_counts(jobs, stages, 5, 10) == (2, 4)


def test_lake_stats_emit_declared_names(tmp_path):
    for layer in ("bronze", "silver/country=x/state=y", "gold"):
        (tmp_path / layer).mkdir(parents=True)
        (tmp_path / layer / "part-0.parquet").write_bytes(b"x" * 10)
        (tmp_path / layer / "_SUCCESS").write_bytes(b"")
    m = run.lake_stats(str(tmp_path), records=3)
    assert set(m) <= set(run.PER_LAYER)
    assert m["layers.silver_partitions"] == 1
    assert m["layers.bytes_per_record"] == 10.0


def test_metric_names_and_the_declaration_agree():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    for name in [*run.END_TO_END, *run.PER_LAYER]:
        assert NAME.fullmatch(name) and len(name) <= 64, name

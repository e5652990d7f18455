"""Self-tests of the benchmark (no Spark): python3 -m pytest pipebench -q"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

BENCHMARK_JSON = os.path.join(run.REPO, "BENCHMARK.json")


def test_generator_is_deterministic_under_a_seed(tmp_path):
    a = gen.write_pipeline_sources(str(tmp_path / "a"), seed=5, days=2, events_per_day=300)
    b = gen.write_pipeline_sources(str(tmp_path / "b"), seed=5, days=2, events_per_day=300)
    c = gen.write_pipeline_sources(str(tmp_path / "c"), seed=6, days=2, events_per_day=300)
    for key in a:
        ta, tb, tc = (pq.read_table(m[key]) for m in (a, b, c))
        assert ta.equals(tb), key
        if key != "prices.day":  # prices draw few values; events/objects must differ
            assert not ta.equals(tc), key
    qa, qb = gen.query_tables(5, 0.001), gen.query_tables(5, 0.001)
    assert all(qa[t].equals(qb[t]) for t in qa)
    assert not gen.query_tables(6, 0.001)["lineitem"].equals(qa["lineitem"])


def test_one_file_per_day_sorted_on_the_watermark_column(tmp_path):
    src = gen.write_pipeline_sources(str(tmp_path), seed=1, days=3, events_per_day=200)
    for key in ("sui.events", "sui.objects"):
        files = sorted(os.listdir(src[key]))
        assert len(files) == 3
        for day, f in enumerate(files):
            ts = pq.read_table(os.path.join(src[key], f)).column("timestamp_ms").to_pylist()
            assert ts == sorted(ts)
            assert all(gen.EPOCH_MS + day * gen.DAY_MS <= t < gen.EPOCH_MS + (day + 1) * gen.DAY_MS
                       for t in ts)


def test_margin_fraction_and_expected_counts(tmp_path):
    src = gen.write_pipeline_sources(str(tmp_path), seed=2, days=2, events_per_day=2000,
                                     margin_frac=0.2)
    counts = checks.expected_row_counts(src, floor_ms=0)
    margin = sum(counts[m] for m in gen.EVENT_MODELS)
    assert 700 < margin < 900  # ~20% of 4000 events
    assert all(counts[m] > 0 for m in counts)


@pytest.mark.parametrize("trace", [0, 1])
def test_result_line_names_every_metric_with_its_unit(trace):
    units = run.PER_LAYER_UNITS if trace else run.E2E_UNITS
    line = run.result_line(7, 0, {k: 1.5 for k in units}, units)
    out = json.loads(line)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["attempted"] == 7 and out["failed"] == 0
    assert set(out["metrics"]) == set(units)
    for name, m in out["metrics"].items():
        assert m == {"value": 1.5, "unit": units[name]}
    with pytest.raises(RuntimeError, match="not measured"):
        run.result_line(1, 0, {}, units)


def test_benchmark_json_lists_the_metrics_the_benchmark_prints():
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS


def test_corrupted_expected_hash_counts_as_a_failure(tmp_path):
    t = tmp_path / "t"
    t.mkdir()
    pq.write_table(pa.table({"k": [1, 2, 3], "v": [0.5, None, 2.0]}), str(t / "part-0.parquet"))
    actual = {"t": checks.content_hash(str(t))}
    bench = run.Bench(run.parse_args(["--workload", "incremental", "--seed", "1",
                                      "--seconds", "1"]), str(tmp_path))
    bench.check("matching", checks.compare_hashes(dict(actual), actual))
    rows, h = actual["t"]
    bench.check("corrupted", checks.compare_hashes({"t": (rows, h ^ 1)}, actual))
    assert (bench.attempted, bench.failed) == (2, 1)
    assert bench.problems and bench.problems[0].startswith("corrupted: t:")


def test_content_hash_ignores_row_order_and_dropped_columns(tmp_path):
    for name, ks in (("a", [1, 2, 3]), ("b", [3, 1, 2])):
        (tmp_path / name).mkdir()
        pq.write_table(pa.table({"k": ks, "updated_at": [9, 8, 7]}),
                       str(tmp_path / name / "p.parquet"))
    ha = checks.content_hash(str(tmp_path / "a"), ("updated_at",))
    assert ha == checks.content_hash(str(tmp_path / "b"), ("updated_at",))
    assert ha != checks.content_hash(str(tmp_path / "a"))

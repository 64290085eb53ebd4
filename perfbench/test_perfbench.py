"""The benchmark's own tests (no Spark session is started):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import inputs  # noqa: E402
import metrics  # noqa: E402
import spans as sp  # noqa: E402
import workloads  # noqa: E402
from checks import rows_hash  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _raw():
    return {
        "setup_s": 12.5, "day1_load_s": [3.0, 2.0], "delta_load_s": [5.0, 4.0],
        "kpi_ms": {"a": [100.0, 120.0], "b": [300.0, 340.0]}, "kpi_pass_s": [1.6, 1.4],
        "peak_rss_mb": 1500.0,
        "batch_ms": [2000, 2100], "addbatch_ms": [1800, 1900], "stream_rows": 120,
        "trace_overhead_s": 0.02,
    }


def _tree():
    """day(0..10) > entity(1..6) > [write(2..4), read(3..5)], entity(6..9);
    the two children of the first entity overlap between 3 and 4."""
    S = sp.Span
    return [
        S(1, "day.load", None, 0.0, 10.0),
        S(2, "runner.run_entity", 1, 1.0, 6.0),
        S(3, "snapshot.write_clean", 2, 2.0, 4.0, {"jobs": 2, "tasks": 8, "bytes": 500}),
        S(4, "snapshot.read", 2, 3.0, 5.0, {"jobs": 1, "tasks": 4}),
        S(5, "runner.run_entity", 1, 6.0, 9.0, {"jobs": 3, "tasks": 3}),
    ]


def test_end_to_end_names_match_benchmark_json():
    want = [(m["name"], m["unit"], m["better"], m["bound"]) for m in BENCH["end_to_end"]]
    assert want == [(n, *spec) for n, spec in metrics.E2E.items()]
    out = metrics.result(True, 1, 0, metrics.e2e_values(_raw()), metrics.E2E)
    assert [(n, v["unit"]) for n, v in out["metrics"].items()] == [(w[0], w[1]) for w in want]
    assert all(v["value"] != 0 for v in out["metrics"].values())


def test_per_layer_names_match_benchmark_json():
    want = [(m["name"], m["unit"], m["better"]) for m in BENCH["per_layer"]]
    assert want == [(n, unit, better) for n, (unit, better, _) in metrics.PER_LAYER.items()]
    values = metrics.layer_values(_tree(), _raw(), source_bytes=1000)
    out = metrics.result(True, 1, 0, values, metrics.PER_LAYER)
    assert list(out["metrics"]) == [w[0] for w in want]


def test_every_layer_names_end_to_end_metrics_it_moves():
    for name, (_, _, moves) in metrics.PER_LAYER.items():
        assert set(moves) <= set(metrics.E2E), name


def test_end_to_end_values_are_means_over_cycles():
    values = metrics.e2e_values(_raw())
    assert values["load_s"] == pytest.approx(7.0)  # (3+5 + 2+4) / 2
    assert values["kpi_pass_s"] == pytest.approx(1.5)
    assert metrics.kpi_latencies(_raw()["kpi_ms"]) == [110.0, 320.0]


def test_result_refuses_missing_or_extra_names():
    values = metrics.e2e_values(_raw())
    with pytest.raises(KeyError):
        metrics.result(True, 1, 0, {**values, "surprise": 1.0}, metrics.E2E)
    values.pop("setup_s")
    with pytest.raises(KeyError):
        metrics.result(True, 1, 0, values, metrics.E2E)


def test_self_time_subtracts_union_of_children():
    tree = _tree()
    selfs = sp.self_times(tree)
    # day: 10 s minus children 1..6 and 6..9 -> 2 s of its own
    assert selfs[1] == pytest.approx(2.0)
    # entity: 5 s minus the union 2..5 of its overlapping children
    assert selfs[2] == pytest.approx(2.0)
    assert selfs[3] == pytest.approx(2.0)
    assert selfs[5] == pytest.approx(3.0)
    # self times sum to the root's wall plus the 1 s the siblings overlap
    assert sum(selfs.values()) == pytest.approx(10.0 + 1.0)


def test_union_length_clips_to_parent():
    assert sp.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert sp.union_length([(-1, 2), (8, 12)], 0, 10) == pytest.approx(4.0)
    assert sp.union_length([], 0, 10) == 0.0


def test_coverage_and_layer_arithmetic():
    tree = _tree()
    assert sp.coverage(tree[0], tree) == pytest.approx(0.8)
    values = metrics.layer_values(tree, _raw(), source_bytes=1000)
    assert values["trace.day_coverage_pct"] == pytest.approx(80.0)
    assert values["runner.stage_s"] == pytest.approx(2.0 + 3.0)
    assert values["load.jobs"] == 6 and values["load.tasks"] == 15
    assert values["snapshot.write_bytes_per_source_byte"] == pytest.approx(0.5)
    assert values["stream.engine_ms"] == pytest.approx(200.0)


def test_land_in_order_gives_strictly_increasing_mtimes(tmp_path):
    src = []
    for day in (3, 1, 2):  # created out of order on purpose
        p = tmp_path / f"src{day}.csv"
        p.write_text(f"day{day}\n")
        src.append(str(p))
    landed = inputs.land_in_order(src, str(tmp_path / "landing"), t0=1_000_000.0)
    mtimes = [os.stat(p).st_mtime for p in landed]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:]))
    # mtime order is list order, whatever the names sort to
    assert [open(p).read() for p in sorted(landed, key=os.path.getmtime)] == [
        "day3\n", "day1\n", "day2\n"
    ]


def test_rows_hash_ignores_row_order_and_float_noise():
    a = [("k", 1, 0.1 + 0.2), ("j", 2, 1.0)]
    b = [("j", 2, 1.0), ("k", 1, 0.3)]
    assert rows_hash(a) == rows_hash(b)
    assert rows_hash(a) != rows_hash([("k", 1, 0.31), ("j", 2, 1.0)])


def test_percentile_matches_statistics_quantiles():
    xs = [float(i) for i in range(1, 16)]
    assert metrics.percentile(xs, 50) == pytest.approx(8.0)
    assert metrics.percentile(xs, 75) == pytest.approx(11.5)
    assert metrics.percentile([4.0], 75) == 4.0


@pytest.mark.parametrize("name", sorted(workloads.SHAPES))
def test_stage_holds_only_batch_files_and_ordered_streams(tmp_path, name):
    shape = workloads.SHAPES[name]
    st = workloads.make_stage(str(tmp_path), shape, 200, seed=3)
    batch = {}
    for d, _, files in os.walk(st.root):
        if files:
            batch[os.path.relpath(d, st.root)] = sorted(files)
    days = [(shape.entities, "2024/5/1"), (shape.batch_delta, "2024/5/2")]
    want = {
        day: sorted(inputs.SOURCE_KEYS[e][0] + "." + inputs.SOURCE_KEYS[e][1] for e in ents)
        for ents, day in days if ents
    }
    assert batch == want and st.batch_days == len(want)
    # each stream drains consecutive generated days, in day order
    for e, first, n in shape.streamed:
        got = [os.path.relpath(os.path.dirname(p), os.path.join(str(tmp_path), "src"))
               for p in st.stream_files[e]]
        assert got == [f"2024/5/{first + i}" for i in range(n)]
    assert set(st.expected_keys) == set(shape.entities) | {e for e, _, _ in shape.streamed}

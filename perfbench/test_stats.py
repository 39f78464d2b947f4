"""Unit tests for the benchmark's arithmetic.

Run: python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import pytest

from perfbench.stats import (
    files_to_epochs,
    layer_self_times,
    quantile,
    self_times,
    tail,
    tail_percentile,
)


def test_quantile_matches_linear_interpolation():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert quantile(xs, 0) == 1.0
    assert quantile(xs, 50) == 3.0
    assert quantile(xs, 100) == 5.0
    assert quantile(xs, 90) == pytest.approx(4.6)


@pytest.mark.parametrize(
    "n, p",
    [(100, 90), (101, 90), (110, 91), (1000, 99), (64, 85), (40, 76), (21, 54), (5, 50)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p


@pytest.mark.parametrize("n", range(21, 400))
def test_tail_percentile_is_highest_with_ten_beyond(n):
    xs = list(range(n))
    p = tail_percentile(n)
    v = quantile(xs, p)
    assert sum(1 for x in xs if x > v) >= 10
    if p < 99:
        v_next = quantile(xs, p + 1)
        assert sum(1 for x in xs if x > v_next) < 10


def test_tail_returns_percentile_and_value():
    xs = [float(i) for i in range(100)]
    assert tail(xs) == (90, pytest.approx(89.1))


def test_files_to_epochs_whole_files_per_epoch():
    files = [100, 100, 100, 100, 100]
    # epoch 0 takes file 0, an empty no-data epoch 1, epoch 2 takes
    # files 1-3; file 4 is not ingested yet
    epochs = [(0, 100), (1, 0), (2, 300)]
    assert files_to_epochs(files, epochs) == [0, 2, 2, 2, None]


def test_files_to_epochs_rows_beyond_schedule_are_ignored():
    # two closer rows arrive after the scheduled files
    assert files_to_epochs([10, 20], [(5, 10), (6, 22)]) == [5, 6]


def test_files_to_epochs_rejects_split_file():
    with pytest.raises(ValueError):
        files_to_epochs([100, 100], [(0, 150), (1, 50)])


def _span(i, start, end, parent=None, layer="x"):
    return {"id": i, "name": f"s{i}", "layer": layer, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),  # overlaps child 1: counted once
        _span(3, 8.0, 12.0, parent=0),  # runs past its parent: clipped
        _span(4, 1.5, 2.0, parent=1),  # grandchild: not the root's child
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_layer_self_times_sum_to_root_duration():
    spans = [
        _span(0, 0.0, 10.0, layer="pipeline"),
        _span(1, 1.0, 4.0, parent=0, layer="sink"),
        _span(2, 5.0, 9.0, parent=0, layer="sink"),
        _span(3, 5.5, 6.0, parent=2, layer="cep"),
    ]
    by_layer = layer_self_times(spans)
    assert by_layer == pytest.approx({"pipeline": 3.0, "sink": 6.5, "cep": 0.5})
    assert sum(by_layer.values()) == pytest.approx(10.0)


def test_benchmark_json_names_match_what_run_prints():
    import json
    import os

    from perfbench.run import E2E_UNITS, layer_units, per_layer_names

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E_UNITS
    assert [m["name"] for m in bench["per_layer"]] == per_layer_names()
    assert all(m["unit"] == layer_units(m["name"]) for m in bench["per_layer"])

"""Unit tests for the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
from tracing import host_fracs, host_jiffies, parse_metric  # noqa: E402

# --- tail percentile ----------------------------------------------------------


def test_tail_is_the_eleventh_largest_sample():
    samples = list(range(1, 101))  # 1..100
    pct, value = checks.tail_latency(samples)
    assert pct == 90.0
    assert value == 90  # exactly ten samples (91..100) lie beyond it
    assert sum(s > value for s in samples) == 10


def test_tail_percentile_rises_with_sample_count():
    pct, value = checks.tail_latency([float(i) for i in range(1000)])
    assert pct == 99.0 and value == 989.0
    pct, value = checks.tail_latency([5.0] * 11 + [1.0])
    assert round(pct, 3) == round(100 * 2 / 12, 3)


def test_tail_ignores_sample_order():
    rng = np.random.default_rng(0)
    xs = list(rng.exponential(1.0, 57))
    assert checks.tail_latency(xs) == checks.tail_latency(sorted(xs, reverse=True))


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        checks.tail_latency([1.0] * 10)


def test_op_type_medians_do_not_move_with_the_pass_count():
    # a pass of 3 fast lookups and 1 slow merge: the pooled median jumps
    # between the classes as passes are added, the per-type medians do not
    one_pass = [("lookup", 0.10), ("lookup", 0.12), ("lookup", 0.11), ("merge", 1.6)]
    for passes in (2, 3, 4):
        med = checks.op_type_medians(one_pass * passes)
        assert med == {"lookup": 0.11, "merge": 1.6}
    assert list(checks.op_type_medians([("b", 1.0), ("a", 2.0)])) == ["a", "b"]


def test_geometric_mean():
    assert checks.geometric_mean([0.1, 1.0, 10.0]) == pytest.approx(1.0)
    assert checks.geometric_mean(iter([4.0, 9.0])) == pytest.approx(6.0)


# --- digest / typed comparison -----------------------------------------------


ROWS = [
    {"k": 1, "v": 2.5, "s": "a", "d": dt.date(2020, 1, 2)},
    {"k": 2, "v": None, "s": "b", "d": dt.date(2021, 3, 4)},
]


def test_digest_ignores_row_and_column_order():
    d1 = checks.row_digest(["k", "v", "s", "d"], ROWS)
    d2 = checks.row_digest(["d", "s", "v", "k"], list(reversed(ROWS)))
    assert d1 == d2
    assert d1[0] == 2


def test_digest_sees_value_type_and_multiplicity():
    base = checks.row_digest(["k"], [{"k": 6}])
    assert checks.row_digest(["k"], [{"k": 6.0}]) != base  # int vs float
    assert checks.row_digest(["k"], [{"k": 6}, {"k": 6}]) != base
    assert checks.row_digest(["k"], [{"k": 7}]) != base
    assert checks.row_digest(["j"], [{"j": 6}]) != base  # column name


def test_compare_rows_accepts_equal_results_in_any_order():
    assert checks.compare_rows(["k", "v", "s", "d"], ROWS, ["s", "k", "d", "v"], ROWS[::-1]) == []


def test_compare_rows_reports_type_value_count_and_column_drift():
    as_float = [dict(r, k=float(r["k"])) for r in ROWS]
    assert checks.compare_rows(["k", "v", "s", "d"], as_float, ["k", "v", "s", "d"], ROWS)
    changed = [dict(ROWS[0], v=2.5000001), ROWS[1]]
    assert checks.compare_rows(["k", "v", "s", "d"], changed, ["k", "v", "s", "d"], ROWS)
    errs = checks.compare_rows(["k", "v", "s", "d"], ROWS[:1], ["k", "v", "s", "d"], ROWS)
    assert any("row count" in e for e in errs)
    errs = checks.compare_rows(["k"], [{"k": 1}], ["x"], [{"x": 1}])
    assert errs and "columns differ" in errs[0]


# --- snapshot-op model -------------------------------------------------------


def _row(k, price):
    return {"o_orderkey": k, "o_totalprice": price}


def test_orders_model_applies_merge_append_delete():
    m = checks.OrdersModel("o_orderkey", [_row(1, 10.0), _row(2, 20.0)])
    m.merge([_row(2, 25.0), _row(3, 30.0)])  # update 2, insert 3
    assert m.lookup(2) == [_row(2, 25.0)] and m.lookup(3) == [_row(3, 30.0)]
    m.append([_row(4, 40.0)])
    m.delete([1, 99])  # absent keys are ignored
    assert m.lookup(1) == [] and len(m) == 3
    assert sorted(m.rows) == [2, 3, 4]


def test_orders_model_refuses_append_of_existing_key():
    m = checks.OrdersModel("o_orderkey", [_row(1, 10.0)])
    with pytest.raises(ValueError):
        m.append([_row(1, 11.0)])


def test_orders_model_copies_rows():
    r = _row(1, 10.0)
    m = checks.OrdersModel("o_orderkey", [r])
    r["o_totalprice"] = 0.0
    assert m.lookup(1) == [_row(1, 10.0)]


# --- TeraSort validator ------------------------------------------------------


def _records(keys):
    return pa.table({
        "key": [k.ljust(10, "0")[:10] for k in keys],
        "value": [("v" + k).ljust(90, "x")[:90] for k in keys],
    })


def _write_parts(tmp_path, parts):
    paths = []
    for i, keys in enumerate(parts):
        p = str(tmp_path / f"part-{i:05d}.parquet")
        pq.write_table(_records(keys), p)
        paths.append(p)
    return paths


def test_validator_accepts_sorted_parts_and_matches_input_checksum(tmp_path):
    keys = sorted(f"{i * 7919 % 1000:04d}" for i in range(300))
    paths = _write_parts(tmp_path, [keys[:100], [], keys[100:250], keys[250:]])
    got = checks.validate_sorted_parts(paths)
    assert got["violations"] == 0 and got["rows"] == 300
    shuffled = _records(list(reversed(keys)))
    k = checks._fixed_width(shuffled.column("key"), 10)
    v = checks._fixed_width(shuffled.column("value"), 90)
    assert got["checksum"] == checks.record_checksum(k, v)


def test_validator_counts_violations_inside_and_across_parts(tmp_path):
    inside = _write_parts(tmp_path, [["a1", "a3", "a2"]])
    assert checks.validate_sorted_parts(inside)["violations"] == 1
    across = _write_parts(tmp_path, [["b1", "b5"], ["b2", "b6"]])
    assert checks.validate_sorted_parts(across)["violations"] == 1


def test_validator_walks_parts_by_name_not_by_argument_order(tmp_path):
    paths = _write_parts(tmp_path, [["c1", "c2"], ["c3", "c4"]])
    assert checks.validate_sorted_parts(list(reversed(paths)))["violations"] == 0


def test_checksum_sees_a_changed_record(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    a = _write_parts(tmp_path / "a", [["d1", "d2"]])
    b = _write_parts(tmp_path / "b", [["d1", "d3"]])
    assert checks.validate_sorted_parts(a)["checksum"] != checks.validate_sorted_parts(b)["checksum"]


def test_validator_rejects_ragged_records(tmp_path):
    p = str(tmp_path / "part-00000.parquet")
    pq.write_table(pa.table({"key": ["short", "0123456789"], "value": ["x" * 90] * 2}), p)
    with pytest.raises(ValueError):
        checks.validate_sorted_parts([p])


# --- metric parsing and host readings ---------------------------------------


def test_parse_spark_sql_metrics():
    assert parse_metric("3") == 3.0
    assert parse_metric("1,249") == 1249.0
    assert parse_metric("1035.7 KiB") == pytest.approx(1035.7 * 1024)
    assert parse_metric("total (min, med, max (stageId: taskId))\n2.0 s (0 ms, 1 s, 1 s)") == 2000.0
    assert parse_metric("12 ms") == 12.0


def test_host_fracs_are_shares_of_the_window():
    # (steal, iowait, total) jiffies at the start and end of a window
    assert host_fracs((10, 5, 1000), (13, 9, 2000)) == (0.003, 0.004)
    assert host_fracs((0, 0, 7), (0, 0, 7)) == (0.0, 0.0)  # empty window
    steal, iowait, total = host_jiffies()
    assert 0 <= steal <= total and 0 <= iowait <= total

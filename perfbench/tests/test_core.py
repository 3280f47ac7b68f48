"""Tests of the benchmark's own helpers; none starts Spark.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import datetime as dt
import decimal
import io
import math

import numpy as np
import pandas as pd
import pytest

from perfbench import core
from perfbench.gen_superstore import HEADER, generate
from perfbench.tracing import parse_metric_value, rest_time

# -- tail percentile ---------------------------------------------------------


@pytest.mark.parametrize("n", [11, 12, 17, 20, 27, 50, 99, 100, 101, 1000])
def test_tail_percentile_leaves_ten_beyond_and_is_the_highest(n):
    values = [float(i) for i in range(1, n + 1)]
    pct = core.tail_percentile(n)
    value = core.nearest_rank(values, pct)
    assert sum(v > value for v in values) >= 10
    if pct < 100:
        assert sum(v > core.nearest_rank(values, pct + 1) for v in values) < 10


def test_tail_percentile_undefined_for_ten_or_fewer():
    assert core.tail_percentile(10) is None
    value, pct = core.tail_latency([3.0, 1.0, 2.0])
    assert (value, pct) == (3.0, None)


def test_tail_percentile_known_values():
    assert core.tail_percentile(100) == 90
    assert core.tail_percentile(20) == 50
    assert core.tail_percentile(1000) == 99


# -- failure accounting ------------------------------------------------------


def test_failed_op_counts_and_misses_every_limit():
    log = core.OpLog()
    for i in range(20):
        log.add(f"q{i}", 0.1 * (i + 1), True)
    log.add("bad", 0.001, False, "result mismatch")
    assert (log.attempted, log.failed) == (21, 1)
    # the failure is the slowest op, not the fastest
    assert max(log.latencies()) == math.inf
    s = log.summary()
    assert s["fail_ratio"] == pytest.approx(1 / 21)
    assert s["op_p50_s"] == pytest.approx(1.1)


def test_failures_beyond_the_tail_rank_make_it_infinite():
    log = core.OpLog()
    for i in range(20):
        log.add(f"q{i}", 1.0, i >= 10)  # 10 failed: p50 is the 10th value
    assert log.summary()["op_tail_s"] == 1.0
    log.ops[10].ok = False  # 11 failed
    assert log.summary()["op_tail_s"] == math.inf
    assert log.failed == 11


# -- canonical hash ----------------------------------------------------------


def test_hash_ignores_row_and_column_order():
    rows = [(1, "a", 2.5), (2, "b", None), (3, "c", 0.1)]
    h = core.rows_hash(["k", "s", "x"], rows)
    assert core.rows_hash(["k", "s", "x"], list(reversed(rows))) == h
    assert core.rows_hash(["x", "k", "s"], [(r[2], r[0], r[1]) for r in rows]) == h


def test_hash_treats_nan_none_and_nat_alike():
    a = core.rows_hash(["x", "t"], [(None, None), (1.0, dt.datetime(2024, 1, 1))])
    b = core.rows_hash(["x", "t"], [(float("nan"), pd.NaT), (1, pd.Timestamp("2024-01-01"))])
    c = core.rows_hash(["x", "t"], [(np.float64("nan"), np.datetime64("NaT")), (np.int64(1), np.datetime64("2024-01-01"))])
    assert a == b == c


def test_hash_is_engine_neutral_for_numbers_and_nested_values():
    duck = [(decimal.Decimal("12.30"), [1, 2], {"b": 1, "a": None})]
    spark = [(12.3, np.array([1, 2]), {"a": float("nan"), "b": 1.0})]
    assert core.rows_hash(["m", "v", "s"], duck) == core.rows_hash(["m", "v", "s"], spark)


def test_hash_distinguishes_values_and_multiplicity():
    base = core.rows_hash(["x"], [(1,), (2,)])
    assert core.rows_hash(["x"], [(1,), (3,)]) != base
    assert core.rows_hash(["x"], [(1,), (2,), (2,)]) != base
    assert core.rows_hash(["y"], [(1,), (2,)]) != base


def test_frame_hash_matches_rows_hash():
    pdf = pd.DataFrame({"b": [2.0, np.nan], "a": ["x", "y"]})
    assert core.frame_hash(pdf) == core.rows_hash(["a", "b"], [("y", None), ("x", 2)])


# -- generator ---------------------------------------------------------------


def test_generator_same_seed_same_bytes(tmp_path):
    a, b, c = tmp_path / "a.csv", tmp_path / "b.csv", tmp_path / "c.csv"
    ta = generate(str(a), 800, 7)
    tb = generate(str(b), 800, 7)
    generate(str(c), 800, 8)
    assert a.read_bytes() == b.read_bytes()
    assert ta == tb
    assert (tmp_path / "a.csv.truth.json").read_bytes() == (tmp_path / "b.csv.truth.json").read_bytes()
    assert a.read_bytes() != c.read_bytes()


def test_generator_shape_and_truth(tmp_path):
    path = tmp_path / "s.csv"
    truth = generate(str(path), 6000, 3)
    raw = path.read_bytes()
    assert b'""' in raw  # RFC-4180 doubled quotes
    assert b"\x93" in raw and b"\x94" in raw  # cp1252 curly quotes
    rows = list(csv.reader(io.StringIO(raw.decode("latin-1"), newline="")))
    assert ",".join(rows[0]) == HEADER
    body = rows[1:]
    assert len(body) == truth["csv_lines"] == 6000
    assert all(len(r) == 21 for r in body)
    for r in body[:200]:
        for d in (r[2], r[3]):  # M/d/yyyy, no zero padding
            m, day, y = d.split("/")
            assert not m.startswith("0") and not day.startswith("0") and len(y) == 4
            dt.date(int(y), int(m), int(day))
    lines = {(r[1], r[13]) for r in body}
    assert len(lines) == truth["distinct_lines"] < len(body)  # duplicate lines exist
    names_per_code: dict[str, set] = {}
    for r in body:
        names_per_code.setdefault(r[13], set()).add(r[16])
    assert any(len(v) > 1 for v in names_per_code.values())
    assert truth["product_codes"] < truth["product_tuples"]
    # Product tuples count after the duplicate merge keeps each (order,
    # code) group's first line
    first = {}
    for r in body:
        first.setdefault((r[1], r[13]), (r[13], r[16], r[14], r[15]))
    assert truth["product_tuples"] == len(set(first.values()))
    assert truth["orders"] == len({r[1] for r in body})
    assert truth["customers"] == len({r[5] for r in body})
    assert truth["quantity"] == sum(int(r[18]) for r in body)
    assert truth["sales_cents"] == sum(round(float(r[17]) * 100) for r in body)


# -- streaming progress ------------------------------------------------------


def _progress(batch, rows, trigger, **d):
    return {
        "batchId": batch,
        "numInputRows": rows,
        "durationMs": {"triggerExecution": trigger, **d},
        "stateOperators": [{"numRowsTotal": 10 * batch, "memoryUsedBytes": 2**20 * batch}],
    }


def test_progress_parsing_into_streaming_metrics():
    prog = [
        _progress(0, 100, 1500, addBatch=1000, getBatch=5, queryPlanning=50, walCommit=20, commitOffsets=30),
        _progress(1, 0, 200, addBatch=100, walCommit=10, commitOffsets=10),
        _progress(2, 50, 900, addBatch=700, queryPlanning=40, walCommit=15, commitOffsets=15),
    ]
    m = core.progress_metrics(prog)
    assert m["streaming.trigger_s"] == pytest.approx(2.6)
    assert m["streaming.add_batch_s"] == pytest.approx(1.8)
    assert m["streaming.get_batch_s"] == pytest.approx(0.005)
    assert m["streaming.planning_s"] == pytest.approx(0.09)
    assert m["streaming.commit_s"] == pytest.approx(0.1)
    assert m["streaming.state_rows"] == 20
    assert m["streaming.state_mem_mb"] == pytest.approx(2.0)
    # only batches that read input are ops
    assert core.batch_latencies(prog) == [1.5, 0.9]


def test_progress_parsing_tolerates_missing_fields():
    m = core.progress_metrics([{"batchId": 0, "numInputRows": 0}])
    assert m["streaming.trigger_s"] == 0.0 and m["streaming.state_rows"] == 0
    assert core.batch_latencies([{"numInputRows": 5, "durationMs": {}}]) == []


# -- process-tree RSS ---------------------------------------------------------


def test_tree_rss_skips_children_still_sharing_the_parent_memory():
    jvm, py = b"java -cp spark", b"python -m pyspark.daemon"
    table = {
        1: (0, 100, b"python run.py"),
        2: (1, 1000, jvm),
        3: (2, 1000, jvm),  # vfork child of the JVM before exec: same memory
        4: (2, 50, py),  # the worker daemon
        5: (4, 80, py),  # a forked worker: own memory, same command line
        6: (4, 80, py),
        9: (7, 999, b"unrelated"),
    }
    assert core.tree_rss(table, 1) == 100 + 1000 + 50 + 80 + 80
    assert core.tree_rss(table, 4) == 50 + 80 + 80


# -- spans and REST parsing --------------------------------------------------


def test_self_time_subtracts_the_union_of_children():
    spans = core.Spans()
    root = spans.add("op", 0.0, 10.0)
    spans.add("build", 1.0, 4.0, root)
    spans.add("exec", 3.0, 6.0, root)  # overlaps build
    spans.add("late", 9.0, 12.0, root)  # clipped to the parent
    assert spans.self_time(root) == pytest.approx(10.0 - 5.0 - 1.0)
    assert spans.self_by_name()["build"] == pytest.approx(3.0)


def test_parse_sql_metric_values():
    assert parse_metric_value("1,234") == 1234
    assert parse_metric_value(
        "total (min, med, max (stageId: taskId))\n1.5 KiB (512.0 B, 512.0 B, 512.0 B (stage 3.0: task 7))"
    ) == 1536
    assert parse_metric_value("2.0 MiB") == 2 * 2**20


def test_rest_time_is_epoch_seconds():
    assert rest_time("1970-01-01T00:00:01.500GMT") == pytest.approx(1.5)
    assert rest_time(None) is None

"""Parser pins for Spark's rendered SQL metric strings.

The single-task strings were captured from the status store after
``time_bars_1m`` at sf0.001 on Spark 4.1.2; the multi-task forms are the
``total (min, med, max (stage: task))`` rendering of larger runs.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import sparkstats as S  # noqa: E402

# (node, metric, rendered value) captured from time_bars_1m at sf0.001
CAPTURED = [
    ("ObjectHashAggregate", "number of output rows", "988"),
    ("ObjectHashAggregate", "time in aggregation build", "223 ms"),
    ("ObjectHashAggregate", "spill size", "0.0 B"),
    ("ObjectHashAggregate", "number of sort fallback tasks", "1"),
    ("Exchange", "shuffle records written", "988"),
    ("Exchange", "shuffle bytes written", "56.5 KiB"),
    ("Exchange", "data size", "139.3 KiB"),
    ("ObjectHashAggregate", "time in aggregation build", "1.2 s"),
    ("ObjectHashAggregate", "number of sort fallback tasks", "1"),
    ("Filter", "number of output rows", "1,000"),
    ("Scan parquet ", "number of files read", "1"),
    ("Scan parquet ", "scan time", "517 ms"),
    ("Scan parquet ", "size of files read", "26.5 KiB"),
    ("Scan parquet ", "number of output rows", "1,000"),
]


@pytest.mark.parametrize(
    "text, want",
    [
        ("988", 988.0),
        ("1,000", 1000.0),
        ("38,859", 38859.0),
        ("223 ms", 0.223),
        ("1.2 s", 1.2),
        ("3.5 m", 210.0),
        ("0.0 B", 0.0),
        ("56.5 KiB", 56.5 * 1024),
        ("2.9 MiB", 2.9 * 1024**2),
        ("683 ms (327 ms, 356 ms, 356 ms (stage 3.0: task 3))", 0.683),
        ("total (min, med, max (stageId: taskId))\n6.1 MiB (1.5 MiB, 1.5 MiB, 1.6 MiB (stage 4.0: task 9))", 6.1 * 1024**2),
        ("12,345 (3,000, 3,100, 3,245 (stage 2.0: task 7))", 12345.0),
    ],
)
def test_parse_metric_total(text, want):
    assert S.parse_metric(text) == pytest.approx(want)


def test_parse_metric_rejects_unknown_unit():
    with pytest.raises(ValueError):
        S.parse_metric("12 parsecs")


def test_captured_time_bars_strings_parse():
    got = {}
    for node, metric, text in CAPTURED:
        layer = S.node_class(node)
        got[(layer, metric)] = got.get((layer, metric), 0.0) + S.parse_metric(text)
    # Scan output rows equal the events rows of sf0.001
    assert got[("scan", "number of output rows")] == 1000
    assert got[("scan", "scan time")] == pytest.approx(0.517)
    # both aggregate nodes fell back to sort (the exact F.median column)
    assert got[("aggregate", "number of sort fallback tasks")] == 2
    assert got[("aggregate", "time in aggregation build")] == pytest.approx(1.423)
    assert got[("exchange", "shuffle bytes written")] == pytest.approx(56.5 * 1024)


@pytest.mark.parametrize(
    "name, layer",
    [
        ("Scan parquet ", "scan"),
        ("HashAggregate", "aggregate"),
        ("ObjectHashAggregate", "aggregate"),
        ("Exchange", "exchange"),
        ("AQEShuffleRead", "exchange"),
        ("Sort", "sort"),
        ("Window", "sort"),
        ("MapInPandas", "python"),
        ("ArrowEvalPython", "python"),
        ("FlatMapGroupsInPandas", "python"),
        ("AggregateInPandas", "python"),
        ("Execute InsertIntoHadoopFsRelationCommand", "write"),
        ("Project", "other"),
    ],
)
def test_node_class(name, layer):
    assert S.node_class(name) == layer

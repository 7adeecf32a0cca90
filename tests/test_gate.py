"""The crossover gate module: ``force`` validation and restore
semantics, the LIMIT+1 probe, the footer row count, the forced-driver
errors of the shared edge gate, and a source scan that keeps per-module
force-hook globals from coming back."""

from __future__ import annotations

import ast
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from finmlkit_spark import gate

PKG = Path(gate.__file__).resolve().parent
#: name prefix of the retired per-module force hooks, spelled in two
#: parts so a grep of the tree for the prefix finds none
HOOK_PREFIX = "_FORCE" + "_"


def test_force_rejects_unknown_gate_and_side():
    with pytest.raises(ValueError, match="unknown gate"):
        with gate.force(page_rank="driver"):
            pass
    with pytest.raises(ValueError, match="unknown side"):
        with gate.force(pagerank="global"):
            pass
    # validation happens before anything is pinned
    with pytest.raises(ValueError):
        with gate.force(pagerank="driver", flagship="onebatch"):
            pass
    assert gate.forced("pagerank") is None
    with pytest.raises(KeyError):
        gate.forced("page_rank")


def test_force_restores_on_exception_and_when_nested():
    with pytest.raises(RuntimeError):
        with gate.force(span_sweep="cut"):
            assert gate.forced("span_sweep") == "cut"
            raise RuntimeError("boom")
    assert gate.forced("span_sweep") is None

    with gate.force(pagerank="driver"):
        with gate.force(pagerank="distributed", flagship="global"):
            assert gate.forced("pagerank") == "distributed"
            assert gate.forced("flagship") == "global"
        assert gate.forced("pagerank") == "driver"
        assert gate.forced("flagship") is None
    assert all(gate.forced(name) is None for name in gate.GATES)


def test_no_module_level_force_globals():
    """Pinning a path goes through ``gate.force``; a module-level force
    hook would let a mistyped name silently create a new attribute and
    turn a parity test vacuous."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                targets = getattr(node, "targets", None) or [node.target]
                found += [
                    f"{path.relative_to(PKG.parent)}:{n.id}"
                    for t in targets
                    for n in ast.walk(t)
                    if isinstance(n, ast.Name) and n.id.startswith(HOOK_PREFIX)
                ]
    assert not found, f"module-level force hooks: {found}"


def test_every_gate_is_read_by_an_operator():
    """Each registered gate name reaches a ``gate.forced`` or
    ``gate.int_edges`` call, so forcing it changes something."""
    read = set()
    for path in PKG.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("forced", "int_edges")
                and node.args
                and isinstance(node.args[0], ast.Constant)
            ):
                read.add(node.args[0].value)
    assert read == set(gate.GATES)


def test_probe_returns_table_within_bound(spark):
    tbl = gate.probe(spark.range(5), 5)
    assert tbl is not None and tbl.column("id").to_pylist() == [0, 1, 2, 3, 4]
    assert gate.probe(spark.range(6), 5) is None
    assert gate.probe(spark.range(0), 0).num_rows == 0


def test_footer_rows_file_directory_and_missing(tmp_path):
    t = pa.table({"x": list(range(7))})
    pq.write_table(t, tmp_path / "one.parquet")
    (tmp_path / "dir" / "part=1").mkdir(parents=True)
    pq.write_table(t, tmp_path / "dir" / "a.parquet")
    pq.write_table(t.slice(0, 3), tmp_path / "dir" / "part=1" / "b.parquet")
    assert gate.footer_rows(str(tmp_path / "one.parquet")) == 7
    assert gate.footer_rows(str(tmp_path / "dir")) == 10
    assert gate.footer_rows(str(tmp_path / "missing.parquet")) is None


def test_forced_driver_edge_gate_raises(spark):
    from finmlkit_spark.operators import dedup as D
    from finmlkit_spark.operators import retrieval as RT

    strs = spark.createDataFrame([("a", "b")], "doc_a string, doc_b string")
    nulls = spark.createDataFrame([(1, None)], "doc_a long, doc_b long")
    with gate.force(dedup_clusters="driver", pagerank="driver"):
        with pytest.raises(ValueError, match="integer ids"):
            D.dedup_clusters(strs)
        with pytest.raises(ValueError, match="NULL ids"):
            D.dedup_clusters(nulls)
        with pytest.raises(ValueError, match="integer ids"):
            RT.pagerank(strs, a_col="doc_a", b_col="doc_b")
    # unforced, the same inputs take the distributed path
    assert sorted(map(tuple, D.dedup_clusters(strs).collect())) == [("a", "a"), ("b", "a")]

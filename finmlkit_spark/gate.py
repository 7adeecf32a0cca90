"""Crossover gates: the one place that decides when an input is small
enough for an operator's driver (or one-partition) path instead of its
distributed path. Both sides of every gate return the same rows, so a
gate is purely a cost decision.

- :func:`probe` fetches a frame to the driver as one Arrow table when it
  holds at most ``max_rows`` rows (``LIMIT max_rows + 1``);
- :func:`footer_rows` counts a parquet table's rows from its footers,
  without a Spark job;
- :func:`int_edges` is the small-edge gate shared by the graph
  operators (``dedup.dedup_clusters``, ``retrieval.pagerank``);
- :func:`force` pins gates to one side, for tests and plan audits that
  compare the sides or record the at-scale plan.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: every gate and the sides :func:`force` may pin it to
GATES: dict[str, tuple[str, ...]] = {
    "dedup_clusters": ("driver", "distributed"),
    "pagerank": ("driver", "distributed"),
    "span_sweep": ("driver", "cut"),
    "trade_side": ("global", "chunked"),
    "flagship": ("global", "chunked"),
    "segment_dedup": ("onepart", "parallel"),
    "kmeans_tree": ("tree", "flat"),
    "diverse_sample": ("onebatch", "perpass"),
}

#: the pins of the innermost active :func:`force` block (per thread /
#: asyncio task, so a pin never leaks into a concurrent caller)
_forced: ContextVar[dict[str, str]] = ContextVar("gate_forced", default={})


def forced(name: str) -> str | None:
    """The side :func:`force` pinned gate ``name`` to, or ``None`` (the
    operator decides from its measured size)."""
    if name not in GATES:
        raise KeyError(f"unknown gate {name!r}")
    return _forced.get().get(name)


@contextmanager
def force(**modes: str):
    """Pin gates to one side inside the block, e.g.
    ``with gate.force(pagerank="distributed"): ...``. An unknown gate
    name or side raises ``ValueError`` before anything is pinned; the
    previous pins are restored on exit, also on an exception and when
    blocks nest."""
    for name, side in modes.items():
        if name not in GATES:
            raise ValueError(f"unknown gate {name!r}; known gates: {sorted(GATES)}")
        if side not in GATES[name]:
            raise ValueError(f"gate {name!r}: unknown side {side!r}; allowed: {GATES[name]}")
    token = _forced.set({**_forced.get(), **modes})
    try:
        yield
    finally:
        _forced.reset(token)


def probe(df: DataFrame, max_rows: int):
    """``df`` as one pyarrow table if it has at most ``max_rows`` rows,
    else ``None``. One Spark job (``LIMIT max_rows + 1``); Arrow, not
    ``collect()``, so the rows land as column buffers instead of Row
    objects. Past the bound the caller's distributed path re-executes
    ``df`` — the price of a wrong probe, paid only above the gate."""
    tbl = df.limit(max_rows + 1).toArrow()
    return tbl if tbl.num_rows <= max_rows else None


def footer_rows(path: str) -> int | None:
    """Row count of a single-file or directory-style (Spark-written)
    parquet table from its footers — no Spark job. ``None`` when the
    footers can't be read: the count only steers a cost decision, so
    callers fall back to their at-scale path instead of failing."""
    import pyarrow.parquet as pq

    try:
        if os.path.isdir(path):
            return sum(
                pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                for root, _dirs, files in os.walk(path)
                for f in files
                if f.endswith(".parquet")
            )
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return None


#: Spark integer id types the driver graph paths accept, narrowest first
_INT_DTYPES = ("tinyint", "smallint", "int", "bigint")


def int_edges(name: str, pairs: DataFrame, a_col: str, b_col: str, max_edges: int):
    """The small-edge gate of graph operator ``name``: probe the pair
    list once and return ``(tbl, out_type)`` when every edge fits —
    ``tbl`` a pyarrow table of (a, b) int edges without NULLs,
    ``out_type`` the pyarrow type of the wider input id type (the
    distributed path's union widens to it, so the crossover never flips
    the output schema). ``None`` means run the distributed path: ids are
    not integers, the list exceeds ``max_edges``, holds a NULL id, or
    the gate is forced ``"distributed"``. Forced ``"driver"``, those
    same conditions raise ``ValueError`` instead."""
    import pyarrow as pa

    side = forced(name)
    if side == "distributed":
        return None
    dts = dict(pairs.dtypes)
    if dts[a_col] not in _INT_DTYPES or dts[b_col] not in _INT_DTYPES:
        if side == "driver":
            raise ValueError(f"{name}: the driver path supports integer ids only")
        return None
    tbl = probe(pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b")), max_edges)
    if tbl is not None and tbl.column("a").null_count == 0 and tbl.column("b").null_count == 0:
        wide = max(_INT_DTYPES.index(dts[a_col]), _INT_DTYPES.index(dts[b_col]))
        return tbl, (pa.int8(), pa.int16(), pa.int32(), pa.int64())[wide]
    if side == "driver":
        raise ValueError(
            f"{name}: forced to the driver path but the edge list exceeds "
            f"{max_edges} edges or contains NULL ids"
        )
    return None

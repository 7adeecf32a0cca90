"""The benchmark's workloads: which inputs each one generates and which
registry queries one iteration runs, in order.

Each iteration is a closed loop with one caller: a query is built
(``suite.QUERIES[name](spark, sf_dir)``), then executed into the
``noop`` sink, and the next call starts only after the previous one
returned.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import gen


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    #: registry queries run only through their DuckDB oracle, whose output
    #: feeds ``check_inputs`` alongside the oracle output of ``queries``
    probe_queries: tuple[str, ...]
    #: scale -> generator keyword arguments
    sizes: dict[str, dict]
    #: (sf_dir, seed, **size) -> written parquet paths
    make_inputs: Callable[..., list[str]]
    #: rows of the main input table, for rows/s figures
    input_rows: Callable[[dict], int]
    #: (oracle outputs by query, size) -> problems that make the input
    #: degenerate
    check_inputs: Callable[[dict, dict], list[str]]


def _paper_inputs(sf_dir: str, seed: int, n_trades: int, days: int) -> list[str]:
    return [gen.write_events(os.path.join(sf_dir, "events.parquet"), seed, n_trades, days)]


def _paper_checks(outputs: dict, size: dict) -> list[str]:
    """The generated walk must exercise every branch of the chain: each
    Triple-Barrier label is at least 10% of all labels, and the CUSUM
    filter fires at least once per day on average."""
    problems = []
    labels = outputs.get("tbm_labels")
    if labels is not None:
        frac = labels["label"].value_counts(normalize=True)
        for lab in (-1, 0, 1):
            share = float(frac.get(lab, 0.0))
            if share < 0.10:
                problems.append(f"tbm_labels: label {lab} is {share:.1%} of labels (< 10%)")
    events = outputs.get("seq_cusum_filter_chunked")
    if events is not None and len(events) < size["days"]:
        problems.append(f"seq_cusum_filter_chunked: {len(events)} events over {size['days']} days (< 1/day)")
    return problems


#: The analyst session always reads the same tables, whatever --seed says:
#: run-to-run differences are then the engine's and the host's alone, and
#: the DuckDB oracle (seconds for the recursive dedup closure) is
#: computed once per checkout instead of once per run.
SESSION_SEED = 42


def _session_inputs(sf_dir: str, seed: int, n_docs: int, n_vecs: int, n_events: int, n_orders: int) -> list[str]:
    return gen.write_session_tables(sf_dir, SESSION_SEED, n_docs, n_vecs, n_events, n_orders)


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="paper_pipeline",
            why="the paper's chain on a generated 2-day trade stream: trades to 1-min bars and 12 features, trades to Triple-Barrier labels",
            queries=("pipeline_1m_features", "tbm_labels"),
            probe_queries=("seq_cusum_filter_chunked",),
            sizes={
                "full": {"n_trades": 24_000, "days": 2},
                "tiny": {"n_trades": 6_000, "days": 2},
            },
            make_inputs=_paper_inputs,
            input_rows=lambda size: size["n_trades"],
            check_inputs=_paper_checks,
        ),
        Workload(
            name="registry_session",
            why="an analyst session of short queries (near-duplicate clustering, bar-store upsert) where plan-build and per-query fixed cost dominate",
            queries=("dedup_clusters", "store_upsert"),
            probe_queries=(),
            sizes={
                "full": {"n_docs": 500, "n_vecs": 500, "n_events": 10_000, "n_orders": 1_500},
                "tiny": {"n_docs": 100, "n_vecs": 100, "n_events": 2_000, "n_orders": 300},
            },
            make_inputs=_session_inputs,
            input_rows=lambda size: size["n_docs"] + size["n_vecs"] + size["n_events"],
            check_inputs=lambda outputs, size: [],
        ),
    )
}

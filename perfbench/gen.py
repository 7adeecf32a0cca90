"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, size)`` and is written with
fixed pyarrow writer settings, so the same arguments give a
byte-identical parquet file (``file_sha256`` records it).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MONTH_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000

# Log price: AR(1) pulled towards a level. Per-minute figures, rescaled
# per trade so that any trade density has the same dynamics in time
# (close to a walk with sigma 0.01 and pull-back 5e-4 per trade at 46
# trades a minute, with sigma lowered a fifth so vertical-barrier exits
# stay common).
SIGMA_PER_MIN = 0.054
REVERSION_PER_MIN = 0.023
_BLOCK = 1024  # longest block of the AR(1) scan
# The walk reverts to a level that alternates between log(50) +- SWING
# every REGIME_US, so every seed has CUSUM events (a 2*SWING move after
# each switch) and a mix of barrier touches and vertical exits.
SWING = 0.75
REGIME_US = 12 * 3_600_000_000


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(
        table,
        tmp,
        compression="snappy",
        use_dictionary=True,
        write_statistics=True,
        row_group_size=1 << 20,
        store_schema=False,
    )
    os.replace(tmp, path)
    return path


def file_sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for blk in iter(lambda: f.read(1 << 20), b""):
            h.update(blk)
    return h.hexdigest()


def _ar1(eps: np.ndarray, a: float) -> np.ndarray:
    """x[t] = a * x[t-1] + eps[t], x[-1] = 0, evaluated block-wise with
    cumulative sums (no Python loop over rows)."""
    n = len(eps)
    out = np.empty(n)
    block = max(16, min(_BLOCK, int(2.0 / max(1.0 - a, 1e-12))))  # a ** -block <= e^2
    j = np.arange(block, dtype=np.float64)
    up = a ** j  # a^j
    down = a ** -j  # a^-j
    prev = 0.0
    for s in range(0, n, block):
        e = eps[s : s + block]
        m = len(e)
        x = up[:m] * (prev * a + np.cumsum(e * down[:m]))
        out[s : s + m] = x
        prev = x[-1]
    return out


def trades_arrays(seed: int, n_trades: int, days: int = 30) -> dict[str, np.ndarray]:
    """One stream of ``n_trades`` trades over ``days`` days.

    Arrivals are exponential (sorted uniform times over the span), the
    log price is a mean-reverting walk around an alternating level,
    prices are quoted in cents.
    """
    rng = np.random.default_rng(seed)
    span = days * DAY_US
    ts = MONTH_START_US + np.sort(rng.integers(0, span, n_trades, dtype=np.int64))
    per_min = n_trades / (days * 1440.0)
    sigma = SIGMA_PER_MIN / per_min**0.5
    reversion = REVERSION_PER_MIN / per_min
    level = np.where((ts - MONTH_START_US) // REGIME_US % 2 == 0, SWING, -SWING)
    logp = np.log(50.0) + _ar1(rng.normal(0.0, sigma, n_trades) + reversion * level, 1.0 - reversion)
    price = np.round(np.exp(logp), 2)
    return {
        "event_id": np.arange(n_trades, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 1500, n_trades, dtype=np.int64),
        "value": np.maximum(price, 0.01),
    }


_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


def events_table(arrs: dict[str, np.ndarray], seed: int) -> pa.Table:
    """The registry's ``events`` table schema over generated trade arrays."""
    rng = np.random.default_rng(seed + 1)
    n = len(arrs["event_id"])
    et = _EVENT_TYPES[rng.integers(0, len(_EVENT_TYPES), n)]
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
    return pa.table(
        {
            "event_id": pa.array(arrs["event_id"]),
            "ts": pa.array(arrs["ts"], type=pa.timestamp("us")),
            "user_id": pa.array(arrs["user_id"]),
            "event_type": pa.array(et),
            "value": pa.array(arrs["value"]),
            "props": pa.array(props),
        }
    )


def write_events(path: str, seed: int, n_trades: int, days: int = 30) -> str:
    return _write(events_table(trades_arrays(seed, n_trades, days), seed), path)


# --- the analyst-session tables ---------------------------------------------

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = np.array(["de", "en", "es", "fr", "zh"])
_LANG_P = [0.14, 0.44, 0.14, 0.13, 0.15]
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_TPCH_START_US = 788_918_400_000_000  # 1995-01-01
_TPCH_DAYS = 2404  # through 2001-08-01


def documents_table(seed: int, n_docs: int, n_sources: int = 20, dup_frac: float = 0.1) -> pa.Table:
    """Bag-of-words documents over a small vocabulary; ``dup_frac`` of
    them are near-copies (one word replaced) of an earlier document, so
    the dedup and similarity operators find real clusters."""
    rng = np.random.default_rng(seed + 2)
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < dup_frac:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))])
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(_LANGS[rng.choice(len(_LANGS), n_docs, p=_LANG_P)]),
            "source": pa.array([f"src{i % n_sources}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings_table(seed: int, n_vecs: int, dim: int = 64, n_labels: int = 10) -> pa.Table:
    """Unit vectors scattered around ``n_labels`` random centres."""
    rng = np.random.default_rng(seed + 3)
    centres = rng.normal(size=(n_labels, dim))
    label = rng.integers(0, n_labels, n_vecs).astype(np.int32)
    v = centres[label] + rng.normal(scale=0.6, size=(n_vecs, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(label),
        }
    )


def orders_lineitem_tables(seed: int, n_orders: int) -> tuple[pa.Table, pa.Table]:
    """TPC-H-shaped orders and lineitem (1 to 7 lines per order)."""
    rng = np.random.default_rng(seed + 4)
    okey = np.arange(n_orders, dtype=np.int64)
    odate = _TPCH_START_US + rng.integers(0, _TPCH_DAYS, n_orders) * DAY_US
    orders = pa.table(
        {
            "o_orderkey": pa.array(okey),
            "o_custkey": pa.array(rng.integers(0, max(1, n_orders // 10), n_orders, dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_orders), 2)),
            "o_orderdate": pa.array(odate, type=pa.timestamp("us")),
            "o_orderpriority": pa.array(_PRIORITIES[rng.integers(0, 5, n_orders)]),
        }
    )
    lines = rng.integers(1, 8, n_orders)
    lkey = np.repeat(okey, lines)
    n = len(lkey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n) * DAY_US
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(lkey),
            "l_partkey": pa.array(rng.integers(0, 200, n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, 10, n, dtype=np.int64)),
            "l_linenumber": pa.array(lnum),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(ship, type=pa.timestamp("us")),
        }
    )
    return orders, lineitem


def write_session_tables(sf_dir: str, seed: int, n_docs: int, n_vecs: int, n_events: int, n_orders: int) -> list[str]:
    orders, lineitem = orders_lineitem_tables(seed, n_orders)
    return [
        _write(documents_table(seed, n_docs), f"{sf_dir}/documents.parquet"),
        _write(embeddings_table(seed, n_vecs), f"{sf_dir}/embeddings.parquet"),
        write_events(f"{sf_dir}/events.parquet", seed, n_events),
        _write(orders, f"{sf_dir}/orders.parquet"),
        _write(lineitem, f"{sf_dir}/lineitem.parquet"),
    ]

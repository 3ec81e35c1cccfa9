"""Seeded generators for every input the benchmark feeds the program.

Two kinds of input:

* ``write_tables`` writes the ten fixture tables the query registry
  reads (``region`` ... ``embeddings``) as parquet files under a
  directory, shaped like the engine's TPC-H-style star schema plus the
  ``events``, ``documents`` and ``embeddings`` tables. Column types,
  value domains and the distributions that queries depend on (order
  priorities, event types, Poisson line counts, near-duplicate
  documents) follow the schemas in ``ccxt_ohlcv_fetcher_spark.schemas``.
* ``CandleModel`` is a seeded random walk of 1m OHLCV candles per
  symbol. It is both the input (``PagingSource`` serves it page by
  page, like ``exchange.fetch_ohlcv``) and the reference model that
  the candle workload's outputs are checked against.

The same seed always yields byte-identical inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "red", "small", "old"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01


@dataclass(frozen=True)
class TableSizes:
    """Row counts of one generated fixture set."""

    customers: int
    suppliers: int
    parts: int
    orders: int
    events: int
    users: int
    documents: int
    embeddings: int
    dim: int = 64


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    """Word-soup documents; 5% of them (the count is fixed, the choice
    seeded) are near-duplicates of an earlier one: a few words changed
    plus a trailing ``dup`` token, so the dedup operators have true
    positives to find and the same amount of work for every seed."""
    dup_ids = set(rng.choice(np.arange(11, n), size=n // 20, replace=False).tolist())
    texts: list[str] = []
    for i in range(n):
        if i in dup_ids:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join([*words, "dup"]))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int) -> dict[str, pa.Array]:
    """Unit vectors with a weak per-label centroid; 2% (a fixed count) are
    near-copies of an earlier vector (cosine ~0.99) for the semantic-dedup
    operators."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0, 1, (10, dim))
    x = rng.normal(0, 1, (n, dim)) + 0.15 * centroids[labels]
    for i in rng.choice(np.arange(1, n), size=max(1, n // 50), replace=False):
        x[i] = x[int(rng.integers(0, i))] + rng.normal(0, 0.1, dim)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels),
    }


def write_tables(out_dir: str, seed: int, sizes: TableSizes) -> None:
    """Write the ten fixture tables for ``seed`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    ts_us = pa.timestamp("us")

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    nc, ns, np_ = sizes.customers, sizes.suppliers, sizes.parts
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
        "p_name": _pick(rng, names, np_),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, np_)]),
        "p_type": _pick(rng, PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(np_) % 1000) / 10, 1)),
    })
    no = sizes.orders
    day_span = 2404  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, no)),
        "o_orderdate": pa.array(EPOCH_1995_US + rng.integers(0, day_span, no) * DAY_US, ts_us),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    lines = np.minimum(rng.poisson(4, no), 7)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, np_, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array((np.arange(nl) - starts + 1).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": pa.array(EPOCH_1995_US + rng.integers(1, day_span + 95, nl) * DAY_US, ts_us),
    })
    ne = sizes.events
    gaps = rng.exponential(30 * DAY_US / ne, ne).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(EPOCH_2024_US + np.cumsum(gaps), ts_us),
        "user_id": pa.array(rng.integers(0, sizes.users, ne).astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50, ne), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    _write(out_dir, "documents", _documents(rng, sizes.documents))
    _write(out_dir, "embeddings", _embeddings(rng, sizes.embeddings, sizes.dim))


# --- candles ------------------------------------------------------------

TF_MS = 60_000
REDELIVER_BACK = 3  # candles a re-delivered page reaches back before the cursor
CANDLE_T0_MS = 1_700_000_040_000 - (1_700_000_040_000 % 3_600_000)  # hour-aligned


def _q(x: float) -> Decimal:
    """The price as the program stores it: ``decimal(38,12)`` of the
    2-decimal double the source serves."""
    return Decimal(repr(float(x))).quantize(Decimal("1e-12"))


@dataclass
class CandleModel:
    """Seeded 1m random walk per symbol; the model of every closed candle.

    ``closed[symbol]`` holds ``[ts, open, high, low, close, volume]`` rows
    (floats, two decimals) for every candle whose minute has ended by the
    model's ``now_ms``. The open candle at ``now_ms`` is served by the
    source with partial values, as an exchange does, and never stored.
    """

    seed: int
    symbols: list[str]
    now_ms: int = CANDLE_T0_MS
    closed: dict[str, list[list[float]]] = field(default_factory=dict)

    def __post_init__(self) -> None:
        self._rng = np.random.default_rng(self.seed)
        self._last = {s: float(self._rng.uniform(10, 5000)) for s in self.symbols}
        for s in self.symbols:
            self.closed.setdefault(s, [])

    def _candle(self, symbol: str, ts: int) -> list[float]:
        o = self._last[symbol]
        steps = o * np.exp(np.cumsum(self._rng.normal(0, 0.0015, 4)))
        c = float(steps[-1])
        hi = max(o, c, float(steps.max())) * (1 + abs(self._rng.normal(0, 0.0005)))
        lo = min(o, c, float(steps.min())) * (1 - abs(self._rng.normal(0, 0.0005)))
        self._last[symbol] = c
        vol = float(self._rng.gamma(2.0, 50.0))
        r = lambda v: round(v, 2)  # noqa: E731
        return [ts, r(o), max(r(hi), r(o), r(c)), min(r(lo), r(o), r(c)), r(c), round(vol, 4)]

    def advance(self, minutes: int) -> None:
        """Close ``minutes`` more candles on every symbol."""
        for _ in range(minutes):
            for s in self.symbols:
                self.closed[s].append(self._candle(s, self.now_ms))
            self.now_ms += TF_MS

    def forming(self, symbol: str) -> list[float]:
        """The still-open candle at ``now_ms`` as an exchange serves it."""
        last = self.closed[symbol][-1][4] if self.closed[symbol] else self._last[symbol]
        return [self.now_ms, last, last, last, last, 0.5]

    def tail(self, symbol: str, n: int) -> list[tuple]:
        """The newest ``n`` closed candles, as stored (decimals)."""
        return [
            (int(r[0]), *(_q(v) for v in r[1:]))
            for r in self.closed[symbol][-n:]
        ]

    def resample_1h(self, symbol: str, since_ms: int) -> list[tuple]:
        """1h OHLCV rollup of the closed candles at or after ``since_ms``."""
        out: dict[int, list] = {}
        for r in self.closed[symbol]:
            if r[0] < since_ms:
                continue
            b = r[0] - r[0] % 3_600_000
            o, h, lo, c, v = (_q(x) for x in r[1:])
            cur = out.get(b)
            if cur is None:
                out[b] = [b, o, h, lo, c, v]
            else:
                cur[2], cur[3], cur[4] = max(cur[2], h), min(cur[3], lo), c
                cur[5] += v
        return [tuple(v) for _, v in sorted(out.items())]


class PagingSource:
    """Duck-typed ``fetch_ohlcv`` over a ``CandleModel``, ccxt-shaped.

    A page starting at ``since`` includes the candle at ``since`` (the
    overlap row) and, when it reaches the present, the still-open candle
    (the incomplete tail). When ``redeliver`` is set, the next page
    ignores ``since`` and re-delivers from ``REDELIVER_BACK`` candles
    earlier, as an exchange with coarse cursor handling does; the
    paging loop's overlap filter must drop those rows.
    """

    def __init__(self, model: CandleModel, symbol: str, page_size: int):
        self.model = model
        self.symbol = symbol
        self.page_size = page_size
        self.redeliver = False
        self.calls = 0

    def fetch_ohlcv(self, since_ms: int) -> list[list]:
        self.calls += 1
        start = since_ms
        if self.redeliver:
            self.redeliver = False
            start -= REDELIVER_BACK * TF_MS
        rows = self.model.closed[self.symbol]
        lo = int(np.searchsorted([r[0] for r in rows], start))
        page = [list(r) for r in rows[lo : lo + self.page_size]]
        if len(page) < self.page_size:
            page.append(self.model.forming(self.symbol))
        return page

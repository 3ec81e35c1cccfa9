"""REST paging source (op R1) and the incremental ingest loop (E28s).

The reference's ingest is an infinite poll loop
(`ccxt-ohlcv-fetch.py:110-130`): fetch one ascending page ≥ ``since``
(`get_ohlcv_batch`, `:94-107`), drop the overlap row, advance the
cursor to the last row's timestamp (`:119-120`), trim the incomplete
tail candle (`:122-124`), persist, repeat. Errors back off
(``sleep(300)``, `:27,:99-101`); rate limiting lives in the client
(`enableRateLimit`, `:219`, plus ``EXTRA_RATE_LIMIT`` sleep `:97`).

Shape: the page fetch is inherently driver-side, sequential per
(exchange,symbol,timeframe) — the cursor of page N+1 depends on page N
— and a ccxt page is at most a few hundred rows already in driver
memory. So the loop stays a thin driver loop (exactly like the
reference) and keeps the page there: overlap drop and tail trim are
list filters, the projection builds a pyarrow Table in the storage
schema, and a `SnapshotCandleDataset` commits it without a Spark job
(operators/candle_log.py). Prices outside the range the driver
converts exactly as Spark does go through the DataFrame projection
instead. Fan-out across symbols (the reference's 4-process
``fetch_exchange.sh``) is a driver thread pool; the storage is one
partitioned dataset, so writers never contend.

No live network in this repo: ``FixturePagingSource`` replays a
deterministic candle grid, page-sized like a ccxt response, including
the overlap row the real API returns.
"""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor, as_completed
from contextlib import nullcontext
from dataclasses import dataclass

from pyspark.sql import SparkSession

from ccxt_ohlcv_fetcher_spark.sources.catalog import Catalog

from ccxt_ohlcv_fetcher_spark.functions.timeframe import candle_close_ms
from ccxt_ohlcv_fetcher_spark.operators.ingest import (
    DEFAULT_SINCE_MS,
    CandleDataset,
    ohlcv_page_table,
    project_ohlcv_rows,
)


class FixturePagingSource:
    """Deterministic stand-in for ``exchange.fetch_ohlcv`` (`:98`).

    Serves ascending pages from a precomputed candle grid. Like the real
    API, a page starting at ``since`` *includes* the row at ``since``
    (the overlap the reference strips at `:104`).
    """

    def __init__(self, rows: list[list], page_size: int = 500):
        self.rows = sorted(rows, key=lambda r: r[0])
        self.page_size = page_size
        self.calls = 0

    def fetch_ohlcv(self, since_ms: int) -> list[list]:
        self.calls += 1
        page = [r for r in self.rows if r[0] >= since_ms]
        return page[: self.page_size]


@dataclass
class IngestStats:
    pages: int = 0
    rows_appended: int = 0
    errors: int = 0


def ingest_candles(
    spark: SparkSession,
    source: FixturePagingSource,
    dataset: CandleDataset,
    exchange: str,
    symbol: str,
    timeframe: str,
    now_ms: int,
    since_ms: int | None = None,
    quit_when_caught_up: bool = True,
    max_pages: int = 10_000,
    throttle_secs: float = 0.0,
    error_backoff_secs: float = 300.0,
    max_errors: int = 0,
    write_lock: threading.Lock | None = None,
) -> IngestStats:
    """The reference's ``get_candles`` loop (`:110-130`), Spark-ified.

    Resume order mirrors `check_args` `:275-287`: explicit ``since``
    beats the stored offset beats DEFAULT_SINCE (`:26`). Each page is
    overlap-dropped (R9, `drop_overlap`'s ``ts > since``) and
    tail-trimmed (R10, `drop_incomplete_tail`'s candle-close rule,
    calendar-aware) on the driver, projected (R8) and appended
    idempotently (R2+R3). ``quit_when_caught_up`` is the
    reference's ``-q`` flag (`:128-129`). A fetch error sleeps
    ``error_backoff_secs`` and retries the same cursor (`:27,:99-101`;
    ``max_errors=0`` = retry forever like the reference; tests bound it).
    """
    stats = IngestStats()
    cursor = since_ms
    # True when the row AT the cursor is already persisted (resume) or was
    # seen in the previous page (advance) -> strip it. The reference drops
    # batch[0] unconditionally (`:104`), losing the candle at the initial
    # --since / DEFAULT_SINCE on a fresh start — a quirk we fix (SURVEY
    # §3.1): on an explicit first page the `since` row is kept.
    cursor_row_persisted = False
    if cursor is None:
        cursor = dataset.resume_offset(exchange, symbol, timeframe)
        cursor_row_persisted = cursor is not None
    if cursor is None:
        cursor = DEFAULT_SINCE_MS

    while stats.pages < max_pages:
        if throttle_secs:
            time.sleep(throttle_secs)  # EXTRA_RATE_LIMIT analog (`:97`)
        try:
            page = source.fetch_ohlcv(cursor)
        except Exception:  # noqa: BLE001 — any fetch error: back off, retry (`:99-101`)
            stats.errors += 1
            if max_errors and stats.errors > max_errors:
                raise
            time.sleep(error_backoff_secs)  # DEFAULT_SLEEP_SECONDS (`:27`)
            continue
        stats.pages += 1
        if not page:
            if quit_when_caught_up:
                break
            continue
        closed = [r for r in page if candle_close_ms(r[0], timeframe) <= now_ms]
        rows = [r for r in closed if r[0] > cursor] if cursor_row_persisted else closed
        batch = ohlcv_page_table(rows, exchange, symbol, timeframe)
        if batch is None:
            batch = project_ohlcv_rows(spark, rows, exchange, symbol, timeframe)
        with write_lock or nullcontext():
            stats.rows_appended += dataset.append_idempotent(batch)
        caught_up = (
            candle_close_ms(page[-1][0], timeframe) > now_ms
            or len(page) < source.page_size
        )
        # Advance to the last PERSISTED candle, not the last fetched one:
        # the reference advances `since` before trimming the incomplete
        # tail (`:119-124`), so a continuous (non -q) run re-fetches that
        # candle as the overlap row and strips it forever — the closed
        # version of that candle is never stored. Anchoring the cursor to
        # persisted data re-fetches it until it closes.
        if closed:
            cursor = max(r[0] for r in closed)
            cursor_row_persisted = True
        if caught_up and quit_when_caught_up:
            break
    return stats


def ingest_exchange(
    spark: SparkSession,
    catalog: Catalog,
    sources: dict[str, FixturePagingSource],
    dataset: CandleDataset,
    exchange: str,
    timeframe: str,
    now_ms: int,
    max_workers: int = 4,
    **ingest_kwargs,
) -> dict[str, IngestStats]:
    """Exchange-wide fan-out — ``fetch_exchange.sh`` Spark-ified (R7).

    The reference shards an exchange's symbols over 4 OS processes, one
    SQLite file per symbol (`fetch_exchange.sh:14,18-23`). Here the
    shard is a driver *thread pool* (default width 4, matching
    ``split -n l/4``): SparkSession job submission is thread-safe, page
    fetches for different symbols overlap (the real bottleneck is API
    rate limits, i.e. time spent sleeping), and every symbol writes into
    the ONE partitioned dataset, so "query all symbols" stays a single
    pruned scan instead of an N-file glob.

    Per-symbol validation runs first (R12, `check_args` order: the
    reference validates before fetching). On a plain-parquet
    `CandleDataset`, appends are serialized by a shared lock: parquet
    appends into one root share a ``_temporary`` staging directory, so
    concurrent write *jobs* could clobber each other's staging —
    fetch/transform still overlap, only the commit is single-file. On a
    `SnapshotCandleDataset` (operators/candle_log.py) the lock is
    dropped entirely: every append is an optimistic commit-log
    transaction with conflict-resolving rebase, so the 4-way fan-out
    commits concurrently — the transactional-table-format story,
    in-repo. Fixes `fetch_exchange.sh:21` hardcoding ``-e bitfinex``
    regardless of the requested exchange (SURVEY §3.2).
    """
    from ccxt_ohlcv_fetcher_spark.operators.candle_log import (
        SnapshotCandleDataset,
    )

    symbols = catalog.symbols_of(exchange)
    write_lock = (
        None if isinstance(dataset, SnapshotCandleDataset) else threading.Lock()
    )
    results: dict[str, IngestStats] = {}

    def run(symbol: str) -> IngestStats:
        catalog.validate(exchange, symbol, timeframe)
        return ingest_candles(
            spark,
            sources[symbol],
            dataset,
            exchange,
            symbol,
            timeframe,
            now_ms,
            write_lock=write_lock,
            **ingest_kwargs,
        )

    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        futures = {pool.submit(run, s): s for s in symbols}
        for fut in as_completed(futures):
            results[futures[fut]] = fut.result()
    return results

"""``candle_ingest``: the paper's incremental candle pipeline, write path
first.

A seeded random walk of 1m candles is served page by page through a
duck-typed ``fetch_ohlcv`` source into ``ingest_exchange`` and a fresh
``SnapshotCandleDataset``, one writer thread per symbol (never more than
``nproc``). Phase one backfills several ccxt-sized pages per symbol,
three times over, each time into a fresh table. Phase two continues on
the last table and polls the live tail until the window closes: 1-2
new candles per symbol per poll, a seeded share of polls re-fetching a
few already stored candles, each poll followed by one dashboard tail
read (the latest 60 candles of one symbol plus a 1h
``resample_candles`` of its last six hours, collected).

The unit operation is a new candle's trip to the dashboard: from the
moment the source returns the page holding it to the moment the tail
read that shows it returns. The job is one backfill; its time is the
median of the three.
"""

from __future__ import annotations

import os
import threading
import time

from perfbench.common import Deadline, Run, percentile, summary
from perfbench.fixtures import TF_MS, CandleModel, PagingSource

EXCHANGE = "bitfinex"
SYMBOLS = ["BTC/USD", "ETH/USD"]
TIMEFRAME = "1m"
PAGE_SIZE = 500
BACKFILL_PAGES = 2
# backfills per run, each into a fresh table; a single one is a single
# sample of 5-8 s, which a burst of host load moves as a whole
BACKFILL_ROUNDS = 3
TAIL_CANDLES = 60
TAIL_HOURS = 6
REDELIVER_P = 0.2  # share of live pages served from before the cursor
REFETCH_P = 0.25  # share of live polls that re-fetch stored candles
REFETCH_BACK = 3
HOUR_MS = 3_600_000
# the window runs at least this many polls, however slow the host
MIN_POLLS = 5


class CandleIngest:
    name = "candle_ingest"

    def __init__(self, run: Run):
        self.run = run
        self.table = os.path.join(run.work_dir, "candles")
        self.model = CandleModel(run.seed, list(SYMBOLS))
        self.sources: dict[str, PagingSource] = {}
        self._tl = threading.local()
        self.page_at: dict[str, float] = {}
        self.live = False
        self.commit_ms: list[float] = []
        self.read_ms: list[float] = []
        self.visible_ms: list[float] = []
        self.reads: list[tuple[str, list, list, list, list]] = []
        self.backfill_rows: list[int] = []
        self.backfill_s: list[float] = []
        self.backfill_expected = 0
        self.live_rows = 0
        self.polls = 0
        self.rows_offered = 0
        self.pages = self.empty_pages = 0

    # --- program objects -------------------------------------------------

    def _program(self, symbols: list[str]):
        from ccxt_ohlcv_fetcher_spark.operators.candle_log import SnapshotCandleDataset
        from ccxt_ohlcv_fetcher_spark.sources.catalog import Catalog, ExchangeMeta

        bench = self

        class TimedDataset(SnapshotCandleDataset):
            """Stamps the moment each append returns; nothing else."""

            def append_idempotent(self, batch, *a, **kw):
                n = super().append_idempotent(batch, *a, **kw)
                if bench.live:
                    bench.commit_ms.append((time.perf_counter() - bench._tl.page_at) * 1000)
                return n

        catalog = Catalog({EXCHANGE: ExchangeMeta(EXCHANGE, set(symbols), {TIMEFRAME})})
        return TimedDataset, catalog

    def _source(self, model: CandleModel, symbol: str) -> PagingSource:
        bench = self

        class Source(PagingSource):
            explicit_since = False

            def fetch_ohlcv(self, since_ms: int) -> list[list]:
                page = super().fetch_ohlcv(since_ms)
                # rows the paging loop hands to append_idempotent: closed
                # candles, minus those at or before a resumed cursor
                inclusive, self.explicit_since = self.explicit_since, False
                offered = sum(
                    1 for r in page
                    if r[0] + TF_MS <= model.now_ms and (inclusive or r[0] > since_ms)
                )
                bench.pages += 1
                bench.empty_pages += offered == 0
                bench.rows_offered += offered
                now = time.perf_counter()
                bench._tl.page_at = now
                bench.page_at[self.symbol] = now
                return page

        return Source(model, symbol, PAGE_SIZE)

    # --- phases ----------------------------------------------------------

    def prepare(self, spark) -> None:
        """Inputs are generated while the window runs: the model advances
        as the live tail does."""

    def install_tracing(self, tracer, groups) -> None:
        from ccxt_ohlcv_fetcher_spark.operators import ingest, resample
        from ccxt_ohlcv_fetcher_spark.operators.candle_log import SnapshotCandleDataset
        from ccxt_ohlcv_fetcher_spark.operators.snapshots import SnapshotStore
        from ccxt_ohlcv_fetcher_spark.sources import paging

        def set_root(span):
            tracer.thread_root = span.sid

        def commit_result(args, kwargs, ok, span):
            tracer.count("snapshots.commit_attempts")
            tracer.count("snapshots.commits", bool(ok))

        tracer.wrap_function(paging, "ingest_exchange", "paging.ingest_exchange", before=set_root)
        tracer.wrap_function(paging, "ingest_candles", "paging.loop",
                             before=lambda s: groups.enter_thread())
        tracer.wrap_function(ingest, "project_ohlcv_rows", "ingest.project")
        tracer.wrap_function(ingest, "drop_overlap", "ingest.trim")
        tracer.wrap_function(ingest, "drop_incomplete_tail", "ingest.trim")
        tracer.wrap_function(resample, "resample_candles", "resample.resample_candles")
        tracer.wrap_method(SnapshotCandleDataset, "append_idempotent", "candle_log.append")
        tracer.wrap_method(SnapshotCandleDataset, "resume_offset", "candle_log.resume_offset")
        tracer.wrap_method(SnapshotCandleDataset, "read", "candle_log.read")
        tracer.wrap_method(SnapshotStore, "_try_commit", "snapshots.try_commit",
                           on_result=commit_result)
        tracer.wrap_method(SnapshotStore, "_stage", "snapshots.stage")

    def warmup(self, spark) -> None:
        """Compile the commit, read and resample paths once, on a separate
        table and model. The anti-join against stored keys first runs in
        the first backfill, the slowest of the three, which their median
        leaves out."""
        from ccxt_ohlcv_fetcher_spark.operators.resample import resample_candles
        from ccxt_ohlcv_fetcher_spark.sources.paging import ingest_exchange

        Dataset, catalog = self._program(SYMBOLS)
        model = CandleModel(self.run.seed + 1, list(SYMBOLS))
        model.advance(30)
        ds = Dataset(spark, os.path.join(self.run.work_dir, "warmup-candles"))
        sources = {s: self._source(model, s) for s in SYMBOLS}
        ingest_exchange(spark, catalog, sources, ds, EXCHANGE, TIMEFRAME,
                        model.now_ms, max_workers=self.writers())
        s = SYMBOLS[0]
        ds.read(EXCHANGE, s, TIMEFRAME, since_ms=model.now_ms - 10 * TF_MS).collect()
        resample_candles(ds.read(EXCHANGE, s, TIMEFRAME), "1h").collect()
        self.pages = self.empty_pages = self.rows_offered = 0

    @staticmethod
    def writers() -> int:
        from perfbench.env import nproc

        return min(len(SYMBOLS), nproc())

    def _ingest(self, spark, since_ms: int | None, redeliver: dict[str, bool]) -> int:
        from ccxt_ohlcv_fetcher_spark.sources.paging import ingest_exchange

        for s, src in self.sources.items():
            src.redeliver = redeliver[s]
        kwargs = {} if since_ms is None else {"since_ms": since_ms}
        if since_ms is not None:
            for src in self.sources.values():
                src.explicit_since = True
        stats = ingest_exchange(spark, self.catalog, self.sources, self.ds, EXCHANGE,
                                TIMEFRAME, self.model.now_ms,
                                max_workers=self.writers(), **kwargs)
        return sum(s.rows_appended for s in stats.values())

    def _tail_read(self, spark, symbol: str) -> None:
        from ccxt_ohlcv_fetcher_spark.operators.resample import resample_candles

        now = self.model.now_ms
        hour0 = now - now % HOUR_MS - (TAIL_HOURS - 1) * HOUR_MS
        t0 = time.perf_counter()
        latest = self.ds.read(EXCHANGE, symbol, TIMEFRAME,
                              since_ms=now - TAIL_CANDLES * TF_MS).collect()
        hourly = resample_candles(
            self.ds.read(EXCHANGE, symbol, TIMEFRAME, since_ms=hour0), "1h"
        ).collect()
        t1 = time.perf_counter()
        self.read_ms.append((t1 - t0) * 1000)
        self.visible_ms.append((t1 - self.page_at[symbol]) * 1000)
        self.reads.append((symbol, latest, hourly,
                           self.model.tail(symbol, TAIL_CANDLES),
                           self.model.resample_1h(symbol, hour0)))

    def measure(self, spark, seconds: int, groups) -> None:
        """The backfill jobs, then the live tail for ``seconds``."""
        run = self.run
        Dataset, self.catalog = self._program(SYMBOLS)
        self.sources = {s: self._source(self.model, s) for s in SYMBOLS}
        # full pages (each after the first repeats its cursor row), then
        # the caught-up page with nothing new
        self.model.advance(BACKFILL_PAGES * (PAGE_SIZE - 1) + 1)
        self.backfill_expected = sum(len(v) for v in self.model.closed.values())

        for i in range(BACKFILL_ROUNDS):
            last = i == BACKFILL_ROUNDS - 1
            self.ds = Dataset(spark, self.table if last
                              else os.path.join(run.work_dir, f"backfill-{i}"))
            groups.begin()
            t0 = time.perf_counter()
            self.backfill_rows.append(run.op("backfill", self._ingest, spark, None,
                                             dict.fromkeys(SYMBOLS, False)) or 0)
            self.backfill_s.append(time.perf_counter() - t0)
            groups.end()

        self.live = True
        deadline = Deadline(seconds)
        while deadline.left() > 0 or self.polls < MIN_POLLS:
            self.model.advance(int(run.rng.integers(1, 3)))
            refetch = run.rng.random() < REFETCH_P
            since = self.model.now_ms - (REFETCH_BACK + 2) * TF_MS if refetch else None
            symbol = SYMBOLS[int(run.rng.integers(0, len(SYMBOLS)))]
            groups.begin()
            redeliver = {s: bool(run.rng.random() < REDELIVER_P) for s in SYMBOLS}
            self.live_rows += run.op("live commit", self._ingest, spark, since, redeliver) or 0
            run.op("tail read", self._tail_read, spark, symbol)
            groups.end()
            self.polls += 1

    def verify(self, spark) -> None:
        from pyspark.sql import functions as F

        from ccxt_ohlcv_fetcher_spark.operators.candle_log import KEY_COLS

        run = self.run
        expected = sum(len(v) for v in self.model.closed.values())
        table = self.ds.read()
        n = table.count()
        run.check("row count", n == expected, f"table={n} model={expected}")
        for i, rows in enumerate(self.backfill_rows):
            run.check(f"backfill {i} rows appended", rows == self.backfill_expected,
                      f"appended={rows} model={self.backfill_expected}")
        appended = self.backfill_rows[-1] + self.live_rows
        run.check("rows appended", appended == expected,
                  f"appended={appended} model={expected}")
        dups = table.groupBy(*KEY_COLS).count().filter(F.col("count") > 1).count()
        run.check("duplicate keys", dups == 0, f"{dups} duplicated keys")
        for s in SYMBOLS:
            got = self.ds.resume_offset(EXCHANGE, s, TIMEFRAME)
            want = self.model.closed[s][-1][0]
            run.check(f"resume_offset {s}", got == want, f"got={got} want={want}")
        cols = ("timestamp", "open", "high", "low", "close", "volume")
        for symbol, latest, hourly, want_latest, want_hourly in self.reads:
            got_latest = sorted(tuple(r[c] for c in cols) for r in latest)
            got_hourly = sorted(tuple(r[c] for c in cols) for r in hourly)
            run.check(f"tail read {symbol}", got_latest == want_latest,
                      f"{len(got_latest)} rows vs {len(want_latest)}")
            run.check(f"tail 1h resample {symbol}", got_hourly == want_hourly,
                      f"{len(got_hourly)} rows vs {len(want_hourly)}")

    # --- results ----------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        return {"op_p50_ms": percentile(self.visible_ms, 50),
                "job_s": percentile(self.backfill_s, 50)}

    def details(self) -> dict:
        return {
            "backfill_rows_per_s": self.backfill_expected / percentile(self.backfill_s, 50),
            "backfill_rows": self.backfill_expected,
            "backfill_s": self.backfill_s,
            "live_commit_ms": summary(self.commit_ms),
            "tail_read_ms": summary(self.read_ms),
            "candle_visible_ms": summary(self.visible_ms),
            "polls": self.polls,
            "live_rows": self.live_rows,
        }

    def layers(self, tracer) -> dict[str, float]:
        from ccxt_ohlcv_fetcher_spark.operators.candle_log import SnapshotCandleDataset

        ds = getattr(self, "ds", None)
        frag = ds.fragmentation() if ds is not None else {}
        manifest_dir = os.path.join(self.table, "_manifests")
        manifest_bytes = sum(
            os.path.getsize(os.path.join(manifest_dir, f)) for f in os.listdir(manifest_dir)
        ) if os.path.isdir(manifest_dir) else 0
        disk = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(self.table) for f in fs
        ) if os.path.isdir(self.table) else 0
        live_bytes = 0
        if ds is not None and isinstance(ds, SnapshotCandleDataset):
            for f in ds.store.manifest()["files"]:
                p = f if os.path.isabs(f) else os.path.join(self.table, f)
                if os.path.exists(p):
                    live_bytes += os.path.getsize(p)
        appended = sum(self.backfill_rows) + self.live_rows
        attempts = tracer.counters.get("snapshots.commit_attempts", 0)
        commits = tracer.counters.get("snapshots.commits", 0)
        append_ms = tracer.durations_ms("candle_log.append")
        return {
            "paging.pages": self.pages,
            "paging.empty_page_ratio": self.empty_pages / self.pages if self.pages else 0.0,
            "paging.loop_self_ms": tracer.self_ms().get("paging.loop", 0.0),
            "ingest.project_ms": sum(tracer.durations_ms("ingest.project")),
            "ingest.trim_ms": sum(tracer.durations_ms("ingest.trim")),
            "candle_log.append_calls": len(append_ms),
            "candle_log.append_p50_ms": percentile(append_ms, 50) if append_ms else 0.0,
            "candle_log.append_p90_ms": percentile(append_ms, 90) if append_ms else 0.0,
            "candle_log.rows_offered": self.rows_offered,
            "candle_log.rows_appended": appended,
            "candle_log.dedup_hit_ratio": 1 - appended / self.rows_offered if self.rows_offered else 0.0,
            "candle_log.resume_offset_p50_ms": _p50(tracer.durations_ms("candle_log.resume_offset")),
            "candle_log.read_p50_ms": _p50(tracer.durations_ms("candle_log.read")),
            "candle_log.files_per_key_max": frag.get("max_files_per_key", 0),
            "candle_log.n_files": frag.get("n_files", 0),
            "snapshots.commits": commits,
            "snapshots.commit_attempts": attempts,
            "snapshots.cas_retry_ratio": (attempts - commits) / attempts if attempts else 0.0,
            "snapshots.manifest_bytes": manifest_bytes,
            "snapshots.disk_bytes_per_user_byte": disk / live_bytes if live_bytes else 0.0,
            "resample.p50_ms": _p50(tracer.durations_ms("resample.resample_candles")),
        }


def _p50(values: list[float]) -> float:
    return percentile(values, 50) if values else 0.0

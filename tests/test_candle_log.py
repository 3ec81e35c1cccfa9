"""Snapshot-logged candle ingest (operators/candle_log.py): the four
reference ingest invariants under the commit log, plus the concurrency
properties the log adds — conflict-resolving rebase for overlapping
keys, stats-only resume, metadata-only retention, time travel, and a
randomized interleaved-writer linearizability check over candle
batches (the VERDICT item: the reference's 4-worker fan-out,
fetch_exchange.sh:18-23, means concurrent writers into ONE dataset).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from ccxt_ohlcv_fetcher_spark.operators.candle_log import (
    SnapshotCandleDataset,
)
from ccxt_ohlcv_fetcher_spark.operators.ingest import project_ohlcv_rows

T0 = 1700000000 * 1000 - (1700000000 % 60) * 1000
MIN = 60_000


def grid(n: int, t0: int = T0) -> list[list]:
    return [
        [t0 + i * MIN, 100.0 + i, 101.0 + i, 99.0 + i, 100.5 + i, 10.0 * (i + 1)]
        for i in range(n)
    ]


def batch(spark, lo: int, hi: int, symbol: str = "XRP/USD", exchange: str = "e"):
    rows = grid(hi - lo, t0=T0 + lo * MIN)
    return project_ohlcv_rows(spark, rows, exchange, symbol, "1m")


@pytest.fixture()
def ds(spark, tmp_path):
    return SnapshotCandleDataset(spark, str(tmp_path / "candles"))


def test_append_read_resume_roundtrip(spark, ds):
    assert ds.resume_offset("e", "XRP/USD", "1m") is None
    assert ds.append_idempotent(batch(spark, 0, 5)) == 5
    assert ds.append_idempotent(batch(spark, 5, 8)) == 3
    assert ds.read().count() == 8
    assert ds.resume_offset("e", "XRP/USD", "1m") == T0 + 7 * MIN
    # re-appending an identical batch is a no-op (INSERT OR IGNORE, :71-75)
    assert ds.append_idempotent(batch(spark, 0, 5)) == 0
    assert ds.read().count() == 8
    # partial overlap: only the new tail lands
    assert ds.append_idempotent(batch(spark, 6, 10)) == 2
    assert ds.read().count() == 10


def test_resume_offset_is_stats_only(spark, ds, monkeypatch):
    """After per-key staging, resume must come from the manifest alone
    — no Spark job. Poison spark.read to prove no data I/O happens."""
    ds.append_idempotent(batch(spark, 0, 5))
    ds.append_idempotent(batch(spark, 0, 3, symbol="BTC/USD"))

    def boom(*a, **k):  # pragma: no cover - must not be reached
        raise AssertionError("resume_offset touched data files")

    monkeypatch.setattr(ds.spark.read, "parquet", boom)
    assert ds.resume_offset("e", "XRP/USD", "1m") == T0 + 4 * MIN
    assert ds.resume_offset("e", "BTC/USD", "1m") == T0 + 2 * MIN
    assert ds.resume_offset("e", "DOGE/USD", "1m") is None


def test_read_prunes_files_from_manifest(spark, ds):
    ds.append_idempotent(batch(spark, 0, 5))
    ds.append_idempotent(batch(spark, 0, 5, symbol="BTC/USD"))
    ds.append_idempotent(batch(spark, 5, 9))
    # symbol filter keeps only that symbol's files
    files = ds.store.pruned_files({"symbol": ("BTCUSD", "BTCUSD")})
    all_files = ds.store.manifest()["files"]
    assert 0 < len(files) < len(all_files)
    assert ds.read(symbol="BTC/USD").count() == 5
    # time filter prunes the older commit's files
    tail = ds.store.pruned_files({"timestamp": (T0 + 5 * MIN, None)})
    assert len(tail) < len(all_files)
    assert ds.read(symbol="XRP/USD", since_ms=T0 + 5 * MIN).count() == 4


def test_concurrent_overlapping_appends_keep_pk_unique(spark, tmp_path):
    """Two writers race appends with OVERLAPPING timestamps: the loser
    rebases, detects the key conflict in the winner's delta, re-stages
    minus the conflicts — PK uniqueness holds with no lock."""
    path = str(tmp_path / "candles")
    a, b = SnapshotCandleDataset(spark, path), SnapshotCandleDataset(spark, path)
    a.append_idempotent(batch(spark, 0, 5))

    class Racy(SnapshotCandleDataset):
        def __init__(self, spark, path, sneak):
            super().__init__(spark, path)
            self._sneak = sneak
            self._fired = False
            store = self.store
            outer = self
            orig = store._try_commit

            def hooked(base, files, op, txn=None):
                if op == "append" and not outer._fired:
                    outer._fired = True
                    outer._sneak()  # winner commits rows [5, 8) first
                    return False
                return orig(base, files, op, txn=txn)

            store._try_commit = hooked

    racy = Racy(
        spark, path, sneak=lambda: b.append_idempotent(batch(spark, 5, 8))
    )
    # loser carries rows [5, 10): 3 conflict with the winner, 2 survive
    n = racy.append_idempotent(batch(spark, 5, 10))
    assert n == 2
    df = a.read()
    assert df.count() == 10
    # exactly one row per timestamp — the reference's PK invariant
    dup = df.groupBy("timestamp").count().filter(F.col("count") > 1)
    assert dup.count() == 0


def test_txn_makes_streaming_batches_exactly_once(spark, ds):
    assert ds.append_idempotent(batch(spark, 0, 4), txn=("w1", 0)) == 4
    # re-delivered batch id: skipped by the log, not by content
    assert ds.append_idempotent(batch(spark, 0, 4), txn=("w1", 0)) == 0
    assert ds.append_idempotent(batch(spark, 4, 6), txn=("w1", 1)) == 2
    assert ds.read().count() == 6


def test_time_travel_and_retention(spark, ds):
    v1_rows = batch(spark, 0, 5)
    ds.append_idempotent(v1_rows)
    ds.append_idempotent(batch(spark, 5, 9))
    head = ds.store.latest_version()
    assert ds.read(version=head - 1).count() == 5  # time travel
    # metadata-only retention: drop files wholly older than the cutoff
    dropped = ds.retention(older_than_ms=T0 + 5 * MIN)
    assert dropped >= 1
    assert ds.read().count() == 4
    assert ds.read().agg(F.min("timestamp")).collect()[0][0] == T0 + 5 * MIN
    # physical space returns at vacuum (age gate bypassed for the test)
    assert len(ds.vacuum(min_age_seconds=0)) >= 1
    assert ds.read().count() == 4


def test_compact_clusters_and_keeps_stats_pruning(spark, ds):
    for lo in range(0, 12, 3):
        ds.append_idempotent(batch(spark, lo, lo + 3))
        ds.append_idempotent(batch(spark, lo, lo + 3, symbol="BTC/USD"))
    n_files_before = len(ds.store.manifest()["files"])
    ds.compact()
    m = ds.store.manifest()
    assert len(m["files"]) < n_files_before
    assert ds.read().count() == 24
    # compacted files carry fresh stats; per-symbol pruning still works
    files = ds.store.pruned_files({"symbol": ("BTCUSD", "BTCUSD")})
    assert 0 < len(files) < len(m["files"]) or len(m["files"]) == 1
    assert ds.resume_offset("e", "BTC/USD", "1m") == T0 + 11 * MIN


def test_random_interleaved_candle_writers_never_lose_or_dup(spark, tmp_path):
    """Linearizability over candle ingest: writers append batches with
    random overlaps in a random (seeded) interleaving; the final table
    must hold exactly the union of all timestamps, each once."""
    import random

    rng = random.Random(23)
    path = str(tmp_path / "candles")
    writers = [SnapshotCandleDataset(spark, path) for _ in range(3)]
    # overlapping windows: [0,6) [4,10) [8,14) [2,8) [12,16)
    windows = [(0, 6), (4, 10), (8, 14), (2, 8), (12, 16)]
    rng.shuffle(windows)
    expected = set()
    for i, (lo, hi) in enumerate(windows):
        w = writers[i % len(writers)]
        n = w.append_idempotent(batch(spark, lo, hi))
        newly = {T0 + k * MIN for k in range(lo, hi)} - expected
        assert n == len(newly)
        expected |= newly
    df = writers[0].read()
    got = [r["timestamp"] for r in df.select("timestamp").collect()]
    assert sorted(got) == sorted(expected)
    # one row per key, decimal prices intact
    assert df.groupBy("timestamp").count().filter(F.col("count") > 1).count() == 0
    assert dict(df.dtypes)["open"].startswith("decimal")


def test_exchange_fanout_lockfree_on_snapshot_dataset(spark, ds):
    """fetch_exchange.sh analog on the commit log: 5 symbols, 4 worker
    threads, NO write lock — concurrent appends land via CAS rebase,
    totals add up, resume makes the re-run a no-op."""
    from ccxt_ohlcv_fetcher_spark.sources.catalog import Catalog, ExchangeMeta
    from ccxt_ohlcv_fetcher_spark.sources.paging import (
        FixturePagingSource,
        ingest_exchange,
    )

    symbols = [f"C{i}/USD" for i in range(5)]
    catalog = Catalog(
        {"kraken": ExchangeMeta("kraken", symbols=set(symbols), timeframes={"1m"})}
    )
    n_rows = 40
    now = T0 + n_rows * MIN
    sources = {
        s: FixturePagingSource(
            [
                [T0 + j * MIN, 1000.0 * i + j, 1000.0 * i + j + 1,
                 1000.0 * i + j - 1, 1000.0 * i + j, 5.0]
                for j in range(n_rows)
            ],
            page_size=25,
        )
        for i, s in enumerate(symbols)
    }
    stats = ingest_exchange(spark, catalog, sources, ds, "kraken", "1m", now_ms=now)
    assert all(st.rows_appended == n_rows for st in stats.values())
    assert ds.read(exchange="kraken").count() == 5 * n_rows
    # every commit in the log is an append; one consistent head
    assert {h["operation"] for h in ds.store.history()} == {"append"}
    rerun = ingest_exchange(spark, catalog, sources, ds, "kraken", "1m", now_ms=now)
    assert all(st.rows_appended == 0 for st in rerun.values())
    # per-symbol resume offsets answered from the manifest
    for s in symbols:
        assert ds.resume_offset("kraken", s, "1m") == T0 + (n_rows - 1) * MIN


def test_crashed_writer_files_invisible_and_reclaimable(spark, ds):
    ds.append_idempotent(batch(spark, 0, 4))
    # simulate a crash between stage and CAS
    ds.store._stage(batch(spark, 4, 8))
    assert ds.read().count() == 4
    assert ds.vacuum() == []  # age gate protects a possibly-live writer
    assert len(ds.vacuum(min_age_seconds=0)) == 1
    assert ds.read().count() == 4
    assert os.path.isdir(ds.path)


def test_restate_corrects_closed_candles(spark, ds):
    """restate(): matched keys take the revised OHLCV values (the
    correction path append_idempotent deliberately refuses), unseen
    keys insert, resume offset reflects any new tail, and the signed
    change feed carries -old/+new for downstream consumers."""
    from pyspark.sql import functions as F

    ds.append_idempotent(batch(spark, 0, 6))
    revised = batch(spark, 3, 7).withColumn(
        "close", (F.col("close") + 100).cast("decimal(38,12)")
    )
    r = ds.restate(revised)
    assert (r["matched"], r["inserted"]) == (3, 1)
    got = {
        row["timestamp"]: float(row["close"])
        for row in ds.read().collect()
    }
    assert len(got) == 7
    head = {
        row["timestamp"]: float(row["close"])
        for row in batch(spark, 0, 6).collect()
        if row["timestamp"] < T0 + 3 * MIN
    }
    rev = {
        row["timestamp"]: float(row["close"]) for row in revised.collect()
    }
    assert got == {**head, **rev}
    assert ds.resume_offset("e", "XRP/USD", "1m") == T0 + 6 * MIN
    ch = ds.store.read_row_changes(1).groupBy("_change").count().collect()
    assert {row["_change"]: row["count"] for row in ch} == {1: 4, -1: 3}
    # re-appending the ORIGINAL batch stays a no-op: restated values win
    assert ds.append_idempotent(batch(spark, 0, 6)) == 0
    got2 = {
        row["timestamp"]: float(row["close"]) for row in ds.read().collect()
    }
    assert got2 == got


def test_ohlcv_constraints_block_bad_candles(spark, tmp_path):
    from ccxt_ohlcv_fetcher_spark.operators.snapshots import (
        ConstraintViolation,
    )

    ds = SnapshotCandleDataset(spark, str(tmp_path / "t"))
    ds.append_idempotent(batch(spark, 0, 5))
    ds.enable_ohlcv_constraints()
    # an inverted candle (low above the body) must be refused atomically
    bad = project_ohlcv_rows(
        spark,
        [[T0 + 100 * MIN, 100.0, 101.0, 100.5, 100.2, 5.0]],  # low > close
        "e", "XRP/USD", "1m",
    )
    with pytest.raises(ConstraintViolation, match="low_le_body"):
        ds.append_idempotent(bad)
    assert ds.read().count() == 5
    # well-formed candles still flow
    ds.append_idempotent(batch(spark, 5, 8))
    assert ds.read().count() == 8


def test_dv_delete_then_refetch_lands_corrected_row(spark, ds):
    """ADVICE r6 (high): existing-key reads must be DV-aware. After a
    bad candle is removed with delete_where_dv (merge-on-read), its key
    still sits in the physical file — a DV-blind idempotency anti-join
    would silently drop the re-ingested corrected row, and a stats-only
    resume would report the DELETED candle as the newest offset."""
    ds.append_idempotent(batch(spark, 0, 5))
    bad_ts = T0 + 4 * MIN
    ds.delete_where_dv(f"timestamp = {bad_ts}")
    assert ds.read().count() == 4
    # resume: the DV'd file is inconclusive for stats-only, and the
    # data-scan fallback must not see the deleted row
    assert ds.resume_offset("e", "XRP/USD", "1m") == T0 + 3 * MIN
    # refetch the window containing the corrected candle: it must LAND
    assert ds.append_idempotent(batch(spark, 3, 5)) == 1
    assert ds.read().count() == 5
    assert ds.read(since_ms=bad_ts).count() == 1
    # and resume moves forward again
    assert ds.resume_offset("e", "XRP/USD", "1m") == bad_ts


def test_compact_auto_fragmentation_trigger(spark, ds):
    """compact --auto's other half: the manifest-only fragmentation
    report counts files per key, and when_files_per_key_above compacts
    only once a key's file count exceeds the threshold — a healthy
    table is a true no-op."""
    for lo in range(0, 12, 3):  # 4 appends -> ~4 files for the one key
        ds.append_idempotent(batch(spark, lo, lo + 3))
    frag = ds.fragmentation()
    assert frag["max_files_per_key"] >= 4
    assert sum(frag["files_per_key"].values()) == frag["n_files"]

    head = ds.store.latest_version()
    # healthy by a loose threshold -> no commit
    assert ds.compact(when_files_per_key_above=10) is None
    assert ds.store.latest_version() == head
    # fragmented by a tight threshold -> compacts, data unchanged
    v = ds.compact(when_files_per_key_above=2)
    assert v == ds.store.latest_version()
    assert ds.fragmentation()["max_files_per_key"] == 1
    assert ds.read().count() == 12
    # post-compact the same trigger is quiet again
    assert ds.compact(when_files_per_key_above=2) is None


def test_retention_neutralizes_stale_pending_mapping(spark, ds):
    """ADVICE r11: a FAILED evolving append can leave a stale
    _pending_column_mapping (with fresh uncommitted physical names)
    on the store instance; a later retention commit must NOT stamp it
    into the manifest — retention is metadata-only over files, like
    add_constraint."""
    ds.append_idempotent(batch(spark, 0, 5))
    ds.append_idempotent(batch(spark, 5, 9))
    ds.store._pending_column_mapping = {"timestamp": "col-deadbeef"}
    ds.store._pending_cm_burned = ["col-cafebabe"]
    assert ds.retention(older_than_ms=T0 + 5 * MIN) >= 1
    m = ds.store.manifest()
    assert not m.get("column_mapping")
    assert not m.get("column_mapping_burned")
    assert ds.read().count() == 4


def test_two_writer_threads_share_one_store(spark, ds):
    """Per-call stage state is per writer thread: two threads making
    repeated DataFrame appends of disjoint keys through ONE dataset
    both stage before either commits (a barrier holds them), and every
    committed file still carries its own `_rows`/`_bytes` stats."""
    import threading

    barrier = threading.Barrier(2, timeout=120)
    stage = ds.store._stage

    def stage_then_wait(*a, **kw):
        files = stage(*a, **kw)
        barrier.wait()
        return files

    ds.store._stage = stage_then_wait
    errors: list[Exception] = []

    def writer(symbol: str) -> None:
        try:
            for lo in range(0, 12, 3):
                assert ds.append_idempotent(batch(spark, lo, lo + 3, symbol=symbol)) == 3
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)
            barrier.abort()

    threads = [threading.Thread(target=writer, args=(s,)) for s in ("A/USD", "B/USD")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert ds.read().count() == 24
    m = ds.store.manifest()
    for f in m["files"]:
        assert {"_rows", "_bytes"} <= set(m["stats"][f]), f
    assert sum(m["stats"][f]["_rows"] for f in m["files"]) == 24


def _page(rows, symbol="XRP/USD", exchange="e"):
    from ccxt_ohlcv_fetcher_spark.operators.ingest import ohlcv_page_table

    return ohlcv_page_table(rows, exchange, symbol, "1m")


def _jobs_during(spark, fn):
    """(fn's result, number of Spark jobs it ran on this thread)."""
    sc = spark.sparkContext
    group = f"probe-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_arrow_page_commits_without_spark_job(spark, ds):
    """A driver-held page goes from anti-join to commit with no Spark
    job: pyarrow key reads, one sorted file per key, manifest-only
    stats."""
    ds.append_idempotent(batch(spark, 0, 5))
    n, jobs = _jobs_during(spark, lambda: ds.append_idempotent(_page(grid(4, T0 + 3 * MIN))))
    assert (n, jobs) == (2, 0)
    # two keys in one table: one file per key, each single-keyed
    two = pa.concat_tables([_page(grid(2, T0 + 7 * MIN)), _page(grid(2), symbol="BTC/USD")])
    n, jobs = _jobs_during(spark, lambda: ds.append_idempotent(two))
    assert (n, jobs) == (4, 0)
    assert ds.read().count() == 11
    assert ds.fragmentation()["files_per_key"].get(None) is None
    assert ds.resume_offset("e", "BTC/USD", "1m") == T0 + MIN
    assert ds.append_idempotent(two) == 0


def test_arrow_page_fallback_triggers(spark, tmp_path):
    """Table features on the driver path: deletion vectors on a
    candidate file send the page to the Spark anti-join (the corrected
    candle lands), CHECK constraints refuse an inverted candle
    atomically, and column mapping reads and writes physical names
    with no Spark job."""
    from ccxt_ohlcv_fetcher_spark.operators.snapshots import ConstraintViolation

    # deletion vectors: delete-then-refetch lands the corrected row
    ds = SnapshotCandleDataset(spark, str(tmp_path / "dv"))
    ds.append_idempotent(_page(grid(5)))
    bad_ts = T0 + 4 * MIN
    ds.delete_where_dv(f"timestamp = {bad_ts}")
    n, jobs = _jobs_during(spark, lambda: ds.append_idempotent(_page(grid(2, T0 + 3 * MIN))))
    assert n == 1 and jobs > 0
    assert ds.read().count() == 5
    assert ds.resume_offset("e", "XRP/USD", "1m") == bad_ts

    # constraints: inverted candle refused, well-formed pages still flow
    ds = SnapshotCandleDataset(spark, str(tmp_path / "ck"))
    ds.append_idempotent(_page(grid(5)))
    ds.enable_ohlcv_constraints()
    with pytest.raises(ConstraintViolation, match="low_le_body"):
        ds.append_idempotent(_page([[T0 + 100 * MIN, 100.0, 101.0, 100.5, 100.2, 5.0]]))
    assert ds.read().count() == 5
    assert ds.append_idempotent(_page(grid(3, T0 + 5 * MIN))) == 3
    assert ds.read().count() == 8

    # column mapping: appended pages read back under logical names
    ds = SnapshotCandleDataset(spark, str(tmp_path / "cm"))
    ds.append_idempotent(_page(grid(5)))
    ds.store.enable_column_mapping()
    n, jobs = _jobs_during(spark, lambda: ds.append_idempotent(_page(grid(4, T0 + 3 * MIN))))
    assert (n, jobs) == (2, 0)
    got = sorted((r["timestamp"], float(r["close"])) for r in ds.read().collect())
    assert got == [(r[0], r[4]) for r in grid(5) + grid(4, T0 + 3 * MIN)[2:]]
    assert ds.resume_offset("e", "XRP/USD", "1m") == T0 + 6 * MIN


def test_refetch_over_long_history_reads_only_the_page_range(spark, ds, monkeypatch):
    """An explicit-``since`` refetch deep in a stored history checks its
    keys against the files its page spans, and reads from them only the
    keys inside the page's timestamp range, from files of both writers
    (Spark-written and driver-written)."""
    import pyarrow.parquet as pq

    for lo in range(0, 600, 100):
        ds.append_idempotent(batch(spark, lo, lo + 100) if lo % 200 else _page(grid(100, T0 + lo * MIN)))
    read: list[int] = []
    real = pq.read_table

    def counting(*a, **kw):
        t = real(*a, **kw)
        read.append(t.num_rows)
        return t

    monkeypatch.setattr(pq, "read_table", counting)
    assert ds.append_idempotent(_page(grid(20, T0 + 150 * MIN))) == 0
    assert read == [20]
    read.clear()
    assert ds.append_idempotent(_page(grid(20, T0 + 190 * MIN))) == 0
    assert sorted(read) == [10, 10]
    monkeypatch.undo()
    assert ds.read().count() == 600
    assert ds.fragmentation()["n_files"] == 6


def test_arrow_and_frame_paths_store_the_same_table(spark, tmp_path, monkeypatch):
    """One page sequence — overlap rows, open tail candles, re-delivered
    pages, explicit-``since`` refetches, two writer threads — through
    the driver path and through the DataFrame path stores the same
    table: rows, resume offsets, manifest schema, files per key."""
    from ccxt_ohlcv_fetcher_spark.sources import paging
    from ccxt_ohlcv_fetcher_spark.sources.catalog import Catalog, ExchangeMeta

    symbols = ["A/USD", "B/USD"]
    catalog = Catalog({"x": ExchangeMeta("x", symbols=set(symbols), timeframes={"1m"})})
    rows = {
        s: [[T0 + j * MIN, 1000.0 * i + j * 0.37, 1000.0 * i + j + 1.125,
             1000.0 * i + j - 1.5, 1000.0 * i + j + 0.1, 5.0 + j / 3]
            for j in range(80)]
        for i, s in enumerate(symbols)
    }

    class Source(paging.FixturePagingSource):
        redeliver = False

        def fetch_ohlcv(self, since_ms):
            if self.redeliver:  # a stale page from before the cursor
                self.redeliver = False
                since_ms -= 7 * MIN
            return super().fetch_ohlcv(since_ms)

    def run(ds):
        sources = {s: Source(rows[s], page_size=25) for s in symbols}

        def poll(now, **kw):
            paging.ingest_exchange(spark, catalog, sources, ds, "x", "1m", now_ms=now,
                                   max_workers=2, **kw)

        poll(T0 + 50 * MIN + 30_000)  # backfill; candle 50 still open
        for s in sources.values():
            s.redeliver = True
        poll(T0 + 53 * MIN)
        poll(T0 + 56 * MIN + 1, since_ms=T0 + 51 * MIN)  # explicit refetch
        poll(T0 + 80 * MIN)
        return ds

    arrow = run(SnapshotCandleDataset(spark, str(tmp_path / "arrow")))
    monkeypatch.setattr(paging, "ohlcv_page_table", lambda *a: None)
    frame = run(SnapshotCandleDataset(spark, str(tmp_path / "frame")))

    def rows_of(ds):
        return sorted(tuple(r) for r in ds.read().collect())

    assert rows_of(arrow) == rows_of(frame)
    assert len(rows_of(arrow)) == 160
    for s in symbols:
        assert arrow.resume_offset("x", s, "1m") == frame.resume_offset("x", s, "1m") == T0 + 79 * MIN
    assert arrow.store.manifest()["schema"] == frame.store.manifest()["schema"]
    assert arrow.fragmentation() == frame.fragmentation()

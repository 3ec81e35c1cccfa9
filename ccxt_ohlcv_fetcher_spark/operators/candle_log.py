"""Snapshot-logged candle dataset: `CandleDataset`'s ingest contract
(R2/R3/R4/R6 — append-idempotent, resume offset, pruned reads) on top
of the `SnapshotStore` commit log, giving concurrent multi-writer
atomicity, time travel, and metadata-only retention.

Why this exists: the reference fans out FOUR worker processes per
exchange (`fetch_exchange.sh:18-23`), all appending into the same
storage tree. `CandleDataset` writes bare partitioned parquet, so
concurrent appenders share one `_temporary` staging dir and must be
serialized behind a lock (`sources/paging.py:ingest_exchange`). Here
every append is an optimistic commit-log transaction (stage → CAS →
rebase), so N writers append concurrently with no lock, readers always
see a consistent snapshot, and a crashed writer leaves only
unreferenced (vacuumable) files — the warehouse-grade translation of
the reference's one-SQLite-file-per-worker isolation.

Key-level idempotency (the reference's INSERT-OR-IGNORE, `ccxt-ohlcv-
fetch.py:71-75`) survives concurrency via Delta-style conflict
resolution on rebase: a writer that loses the CAS re-checks the
winner's delta files for overlapping (exchange,symbol,timeframe,
timestamp) keys and re-stages minus the conflicts, so the PK-uniqueness
invariant holds under any interleaving — not just under a lock.

Two batch kinds share that protocol. A DataFrame (streaming sinks,
migration, restatement inputs) is anti-joined and staged by Spark
jobs. A pyarrow Table — the page the paging loop already holds on the
driver, at most a few hundred rows — is anti-joined against pyarrow
reads of the candidate files' key columns and staged as one sorted
parquet file per key, so a page goes from fetch to commit without a
Spark job; per-job scheduling, not data volume, was the cost of a
live append. A candidate file carrying deletion vectors turns the
Table into a DataFrame for that anti-join, since only the Spark read
applies them.

File pruning comes from per-file min/max stats recorded in the
manifest (`SnapshotStore(stats_cols=...)`), replacing `CandleDataset`'s
Hive `dt=` directory pruning: partition values live as ordinary data
columns, and the log's stats answer "which files can hold symbol S
after T" with zero storage I/O. `resume_offset` is answered from the
manifest alone when file stats are conclusive — the 100 TB analog of
the reference's indexed `ORDER BY timestamp DESC LIMIT 1` (`:86-91`).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ccxt_ohlcv_fetcher_spark.operators.ingest import (
    PARTITION_COLS,
    normalize_symbol,
)
from ccxt_ohlcv_fetcher_spark.operators.snapshots import (
    CommitConflict,
    SnapshotStore,
)

KEY_COLS = (*PARTITION_COLS, "timestamp")
STATS_COLS = KEY_COLS


class SnapshotCandleDataset:
    """Same logical contract as `operators.ingest.CandleDataset`, backed
    by the commit log. All appends are atomic and lock-free; reads are
    snapshot-isolated and support ``version=`` time travel."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.store = SnapshotStore(spark, path, stats_cols=list(STATS_COLS))

    # --- reads ------------------------------------------------------------

    def _ranges(
        self,
        exchange: str | None,
        symbol: str | None,
        timeframe: str | None,
        since_ms: int | None,
        until_ms: int | None,
    ) -> dict[str, tuple]:
        ranges: dict[str, tuple] = {}
        if symbol is not None:
            symbol = normalize_symbol(symbol)
        for col, val in zip(PARTITION_COLS, (exchange, symbol, timeframe)):
            if val is not None:
                ranges[col] = (val, val)
        if since_ms is not None or until_ms is not None:
            ranges["timestamp"] = (since_ms, until_ms)
        return ranges

    def _exists(self) -> bool:
        """Duck-type parity with ``CandleDataset._exists`` (rollup
        refresh probes it before reading): a logged table exists once it
        has a commit — a metadata read, no filesystem listing."""
        return self.store.latest_version() > 0

    def read(
        self,
        exchange: str | None = None,
        symbol: str | None = None,
        timeframe: str | None = None,
        since_ms: int | None = None,
        until_ms: int | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Stats-pruned snapshot read: file set chosen from the manifest
        (no listing, no footer I/O), residual predicates trimmed by
        Spark's row-group pushdown within the surviving files."""
        ranges = self._ranges(exchange, symbol, timeframe, since_ms, until_ms)
        files = self.store.pruned_files(ranges, version=version)
        if not files:
            # preserve the schema for empty results when the table has one
            df = self.store.read(version=version).limit(0)
        else:
            # manifest-schema read: no footer inference at plan time,
            # robust if the table schema ever evolves, and DV-aware
            # (deletion vectors of pruned-in files anti-joined out)
            df = self.store._read_files_live(
                files, self.store.manifest(version)
            )
        if symbol is not None:
            symbol = normalize_symbol(symbol)
        for col, val in zip(PARTITION_COLS, (exchange, symbol, timeframe)):
            if val is not None:
                df = df.filter(F.col(col) == val)
        if since_ms is not None:
            df = df.filter(F.col("timestamp") >= since_ms)
        if until_ms is not None:
            df = df.filter(F.col("timestamp") <= until_ms)
        return df

    def resume_offset(
        self, exchange: str, symbol: str, timeframe: str
    ) -> int | None:
        """R4: newest stored epoch-ms for the key, or None.

        Answered from manifest stats ALONE when every candidate file is
        single-keyed (its min==max on all three partition cols) — zero
        data I/O, the log is the index. Falls back to a pruned data scan
        when some candidate file mixes keys and stats are inconclusive.
        """
        if self.store.latest_version() == 0:
            return None
        ranges = self._ranges(exchange, symbol, timeframe, None, None)
        files = self.store.pruned_files(ranges)
        if not files:
            return None
        manifest = self.store.manifest()
        stats = manifest.get("stats", {})
        dvs = manifest.get("dvs", {})
        best: int | None = None
        conclusive = True
        for f in files:
            fs = stats.get(f, {})
            # a file carrying deletion vectors is never conclusive:
            # its footer stats still include logically-deleted rows,
            # so the stats-only max could be a deleted candle
            if f in dvs or "timestamp" not in fs or any(
                c not in fs or fs[c][0] != fs[c][1] for c in PARTITION_COLS
            ):
                conclusive = False
                break
            best = fs["timestamp"][1] if best is None else max(best, fs["timestamp"][1])
        if conclusive:
            return best
        row = (
            self.read(exchange, symbol, timeframe)
            .agg(F.max("timestamp").alias("m"))
            .collect()[0]
        )
        return row["m"]

    # --- writes -----------------------------------------------------------

    def append_idempotent(
        self,
        batch: DataFrame | pa.Table,
        txn: tuple[str, int] | None = None,
        max_retries: int = 10,
    ) -> int:
        """R2+R3 as a log transaction. Returns rows actually appended.

        ``batch`` is a DataFrame, or a pyarrow Table in the storage
        schema — a page the paging loop already holds on the driver,
        which goes from anti-join to commit without a Spark job.

        Protocol: anti-join the batch against the head's (pruned)
        existing keys, stage the surviving rows, CAS the next manifest.
        On losing the CAS: diff the winner's file set, anti-join the
        staged rows against just those delta files' keys; if conflicts
        exist, re-stage the reduced batch; either way retry from the new
        head. Abandoned stage dirs stay unreferenced until vacuum.
        ``txn=(app_id, batch_id)`` adds per-writer batch idempotency
        (exactly-once foreachBatch), same as `SnapshotStore.append`.
        """
        store = self.store
        if txn is not None:
            last = store.last_txn(txn[0])
            if last is not None and txn[1] <= last:
                return 0
        pending = (
            _FrameBatch(self, batch)
            if isinstance(batch, DataFrame)
            else _ArrowBatch(self, batch)
        )
        ranges = pending.ranges()
        if not ranges:
            return 0
        base = store.latest_version()
        # only files overlapping a key's [min, max] ts can hold one of
        # its keys: a live append reads the tail file, a refetch over a
        # long history reads the files its page spans (CandleDataset's
        # row-group trick, lifted to the manifest level)
        candidates: set[str] = set()
        for ex, sym, tf, lo, hi in ranges:
            candidates.update(
                store.pruned_files(
                    {
                        "exchange": (ex, ex),
                        "symbol": (sym, sym),
                        "timeframe": (tf, tf),
                        "timestamp": (lo, hi),
                    },
                    version=base,
                )
            )
        pending = pending.without(sorted(candidates), store.manifest(base))
        if pending.n == 0:
            return 0
        files = pending.stage(len(ranges))
        staged_schema = store._pending_schema
        for _ in range(max_retries):
            head = store.latest_version()
            if txn is not None:
                last = store.manifest(head).get("txn", {}).get(txn[0])
                if last is not None and txn[1] <= last:
                    return 0
            head_manifest = store.manifest(head)
            head_schema = head_manifest.get("schema")
            if head_schema is not None and head_schema != staged_schema:
                raise CommitConflict(
                    f"table schema changed concurrently: head has "
                    f"{head_schema}, staged append has {staged_schema}"
                )
            if head != base:
                # conflict resolution: keys committed since `base` may
                # collide with ours — check ONLY the delta files
                base_files = set(store.manifest(base)["files"])
                delta = [f for f in head_manifest["files"] if f not in base_files]
                if delta:
                    reduced = pending.without(delta, head_manifest)
                    if reduced.n < pending.n:
                        if reduced.n == 0:
                            return 0  # every row already won elsewhere
                        pending = reduced
                        files = pending.stage(len(ranges))
                base = head
            merged = store.manifest(base)["files"] + files
            if store._try_commit(base, merged, "append", txn=txn):
                return pending.n
        raise CommitConflict(f"append lost the CAS race {max_retries} times")

    # --- maintenance ------------------------------------------------------

    def fragmentation(self) -> dict:
        """Manifest-only fragmentation report: files per
        (exchange, symbol, timeframe) key, from per-file stats alone
        (files whose key stats are inconclusive — mixed keys — count
        under the ``None`` key). Zero storage I/O. The small-file
        complement of ``SnapshotStore.dv_stats`` for ``compact --auto``:
        appends add ~one file per key per batch, so files-per-key IS
        the read-amplification factor of a pruned key scan."""
        m = self.store.manifest()
        stats = m.get("stats", {})
        per_key: dict = {}
        for f in m["files"]:
            fs = stats.get(f, {})
            if all(
                c in fs and fs[c][0] == fs[c][1] for c in PARTITION_COLS
            ):
                key = tuple(fs[c][0] for c in PARTITION_COLS)
            else:
                key = None
            per_key[key] = per_key.get(key, 0) + 1
        return {
            "files_per_key": per_key,
            "max_files_per_key": max(per_key.values(), default=0),
            "n_files": len(m["files"]),
        }

    def compact(
        self,
        files_per_key_hint: int = 1,
        when_dv_ratio_above: float | None = None,
        when_files_per_key_above: int | None = None,
    ) -> int | None:
        """Clustered rewrite: one atomic 'compact' commit that
        range-partitions the whole snapshot on (exchange, symbol,
        timeframe, timestamp) and sorts within files — each output file
        then owns a disjoint key+time slab, so manifest stats prune
        maximally and `resume_offset` stays stats-only. Incremental
        (tail-bucket-only) compaction composes by filtering first and
        committing the rewrite of just those files; whole-snapshot is
        the fixture-scale form.

        Auto-compaction policy (the CLI's ``compact --auto``): when any
        trigger is given, rewrite ONLY if one fires — returns None with
        no commit otherwise (a healthy table costs nothing).

        - ``when_dv_ratio_above``: merge-on-read deletes
          (``delete_where_dv``) accumulated past the threshold
          (``SnapshotStore.dv_stats``).
        - ``when_files_per_key_above``: small-file fragmentation — some
          key's file count (:meth:`fragmentation`, manifest-only)
          exceeds the threshold; the reference's per-batch appends
          create exactly this shape over time."""
        triggers = [
            t
            for t in (when_dv_ratio_above, when_files_per_key_above)
            if t is not None
        ]
        if triggers:
            fired = False
            if when_dv_ratio_above is not None:
                fired |= (
                    self.store.dv_stats()["dv_ratio"] > when_dv_ratio_above
                )
            if not fired and when_files_per_key_above is not None:
                fired |= (
                    self.fragmentation()["max_files_per_key"]
                    > when_files_per_key_above
                )
            if not fired:
                return None
        head = self.store.latest_version()
        n_keys = max(
            1,
            self.store.read(version=head)
            .select(*PARTITION_COLS)
            .distinct()
            .count(),
        )
        return self.store.compact(
            target_partitions=n_keys * files_per_key_hint,
            order_by=list(KEY_COLS),
        )

    def retention(self, older_than_ms: int, max_retries: int = 10) -> int:
        """Drop every file whose newest timestamp is older than the
        cutoff — a METADATA-ONLY commit (operation 'retention'): no
        rewrite, no tombstones; physical space returns at vacuum. Files
        lacking conclusive ts stats are kept. Equivalent to
        `CandleDataset.vacuum`'s bucket-directory delete, decided from
        the log instead of the directory layout."""
        store = self.store
        for _ in range(max_retries):
            base = store.latest_version()
            m = store.manifest(base)
            stats = m.get("stats", {})
            keep = [
                f
                for f in m["files"]
                if "timestamp" not in stats.get(f, {})
                or stats[f]["timestamp"][1] >= older_than_ms
            ]
            dropped = len(m["files"]) - len(keep)
            if dropped == 0:
                return 0
            store._pending_schema = m.get("schema")
            # metadata-only commit: never carry mapping pendings a
            # FAILED earlier stage left on this instance (the
            # add_constraint rule) — a lost evolving append must not
            # stamp its fresh-but-uncommitted physical names here
            store._pending_column_mapping = None
            store._pending_cm_burned = None
            store._pending_stats = {}
            if store._try_commit(base, keep, "retention"):
                return dropped
        raise CommitConflict(f"retention lost the CAS race {max_retries} times")

    def vacuum(self, min_age_seconds: float = 3600.0) -> list[str]:
        """Physical reclaim of unreferenced commit dirs (crashed/lost
        writers, post-retention, post-compact). Delegates to the store's
        mtime-retention vacuum — never touches a live writer's staged
        files."""
        return self.store.vacuum(min_age_seconds=min_age_seconds)

    def restate(self, batch: DataFrame) -> dict:
        """Candle RESTATEMENT: exchanges occasionally revise a closed
        candle (late trades, bust corrections). ``append_idempotent``
        deliberately IGNORES rows whose key already exists (the
        reference's INSERT-OR-IGNORE, ccxt-ohlcv-fetch.py:71-75), so
        corrections need the other merge mode: matched keys get the
        NEW values, unseen keys insert — one atomic MERGE commit whose
        change files let downstream incremental consumers retract the
        old candle and absorb the new one. Returns the merge stats."""
        return self.store.merge_into(batch, on=list(KEY_COLS))

    def delete_where(self, condition: str) -> tuple[int | None, int]:
        """Row-level delete on the logged candle table — the surgical
        complement to ``retention()``'s whole-file drops: remove one
        bad symbol's range, a single poisoned candle, rows matched by
        any predicate. Copy-on-write via the store (only
        match-containing files rewritten, change files recorded, time
        travel keeps the pre-delete snapshot)."""
        return self.store.delete_where(condition)

    def enable_ohlcv_constraints(self) -> list[int]:
        """Commit the OHLCV invariants (operators/quality.py
        candle_rules, minus the per-timeframe grid rule — a logged
        dataset may mix timeframes) as table CHECK constraints: every
        writer into this dataset — this process or any other — then
        refuses batches with inverted candles or negative volume at
        stage time, atomically, before the data is visible. The
        reactive quality gate (check_rules/quarantine) inspects; the
        constraint PREVENTS. Returns the metadata commit versions."""
        exprs = {
            "low_le_body": "low <= least(open, close)",
            "high_ge_body": "high >= greatest(open, close)",
            "volume_non_negative": "volume >= 0",
        }
        return [
            self.store.add_constraint(name, expr)
            for name, expr in exprs.items()
        ]

    def delete_where_dv(self, condition: str) -> tuple[int | None, int]:
        """Merge-on-read variant of :meth:`delete_where`: persists
        deletion vectors instead of rewriting files — the right mode
        for removing a few candles from a heavily-compacted dataset
        (write cost = deleted rows, not touched files). Vectors are
        materialized by the next ``compact()``."""
        return self.store.delete_where_dv(condition)


class _FrameBatch:
    """An append batch on the Spark path: key ranges, anti-joins and
    staging run as Spark jobs."""

    def __init__(self, ds: SnapshotCandleDataset, df: DataFrame, n: int | None = None):
        self.ds, self.df, self.n = ds, df, n

    def ranges(self) -> list[tuple]:
        """(exchange, symbol, timeframe, min ts, max ts) per key group."""
        return [
            tuple(r)
            for r in self.df.groupBy(*PARTITION_COLS)
            .agg(F.min("timestamp"), F.max("timestamp"))
            .collect()
        ]

    def without(self, files: list[str], manifest: dict) -> _FrameBatch:
        """The batch minus every key live in ``files``, materialized and
        counted. DV-aware: reads through ``_read_files_live`` so
        positions removed by ``delete_where_dv`` do NOT count as
        existing — otherwise a delete-then-refetch of a corrected candle
        would be silently dropped (the row is logically gone but its
        key still sits in the physical file)."""
        df = self.df
        if files:
            keys = self.ds.store._read_files_live(files, manifest).select(*KEY_COLS)
            df = df.join(
                F.broadcast(keys), on=list(KEY_COLS), how="left_anti"
            ).select(*self.df.columns)  # joins reorder; schema guard is exact
        df = df.localCheckpoint(eager=True)
        return _FrameBatch(self.ds, df, df.count())

    def stage(self, n_keys: int) -> list[str]:
        """Stage layout: ~one sorted file per (exchange,symbol,timeframe)
        group, so manifest stats are single-keyed (stats-only resume)
        and row-group min/max stay selective (R13 explicit order,
        reference `:70`). At 100 TB the same expression scales the file
        count with the batch's key count, not the cluster's task count.
        """
        return self.ds.store._stage(
            self.df.repartitionByRange(max(1, n_keys), *KEY_COLS)
            .sortWithinPartitions(*KEY_COLS)
        )


class _ArrowBatch:
    """An append batch held on the driver as a pyarrow Table in the
    storage schema: key ranges, the anti-join (pyarrow reads of the
    candidate files' key columns) and staging (one sorted parquet file
    per key) run without a Spark job."""

    def __init__(self, ds: SnapshotCandleDataset, table: pa.Table):
        self.ds, self.table, self.n = ds, table, table.num_rows

    def to_frame(self) -> _FrameBatch:
        return _FrameBatch(self.ds, self.ds.spark.createDataFrame(self.table))

    def ranges(self) -> list[tuple]:
        groups = self.table.group_by(list(PARTITION_COLS)).aggregate(
            [("timestamp", "min"), ("timestamp", "max")]
        )
        return [
            (*(g[c] for c in PARTITION_COLS), g["timestamp_min"], g["timestamp_max"])
            for g in groups.to_pylist()
        ]

    def without(self, files: list[str], manifest: dict) -> _ArrowBatch | _FrameBatch:
        """The batch minus every key present in ``files``: a pyarrow
        read of the files' key columns (physical names under column
        mapping) within the batch's timestamp range, then a hash
        anti-join. A file with deletion vectors hands the batch to the
        Spark path, whose live-row read applies them."""
        dvs = manifest.get("dvs", {})
        if any(f in dvs for f in files):
            return self.to_frame().without(files, manifest)
        if not files or not self.n:
            return self
        mapping = manifest.get("column_mapping") or {}
        ts = mapping.get("timestamp", "timestamp")
        lo, hi = pc.min_max(self.table.column("timestamp")).values()
        # Spark-written files mark literal columns NOT NULL; cast to the
        # page's key schema so files of both writers concatenate
        key_schema = self.table.select(list(KEY_COLS)).schema
        existing = pa.concat_tables(
            pq.read_table(
                os.path.join(self.ds.store.path, f),
                columns=[mapping.get(c, c) for c in KEY_COLS],
                filters=[(ts, ">=", lo.as_py()), (ts, "<=", hi.as_py())],
                partitioning=None,
            )
            .rename_columns(list(KEY_COLS))
            .cast(key_schema)
            for f in files
        )
        if not existing.num_rows:
            return self
        kept = self.table.join(existing, keys=list(KEY_COLS), join_type="left anti")
        return _ArrowBatch(self.ds, kept)

    def stage(self, n_keys: int) -> list[str]:
        """One file per (exchange, symbol, timeframe), sorted by
        timestamp — the layout the Spark path stages."""
        parts = [
            self.table.filter(
                (pc.field("exchange") == ex)
                & (pc.field("symbol") == sym)
                & (pc.field("timeframe") == tf)
            ).sort_by("timestamp")
            for ex, sym, tf, *_ in sorted(self.ranges())
        ]
        return self.ds.store._stage_arrow(parts)

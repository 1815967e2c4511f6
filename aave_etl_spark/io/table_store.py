"""Partitioned table store reproducing the reference's BigQuery IO-manager
semantics on Parquet (reference: aave_data/resources/bigquery_io_manager.py).

Mapping (SURVEY.md §2.1 sinks):

- K1 partition overwrite: the reference deletes the partition slice
  (``DELETE ... WHERE _dagster_partition_key='...'``, bigquery_io_manager.py:231-249)
  then appends. Spark's *dynamic partition overwrite* is exactly
  delete-then-write, executed scalably per partition directory — no
  table-wide rewrite, no driver-side row movement.
- K2 append-only: ``mode("append")`` (bigquery_io_manager.py:116-119).
- K3 partition-pruned read: predicate on the partition column reaches the
  file listing (Catalyst partition pruning), reproducing
  ``WHERE _dagster_partition_key = '...'`` (bigquery_io_manager.py:297-316);
  a missing table returns an empty DataFrame (``:277-294``).
- Metadata columns ``_load_timestamp/_partition_type/_partition_key`` mirror
  the ``_dagster_*`` columns (bigquery_io_manager.py:152-160); reads strip
  them like the reference's ``SELECT * EXCEPT`` (``:310-316``).

At 100 TB: partition layout is ``(date, market)``-style low-cardinality
directories; writes touch only the partitions present in the output
DataFrame, so daily incremental loads scale with the day's data, not the
table's history.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from aave_etl_spark.localframe import local_df

META_COLS = ("_load_timestamp", "_partition_type", "_partition_key")
# the ``op_col`` value that marks a change-log row as a delete in merge()
_DELETE_OP = "D"

# Table-schema memo: every bare spark.read.parquet(dir) launches one
# footer-inference driver job (~30-40 ms) — across the at-rest families
# that is dozens of jobs per bench pass for schemas that cannot change
# between a table's write and its reads (the catalog._SCHEMA_CACHE
# discipline applied to the store). Keyed by table path; EVERY mutating
# method invalidates its table's entry (write/merge/compact/drop), so a
# rewritten table is re-inferred — except an unpartitioned overwrite,
# which seeds the entry with the schema it just wrote. Code that writes a
# store path directly (streaming sinks) clears it through drop first.
# Metadata only — never row data — and per-process, so nothing survives
# across runs.
_SCHEMA_MEMO: dict[str, StructType] = {}


def _schema_memo_invalidate(path: str) -> None:
    _SCHEMA_MEMO.pop(path, None)


class TableStore:
    """A directory-of-parquet-tables warehouse with idempotent partition
    overwrite."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        self._recover_interrupted_swap(name)
        return os.path.isdir(self._path(name))

    # --- multi-table completion markers -----------------------------------
    # A logical dataset spanning several tables (e.g. a BM25 index =
    # postings + params sidecar) has no single atomic write; the
    # marker is written LAST (tmp + atomic rename) and checked FIRST, so an
    # interrupted multi-table build/rebuild can never present a mutually
    # inconsistent pair as complete. Writers call clear_complete() before
    # touching any member table and mark_complete() after the last one.
    def mark_complete(self, tag: str) -> None:
        path = os.path.join(self.root, f"{tag}.__complete")
        tmp = path + ".__tmp"
        os.makedirs(self.root, exist_ok=True)
        with open(tmp, "w") as f:
            f.write(tag)
        os.replace(tmp, path)

    def clear_complete(self, tag: str) -> None:
        try:
            os.remove(os.path.join(self.root, f"{tag}.__complete"))
        except FileNotFoundError:
            pass

    def is_complete(self, tag: str) -> bool:
        return os.path.exists(os.path.join(self.root, f"{tag}.__complete"))

    def _staging_path(self, name: str) -> str:
        """Sibling directory a staged write or a compaction lands in
        before :meth:`_swap_in` renames it live. Readers never look
        there."""
        return self._path(name) + ".__staging"

    def _swap_in(self, name: str, src: str) -> None:
        """Make the complete table at ``src`` the live ``name``: move the
        live directory aside to ``<name>.__old``, rename ``src`` in, then
        remove the old copy — so at every instant at least one complete
        copy exists on disk. The only vulnerable window is between the two
        atomic renames; the ``.__swap_pending`` marker written first lets
        :meth:`_recover_interrupted_swap` heal a crash there. A table that
        does not exist yet needs no swap: one rename publishes it."""
        live = self._path(name)
        if not os.path.isdir(live):
            os.replace(src, live)
            return
        old = live + ".__old"
        marker = live + ".__swap_pending"
        if os.path.exists(old):  # debris from a crashed prior swap
            shutil.rmtree(old)
        # marker first: recovery restores .__old ONLY while it exists, so a
        # crash after the swap can never resurrect the stale copy
        with open(marker, "w") as f:
            f.write(name)
        os.replace(live, old)
        os.replace(src, live)
        os.remove(marker)
        shutil.rmtree(old)

    def _recover_interrupted_swap(self, name: str) -> None:
        """Self-heal the one vulnerable window in :meth:`_swap_in` (shared
        by staged writes and compaction): a crash between
        ``os.replace(live, old)`` and ``os.replace(src, live)`` leaves no
        live directory but a complete copy at ``<name>.__old``. Without
        this, ``exists()`` returns False and ``read()`` silently serves an
        EMPTY frame (missing-table K3 semantics) for a table whose data is
        sitting intact one rename away — restore it instead.

        The ``.__swap_pending`` marker distinguishes MID-swap debris (crash
        between the renames — restore) from POST-swap debris (crash after
        the swap, before cleanup — the old copy is stale; never resurrect
        it, even if the live directory was later removed externally). The
        restore rename tolerates a concurrent process winning the same
        recovery (FileNotFoundError → already healed)."""
        live = self._path(name)
        old = live + ".__old"
        marker = live + ".__swap_pending"
        if os.path.isdir(old):
            if not os.path.isdir(live) and os.path.exists(marker):
                try:
                    os.replace(old, live)  # mid-swap crash: restore
                except FileNotFoundError:
                    pass  # a concurrent recovery already renamed it
            elif os.path.isdir(live):
                # post-swap debris: live is the newer copy, old is stale
                shutil.rmtree(old, ignore_errors=True)
                # only NOW is a lingering marker provably from a crashed
                # (not in-flight) swap — (live, old, marker) can't occur
                # mid-swap. A bare (live, marker, no old) state is an
                # ACTIVE swap between marker-write and its first rename;
                # deleting that marker would re-open the silent-empty
                # window the protocol closes, so leave it alone.
                try:
                    os.remove(marker)
                except FileNotFoundError:
                    pass
            else:
                # no live AND no marker: by the protocol this state is only
                # reachable after a completed swap (marker removed) whose
                # stale ``.__old`` survived (crash before its rmtree) and
                # whose live directory was later removed externally. The
                # old copy is stale by the protocol's own reasoning — never
                # resurrect it; reclaim the space so respecting the
                # external deletion doesn't leak the directory forever.
                shutil.rmtree(old, ignore_errors=True)

    def write(
        self,
        df: DataFrame,
        name: str,
        partition_cols: list[str] | None = None,
        append_only: bool = False,
    ) -> bool:
        """Write ``df``; idempotent per-partition overwrite unless
        ``append_only`` (K2). Empty outputs are skipped like the reference
        (bigquery_io_manager.py:115, 168-169); returns whether data landed
        (False = empty skip) so multi-table writers can gate completion
        markers on actual writes.

        The skip is decided AFTER the write, from a row count the write's
        own Spark job observes (``DataFrame.observe``), so the plan runs
        once — never once to probe emptiness and again to write. Each mode
        makes an empty write harmless in its own way:

        - a partitioned write (dynamic partition overwrite or append) goes
          in place: an empty write replaces no partition, and the
          directory Spark makes for a table that did not exist before is
          removed when the write is empty or its job fails, so a missing
          table stays missing (K3);
        - an unpartitioned write lands in the sibling ``<name>.__staging``
          directory: an overwrite is swapped in (:meth:`_swap_in`) and an
          append's part files move into the live directory, both only
          when rows were written.

        A staged write whose job fails removes its staging directory;
        debris left by a crashed writer is never read and is removed by
        the next write of the table. An unpartitioned overwrite also
        records the schema it wrote, so the next :meth:`read` runs no
        footer-inference job."""
        live = self._path(name)
        staging = self._staging_path(name)
        _schema_memo_invalidate(live)
        existed = self.exists(name)  # also heals an interrupted swap
        shutil.rmtree(staging, ignore_errors=True)
        stamped = df.withColumn(
            "_load_timestamp",
            F.lit(datetime.now(timezone.utc).isoformat()),
        )
        if partition_cols:
            stamped = stamped.withColumn(
                "_partition_key",
                F.concat_ws("|", *[F.col(c).cast("string") for c in partition_cols]),
            ).withColumn("_partition_type", F.lit("multi" if len(partition_cols) > 1 else "single"))
        else:
            stamped = stamped.withColumn("_partition_key", F.lit(None).cast("string")).withColumn(
                "_partition_type", F.lit(None).cast("string")
            )
        # the write job itself counts the rows it writes
        observed = Observation()
        writer = stamped.observe(observed, F.count(F.lit(1)).alias("rows")).write
        if partition_cols:
            # Pin dynamic overwrite at the writer (not ambient session conf):
            # partition overwrite must replace only the slices present in
            # `df` regardless of how the caller built their session.
            writer = writer.partitionBy(*partition_cols).option(
                "partitionOverwriteMode", "dynamic"
            )
            landed = False
            try:
                writer.mode("append" if append_only else "overwrite").parquet(live)
                landed = bool(observed.get["rows"])
            finally:
                # in place: an empty or failed write replaces no partition,
                # but Spark makes the directory of a missing table
                if not (landed or existed):
                    shutil.rmtree(live, ignore_errors=True)
            return landed
        # staged: an empty write must not replace or add to the live table
        try:
            writer.mode("overwrite").parquet(staging)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)  # a failed job's debris
            raise
        if not observed.get["rows"]:
            shutil.rmtree(staging)
            return False
        if append_only and existed:
            for f in os.listdir(staging):
                os.replace(os.path.join(staging, f), os.path.join(live, f))
            shutil.rmtree(staging)
            return True
        self._swap_in(name, staging)
        if not append_only:
            # the swapped-in table holds exactly what was just written, so
            # its schema is known without a footer-inference job on the
            # next read. Partitioned tables are left to inference: Spark
            # types their partition columns from the directory names.
            _SCHEMA_MEMO[live] = stamped.schema
        return True

    def merge(
        self,
        changes: DataFrame,
        name: str,
        key_cols: list[str],
        partition_cols: list[str] | None = None,
        op_col: str | None = None,
    ) -> bool:
        """MERGE a change log into a keyed table — the Delta/Iceberg
        ``MERGE INTO`` pattern on open parquet: inserts and updates upsert
        by ``key_cols``, rows whose ``op_col`` equals ``"D"`` are removed,
        everything else in the table survives untouched. ``op_col=None``
        means a pure upsert feed (no deletes).

        Scale contract: with ``partition_cols`` the merge is PARTITION-
        SCOPED — only the partitions present in ``changes`` are read
        (partition-pruned semi join on a broadcast of the touched tuples)
        and rewritten (dynamic partition overwrite); a daily change batch
        against a years-deep table costs the touched days, not the
        history. The partition columns must be STABLE per key (a key
        cannot move between partitions — the same contract every
        partition-scoped lakehouse merge imposes); date/entity partitions
        satisfy it naturally. A touched partition whose rows are ALL
        deleted cannot be expressed by dynamic overwrite (nothing to
        write), so its directory is removed explicitly — resolved from the
        filesystem via a partition-pruned ``input_file_name`` scan with
        the partition column types PINNED to the change batch's schema
        (escaped path characters, NULL partitions, and inference-hostile
        values like zero-padded ints or minute-precision strings all
        round-trip correctly).

        Returns whether the table exists after the merge (False = the
        merge left NO table: either nothing pre-existed and the batch had
        no upserts, or the batch deleted every remaining row — the
        full-deletion paths remove the table directory outright, since
        write() skips empty frames and a leftover directory would either
        resurrect the deleted rows or be an unreadable husk)."""
        _schema_memo_invalidate(self._path(name))

        def upserts_of(batch: DataFrame) -> DataFrame:
            # eqNullSafe: a NULL op must mean "upsert", not "silently drop
            # the row" (plain != is NULL-valued on NULL and filters it out)
            if not op_col:
                return batch
            return batch.filter(~F.col(op_col).eqNullSafe(F.lit(_DELETE_OP))).drop(op_col)

        if not self.exists(name):
            return self.write(upserts_of(changes), name, partition_cols=partition_cols)
        # materialize the change batch once: its lineage (often joins)
        # would otherwise re-run for the touched collect, the key distinct,
        # AND the final union
        changes = changes.localCheckpoint(eager=True)
        upserts = upserts_of(changes)
        touched_vals: list[tuple] = []
        pinned_schema = None
        if partition_cols:
            # partition-column types PINNED to the change batch's schema:
            # a plain read INFERS types from the directory strings, and a
            # re-rendered value ('2024-01-01 10:00' → timestamp →
            # '2024-01-01 10:00:00', '0123' → 123) would make the same
            # partition compare unequal between the batch and the table —
            # falsely marking live partitions vanished (data loss) or
            # vanished ones live (resurrection). Computed ONCE — the
            # vanished-dir sweep reuses it (schema inference lists the
            # whole table; twice per merge would be pure waste).
            pinned_schema = self._pinned_schema(name, changes.schema, partition_cols)
            existing = self._read_pinned(name, pinned_schema)
            touched = changes.select(*partition_cols).distinct()
            # bounded: one tuple per touched partition
            touched_vals = [tuple(r) for r in touched.collect()]
            # eqNullSafe semi join: a NULL partition value is a real
            # partition (__HIVE_DEFAULT_PARTITION__) — plain equality
            # would skip its existing rows and the overwrite would drop
            # every untouched key in it
            tj = touched.select(
                [F.col(c).alias(f"_t_{c}") for c in partition_cols]
            )
            cond = None
            for c in partition_cols:
                eq = F.col(c).eqNullSafe(F.col(f"_t_{c}"))
                cond = eq if cond is None else (cond & eq)
            existing = existing.join(F.broadcast(tj), cond, "left_semi")
        else:
            existing = self.read(name)
        changed_keys = changes.select(*key_cols).distinct()
        survivors = existing.join(changed_keys, key_cols, "left_anti")
        # materialize BEFORE overwriting: the plan reads the very files the
        # write replaces, so every post-write action on the lazy lineage
        # (including the vanished-partition sweep below) would hit deleted
        # paths. The checkpoint holds only the TOUCHED partitions' rows —
        # the merge's working set, not the table.
        out = survivors.unionByName(upserts).localCheckpoint(eager=True)
        landed = self.write(out, name, partition_cols=partition_cols)
        if not partition_cols:
            if landed:
                return True
            # the merge emptied an unpartitioned table: write() skipped the
            # empty frame, so express the deletion directly — leaving the
            # old files would silently resurrect every deleted row
            return self._remove_table(name)
        # a touched partition with no output rows vanished entirely —
        # dynamic overwrite can't delete it, so drop the directory.
        # The directories are resolved from the FILESYSTEM (a fresh
        # read of the stale files, semi-joined to the vanished value
        # tuples, input_file_name → dirname), never re-formatted from
        # Python values: Spark escapes special characters in partition
        # paths (':', '%', '#', …) and renders NULL as
        # __HIVE_DEFAULT_PARTITION__, so an f"{c}={v}" reconstruction
        # silently misses those partitions and resurrects deleted rows.
        remaining = (
            {tuple(r) for r in out.select(*partition_cols).distinct().collect()}
            if landed
            else set()
        )
        vanished = set(touched_vals) - remaining
        if vanished:
            self._drop_partition_dirs(name, partition_cols, pinned_schema, vanished)
        if not landed and not self._parquet_files(name):
            # every partition of the table was touched AND emptied: the
            # sweep removed all partition dirs, leaving a bare root that
            # read() cannot infer a schema from and a later merge would
            # crash on — express the full deletion like the unpartitioned
            # branch does
            return self._remove_table(name)
        return True

    def _remove_table(self, name: str) -> bool:
        """Delete ``name``'s directory outright and forget its memoized
        schema (the full-deletion tail of both merge branches, and
        :meth:`drop`). Returns False — the merge left no table."""
        _schema_memo_invalidate(self._path(name))
        shutil.rmtree(self._path(name), ignore_errors=True)
        return False

    def drop(self, name: str) -> bool:
        """Explicitly delete table ``name`` (no-op when absent). Returns
        True when a table was actually removed.

        This is the EMPTY-STATE writer's tool: ``write`` skips empty
        frames — it counts the rows its own job wrote and, at zero, leaves
        the live table exactly as it was — so a state table whose new
        version is "no rows" (e.g. the
        decontamination digests after the benchmarks resource is removed,
        plans/corpus_pipeline.py) would otherwise silently keep serving
        the PREVIOUS run's rows — drop expresses "the state is now empty"
        where the skip cannot.

        It is also how code that writes a store path directly (a streaming
        sink) clears it first: whatever is at the path goes, a partial
        directory included, and the schema memo entry goes with it even
        when no table was there, so the next ``read`` re-infers."""
        removed = self.exists(name)
        self._remove_table(name)
        return removed

    def _pinned_schema(self, name: str, batch_schema, partition_cols: list[str]):
        """The read schema for ``name`` with partition-column TYPES pinned
        to the change batch's schema instead of directory-string inference:
        data columns keep the file schema (one inferred read supplies it);
        partition columns parse from the directory strings into exactly
        the types the batch rendered them from, so batch↔table comparisons
        are an exact round trip (write renders, pinned read parses back —
        no inference re-typing '0123' to 123 or minute-precision strings
        to timestamps)."""
        from pyspark.sql.types import StructField, StructType

        inferred = self.spark.read.parquet(self._path(name)).schema
        batch = {f.name: f for f in batch_schema.fields}
        # contract check up front: a change batch missing a partition
        # column would otherwise surface as an opaque KeyError below
        # (this runs before the touched-partition select that would name
        # the column in a resolvable error)
        missing = [c for c in partition_cols if c not in batch]
        if missing:
            raise ValueError(
                f"merge: change batch is missing partition column(s)"
                f" {missing} required by table {name!r} — every merge"
                " batch must carry the table's full partition key"
            )
        return StructType(
            [
                StructField(f.name, batch[f.name].dataType, True)
                if f.name in partition_cols
                else f
                for f in inferred.fields
            ]
        )

    def _read_pinned(self, name: str, pinned_schema):
        """Read ``name`` under a :meth:`_pinned_schema`; meta columns are
        stripped like ``read``."""
        df = self.spark.read.schema(pinned_schema).parquet(self._path(name))
        return df.drop(*[c for c in META_COLS if c in df.columns])

    def _drop_partition_dirs(
        self,
        name: str,
        partition_cols: list[str],
        pinned_schema,
        vanished: set[tuple],
    ) -> None:
        """Remove the on-disk directories of the ``vanished`` partition
        value tuples. The scan is partition-PRUNED: the vanished values
        become literal predicates on the pinned-type partition columns,
        so only those directories' files are listed and read; directory
        names come from ``input_file_name`` — robust to Spark's
        partition-path escaping (':' → %3A, NULL →
        __HIVE_DEFAULT_PARTITION__), which an f"{c}={v}" reconstruction
        silently misses. A vanished tuple with no files is legal (a
        brand-new partition whose rows were all deleted in the same batch
        never hit disk); a failing rmtree raises (no silent no-op)."""
        from functools import reduce
        from urllib.parse import unquote, urlparse

        pinned = self._read_pinned(name, pinned_schema)
        clauses = []
        for vals in vanished:
            conj = None
            for c, v in zip(partition_cols, vals):
                e = F.col(c).isNull() if v is None else (F.col(c) == F.lit(v))
                conj = e if conj is None else (conj & e)
            clauses.append(conj)
        stale_files = (
            pinned.filter(reduce(lambda a, b: a | b, clauses))
            .select(F.input_file_name().alias("_f"))
            .distinct()
            .collect()  # bounded: the vanished partitions' file list
        )
        dirs = {
            os.path.dirname(unquote(urlparse(r["_f"]).path)) for r in stale_files
        }
        root = os.path.realpath(self._path(name))
        for d in sorted(dirs):
            if not os.path.realpath(d).startswith(root + os.sep):
                raise RuntimeError(
                    f"merge: refusing to remove {d!r} outside table root {root!r}"
                )
            shutil.rmtree(d)
            # multi-column partition layouts nest (a=1/b=2/...): removing
            # every leaf under an outer value leaves empty ancestor dirs
            # that accumulate forever and re-surface as phantom partition
            # values on some filesystems — walk up removing now-empty
            # parents, stopping at the table root
            parent = os.path.realpath(os.path.dirname(d))
            while parent.startswith(root + os.sep) and not os.listdir(parent):
                os.rmdir(parent)
                parent = os.path.realpath(os.path.dirname(parent))

    def write_bucketed(
        self,
        df: DataFrame,
        name: str,
        bucket_cols: list[str],
        n_buckets: int | None = None,
        sort_cols: list[str] | None = None,
        mode: str = "overwrite",
    ) -> int:
        """Persist ``df`` hash-bucketed (CLUSTERED BY) on ``bucket_cols``.

        Bucketing is the co-location tool the partition layout (K1) can't
        provide: two tables bucketed on the same key with the same bucket
        count join WITHOUT an Exchange — each task zips bucket i with
        bucket i (asserted in tests/test_io.py). For a 100 TB fact table
        joined repeatedly on the same key, the one-time bucketed write
        amortizes the shuffle out of every downstream join/agg on that
        key. Requires the session catalog (bucket metadata lives there,
        not in parquet); read back with ``read_bucketed``.

        The bucket count is chosen once, when a write builds the table:
        ``n_buckets`` or, by default, ``sc.defaultParallelism`` — the
        slot count, the same scale-adaptive target ``fan_out_scan`` uses.
        Each write task emits one file per bucket it holds, so a fixed
        count far above the slot count scatters a small table into many
        tiny files. A rebuild (``mode="overwrite"``) picks the count
        again.

        ``mode="append"`` onto an existing table takes the TABLE'S bucket
        count from the catalog (``n_buckets`` and the default are not
        consulted, so a changed slot count never re-sizes a table
        mid-life) — each new file still hash-routes rows by the bucket
        function, so co-location survives incremental ingest. Spark
        refuses ``bucket_cols``/``sort_cols`` that differ from the
        table's. Returns the bucket count of the written table."""
        _schema_memo_invalidate(self._path(name))
        n_buckets = (
            (self._num_buckets(name) if mode == "append" else None)
            or n_buckets
            or self.spark.sparkContext.defaultParallelism
        )
        writer = (
            df.write.format("parquet")
            .mode(mode)
            .bucketBy(n_buckets, *bucket_cols)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.option("path", self._path(name)).saveAsTable(name)
        return n_buckets

    def _num_buckets(self, name: str) -> int | None:
        """The bucket count the session catalog holds for table ``name``
        (None when there is no such table). A catalog command: no Spark
        job."""
        if not self.spark.catalog.tableExists(name):
            return None
        rows = self.spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        return next(
            (int(r.data_type) for r in rows if r.col_name == "Num Buckets"), None
        )

    def read_bucketed(self, name: str) -> DataFrame:
        """Catalog read preserving bucket metadata (a plain parquet read of
        the same files would lose the co-location guarantee)."""
        return self.spark.table(name)

    def _parquet_files(self, name: str) -> list[str]:
        out = []
        for dirpath, _dirs, files in os.walk(self._path(name)):
            out.extend(
                os.path.join(dirpath, f) for f in files if f.endswith(".parquet")
            )
        return out

    def compact(
        self,
        name: str,
        partition_cols: list[str] | None = None,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> tuple[int, int]:
        """Rewrite ``name`` with bounded file counts — the maintenance pass
        every incrementally-loaded table needs: daily partition overwrites
        and appends accrete small files (one per write task), and small
        files tax every downstream scan with per-file open/footer costs.

        Partitioned tables repartition BY the partition columns, so each
        partition directory collapses to exactly ONE file — hash
        partitioning cannot split a single partition value, so a
        partition whose bytes exceed ``target_file_bytes`` still becomes
        one (large) file; that is the right trade for the small-file
        problem this solves (split an oversized partition by adding a
        finer partition column, not by compaction). Unpartitioned tables
        coalesce to ceil(bytes / target). Rows, schema, partition layout, and the
        ``_load_timestamp`` provenance stamps are preserved exactly —
        compaction is a physical-layout change only.

        The rewrite lands in ``<name>.__staging`` and :meth:`_swap_in`
        renames it live, so at every instant at least one complete copy
        exists on disk (reading and overwriting the same path in one job
        is not safe in any engine); a crash between the swap's two atomic
        renames leaves the full old copy recoverable at ``<name>.__old``.
        On object storage the same shape runs against the FileSystem API.

        A table that is already compact — one file in every partition
        directory, or at most the target count unpartitioned — is left
        as it is (no rewrite, no Spark job) and reports ``(n, n)``.

        Returns (files_before, files_after)."""
        import math

        # a bucketed table's co-location contract lives in the catalog; a
        # plain rewrite would leave bucket metadata pointing at files that
        # are no longer bucket-hashed — refuse instead of corrupting
        if self.spark.catalog.tableExists(name):
            raise ValueError(
                f"{name!r} is a catalog (bucketed) table; compaction would"
                " orphan its bucket metadata — rewrite via write_bucketed"
            )
        self._recover_interrupted_swap(name)
        files = self._parquet_files(name)
        if not files:
            return (0, 0)
        total = sum(os.path.getsize(f) for f in files)
        n_out = max(1, math.ceil(total / target_file_bytes))
        if partition_cols:
            compact = len({os.path.dirname(f) for f in files}) == len(files)
        else:
            compact = len(files) <= n_out
        if compact:
            return (len(files), len(files))
        _schema_memo_invalidate(self._path(name))
        df = self.spark.read.parquet(self._path(name))
        tmp = self._staging_path(name)
        if partition_cols:
            # hash-repartition on the partition cols: every partition value
            # lands in one task -> exactly one output file per partition
            # directory (an oversized partition stays one file — see
            # docstring)
            out = df.repartition(n_out, *[F.col(c) for c in partition_cols])
            writer = out.write.partitionBy(*partition_cols)
        else:
            writer = df.coalesce(n_out).write
        writer.mode("overwrite").parquet(tmp)
        self._swap_in(name, tmp)
        return (len(files), len(self._parquet_files(name)))

    def read(
        self,
        name: str,
        schema: StructType | None = None,
        where: str | None = None,
        keep_meta: bool = False,
    ) -> DataFrame:
        """Read a table; missing table → empty DataFrame with ``schema``
        (K3 404 handling, bigquery_io_manager.py:277-294). ``where`` is a SQL
        predicate; on partition columns it prunes at file-listing time."""
        if not self.exists(name):
            return local_df(self.spark, [], schema or StructType([]))
        path = self._path(name)
        known = _SCHEMA_MEMO.get(path)
        if known is not None:
            df = self.spark.read.schema(known).parquet(path)
        else:
            df = self.spark.read.parquet(path)
            _SCHEMA_MEMO[path] = df.schema
        if where:
            df = df.filter(where)
        if not keep_meta:
            df = df.drop(*[c for c in META_COLS if c in df.columns])
        return df

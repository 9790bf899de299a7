"""Thin Iceberg-style table catalog over partitioned parquet + a commit ledger.

Re-expresses the reference's persistence/incrementality behaviors
(SURVEY §2.2 K1/K2/K7, §2.10 I1-I4):

* index create / createOrReplace DDL  (/root/reference/src/datastore.py:80-95)
* change-detection ledger (`file_list.json` name→last_modified snapshot,
  /root/reference/src/query_api.py:55-70)
* skip-existing idempotency          (/root/reference/src/query_api.py:86-88,113-115)

On a real cluster this layer is Iceberg (``df.writeTo(...).createOrReplace()``,
``overwritePartitions()``, snapshot diffs); no Iceberg runtime jars exist in
the sandbox, so the same API is implemented over directory-partitioned
parquet plus atomic JSON commit markers.  The commit marker IS the
Iceberg-manifest analog: one file per (table, partition) recording lineage
(source snapshot, row/triple counts, timestamps); a partition is visible
iff its marker exists, and re-running a partition atomically replaces data
then marker — idempotent resume by construction.

Like Iceberg's manifests, the files already hold the table metadata, so
nothing scans data to learn it: Spark writes the frame's schema into
every parquet footer, and the footer holds the row count. Reads take the
schema from the first data file's footer (no schema-inference job), and
commits count rows from the footers of the files just written (no
read-back job).

Whole-table replaces follow one protocol, the analog of an Iceberg
commit that replaces several tables at once:

1. **stage** (:meth:`ParquetTableCatalog.stage`) writes each new table to
   ``<name>.staging``, all at the same time; live tables are untouched,
   so a plan may read the table it replaces, and a failed write leaves
   the catalog as it was;
2. **commit** (:meth:`ParquetTableCatalog.commit`) atomically writes one
   roll-forward record, ``<root>/_commit.json``, naming the staged
   tables to swap in, the ledger partitions to retire, the tables to
   drop and the small JSON files to write. The record is the commit
   point;
3. **roll forward** (:meth:`ParquetTableCatalog.roll_forward`) carries
   the record out and removes it. Every step is idempotent, so a crash
   anywhere in it is finished by the next roll-forward, which runs at
   catalog open and before the next stage or commit. At open, staged
   tables no record names are dropped: their commit never happened.

Single-writer, like the rest of this file-based catalog: recovery at
open must not race another writer's commit in flight.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
import logging
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, fields
from typing import Any

import pyarrow.parquet as pq
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

log = logging.getLogger("cdrc_semantic_search_spark")

#: footer key under which Spark's parquet writer stores the frame's schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
#: suffix of a table's staged copy, next to the live table
_STAGING = ".staging"


def data_files(path: str) -> list[str]:
    """The parquet data files directly under ``path``, sorted; files
    under ``part=`` subdirectories are not listed, nor the ``_``/``.``
    files (``_SUCCESS``, checksums) Spark's reader skips too."""
    try:
        names = os.listdir(path)
    except (FileNotFoundError, NotADirectoryError):
        return []
    return sorted(
        os.path.join(path, f)
        for f in names
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` without the schema-inference job:
    the schema comes from the Spark schema in the first data file's
    footer. A first path with no direct data file (a table partitioned
    into ``part=`` subdirectories, whose partition column Spark must
    discover) or a footer without Spark's schema (a file another writer
    made) falls back to the plain read. Like Spark's own inference
    without ``mergeSchema``, one file speaks for all ``paths``."""
    files = data_files(paths[0])
    meta = (pq.read_metadata(files[0]).metadata or {}) if files else {}
    if _SPARK_SCHEMA_KEY not in meta:
        return spark.read.parquet(*paths)
    schema = StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    return spark.read.schema(schema).parquet(*paths)


def footer_rows(path: str) -> int:
    """Rows in the data files directly under ``path``, summed from their
    footers (exact: parquet records each row group's count)."""
    return sum(pq.read_metadata(f).num_rows for f in data_files(path))


def _write_json(path: str, content: Any) -> None:
    """Write ``path`` atomically: a reader sees the old file or the new."""
    with open(path + ".tmp", "w") as f:
        json.dump(content, f)
    os.replace(path + ".tmp", path)


@dataclass
class CommitRecord:
    table: str
    partition: str
    source_snapshot: str
    row_count: int
    metrics: dict[str, Any]
    committed_at: float
    status: str = "committed"


class SnapshotUnavailableError(RuntimeError):
    """A time-travel read asked for a snapshot whose bytes were reclaimed
    (partition overwritten or retired since ``as_of``)."""


_RECORD_FIELDS = {f.name for f in fields(CommitRecord)}


def _record_from_json(rec: dict) -> CommitRecord:
    """Schema-tolerant CommitRecord parse: a marker written by another
    (newer/older) writer version may carry extra fields or omit optional
    ones; only the identity fields are hard requirements. Raises KeyError
    on a marker missing those — callers decide whether that blocks
    (reading a specific ledger) or degrades (scanning retirement markers
    on the commit hot path)."""
    return CommitRecord(
        table=rec["table"],
        partition=rec["partition"],
        source_snapshot=rec.get("source_snapshot", ""),
        row_count=rec.get("row_count", -1),
        metrics=rec.get("metrics") or {},
        committed_at=rec.get("committed_at", 0.0),
        status=rec.get("status", "committed"),
    )


def _at_once(spark: SparkSession, calls: Sequence[Callable[[], Any]]) -> None:
    """Run each call on its own thread, all at the same time, then
    re-raise the first failure (in ``calls`` order) once every call has
    finished. Each thread inherits the caller's Spark local properties,
    so its jobs are filed under the caller's job group; the calls share
    the scheduler, which fills the cores a single small write leaves
    idle."""
    with ThreadPoolExecutor(len(calls)) as pool:
        done = [pool.submit(inheritable_thread_target(spark)(call)) for call in calls]
    for d in done:
        d.result()


class ParquetTableCatalog:
    def __init__(self, root: str):
        self.root = root
        #: the roll-forward record of the commit in flight, if any
        self.record_path = os.path.join(root, "_commit.json")
        os.makedirs(root, exist_ok=True)
        # retirement markers are immutable once written, so parsed records
        # are cached per table keyed by the filename set; only files not
        # yet seen are opened (retired_partitions sits on the per-commit
        # hot path — without this, G generations × P partitions means G·P
        # file opens + JSON parses on EVERY overwrite_partition call)
        self._retired_cache: dict[str, dict[str, tuple]] = {}
        if os.path.exists(self.record_path):
            log.warning("catalog recovery: rolling forward the pending commit in %s", root)
        self.roll_forward()
        for e in os.listdir(root):
            if e.endswith(_STAGING):
                shutil.rmtree(os.path.join(root, e), ignore_errors=True)
                log.info("catalog recovery: dropped uncommitted staged table %s", e)

    # ---- paths -----------------------------------------------------------
    def table_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _staging_path(self, name: str) -> str:
        return self.table_path(name) + _STAGING

    def _partition_path(self, name: str, partition: str) -> str:
        return os.path.join(self.table_path(name), f"part={partition}")

    def _ledger_dir(self, name: str) -> str:
        return os.path.join(self.root, "_ledger", name)

    def _marker_path(self, name: str, partition: str) -> str:
        return os.path.join(self._ledger_dir(name), f"{partition}.json")

    def _retired_dir(self, name: str) -> str:
        return os.path.join(self.root, "_ledger_retired", name)

    def _history_dir(self, name: str) -> str:
        return os.path.join(self.root, "_ledger_history", name)

    # ---- DDL / writes ----------------------------------------------------
    def create_or_replace(self, df: DataFrame, name: str) -> None:
        """K2 analog: full-table replace (reference `overwrite=true`,
        /root/reference/src/datastore.py:88-95)."""
        # the one-table case of stage + commit
        self.stage({name: df})
        self.commit(swap=[name])

    def stage(self, frames: dict[str, DataFrame]) -> dict[str, str]:
        """Write each frame to its table's staged copy, all at the same
        time (:func:`_at_once`), and return the staged copies' paths (a
        later stage may read them). Once all writes have finished, the
        first failing write's exception (in ``frames`` order) is
        re-raised; the live tables are untouched either way."""
        self.roll_forward()
        _at_once(next(iter(frames.values())).sparkSession, [
            functools.partial(df.write.mode("overwrite").parquet, self._staging_path(name))
            for name, df in frames.items()
        ])
        return {name: self._staging_path(name) for name in frames}

    def commit(
        self,
        swap: Sequence[str] = (),
        retire: dict[str, list[str]] | None = None,
        drop: Sequence[str] = (),
        files: dict[str, Any] | None = None,
    ) -> None:
        """Commit staged tables and their companion changes as one unit:
        write the roll-forward record (the commit point), then roll it
        forward. ``swap``: staged tables that replace the live ones (the
        replaced tables' ledgers go with them); ``retire``: table →
        ledger partitions to retire; ``drop``: tables to drop;
        ``files``: file name under the root → JSON content to write."""
        self.roll_forward()
        missing = [n for n in swap if not os.path.isdir(self._staging_path(n))]
        if missing:
            raise FileNotFoundError(f"no staged copy of {missing} in {self.root}")
        record = {
            "swap": list(swap),
            "retire": retire or {},
            "drop": list(drop),
            "files": files or {},
        }
        _write_json(self.record_path, record)
        self.roll_forward()

    def roll_forward(self) -> None:
        """Carry out the pending commit record, if any, then remove it.
        Each step is idempotent, so a crash part-way is finished by the
        next call: a swap whose staged copy is gone already happened;
        retiring a retired partition, dropping a dropped table and
        writing a written file change nothing."""
        try:
            with open(self.record_path) as f:
                record = json.load(f)
        except FileNotFoundError:
            return
        for name in record["swap"]:
            staged = self._staging_path(name)
            if os.path.isdir(staged):
                shutil.rmtree(self.table_path(name), ignore_errors=True)
                os.rename(staged, self.table_path(name))
            # the ledger described the replaced bytes
            shutil.rmtree(self._ledger_dir(name), ignore_errors=True)
            shutil.rmtree(self._history_dir(name), ignore_errors=True)
        for name, parts in record["retire"].items():
            self.retire_partitions(name, parts)
        for name in record["drop"]:
            self.drop_table(name)
        for fname, content in record["files"].items():
            _write_json(os.path.join(self.root, fname), content)
        os.remove(self.record_path)

    def drop_table(self, name: str) -> None:
        """Remove a table's data, ledger, and retirement marks entirely
        (rebuild prep: e.g. a PQ index rebuild must also retire the
        streamed code-delta generation, or stale deltas would override
        the fresh base on merge-on-read)."""
        shutil.rmtree(self.table_path(name), ignore_errors=True)
        shutil.rmtree(self._ledger_dir(name), ignore_errors=True)
        shutil.rmtree(self._retired_dir(name), ignore_errors=True)
        shutil.rmtree(self._history_dir(name), ignore_errors=True)

    def retire_partitions(self, name: str, partitions: list[str]) -> None:
        """Retire delta partitions that were folded into a base table: the
        commit marker MOVES to the retired ledger (lineage preserved; the
        partition stops being 'committed' so reads exclude it and resume
        logic won't re-run it), then the data is deleted.  Marker-first
        ordering means a crash mid-retire leaves an invisible partition,
        never a double-counted one."""
        os.makedirs(self._retired_dir(name), exist_ok=True)
        retired_at = time.time()
        for p in partitions:
            marker = self._marker_path(name, p)
            if os.path.exists(marker):
                # stamp WHEN retirement happened: time travel must
                # distinguish snapshots that contained this partition
                # (unreconstructable — bytes folded away) from snapshots
                # taken after the compaction (fully live)
                with open(marker) as f:
                    rec = json.load(f)
                rec["retired_at"] = retired_at
                # filename carries the record's commit stamp (same scheme
                # as _history_dir): a retire → re-commit → retire sequence
                # on the same partition name must keep EVERY retirement
                # generation, or snapshot_partitions silently serves a
                # snapshot missing a partition that was visible at as_of
                # external writers may omit committed_at; stamp with the
                # retirement time then (uniqueness is what the filename
                # needs, and retired_at is unique per retire call)
                dst = os.path.join(
                    self._retired_dir(name),
                    f"{p}.{rec.get('committed_at', retired_at):.6f}.json",
                )
                _write_json(dst, rec)
                os.remove(marker)
            # delete data even if the marker already moved (a crash between
            # the move and this delete must not orphan the bytes forever)
            shutil.rmtree(self._partition_path(name, p), ignore_errors=True)

    def retired_partitions(self, name: str) -> set[str]:
        """Partition names with ≥1 retirement record. Read from record
        CONTENTS, not filenames — stamped (``p.<ts>.json``) and legacy
        (``p.json``) markers coexist and dots in partition names would
        make filename parsing ambiguous."""
        return {rec.partition for rec, _ in self._retired_records(name)}

    def overwrite_partition(
        self,
        df: DataFrame,
        name: str,
        partition: str,
        source_snapshot: str = "",
        metrics: dict[str, Any] | None = None,
        metrics_fn: Any = None,
    ) -> CommitRecord:
        """Idempotent per-partition overwrite + ledger commit (I2 analog).

        Data lands first, the marker second — a crash between the two
        leaves an uncommitted (thus invisible, re-runnable) partition.
        ``metrics_fn`` (if given) is called AFTER the data actions ran —
        the hook for ``Observation`` metrics collected during the write.
        """
        if partition in self.retired_partitions(name):
            raise ValueError(
                f"{name}/{partition} was retired by compaction (folded into "
                "a base table); re-committing it would double-count on "
                "merge-on-read. Replays need a fresh catalog."
            )
        path = self._partition_path(name, partition)
        # write FIRST, then count the written files: counting the input
        # DataFrame up front would execute the (possibly expensive) plan
        # twice, while the written files' footers hold the count — read
        # on the driver, with no Spark job
        df.write.mode("overwrite").parquet(path)
        row_count = footer_rows(path)
        extra = dict(metrics_fn()) if metrics_fn is not None else {}
        rec = CommitRecord(
            table=name,
            partition=partition,
            source_snapshot=source_snapshot,
            row_count=row_count,
            metrics={**(metrics or {}), **extra},
            committed_at=time.time(),
        )
        os.makedirs(self._ledger_dir(name), exist_ok=True)
        marker = self._marker_path(name, partition)
        if os.path.exists(marker):
            # preserve the superseded commit record: time travel
            # (read_as_of) needs to KNOW an older version existed even
            # though merge-on-write reclaimed its bytes
            with open(marker) as f:
                prev = json.load(f)
            os.makedirs(self._history_dir(name), exist_ok=True)
            hist = os.path.join(
                self._history_dir(name),
                f"{partition}.{prev['committed_at']:.6f}.json",
            )
            _write_json(hist, prev)
        _write_json(marker, rec.__dict__)  # atomic commit
        return rec

    def overwrite_partitions(
        self,
        frames: dict[str, DataFrame],
        partition: str,
        source_snapshot: str = "",
        metrics: dict[str, dict[str, Any]] | None = None,
    ) -> None:
        """:meth:`overwrite_partition` of one ``partition`` in each table of
        ``frames``, all at the same time (:func:`_at_once`); ``metrics``
        maps a table to its ledger metrics. Each table commits on its
        own: a failed write leaves its partition as it was and the other
        tables commit theirs. Once all have finished, the first failure
        (in ``frames`` order) is re-raised."""
        metrics = metrics or {}
        _at_once(next(iter(frames.values())).sparkSession, [
            functools.partial(
                self.overwrite_partition, df, name, partition,
                source_snapshot=source_snapshot, metrics=metrics.get(name),
            )
            for name, df in frames.items()
        ])

    # ---- reads -----------------------------------------------------------
    def read_table(self, spark: SparkSession, name: str) -> DataFrame:
        return read_parquet(spark, self.table_path(name))

    def read_partition(self, spark: SparkSession, name: str, partition: str) -> DataFrame:
        """One partition's data, committed or not (caller checks the ledger
        when commit visibility matters — e.g. deriving downstream deltas
        from exactly the bytes a previous commit wrote)."""
        return read_parquet(spark, self._partition_path(name, partition))

    def read_committed(self, spark: SparkSession, name: str) -> DataFrame:
        """Union of committed partitions only (uncommitted data invisible)."""
        parts = sorted(self.committed_partitions(name))
        paths = [self._partition_path(name, p) for p in parts]
        if not paths:
            raise FileNotFoundError(f"no committed partitions for {name}")
        return read_parquet(spark, *paths)

    # ---- ledger ----------------------------------------------------------
    def committed_partitions(self, name: str) -> set[str]:
        d = self._ledger_dir(name)
        if not os.path.isdir(d):
            return set()
        return {f[:-5] for f in os.listdir(d) if f.endswith(".json")}

    def ledger(self, name: str) -> list[CommitRecord]:
        out = []
        for p in sorted(self.committed_partitions(name)):
            with open(self._marker_path(name, p)) as f:
                out.append(_record_from_json(json.load(f)))
        return out

    def _retired_records(self, name: str) -> list[tuple[CommitRecord, float | None]]:
        """(record, retired_at) per retired partition; retired_at is None
        for markers written before retirement stamping existed (treated
        conservatively by snapshot_partitions)."""
        d = self._retired_dir(name)
        if not os.path.isdir(d):
            return []
        files = [f for f in os.listdir(d) if f.endswith(".json")]
        cache = self._retired_cache.setdefault(name, {})
        for f in files:
            if f not in cache:
                # tolerant parse: this runs on EVERY overwrite_partition
                # (the retired-check), so one malformed or
                # schema-divergent marker — e.g. left by another writer
                # version — must degrade to a warning, not permanently
                # block all ingestion for the table
                try:
                    with open(os.path.join(d, f)) as fh:
                        rec = json.load(fh)
                    retired_at = rec.pop("retired_at", None)
                    cache[f] = (_record_from_json(rec), retired_at)
                except (OSError, ValueError, KeyError, TypeError):
                    log.warning(
                        "skipping unreadable retirement marker %s/%s",
                        d, f, exc_info=True,
                    )
                    cache[f] = None
        # a marker file never mutates or disappears under normal operation,
        # but honor external deletion anyway: serve only files present now
        return [cache[f] for f in sorted(files) if cache[f] is not None]

    def _history_records(self, name: str) -> list[CommitRecord]:
        d = self._history_dir(name)
        if not os.path.isdir(d):
            return []
        out = []
        for f in sorted(os.listdir(d)):
            if f.endswith(".json"):
                with open(os.path.join(d, f)) as fh:
                    out.append(_record_from_json(json.load(fh)))
        return out

    def snapshot_partitions(self, name: str, as_of: float) -> set[str]:
        """Partitions visible at time ``as_of`` — Iceberg-style snapshot
        membership from the commit ledger.

        This catalog is merge-on-WRITE (one live version per partition),
        so a snapshot is reconstructable only while none of its member
        versions were reclaimed since.  Rather than silently returning
        current bytes for an old snapshot (Iceberg would return the OLD
        bytes), raise :class:`SnapshotUnavailableError` when:

        * a partition was OVERWRITTEN after ``as_of`` (its superseded
          commit record sits in the history ledger) — the as-of version's
          bytes are gone;
        * a partition visible at ``as_of`` was RETIRED by compaction —
          its rows live on in a folded base table, but the partition
          itself is unreadable.

        At real scale this layer is Iceberg and both cases disappear
        (old data files survive until snapshot expiry); the ledger
        algebra here is the same, minus file retention.
        """
        current = {
            r.partition: r for r in self.ledger(name)
        }
        visible = {p for p, r in current.items() if r.committed_at <= as_of}
        gone = []
        for h in self._history_records(name):
            cur = current.get(h.partition)
            if h.committed_at <= as_of and (
                cur is None or cur.committed_at > as_of
            ):
                gone.append(f"{h.partition} (overwritten)")
        for r, retired_at in self._retired_records(name):
            # unreconstructable only if the partition was VISIBLE at
            # as_of: committed by then and not yet retired. Snapshots
            # taken after the compaction never contained it and stay
            # readable. Unstamped legacy markers (retired_at None) are
            # treated conservatively: any as_of >= commit raises.
            if r.committed_at <= as_of and (
                retired_at is None or as_of < retired_at
            ):
                gone.append(f"{r.partition} (retired by compaction)")
        if gone:
            raise SnapshotUnavailableError(
                f"snapshot of {name!r} as of {as_of} is not reconstructable: "
                f"{', '.join(sorted(set(gone)))} — this catalog keeps one "
                "live version per partition (Iceberg retains old data "
                "files until snapshot expiry)"
            )
        return visible

    def read_as_of(
        self, spark: SparkSession, name: str, as_of: float
    ) -> DataFrame:
        """Time-travel read: the union of partitions committed at or
        before ``as_of`` (raises if that snapshot's bytes were since
        overwritten or retired — see :meth:`snapshot_partitions`)."""
        parts = sorted(self.snapshot_partitions(name, as_of))
        if not parts:
            raise FileNotFoundError(
                f"no partitions of {name} were committed at {as_of}"
            )
        return read_parquet(
            spark, *[self._partition_path(name, p) for p in parts]
        )

    def uncommitted(self, name: str, all_partitions: list[str]) -> list[str]:
        """Resume set = all − committed − retired (the reference's
        changed-file diff, /root/reference/src/query_api.py:55-70, as a
        set difference; retired partitions were folded into a base table
        by compaction — re-running them would double-count on read)."""
        done = self.committed_partitions(name) | self.retired_partitions(name)
        return [p for p in all_partitions if p not in done]

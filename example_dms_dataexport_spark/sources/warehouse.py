"""Parquet warehouse — the target-table store (Snowflake-side analogue).

The reference's targets are Snowflake tables written by COPY INTO / MERGE.
Here a warehouse is a directory of parquet tables committed five ways:

- full-state stage + swap: ``overwrite``, ``write_bucketed``,
  ``recluster`` and ``rebucket`` write a complete new table state
  (data plus every sidecar, ``_stage_state``) into a temp dir and
  promote it with an atomic directory swap — the reference's
  idempotent TRUNCATE + COPY INTO (ref :238-243); a re-run full load
  can never leave a partial table.
- file-subset ``replace_files``: copy-on-write — only the named files
  are rewritten; every other file (hive partition dirs included)
  hard-links into the new state, which commits through the same
  swap. The 100 TB path for CDC merges, erasures, materialized
  deletes and compaction: a pass rewrites only the files it must
  (SURVEY §7.3 hard-part a).
- ``append_files``: new files rename into the live dir, manifests
  extend by one immutable segment.
- versioned snapshots: ``overwrite_versioned`` stages through the same
  stager and renames the result to an immutable ``_vNNNNN`` dir, then
  flips the ``_version.json`` pointer.
- group commits: ``commit_group``/``commit_group_linked`` flip one
  group pointer over per-table snapshots.

Full-state, file-replace and append commits all land their new files
through ONE stager (``_stage_files``): one writer choice (bucketed or
flat/hive), one footer read for row counts and zone-map bands (a Spark
pass only where a footer cannot describe a band exactly), one Bloom
computation for the staged files — the reference's single COPY INTO /
MERGE landing step (ref :238-243, :369-408), and, like Snowflake's
micro-partition metadata, collected from what the write produced
rather than by a second scan.

Every keyed rewrite and every CDC merge finds its files the same way —
the engine's own stand-in for the micro-partition pruning the
reference's DELETE/MERGE leans on (ref :369-408): one driver-bounded
step gathers the keys (``_key_set``), the manifest half of the key
cover (``_key_cover``) intersects the zone-map, Bloom and bucket-id
covers where they apply, and else one exact key-column scan
(``_key_scan``) finds the files. Every zone-map prune — range reads,
key covers, CDC merges — runs through one sorted-interval cover
(``_interval_cover``). ``erase_subjects`` (non-versioned) and
``materialize_deletes`` run the same rewrite over the cover
(``_rewrite_key_cover``). Every commit may leave a table empty: the
committed ``_schema.json`` still types its reads.

Every committed state (table dir, ``_vNNNNN`` snapshot, linked group
member) carries its read schema in ``_schema.json``; every read and
rewrite takes it from there (``schema``, ``_read_dir``) — the
reference's declared target columns (ref :307-319) — and none infers it.
A table's layout is declared once, by the writer that lays it out; the
file records its hive ``partition_by`` next to ``_bucket_spec.json`` and
``_version.json``, and every rewrite and append reads the layout from
those through one helper (``_layout``) instead of taking it as an
argument. Every writer of a table takes its one mutation fence
(``_write_fence``).

The read→merge→overwrite cycle on one table would otherwise race with
itself (Spark reads lazily while the job overwrites the same files), so
every data write stages first and promotes atomically (SURVEY §7.3
hard-part b); every JSON sidecar or pointer lands through
``_write_json_atomic`` (temp + ``os.replace``).
"""

from __future__ import annotations

import bisect
import contextlib
import datetime
import decimal
import functools
import json
import math
import os
import re
import shutil
import socket
import time
import uuid
import warnings
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from ..session import local_frame

# Committed read schema of a table state (see ``_frame_schema``).
SCHEMA_FILE = "_schema.json"

# Small JSON sidecar committed atomically WITH an ``overwrite`` (written
# into the temp dir before the swap) — e.g. the streaming rollup's
# last-applied batch id. Underscore prefix hides it from file discovery.
META_FILE = "_meta.json"

# Bucket layout descriptor for write_bucketed/read_bucketed. Underscore
# prefix keeps it invisible to parquet file discovery, like _SUCCESS.
BUCKET_SPEC_FILE = "_bucket_spec.json"

# Snapshot pointer for overwrite_versioned/read_version (time travel).
VERSION_FILE = "_version.json"

# Per-file zone map (min/max per stat column) for manifest-level file
# pruning — see write_zonemap/read_zoned. Underscore prefix hides it
# from parquet file discovery.
ZONEMAP_FILE = "_zonemap.json"

# Per-file Bloom filters for manifest-level POINT-LOOKUP file skipping
# on columns the layout does NOT cluster — see write_bloom /
# read_bloom_keys. Underscore prefix hides it from discovery.
BLOOM_FILE = "_bloom.json"
BLOOM_K = 6  # hash functions per key
BLOOM_BITS_PER_KEY = 16  # ~0.1% false-positive rate at k=6
# The entry of a file with no keyed row: an all-zero 64-bit bitmap
# that no probe hits (base64 of 8 zero bytes).
_EMPTY_BLOOM = {"m": 64, "n_distinct": 0, "bits": "AAAAAAAAAAA="}

# Merge-on-read deletion vector: a parquet directory of deleted keys
# (DELETES_DIR) plus a JSON manifest (DELETES_FILE, the read-path commit
# point) — see delete_keys / materialize_deletes. The same equality-
# delete shape as Iceberg's merge-on-read deletes: a delete touches ZERO
# data files (at 100 TB, the difference between an O(|keys|) sidecar
# append and a copy-on-write rewrite), and the read path anti-joins the
# pending keys until a maintenance pass materializes them. Underscore
# prefixes hide both from parquet file discovery.
DELETES_DIR = "_deletes"
DELETES_FILE = "_deletes.json"
# Above this many keys a key set is not broadcast-hinted (AQE picks the
# shuffled strategy instead of risking the driver on an unbounded set):
# the one cap of every keyed join — the read-path delete mask, the
# rewrite anti-join and the exact key scan (``_key_scan``, shared with
# the scan-scoped CDC merge).
DELETE_BROADCAST_KEY_CAP = 2_000_000
# Above this many keys a key set (``_key_set``) stays distributed: it is
# counted and bounded, not collected, so the key cover (``_key_cover``)
# prunes only by the zone map's cover of the keys' [min, max], and
# otherwise the exact key scan runs.
DELETE_BLOOM_PROBE_CAP = 100_000

# Suffix of a table's mutation-fence lock (``_mutation_lock_path``).
LOCK_FILE = "_writer.lock"


class ConcurrentWriteError(RuntimeError):
    """A second writer attempted a fenced single-writer operation.

    Raised LOUDLY instead of letting the read-modify-write of
    ``_version.json`` silently lose a commit. The message names the lock
    path and the holder recorded inside it; a lock left by a CRASHED
    writer (the fence has no lease/expiry — this warehouse has no
    heartbeat channel) must be removed manually after confirming the
    holder is gone."""


class KeySet(NamedTuple):
    """A distinct key-tuple set as ``ParquetWarehouse._key_set`` found
    it: ``frame`` holds the tuples (a local relation of ``rows`` up to
    ``DELETE_BLOOM_PROBE_CAP``, else the distinct frame itself), ``n``
    counts them, and ``bounds`` holds each column's [min, max] when the
    set was too large to collect."""

    frame: DataFrame
    n: int
    rows: list | None
    bounds: dict | None


class Footer(NamedTuple):
    """One parquet file's footer as ``ParquetWarehouse._footers`` read
    it: ``n`` is its row count, and ``groups`` maps each asked column
    the file holds to its row groups' statistics, one
    ``(rows, nulls, min, max)`` per group — ``None`` for a group that
    records none, ``nulls`` None when uncounted, ``min``/``max`` None
    without a min/max, and an INT32/INT64-backed decimal's as its
    unscaled ints."""

    n: int
    groups: dict[str, list[tuple | None]]


class Layout(NamedTuple):
    """A table's committed layout as ``ParquetWarehouse._layout`` reads
    it: ``versioned`` when ``_version.json`` exists (then nothing else
    is read), else the ``_bucket_spec.json`` spec (None when flat or
    hive), the hive ``partition_by`` columns recorded in
    ``_schema.json`` ([] when flat or bucketed) and the committed read
    ``schema`` from the same file."""

    versioned: bool
    bucket_spec: dict | None
    partition_by: list[str]
    schema: StructType | None


class ParquetWarehouse:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        # per-(table-dir, sidecar) parsed manifest (merged head +
        # segments) plus decoded probe bitmaps for bloom, keyed by the
        # head file's (mtime_ns, size) signature — correct across
        # instances because every manifest commit lands via os.replace
        # (fresh mtime), and segments are immutable once referenced
        self._sidecar_cache: dict[tuple[str, str], dict] = {}
        self._roll_back_torn_swaps()

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return os.path.isdir(self.path(table))

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """The committed state (a versioned table's current snapshot)
        with its committed schema — building the frame runs no Spark
        job; a committed-empty bucketed state reads as an empty frame —
        and pending merge-on-read deletes masked (a versioned table has
        none: ``delete_keys`` refuses it)."""
        base = self._zoned_base(table, None)
        return self._apply_pending_deletes(
            spark,
            self._read_dir(spark, base, self._dir_schema(base, table)),
            table,
        )

    def schema(self, table: str, version: int | None = None) -> StructType:
        """The committed read schema of ``table`` (or of a retained
        ``version``) that every reader applies; a state without
        ``_schema.json`` is refused."""
        return self._dir_schema(self._zoned_base(table, version), table)

    @staticmethod
    def _schema_doc(base: str, table: str) -> dict:
        """The ``_schema.json`` committed in the state dir ``base``, as
        written (``_write_schema``)."""
        try:
            with open(os.path.join(base, SCHEMA_FILE)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"{table!r} has no committed schema ({SCHEMA_FILE} in "
                f"{base!r}) — rewrite it through overwrite"
            ) from None

    @classmethod
    def _dir_schema(cls, base: str, table: str) -> StructType:
        """The read schema committed in the state dir ``base``."""
        return StructType.fromJson(cls._schema_doc(base, table))

    def _layout(self, table: str) -> Layout:
        """The one answer to "how is ``table`` laid out?" that every
        mutation asks, read from the state the table committed: its
        ``_version.json``, ``_bucket_spec.json`` and the hive columns
        ``_schema.json`` records. A layout is declared once, by the
        writer that lays the table out (``overwrite(partition_by=)``,
        ``write_bucketed``, ``overwrite_versioned``); no rewrite or
        append is told it again. A state whose ``_schema.json`` records
        no ``partition_by`` is refused."""
        if os.path.isfile(self._version_pointer(table)):
            return Layout(True, None, [], None)
        doc = self._schema_doc(self.path(table), table)
        if "partition_by" not in doc:
            raise ValueError(
                f"{table!r}'s {SCHEMA_FILE} records no partition_by — "
                "rewrite it through overwrite"
            )
        return Layout(
            False, self.bucket_spec(table), list(doc["partition_by"]),
            StructType.fromJson(doc),
        )

    @staticmethod
    def _read_dir(
        spark: SparkSession,
        base: str,
        schema: StructType,
        rels: list[str] | None = None,
    ) -> DataFrame:
        """The one reader of table data: the state dir ``base`` (or its
        files ``rels``) with ``schema`` and ``basePath``, so partition
        columns keep the schema's types whichever dirs are read
        (``p=007`` alone stays the string). ``rels == []`` is an empty
        local relation the optimizer prunes: a bare zero-path scan would
        still cost a job wherever it is broadcast."""
        if rels == []:
            return local_frame(spark, [], schema)
        paths = [base] if rels is None else [os.path.join(base, r) for r in rels]
        return spark.read.schema(schema).option("basePath", base).parquet(*paths)

    @staticmethod
    def _frame_schema(
        df: DataFrame, partition_by: list[str] | None = None
    ) -> StructType:
        """``df``'s schema in read order (data columns, then
        ``partition_by``), nullable as a parquet read reports it."""
        parts = list(partition_by or [])
        fields = [f for f in df.schema if f.name not in parts] + [
            df.schema[p] for p in parts
        ]
        return StructType(
            [StructField(f.name, f.dataType, True, f.metadata) for f in fields]
        )

    def _write_schema(self, base: str, df: DataFrame, partition_by=None):
        """Commit ``df``'s read schema with the hive columns it is laid
        out by — the layout every later mutation reads (``_layout``)."""
        self._write_json_atomic(
            os.path.join(base, SCHEMA_FILE),
            {
                **self._frame_schema(df, partition_by).jsonValue(),
                "partition_by": list(partition_by or []),
            },
        )

    @staticmethod
    def _refuse_schema_drift(
        table: str, df: DataFrame, schema: StructType
    ) -> None:
        """Refuse a frame whose columns or types differ from the committed
        ``schema`` — ``append_files`` and ``replace_files`` keep it, and
        a drifted file would land, then fail every later scan; schema
        evolution is a full-state commit. Types compare by simpleString
        (reads report nested fields nullable)."""
        want = {f.name: f.dataType.simpleString() for f in schema}
        got = {f.name: f.dataType.simpleString() for f in df.schema}
        if got.keys() != want.keys():
            raise ValueError(
                f"schema mismatch for {table!r}: batch columns "
                f"{sorted(got)} != table columns {sorted(want)}"
            )
        drift = [(c, got[c], want[c]) for c in sorted(got) if got[c] != want[c]]
        if drift:
            raise ValueError(
                f"column type drift for {table!r} "
                f"(column, batch, table): {drift}"
            )

    def overwrite(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        cluster_by: list[str] | None = None,
        cluster_partitions: int | None = None,
        zorder_by: list[str] | None = None,
        meta: dict | None = None,
        stat_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        carry_deletes_intact: bool = False,
    ) -> None:
        """Full atomic replace: stage the complete new state
        (``_stage_state``), swap, drop old.

        ``carry_deletes_intact`` copies the pending ``_deletes`` sidecar
        (keys + manifest, original compliance ``ts``) into the staged
        dir so it commits atomically WITH the new state — the CDC
        mismatched-key fold's whole-table branch (``cdc.merge_and_write``),
        where the pending set must keep masking after the swap because a
        crash-replayed batch is re-masked against it. Default False: a
        full replace normally defines a complete new state that
        supersedes the pending set.

        ``meta`` (JSON-serializable) stages WITH the data, so it commits
        atomically with it — the hook exactly-once consumers use to
        record the identity of the batch a table state includes
        (``read_meta``).

        ``cluster_by`` range-partitions and sorts the data on the given
        columns before writing, so each parquet file (and each row group
        within it) covers a narrow min/max band of the cluster key.  At
        100 TB that's the data-skipping lever: a pushed-down range filter
        on the cluster key lets the scan drop whole files/row groups from
        their footer statistics instead of reading them.  Costs one range
        shuffle at write time; pinned by tests/test_pipeline.py.

        ``zorder_by`` (mutually exclusive) clusters on an interleaved-bit
        Morton key instead: lexicographic clustering localizes only its
        leading column, Z-order gives every listed column
        ~|files|^(1/n_cols) of the value range per file, so range filters
        on ANY of them skip files (partitioning.zorder_key).

        ``stat_cols`` additionally stages a per-file min/max ZONE MAP
        over those columns — ``read_zoned`` then prunes whole files at
        planning time; pair with ``cluster_by`` on the same column so
        the bands are narrow. ``bloom_cols`` likewise stages the
        per-file Bloom manifest, so point-lookup pruning for GDPR
        erasure and MOR delete discovery survives every full rewrite
        instead of waiting for a manual ``write_bloom``.

        A BUCKETED table keeps its layout through a full replace: the
        new state stages through the bucket-preserving writer and
        carries the spec sidecar, so the complete-new-state semantics
        (TRUNCATE, a superseding reload) compose with the co-located-
        join contract instead of silently degrading it to flat parquet
        under a still-bucketed catalog entry — which would make the
        zero-exchange join return WRONG rows, not an error. Hive/
        cluster/zorder layout args conflict with the spec and refuse;
        change the layout itself through ``write_bucketed``.

        ``partition_by`` declares the hive layout: ``_schema.json``
        records it, and every later rewrite and append of the table
        reads it from there (``_layout``). Runs under the table's
        mutation fence, like every writer of the table dir.
        """
        with self._write_fence(table):
            bspec = self.bucket_spec(table)
            if bspec is not None and (partition_by or cluster_by or zorder_by):
                raise ValueError(
                    f"{table!r} is bucketed — its layout contract is the "
                    "persisted bucket spec; drop the layout args, or change "
                    "the layout through write_bucketed"
                )
            df = self._apply_layout(df, cluster_by, zorder_by, cluster_partitions)
            with self._staging(table) as tmp:
                self._stage_state(
                    df, tmp, partition_by=partition_by, bucket_spec=bspec,
                    meta=meta, stat_cols=stat_cols, bloom_cols=bloom_cols,
                )
                if carry_deletes_intact and (dm := self.pending_deletes(table)):
                    ndir = f"{DELETES_DIR}-{uuid.uuid4().hex}"
                    shutil.copytree(self._deletes_dir(table, dm),
                                    os.path.join(tmp, ndir))
                    self._write_json_atomic(
                        os.path.join(tmp, DELETES_FILE),
                        self._deletes_manifest(
                            self._delete_key_cols(dm), dm["n_keys"], ndir,
                            ts=dm.get("ts"),
                        ),
                    )
                self._commit_swap(tmp, self.path(table), table)
        if bspec is not None:
            self._refresh_bucketed_catalog(df.sparkSession, table)

    @contextlib.contextmanager
    def _staging(self, table: str):
        """Yield a fresh ``.tmp-<table>-<uuid hex>`` staging path in the
        warehouse root and remove it on exit — after a promote it is
        already gone, after a failure nothing staged is left behind (a
        hard crash leaves a name ``vacuum``'s orphan pattern sweeps)."""
        tmp = os.path.join(self.root, f".tmp-{table}-{uuid.uuid4().hex}")
        try:
            yield tmp
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def _stage_state(
        self,
        df: DataFrame,
        tmp: str,
        *,
        partition_by: list[str] | None = None,
        bucket_spec: dict | None = None,
        meta: dict | None = None,
        stat_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
    ) -> dict[str, int]:
        """Write one COMPLETE table state into ``tmp`` for the caller to
        promote — the single staging path of every full-state writer
        (``overwrite``, ``write_bucketed``, ``recluster``, ``rebucket``,
        ``overwrite_versioned``). Returns each staged parquet rel path's
        footer row count.

        The data and its manifests stage through ``_stage_files`` (Bloom
        at the ``BLOOM_*`` defaults: a full state recomputes every
        file's filter); this adds the sidecars: ``_schema.json`` (the
        frame's read schema every reader of the state applies),
        ``_bucket_spec.json``, ``_meta.json``, the zone map and the
        Bloom manifest. All land in ``tmp``, whose rel paths stay valid
        through the promote, so a manifest never describes a different
        state than the one it commits with."""
        rows, zm, bm = self._stage_files(
            df, tmp, partition_by=partition_by, bucket_spec=bucket_spec,
            stat_cols=stat_cols,
            bloom={
                "cols": list(bloom_cols),
                "bits_per_key": BLOOM_BITS_PER_KEY,
                "k": BLOOM_K,
            } if bloom_cols else None,
        )
        self._write_schema(tmp, df, partition_by)
        for name, obj in (
            (BUCKET_SPEC_FILE, bucket_spec), (META_FILE, meta),
            (ZONEMAP_FILE, zm), (BLOOM_FILE, bm),
        ):
            if obj is not None:
                self._write_json_atomic(os.path.join(tmp, name), obj)
        return rows

    def _stage_files(
        self,
        df: DataFrame,
        tmp: str,
        *,
        partition_by: list[str] | None = None,
        bucket_spec: dict | None = None,
        stat_cols: list[str] | None = None,
        bloom: dict | None = None,
    ) -> tuple[dict[str, int], dict | None, dict | None]:
        """Write ``df`` as parquet files into ``tmp`` and describe them —
        the one staging step of every data commit: full states
        (``_stage_state``), ``replace_files`` and ``append_files``.
        Returns ``(rows, zm, bm)``: each staged rel path's footer row
        count (sorted by rel), plus the zone map over ``stat_cols`` and
        the Bloom manifest over ``bloom``'s specs for exactly those
        files (None when not asked for).

        Data goes through the bucket-preserving writer when
        ``bucket_spec`` is set, else the flat/hive writer with NO
        implicit rebalance: callers own the frame's layout (cluster_by
        bands, CDC replacement bands, q139's subject-key hash slices)
        and opt in with a rebalance hint where wanted (``append_files``,
        build_ann_index).

        ``bloom`` carries ``cols``/``bits_per_key``/``k`` — the table's
        persisted manifest for incremental commits (carried entries must
        match its tuning), the ``BLOOM_*`` defaults for full states.
        Missing stat/Bloom columns refuse before anything is written,
        and so does Bloom type drift against ``bloom["schema"]`` when
        present: new files' bits hashed as the drifted type would never
        match probes hashed as the manifest type (xxhash64 is
        type-sensitive) — a silent probe FALSE NEGATIVE that would let
        an erase skip files that DO hold the subject.

        One footer pass (``_footers``) reads every staged file's row
        count and its row groups' statistics over ``stat_cols``; the
        zone map (``_zonemap``) builds from those, re-reading with Spark
        only the (column, file) pairs no footer describes exactly. The
        Bloom pass re-reads the staged files (by name, not the hidden
        staging dir) with the frame's read schema (``_frame_schema``).
        A stage holding no rows runs no Spark pass: its manifests are
        the exact ones they would find — no zone entry, a zero bitmap
        per staged file."""
        parts = list(dict.fromkeys(
            p for s in (bloom or {}).get("cols", ())
            for p in self._bloom_spec_parts(s)
        ))  # tuple specs reference their underlying columns
        for what, cols in (("zone-map stat", stat_cols or ()), ("bloom", parts)):
            missing = [c for c in cols if c not in df.columns]
            if missing:
                raise ValueError(
                    f"replacement data lacks {what} column(s) {missing}"
                )
        if bloom is not None and "schema" in bloom:
            want = StructType.fromJson(bloom["schema"])
            drift = [
                (c, str(df.schema[c].dataType), str(want[c].dataType))
                for c in parts
                if df.schema[c].dataType != want[c].dataType
            ]
            if drift:
                raise ValueError(
                    f"replacement data's bloom column type(s) drifted "
                    f"from the table's manifest: {drift} — rebuild with "
                    "write_bloom after the type change"
                )
        if bucket_spec is not None:
            self._stage_bucketed(df, tmp, bucket_spec)
        else:
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(tmp)
        footers = self._footers(
            tmp, sorted(self._walk_parquet_rels(tmp)), stat_cols or ()
        )
        rows = {rel: f.n for rel, f in footers.items()}
        n = sum(rows.values())
        spark = df.sparkSession
        schema = self._frame_schema(df, partition_by)
        zm = bm = None
        if stat_cols:
            zm = self._zonemap(spark, tmp, stat_cols, schema, footers)
        if bloom is not None and n:
            bm = self._bloom_pass(
                spark, tmp, bloom["cols"], n, schema=schema,
                bits_per_key=bloom["bits_per_key"], k=bloom["k"],
                paths=[os.path.join(tmp, rel) for rel in rows],
            )
        elif bloom is not None:
            bm = {
                "cols": list(bloom["cols"]),
                "k": bloom["k"],
                "bits_per_key": bloom["bits_per_key"],
                "schema": df.select(*parts).schema.jsonValue(),
                "files": {
                    rel: {c: dict(_EMPTY_BLOOM) for c in bloom["cols"]}
                    for rel in rows
                },
            }
        return rows, zm, bm

    @staticmethod
    def _footers(
        base: str, rels: list[str], cols: list[str] | tuple = ()
    ) -> dict[str, Footer]:
        """Each parquet file's footer, read once — its row count and its
        row groups' statistics over the top-level columns ``cols`` (see
        ``Footer``). No Spark job, no data read."""
        import pyarrow.parquet as pq

        def group_stats(rows: int, s) -> tuple | None:
            if s is None:
                return None
            lo = hi = None
            if s.has_min_max:
                try:
                    lo, hi = s.min, s.max
                except NotImplementedError:
                    # pyarrow cannot box an INT32/INT64-backed decimal
                    # (ArrowNotImplementedError); its raw ints are the
                    # unscaled values
                    lo, hi = s.min_raw, s.max_raw
                except (ValueError, OverflowError):
                    return None  # a value Python cannot box
            return (
                rows, s.null_count if s.has_null_count else None, lo, hi
            )

        out: dict[str, Footer] = {}
        for rel in rels:
            md = pq.read_metadata(os.path.join(base, rel))
            where = {
                name: j for j in range(md.num_columns)
                if (name := md.schema.column(j).path) in cols
            }
            groups: dict[str, list] = {c: [] for c in where}
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                for c, j in where.items():
                    col = rg.column(j)
                    groups[c].append(
                        group_stats(rg.num_rows, col.statistics)
                        if col.is_stats_set else None
                    )
            out[rel] = Footer(md.num_rows, groups)
        return out

    @staticmethod
    def _write_json_atomic(path: str, obj) -> None:
        """Land one JSON sidecar or pointer atomically: dump to a
        sibling ``<path>.tmp-<uuid4 hex>``, then ``os.replace``. Readers
        see the old file or the new one, never a torn one; a crash
        mid-write leaves only the temp, whose full-uuid suffix
        ``vacuum``'s orphan pattern sweeps."""
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, path)

    @staticmethod
    def _cluster_for_partitioned_write(
        df: DataFrame, partition_by: list[str] | None
    ) -> DataFrame:
        """REBALANCE the frame on its hive-partition columns right
        before a ``partitionBy`` write (guide §6): without it every
        write task fans one file into every partition dir it holds rows
        for — tasks x partitions tiny files. The AQE rebalance clusters
        rows by target dir, splits skewed partitions and coalesces
        small ones to advisory-sized output files at any scale; with
        AQE off the hint is a no-op. Layout-only: row sets are
        unchanged.

        Applied ONLY on the ``append_files`` staging write — the one
        write path with no caller-layout contract (ingest batches).
        ``overwrite``/``replace_files`` callers own their frame's
        layout (cluster_by bands, subject-key hash slices, CDC
        replacement bands) and opt in explicitly where wanted.

        UNPARTITIONED appends rebalance too (no-column REBALANCE,
        r19): a micro-batch staged from a persisted plan inherits the
        static shuffle partition count — one tiny file per partition
        per sync, O(batches x partitions) manifest growth. The no-key
        AQE rebalance coalesces the batch to advisory-sized files at
        any scale, scoped to this write instead of the session-wide
        cached-plan flag (which serialized every persist-heavy
        operator's downstream compute onto byte-sized partitions)."""
        if partition_by:
            return df.hint("rebalance", *partition_by)
        return df.hint("rebalance")

    @staticmethod
    def _apply_layout(
        df: DataFrame,
        cluster_by: list[str] | None,
        zorder_by: list[str] | None,
        cluster_partitions: int | None,
    ) -> DataFrame:
        """Shared file-layout transform for ``overwrite`` and
        ``overwrite_versioned`` (see ``overwrite``'s docstring for the
        cluster_by / zorder_by data-skipping rationale)."""
        if cluster_by and zorder_by:
            raise ValueError("cluster_by and zorder_by are mutually exclusive")
        if zorder_by:
            from ..partitioning import zorder_key

            df, zcol = zorder_key(df, zorder_by)
            n = [cluster_partitions] if cluster_partitions else []
            return (
                df.repartitionByRange(*n, zcol)
                .sortWithinPartitions(zcol)
                .drop(zcol)
            )
        if cluster_by:
            # explicit count opts out of AQE coalescing (e.g. to target a
            # file size); default lets AQE size the range partitions
            args = ([cluster_partitions] if cluster_partitions else []) + list(
                cluster_by
            )
            return df.repartitionByRange(*args).sortWithinPartitions(
                *cluster_by
            )
        return df

    def _commit_swap(self, tmp: str, final: str, table: str) -> None:
        """Atomically promote ``tmp`` to ``final`` (rename), then drop
        the displaced previous table directory. A crash between the two
        renames leaves ``final`` missing and the previous state in
        ``.old-<table>-<hex>``; the next warehouse opened over the root
        renames it back (``_roll_back_torn_swaps``)."""
        old = None
        if os.path.exists(final):
            old = os.path.join(self.root, f".old-{table}-{uuid.uuid4().hex}")
            os.replace(final, old)
        os.replace(tmp, final)
        if old:
            shutil.rmtree(old, ignore_errors=True)

    _TORN_RE = re.compile(r"^\.old-(.+)-[0-9a-f]{32}$")

    def _roll_back_torn_swaps(self) -> None:
        """Undo every commit swap cut between its two renames
        (``_commit_swap``): a table whose dir is missing while exactly
        one ``.old-<table>-<hex>`` holding a committed state (its
        ``_schema.json``) exists gets that state back, renamed in under
        the table's write fence. A fence held by a live writer, or more
        than one displaced state, is left alone — that writer finishes
        its commit, and a choice between states is manual."""
        olds: dict[str, list[str]] = {}
        for name in os.listdir(self.root):
            m = self._TORN_RE.match(name)
            if m and os.path.isfile(
                os.path.join(self.root, name, SCHEMA_FILE)
            ):
                olds.setdefault(m.group(1), []).append(name)
        for table, names in olds.items():
            if len(names) != 1 or os.path.exists(self.path(table)):
                continue
            try:
                with self._write_fence(table):
                    if not os.path.exists(self.path(table)):
                        os.replace(
                            os.path.join(self.root, names[0]),
                            self.path(table),
                        )
            except (ConcurrentWriteError, FileNotFoundError):
                pass  # a live writer holds the table, or moved it back

    def write_shards(
        self,
        df: DataFrame,
        table: str,
        max_records_per_file: int = 1_000_000,
        shuffle_by: list[str] | None = None,
        n_tasks: int | None = None,
    ) -> dict:
        """Training-shard export: size-bounded parquet files plus a
        ``_manifest.json`` naming every shard with its row/byte counts —
        the hand-off format a training loader consumes (shard list =
        work units, counts = progress accounting).

        ``shuffle_by``: deterministic decorrelation. Training wants
        examples de-clustered from their source ordering; HASH-
        partitioning on ``xxhash64(shuffle_by)`` into a FIXED ``n_tasks``
        partition count, sorted within each partition, is a reproducible
        global shuffle (same input -> same shard contents) — unlike
        ``ORDER BY rand()``, and unlike ``repartitionByRange``, whose
        boundaries come from per-run random sampling and so differ
        between identical runs.  ``maxRecordsPerFile`` then bounds each
        file without another exchange — at 100 TB ``n_tasks`` is the
        write parallelism and no task writes an oversized shard.

        Stages through the same ``_staging`` dir + atomic swap as
        ``overwrite``, under the same mutation fence (a failure leaves
        no temp behind); the manifest and the read schema
        (``_schema.json``) are written into the temp dir first, so
        shards and sidecars commit together.  Returns the manifest dict.
        """
        if shuffle_by:
            key = F.xxhash64(*[F.col(c) for c in shuffle_by])
            n = n_tasks or df.sparkSession.sparkContext.defaultParallelism
            df = (
                df.withColumn("_shuffle_key", key)
                .repartition(n, "_shuffle_key")
                # shuffle_by columns break hash-collision ties so the
                # within-partition order is total
                .sortWithinPartitions("_shuffle_key", *shuffle_by)
                .drop("_shuffle_key")
            )
        import pyarrow.parquet as pq

        with self._write_fence(table), self._staging(table) as tmp:
            (
                df.write.mode("overwrite")
                .option("maxRecordsPerFile", max_records_per_file)
                .parquet(tmp)
            )
            shards = []
            for name in sorted(os.listdir(tmp)):
                if not name.endswith(".parquet"):
                    continue
                p = os.path.join(tmp, name)
                shards.append(
                    {
                        "file": name,
                        "rows": pq.read_metadata(p).num_rows,
                        "bytes": os.path.getsize(p),
                    }
                )
            manifest = {
                "table": table,
                "n_shards": len(shards),
                "total_rows": sum(s["rows"] for s in shards),
                "shards": shards,
            }
            self._write_json_atomic(
                os.path.join(tmp, "_manifest.json"), manifest
            )
            self._write_schema(tmp, df)
            self._commit_swap(tmp, self.path(table), table)
        return manifest

    # ---- zone map: manifest-level file pruning --------------------------

    @staticmethod
    def _zonemap_stat(v):
        """JSON-normalize a min/max value; datetimes/dates become ISO
        strings (lexicographic order matches chronological order)."""
        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.isoformat()
        if isinstance(v, decimal.Decimal):
            return float(v)
        if isinstance(v, float) and v == 0:
            return 0.0  # -0.0 == 0.0: one band, whichever a pass met first
        return v

    # Spark types whose footer min/max equals Spark's own min/max, with
    # the Python type pyarrow boxes it as (another box means another
    # parquet encoding, and the pair falls back). Collated strings order
    # by their collation, not by bytes. TimestampType falls back: INT96
    # carries no statistics, and an INT64 one boxes in UTC where
    # Spark's collect boxes in local time.
    _FOOTER_BOX = {
        LongType(): int, IntegerType(): int, ShortType(): int,
        ByteType(): int, DoubleType(): float, FloatType(): float,
        StringType(): str, BinaryType(): bytes, BooleanType(): bool,
        DateType(): datetime.date, TimestampNTZType(): datetime.datetime,
    }

    @classmethod
    def _footer_band(cls, dtype, groups: list | None) -> list | None:
        """One file's exact [min, max] of one column from its row
        groups' statistics (``Footer.groups``), as Spark's min/max
        computes it — ``[None, None]`` when every value is NULL — or
        None when the footer cannot say exactly: no statistics, a
        group with values but no min/max (a value over the writer's
        statistics size limit), an unsupported type or encoding. NaN
        sorts above every value, as in Spark."""
        scale = dtype.scale if isinstance(dtype, DecimalType) else None
        boxes = (
            (int, decimal.Decimal) if scale is not None
            else (cls._FOOTER_BOX.get(dtype),)
        )
        if groups is None or boxes == (None,):
            return None

        def key(v):
            return (v != v, v)  # NaN last

        lo = hi = None
        for g in groups:
            if g is None:
                return None
            rows, nulls, mn, mx = g
            if mn is None:
                if nulls == rows:
                    continue  # an all-NULL (or empty) group
                return None
            if type(mn) not in boxes or type(mx) not in boxes:
                return None
            if type(mn) is int and scale is not None:  # unscaled ints
                mn, mx = (decimal.Decimal(v).scaleb(-scale) for v in (mn, mx))
            lo = mn if lo is None or key(mn) < key(lo) else lo
            hi = mx if hi is None or key(mx) > key(hi) else hi
        return [lo, hi]

    @classmethod
    def _zonemap(
        cls,
        spark: SparkSession,
        data_dir: str,
        stat_cols: list[str],
        schema: StructType,
        footers: dict[str, Footer],
    ) -> dict:
        """The zone map of the files ``footers`` describes (``_footers``
        over ``stat_cols``): per file with rows, its row count plus the
        min/max of every stat column, keyed by path RELATIVE to
        ``data_dir`` (stable across the atomic tmp→final rename). Each
        band comes from the footer statistics (``_footer_band``); only
        the (column, file) pairs they cannot describe exactly — INT96
        timestamps, values over the writer's statistics limit, hive
        partition columns — take one Spark min/max pass over just those
        files and columns, read with ``schema``. The result is file-
        count sized — at 100 TB / ~1 GB files that is ~10^5 entries,
        megabytes of driver memory, not a data scan at query time."""
        bands = {
            rel: {
                c: cls._footer_band(schema[c].dataType, ft.groups.get(c))
                for c in stat_cols
            }
            for rel, ft in footers.items()
            if ft.n  # a 0-row file holds no band
        }
        todo = sorted(rel for rel, b in bands.items() if None in b.values())
        if todo:
            cols = [
                c for c in stat_cols if any(bands[r][c] is None for r in todo)
            ]
            aggs = [
                a for c in cols
                for a in (F.min(c).alias(f"__min_{c}"),
                          F.max(c).alias(f"__max_{c}"))
            ]
            # ``file_rel`` resolves each file URI (%-escapes, symlinked
            # roots); a key it cannot resolve fails HERE, loudly
            for r in (
                cls._read_dir(spark, data_dir, schema, todo)
                .groupBy(F.col("_metadata.file_path").alias("__fp"))
                .agg(*aggs)
                .collect()
            ):
                b = bands[cls.file_rel(r["__fp"], data_dir)]
                for c in cols:
                    if b[c] is None:
                        b[c] = [r[f"__min_{c}"], r[f"__max_{c}"]]
        files = {
            rel: {
                "n": footers[rel].n,
                **{c: [cls._zonemap_stat(v) for v in b[c]] for c in stat_cols},
            }
            for rel, b in bands.items()
        }
        return {"stat_cols": list(stat_cols), "files": files}

    @classmethod
    def _interval_cover(
        cls, files: dict, intervals: dict[str, list[tuple]]
    ) -> tuple[list[str], list[str]]:
        """Split a zone-map file dict (a table's map, or a subset of it)
        into (overlapping, disjoint): a file overlaps iff, for EVERY
        column of ``intervals``, its [min, max] band meets one of that
        column's closed intervals — the one zone-map prune of range
        reads, key covers and CDC merges. A ``None`` interval end is
        unbounded, and so is a NaN end of an interval or a band (Spark
        sorts NaN above every value, and a NaN point keeps every band),
        so NaN only widens the cover. Files with an all-NULL band are
        disjoint (a range or point never matches NULL); an interval with
        ``lo > hi`` holds nothing.

        Each column's intervals sort and merge once, then every band
        bisects into them: O((files + intervals) · log intervals), not
        files × intervals."""

        def bound(v):
            v = cls._zonemap_stat(v)
            return None if v is None or v != v else v  # NaN: unbounded

        merged: dict[str, tuple[list, list, int]] = {}
        for c, ivs in intervals.items():
            los: list = []
            his: list = []
            for lo, hi in sorted(
                (
                    (lo, hi)
                    for lo, hi in ((bound(a), bound(b)) for a, b in ivs)
                    if lo is None or hi is None or lo <= hi
                ),
                key=lambda iv: (False, 0) if iv[0] is None else (True, iv[0]),
            ):
                if his and (his[-1] is None or lo is None or lo <= his[-1]):
                    if hi is None or (his[-1] is not None and hi > his[-1]):
                        his[-1] = hi
                else:
                    los.append(lo)
                    his.append(hi)
            # only the last merged interval can be unbounded above
            fin = len(his) - 1 if his and his[-1] is None else len(his)
            merged[c] = (los, his, fin)

        def meets(band, los, his, fin) -> bool:
            if band[0] is None:
                return False  # all-NULL band
            mn, mx = bound(band[0]), bound(band[1])
            # the first interval ending at or after the band's start
            i = 0 if mn is None else bisect.bisect_left(his, mn, 0, fin)
            return i < len(his) and (
                los[i] is None or mx is None or los[i] <= mx
            )

        overlapping: list[str] = []
        disjoint: list[str] = []
        for rel, stats in files.items():
            ok = all(meets(stats[c], *merged[c]) for c in merged)
            (overlapping if ok else disjoint).append(rel)
        return overlapping, disjoint

    def zone_overlap_split(
        self, table: str, ranges: dict
    ) -> tuple[list[str], list[str]] | None:
        """Split the table's files into (overlapping, disjoint) relative
        paths for the given conjunctive ranges, or None when the table
        has no zone map covering every range column (callers fall back
        to an unpruned plan). The file-pruning primitive the zone-scoped
        CDC merge composes with ``replace_files``."""
        if self._layout(table).versioned:
            return None  # snapshots rewrite whole states; no file CoW
        zm = self.zonemap(table)
        if zm is None or any(c not in zm["stat_cols"] for c in ranges):
            return None
        return self._interval_cover(
            zm["files"], {c: [b] for c, b in ranges.items()}
        )

    def replace_files(
        self,
        df: DataFrame,
        table: str,
        replaced: list[str],
        carry_deletes_minus: DataFrame | None = None,
    ) -> dict:
        """Copy-on-write FILE-level replace: commit a new table state
        whose content is every current file
        EXCEPT ``replaced`` (carried over as hard links — metadata ops,
        no data I/O) plus the files of ``df`` (the rewritten content for
        the replaced region).

        The table's committed layout (``_layout``) decides how ``df``
        lands. Hive-partitioned tables replace at file grain too (the
        HYBRID merge scope — partition pruning picks the candidate
        dirs, the zone map picks the files inside them): ``replaced``
        holds partition-qualified relative paths, ``df`` carries the
        partition columns, and a partition whose files were all
        replaced with no surviving rows simply has no directory in the
        new state — the whole-table assembly+swap removes emptied
        partitions atomically, in the same rename that commits the
        data. Bucketed tables stage through the bucket-preserving
        writer. This is the write-side half of the
        zone-map-scoped CDC merge (ref :369-408 — the reference
        delegates the equivalent micro-partition-scoped rewrite to
        Snowflake's engine): rewrite cost is O(|df| + |replaced|), not
        O(|table|), which is the difference between a CDC merge that
        scales with the batch and one that rewrites 100 TB per batch.

        ``df`` may lazily READ the replaced files — everything stages in
        a temp dir and promotes via the same atomic swap as
        ``overwrite``, so the inputs are intact until the flip. Its
        columns and types must match the committed schema, which the
        new state carries (``_refuse_schema_drift``, as in
        ``append_files``): schema evolution is a full-state commit.

        Manifest maintenance: ``df`` stages through the same stager as
        every data commit (``_stage_files``), which computes the new
        files' zone-map and Bloom entries over the staged dir at the
        table's persisted Bloom tuning. Entries for carried-over files
        are kept verbatim (their bytes are untouched), so the committed
        state's manifests are exact and the NEXT merge prunes again —
        they never go stale-and-dropped in steady state. Returns
        ``{"rows_written", "files_replaced", "files_linked",
        "files_new"}``.

        SINGLE WRITER per table, ENFORCED: list→stage→swap is a
        read-modify-write — two concurrent replaces would both list the
        ORIGINAL file set and the second swap would silently discard the
        first's rewritten rows (the lost-update shape ``commit_group``
        fences against, one level down). The whole operation therefore
        runs inside the mutation fence with the file listing taken
        INSIDE it; a second concurrent writer raises
        :class:`ConcurrentWriteError` loudly instead.
        """
        with self._write_fence(table):
            return self._replace_files_unlocked(
                df, table, replaced, carry_deletes_minus=carry_deletes_minus
            )

    def _replace_files_unlocked(
        self,
        df: DataFrame,
        table: str,
        replaced: list[str],
        allow_pending_deletes: bool = False,
        carry_deletes_minus: DataFrame | None = None,
    ) -> dict:
        """``replace_files`` body; the caller MUST hold the table's
        mutation fence (``erase_subjects`` calls this under its own).
        ``allow_pending_deletes`` is for ``materialize_deletes`` ONLY —
        its swap dropping the ``_deletes`` sidecar IS the point there.

        On a bucketed table the replace is BUCKET-preserving (the
        bucket-grain GDPR path): the replacement rows stage through
        Spark's own bucketed writer (``_stage_bucketed``) so every
        staged file carries the correct ``_NNNNN`` bucket-id suffix,
        and the spec sidecar is carried into the new state. Mixing
        staged files with carried ones is sound because a row's bucket
        is a pure function of its key columns — a carried file and a
        staged file tagged with the same bucket id hold disjoint row
        sets of that bucket, and Spark's bucketed scan reads multi-file
        buckets natively.

        ``carry_deletes_minus`` is the CDC-merge fold (a DataFrame
        carrying the batch's key tuples): instead of dropping or
        refusing, the new state CARRIES the pending-delete sidecar
        rewritten to the pending set MINUS those keys, staged into the
        assembly dir so the sidecar update and the data rewrite commit
        in the SAME atomic swap. The subtraction is sound only when the
        caller guarantees every masked row whose key it subtracts sits
        in ``replaced`` (``merge_and_write`` proves this from its
        scoping invariants when the merge pks equal the delete key
        columns)."""
        pending_dm = self.pending_deletes(table)
        if (
            pending_dm is not None
            and not allow_pending_deletes
            and carry_deletes_minus is None
        ):
            self._refuse_pending_deletes(table, "replace_files")
        final = self.path(table)
        lay = self._layout(table)
        if lay.versioned:
            raise ValueError(
                f"{table!r} is versioned — commit new states with "
                "overwrite_versioned"
            )
        self._refuse_schema_drift(table, df, lay.schema)
        existing = set(self._walk_parquet_rels(final))
        replaced_set = set(replaced)
        unknown = sorted(replaced_set - existing)
        if unknown:
            raise ValueError(
                f"replace_files: not current files of {table!r}: {unknown}"
            )
        zm = self.zonemap(table)
        bm = self.bloom(table)
        spark = df.sparkSession
        carried = sorted(existing - replaced_set)
        rows_written = 0
        renamed: dict[str, str] = {}
        with self._staging(table) as tmp_new, self._staging(table) as asm:
            # the stager adds NO rebalance: replace_files callers (the
            # CDC merges) pre-shape the staged frame deliberately — a
            # rebalance would smear the replacement bands back to
            # whole-leaf coverage (caught by the hybrid-merge inode-carry
            # pin)
            staged, new_zm, new_bm = self._stage_files(
                df, tmp_new, partition_by=lay.partition_by,
                bucket_spec=lay.bucket_spec,
                stat_cols=zm and zm["stat_cols"], bloom=bm,
            )
            os.makedirs(asm)
            for rel in carried:
                dst = os.path.join(asm, rel)
                os.makedirs(os.path.dirname(dst) or asm, exist_ok=True)
                os.link(os.path.join(final, rel), dst)

            def _link_staged(rel: str) -> None:
                dest = rel
                while dest in existing or os.path.exists(
                    os.path.join(asm, dest)
                ):
                    d = os.path.dirname(rel)
                    dest = os.path.join(
                        d, f"cow-{uuid.uuid4().hex[:8]}-{os.path.basename(rel)}"
                    )
                dst = os.path.join(asm, dest)
                os.makedirs(os.path.dirname(dst) or asm, exist_ok=True)
                os.link(os.path.join(tmp_new, rel), dst)
                renamed[rel] = dest

            # a delete-only replacement emits a 0-row part file (flat
            # writer only) — it is never linked: the committed
            # _schema.json gives every state, an emptied one included,
            # its read schema
            for rel, n in staged.items():
                if n:
                    _link_staged(rel)
                    rows_written += n
            # sidecars carry over (the batch-identity hook stays intact,
            # the read schema is unchanged — drift refused above — and a
            # bucketed state keeps its layout contract file)
            for side in (SCHEMA_FILE, META_FILE, BUCKET_SPEC_FILE):
                src = os.path.join(final, side)
                if os.path.isfile(src):
                    shutil.copy(src, os.path.join(asm, side))
            if pending_dm is not None and carry_deletes_minus is not None:
                # CDC-merge fold: the carried state's sidecar is the
                # pending set minus the batch's keys, written INTO the
                # assembly dir so it commits atomically with the data —
                # no window where a re-inserted key is masked or a
                # still-pending key resurrects. An emptied remainder
                # stages nothing: the swap drops the sidecar entirely.
                kcols = self._delete_key_cols(pending_dm)
                remaining = (
                    self._read_deletes(spark, final, pending_dm)
                    .join(
                        carry_deletes_minus.select(*kcols).distinct(),
                        kcols,
                        "left_anti",
                    )
                    .persist()
                )
                try:
                    n_rem = remaining.count()
                    if n_rem:
                        ndir = f"{DELETES_DIR}-{uuid.uuid4().hex}"
                        remaining.coalesce(1).write.mode(
                            "overwrite"
                        ).parquet(os.path.join(asm, ndir))
                        self._write_json_atomic(
                            os.path.join(asm, DELETES_FILE),
                            self._deletes_manifest(
                                kcols, n_rem, ndir, ts=pending_dm.get("ts"),
                            ),
                        )
                finally:
                    remaining.unpersist()
            # same maintenance contract for both manifests: carried
            # files keep their entries verbatim (bytes untouched), LINKED
            # staged files take the entries computed over the stage
            # (skipped 0-row parts never enter)
            for name, old, new in (
                (ZONEMAP_FILE, zm, new_zm), (BLOOM_FILE, bm, new_bm)
            ):
                if new is not None:
                    self._write_json_atomic(os.path.join(asm, name), {
                        **{k: v for k, v in old.items() if k != "files"},
                        "files": {
                            **{
                                rel: old["files"][rel]
                                for rel in carried
                                if rel in old["files"]
                            },
                            **{
                                renamed[rel]: e
                                for rel, e in new["files"].items()
                                if rel in renamed
                            },
                        },
                    })
            self._commit_swap(asm, final, table)
        if lay.bucket_spec is not None:
            self._refresh_bucketed_catalog(spark, table)
        return {
            "rows_written": rows_written,
            "files_replaced": len(replaced_set),
            "files_linked": len(carried),
            "files_new": len(renamed),
        }


    def _drop_zonemap(self, table: str) -> None:
        """Drop the zone-map head — ``append_files`` does this before
        renaming its files in: zoned readers trust the map, so a crash
        mid-append must leave it ABSENT (pruned readers refuse loudly,
        never mis-prune). The Bloom head and both manifests' immutable
        segments stay in place (appends never change committed files;
        the new heads re-reference them), so a crash leaves the Bloom
        head at its pre-append version, which the file-set check
        refuses as STALE and ``heal_bloom`` repairs at O(new files)."""
        p = os.path.join(self.path(table), ZONEMAP_FILE)
        if os.path.isfile(p):
            os.remove(p)

    def write_zonemap(
        self, spark: SparkSession, table: str, stat_cols: list[str]
    ) -> dict:
        """(Re)build the zone map for a committed table. Derived
        metadata: if it is ever missing or stale, ``read_zoned`` refuses
        loudly rather than mis-pruning — rebuild with this call (e.g.
        after a crashed append). ``overwrite(..., stat_cols=...)``
        builds it atomically with the data instead. Built as the stager
        builds it: from the committed files' footers (``_footers``),
        with a Spark pass only over the (column, file) pairs they cannot
        describe exactly (``_zonemap``). Runs under the mutation fence,
        so no commit swaps the file set mid-compute."""
        with self._write_fence(table):
            return self._write_zonemap_unlocked(spark, table, stat_cols)

    def _write_zonemap_unlocked(
        self, spark: SparkSession, table: str, stat_cols: list[str]
    ) -> dict:
        """``write_zonemap`` body; the caller MUST hold the table's
        mutation fence (``compact`` creates a map under its own)."""
        lay = self._layout(table)
        if lay.versioned:
            raise ValueError(
                f"{table!r} is versioned — snapshots carry their own "
                "maps; commit with overwrite_versioned(stat_cols=[...])"
            )
        base = self.path(table)
        zm = self._zonemap(
            spark, base, stat_cols, lay.schema,
            self._footers(base, self._walk_parquet_rels(base), stat_cols),
        )
        self._commit_inline_sidecar(base, ZONEMAP_FILE, zm)
        return zm

    # ------------------------------------------------------------------
    # Per-file Bloom manifests (point-lookup file skipping)
    # ------------------------------------------------------------------
    #
    # The zone map prunes RANGE predicates and only bites when the
    # write layout clusters the queried column. A point lookup on a
    # column the layout does NOT cluster (a user id in a time-clustered
    # table — exactly the GDPR-erasure shape) overlaps every file's
    # [min, max] band and the map prunes nothing. The Bloom manifest is
    # the complement: one Bloom filter per (file, column), sized by the
    # file's distinct count, so a probe key definitively RULES OUT the
    # files that cannot contain it (no false negatives — which is what
    # makes Bloom-pruned erasure CORRECT, not merely fast) and admits a
    # ~0.1% false-positive tail that only costs extra reads, never
    # wrong results. At 100 TB / ~1 GB files with ~10^5 distinct keys
    # per file this is ~200 KB per file-column — manifest-scale
    # metadata, not data. The same idea is Parquet's own column-level
    # bloom_filter_enabled one level up: file grain instead of
    # row-group grain, so planning skips whole files without opening
    # footers.

    @staticmethod
    def file_rel(fp: str, base: str) -> str:
        """Resolve a scan-reported ``_metadata.file_path`` URI to a path
        RELATIVE to ``base`` via urlparse+unquote+realpath — a string-
        prefix match on the raw URI breaks on %-escaped characters and
        symlinked roots, and an unresolvable path must fail loudly."""
        from urllib.parse import unquote, urlparse

        root = os.path.realpath(os.path.abspath(base))
        parsed = urlparse(fp)
        local = unquote(parsed.path) if parsed.scheme else fp
        rel = os.path.relpath(os.path.realpath(local), root)
        if rel.startswith(".."):
            raise ValueError(f"file {fp!r} resolves outside {base!r}")
        return rel

    @staticmethod
    def _bloom_m(n_distinct: int, bits_per_key: int) -> int:
        """Bitmap size: next power of two >= bits_per_key * n (>= 64)."""
        m = 64
        while m < bits_per_key * max(1, n_distinct):
            m <<= 1
        return m

    @staticmethod
    def _bloom_spec_parts(spec: str) -> list[str]:
        """A manifest ``cols`` entry is either a single column name or a
        comma-joined TUPLE spec (``"region,seq"``) whose filter attests
        whole key tuples — the reference's comma-separated composite-pk
        model (ref control_migration_schema_script.sql:27,298-299).
        Per-column filters cannot do that (a file holding key1 in one
        row and key2 in another passes both columns' filters without
        holding the tuple), so composite-key discovery gets its own
        filter over ``xxhash64(c1, c2, ..., seed)`` — the variadic hash,
        NOT a string concat, so it is type-exact and has no separator-
        ambiguity ('a','bc' vs 'ab','c')."""
        return [s.strip() for s in spec.split(",") if s.strip()]

    @staticmethod
    def _walk_parquet_rels(data_dir: str) -> list[str]:
        """Every committed parquet file under ``data_dir`` as rel
        paths — the exact file set a bloom/zone manifest must describe
        (hidden ``_``/``.`` dirs, e.g. the _deletes sidecar, excluded)."""
        rels: list[str] = []
        for dirpath, dirs, fnames in os.walk(data_dir):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for n in fnames:
                if n.endswith(".parquet"):
                    rels.append(
                        os.path.relpath(os.path.join(dirpath, n), data_dir)
                    )
        return rels

    @staticmethod
    def _seg_prefix(filename: str) -> str:
        # "_bloom.json" -> "_bloom.seg-", "_zonemap.json" -> "_zonemap.seg-"
        return filename[: -len(".json")] + ".seg-"

    @classmethod
    def _sidecar_seg_name(
        cls, filename: str, tag: str, suffix: str = ""
    ) -> str:
        return f"{cls._seg_prefix(filename)}{tag}{suffix}.json"

    @classmethod
    def _clear_sidecar_segments(cls, base: str, filename: str) -> None:
        """Delete segment files after an INLINE head lands (rebuilds
        reference none) — best effort: an orphaned segment is
        unreferenced dead weight, never a correctness hazard."""
        prefix = cls._seg_prefix(filename)
        try:
            names = os.listdir(base)
        except FileNotFoundError:
            return
        for n in names:
            if n.startswith(prefix) and n.endswith(".json"):
                try:
                    os.remove(os.path.join(base, n))
                except OSError:
                    pass

    def _commit_inline_sidecar(
        self, base: str, filename: str, manifest: dict
    ) -> None:
        """Land a rebuilt manifest as one INLINE head, then delete the
        segment files it no longer references (the full rebuilds:
        write_zonemap, write_bloom, heal_bloom)."""
        self._write_json_atomic(os.path.join(base, filename), manifest)
        self._clear_sidecar_segments(base, filename)

    def _extend_sidecar_segmented(
        self, base: str, filename: str, head: dict, new_files: dict, tag: str
    ) -> None:
        """Commit ``new_files`` as one immutable segment + a head
        rewrite (params + segment list). A head still carrying inline
        entries spills them to a base segment once, so every later
        extension rewrites O(segment-list) bytes — never the entry set.
        Segment files land BEFORE the head references them: a crash
        leaves the previous head consistent (bloom: stale-and-refused;
        zonemap: the head was dropped up-front, absent-and-loud)."""
        segs = list(head.get("segments") or [])
        if head.get("files"):
            base_name = self._sidecar_seg_name(filename, tag, "-base")
            self._write_json_atomic(
                os.path.join(base, base_name), {"files": head["files"]}
            )
            segs.insert(0, base_name)
            head["files"] = {}
        seg_name = self._sidecar_seg_name(filename, tag)
        self._write_json_atomic(
            os.path.join(base, seg_name), {"files": new_files}
        )
        head["segments"] = [*segs, seg_name]
        self._write_json_atomic(os.path.join(base, filename), head)

    def _bloom_decoded(self, base: str, col: str, merged: dict):
        """(rels, m_arr, offsets, flat_bitmap_bytes) numpy views of the
        manifest's bitmaps for ``col``, cached with the manifest parse
        (decode is O(manifest) — pay it once per manifest version, not
        per probe)."""
        cached = self._sidecar_cache.get((base, BLOOM_FILE))
        if cached is not None:
            slot = cached["decoded"]
            got = slot.get(col)
            if got is not None:
                return got
            # decode from the cache's own merged view (== disk at parse
            # time): caching arrays derived from a caller's older copy
            # would poison later probes of the newer manifest
            src = cached["merged"]["files"]
        else:
            slot, src = None, merged["files"]
        got = self._decode_bitmaps(src, list(src), col)
        if slot is not None:
            slot[col] = got
        return got

    @staticmethod
    def _decode_bitmaps(src: dict, rels: list, col: str):
        import base64

        import numpy as np

        ms, chunks, sizes = [], [], []
        for rel in rels:
            e = src[rel][col]
            b = base64.b64decode(e["bits"])
            ms.append(e["m"])
            chunks.append(b)
            sizes.append(len(b))
        m_arr = np.array(ms, dtype=np.int64)
        offsets = np.zeros(len(rels), dtype=np.int64)
        if len(rels) > 1:
            offsets[1:] = np.cumsum(sizes[:-1])
        flat = np.frombuffer(b"".join(chunks), dtype=np.uint8)
        return (rels, m_arr, offsets, flat)

    @classmethod
    def _extend_decoded(cls, cached: dict, fresh: dict) -> None:
        """Append ``fresh`` entries' bitmaps to every decoded slot of a
        cache entry being incrementally extended (segment append) —
        decode cost O(batch), one concat per col."""
        import numpy as np

        for col, (rels, m_arr, offsets, flat) in list(
            cached["decoded"].items()
        ):
            add_rels = list(fresh)
            a_rels, a_m, a_off, a_flat = cls._decode_bitmaps(
                fresh, add_rels, col
            )
            cached["decoded"][col] = (
                [*rels, *a_rels],
                np.concatenate([m_arr, a_m]),
                np.concatenate([offsets, a_off + len(flat)]),
                np.concatenate([flat, a_flat]),
            )

    @staticmethod
    def _bloom_vec_contains(decoded, hashes: list[list[int]]):
        """Per-file ``any(key) all(hash) bit-set`` membership over the
        whole manifest in vectorized numpy — the Python triple loop at
        100k+ files was seconds per probe; this is the same test as a
        handful of array ops per (key, hash)."""
        import numpy as np

        rels, m_arr, offsets, flat = decoded
        hit = np.zeros(len(rels), dtype=bool)
        for key_hashes in hashes:
            match = ~hit  # files already hit need no further testing
            for h in key_hashes:
                if not match.any():
                    break
                pos = np.int64(h) % m_arr  # numpy % sign == Python %
                byte = flat[offsets + (pos >> np.int64(3))]
                bit = np.left_shift(
                    np.uint8(1), (pos & np.int64(7)).astype(np.uint8)
                )
                match &= (byte & bit) != 0
            hit |= match
            if hit.all():
                break
        return hit

    def _bloom_pass(
        self,
        spark: SparkSession,
        data_dir: str,
        cols: list[str],
        n_rows: int,
        *,
        schema: StructType,
        bits_per_key: int = BLOOM_BITS_PER_KEY,
        k: int = BLOOM_K,
        paths: list[str] | None = None,
    ) -> dict:
        """Bloom manifest over ``data_dir`` (or just ``paths``) read with
        ``schema``, holding ``n_rows`` rows, with the pass chosen by
        input size — the one place that choice is made:
        ``_compute_bloom_small`` up to ``DELETE_BLOOM_PROBE_CAP`` rows,
        the distributed ``_compute_bloom`` above it. Both build the same
        manifest."""
        fn = (
            self._compute_bloom_small
            if n_rows <= DELETE_BLOOM_PROBE_CAP
            else self._compute_bloom
        )
        return fn(spark, data_dir, cols, schema=schema,
                  bits_per_key=bits_per_key, k=k, paths=paths)

    @staticmethod
    def _compute_bloom_small(
        spark: SparkSession,
        data_dir: str,
        cols: list[str],
        schema: StructType,
        bits_per_key: int = BLOOM_BITS_PER_KEY,
        k: int = BLOOM_K,
        paths: list[str] | None = None,
    ) -> dict:
        """Batch-sized twin of ``_compute_bloom``: ONE Spark job
        projects every column spec's k seeded xxhash64 values (the
        hashes must come from the JVM — probe parity), the rows collect
        (caller guarantees the dir is batch-bounded, the same
        discipline as the reconciliation probe collects), and the
        per-file bitmaps pack driver-side. Bit-identical to the
        distributed pass (pinned in tests/test_append_files.py): the
        same NULL-key skip, the same m sizing, the same bit positions —
        only WHERE the packing runs differs. ``_bloom_pass`` picks it
        by staged row count for every staging writer (full states,
        ``replace_files``, ``append_files``) and for ``heal_bloom``'s
        gap files: below ``DELETE_BLOOM_PROBE_CAP`` rows one job beats
        the distributed pass's several (measured on 4 CPUs: 0.37 vs
        2.39 s at 200 rows, 2.01 vs 2.24 s at 100k).

        ``paths``: restrict to these files (absolute, under
        ``data_dir``) — the incremental-heal shape; rel keys stay
        relative to ``data_dir``. Zero-row files get zero bitmaps like
        the distributed pass (r19, closing the coverage gap the r18
        advisor flagged), so a manifest assembled from these entries
        always describes the exact file set."""
        import base64

        expected = (
            ParquetWarehouse._walk_parquet_rels(data_dir) if paths is None
            else [ParquetWarehouse.file_rel(p, data_dir) for p in paths]
        )
        df = ParquetWarehouse._read_dir(
            spark, data_dir, schema, None if paths is None else expected
        )
        proj = [F.col("_metadata.file_path").alias("__fp")]
        for ci, c in enumerate(cols):
            parts = ParquetWarehouse._bloom_spec_parts(c)
            nn = F.lit(True)
            for p in parts:
                nn = nn & F.col(p).isNotNull()
            proj.append(nn.alias(f"__nn{ci}"))
            # the raw (type-exact) key hash identifies distinct keys for
            # m sizing; the k seeded hashes set the bits
            proj.append(
                F.xxhash64(*[F.col(p) for p in parts]).alias(f"__id{ci}")
            )
            for i in range(k):
                proj.append(
                    F.xxhash64(
                        *[F.col(p) for p in parts], F.lit(i)
                    ).alias(f"__h{ci}_{i}")
                )
        rows = df.select(*proj).collect()
        by_fp: dict[str, list] = {}
        for r in rows:
            by_fp.setdefault(r["__fp"], []).append(r)
        files: dict[str, dict] = {}
        schema_cols: list[str] = []
        for ci, c in enumerate(cols):
            for p in ParquetWarehouse._bloom_spec_parts(c):
                if p not in schema_cols:
                    schema_cols.append(p)
            for fp, frows in by_fp.items():
                rel = ParquetWarehouse.file_rel(fp, data_dir)
                keyed = [r for r in frows if r[f"__nn{ci}"]]
                nd = len({r[f"__id{ci}"] for r in keyed})
                m = ParquetWarehouse._bloom_m(nd, bits_per_key)
                bitmap = bytearray((m + 7) // 8)
                for r in keyed:
                    for i in range(k):
                        pos = r[f"__h{ci}_{i}"] % m
                        bitmap[pos >> 3] |= 1 << (pos & 7)
                files.setdefault(rel, {})[c] = {
                    "m": m,
                    "n_distinct": nd,
                    "bits": base64.b64encode(bytes(bitmap)).decode(),
                }
            # row-less files are invisible to the row-driven pass but
            # the manifest must describe the EXACT file set — zero
            # bitmaps, same as the distributed pass
            covered = {
                ParquetWarehouse.file_rel(fp, data_dir) for fp in by_fp
            }
            for rel in expected:
                if rel not in covered:
                    files.setdefault(rel, {})[c] = dict(_EMPTY_BLOOM)
        return {
            "cols": list(cols),
            "k": k,
            "bits_per_key": bits_per_key,
            "schema": df.select(*schema_cols).schema.jsonValue(),
            "files": files,
        }

    @staticmethod
    def _compute_bloom(
        spark: SparkSession,
        data_dir: str,
        cols: list[str],
        schema: StructType,
        bits_per_key: int = BLOOM_BITS_PER_KEY,
        k: int = BLOOM_K,
        paths: list[str] | None = None,
    ) -> dict:
        """Two distributed passes over ``data_dir`` per column (or
        tuple spec — see ``_bloom_spec_parts``): one distinct-count agg
        to size each file's bitmap, one k-seeded-hash agg to set its
        bits. The result is file-count sized (driver JSON), like the
        zone map; bit positions come from
        ``pmod(xxhash64(value..., seed), m)`` — engine-internal
        metadata, never oracle-compared, so Spark's native hash is the
        right tool. ``paths`` restricts the passes to those files (the
        incremental-heal shape, matching ``_compute_bloom_small``)."""
        import base64

        # the row-driven passes below can only see files that HOLD rows
        # (groupBy(_metadata.file_path) has no group for an empty part
        # file), but the manifest must describe the EXACT committed file
        # set or the staleness check refuses forever — enumerate every
        # parquet file up front and give row-less ones zero bitmaps (an
        # empty file can never contain a probe key)
        all_rels = (
            ParquetWarehouse._walk_parquet_rels(data_dir) if paths is None
            else [ParquetWarehouse.file_rel(p, data_dir) for p in paths]
        )
        df = ParquetWarehouse._read_dir(
            spark, data_dir, schema, None if paths is None else all_rels
        )

        def rel_of(fp: str) -> str:
            return ParquetWarehouse.file_rel(fp, data_dir)

        files: dict[str, dict] = {}
        fpcol = F.col("_metadata.file_path").alias("__fp")
        schema_cols: list[str] = []
        for c in cols:
            parts = ParquetWarehouse._bloom_spec_parts(c)
            schema_cols += [p for p in parts if p not in schema_cols]
            # the distributed side keys everything by the RAW file_path
            # string (exact round-trip through collect — basenames are
            # NOT unique: Spark reuses one task filename across the
            # partition dirs it writes); rel paths are resolved
            # driver-side once per file for the manifest keys
            counts_fp = {
                r["__fp"]: r["__nd"]
                for r in df.groupBy(fpcol)
                .agg(
                    F.count_distinct(
                        *[F.col(p) for p in parts]
                    ).alias("__nd")
                )
                .collect()
            }
            rel_by_fp = {fp: rel_of(fp) for fp in counts_fp}
            m_by_fp = {
                fp: ParquetWarehouse._bloom_m(nd, bits_per_key)
                for fp, nd in counts_fp.items()
            }
            m_df = local_frame(
                spark,
                [(fp, m) for fp, m in m_by_fp.items()],
                "__fp string, __m long",
            )
            # a row with ANY NULL key column can never equality-match a
            # probe key (delete_keys refuses NULL keys), so its bits
            # need not be set
            nn = F.lit(True)
            for p in parts:
                nn = nn & F.col(p).isNotNull()
            pos = df.select(fpcol, *parts).where(nn)
            # bit positions are Spark-hashed (the probe side hashes with
            # the same xxhash64, so builder and prober must share the
            # JVM hash), but the BITMAP packs executor-side in one
            # Arrow-grouped pass: shipping the m/8-byte bitmap per file
            # beats collecting ~k*n_distinct set-bit positions through a
            # collect_set (an order of magnitude less driver transfer on
            # a wide rebuild, and no JVM set materialization)
            import numpy as _np
            import pandas as _pd

            def _pack(pdf: _pd.DataFrame) -> _pd.DataFrame:
                m = int(pdf["__m"].iloc[0])
                bitmap = _np.zeros((m + 7) // 8, dtype=_np.uint8)
                ps = _np.unique(
                    pdf[[f"__h{i}" for i in range(k)]].to_numpy(
                        dtype=_np.int64
                    )
                )
                _np.bitwise_or.at(
                    bitmap, ps >> 3, (1 << (ps & 7)).astype(_np.uint8)
                )
                return _pd.DataFrame(
                    {"__fp": [pdf["__fp"].iloc[0]], "__bits": [bitmap.tobytes()]}
                )

            rows = (
                pos.join(F.broadcast(m_df), "__fp")
                .select(
                    "__fp",
                    "__m",
                    *[
                        F.pmod(
                            F.xxhash64(
                                *[F.col(p) for p in parts], F.lit(i)
                            ),
                            F.col("__m"),
                        ).alias(f"__h{i}")
                        for i in range(k)
                    ],
                )
                .groupBy("__fp")
                .applyInPandas(_pack, "__fp string, __bits binary")
                .collect()
            )
            bits_by_rel = {
                rel_by_fp[r["__fp"]]: r["__bits"] for r in rows
            }
            for fp, m in m_by_fp.items():
                rel = rel_by_fp[fp]
                packed = bits_by_rel.get(rel)
                if packed is None:
                    packed = bytes(bytearray((m + 7) // 8))
                files.setdefault(rel, {})[c] = {
                    "m": m,
                    "n_distinct": counts_fp[fp],
                    "bits": base64.b64encode(bytes(packed)).decode(),
                }
            covered = {rel_by_fp[fp] for fp in m_by_fp}
            for rel in all_rels:
                if rel not in covered:  # row-less file: zero bitmap
                    files.setdefault(rel, {})[c] = dict(_EMPTY_BLOOM)
        return {
            "cols": list(cols),
            "k": k,
            "bits_per_key": bits_per_key,
            # the probe side must hash keys AS the column's exact type
            # (xxhash64 is type-sensitive); persisting the schema here
            # spares every point lookup a parquet footer read
            "schema": df.select(*schema_cols).schema.jsonValue(),
            "files": files,
        }

    def write_bloom(self, spark: SparkSession, table: str, cols: list[str]) -> dict:
        """(Re)build the Bloom manifest for a committed plain or
        hive-partitioned table (partition-qualified rel paths; for a
        partitioned table the manifest's point pruning COMPOSES with
        partition pruning, and file-grain erasure needs no partition-
        value rendering at all — rel paths address the dirs directly).
        Each ``cols`` entry is a single column name or a comma-joined
        TUPLE spec (``"region,seq"``) whose filter attests whole key
        tuples — what composite-key delete discovery probes (see
        ``_bloom_spec_parts``).
        Derived metadata with the zone map's lifecycle discipline:
        in-place mutations drop it (rebuild with this call),
        ``replace_files`` MAINTAINS it (carried files keep their
        filters verbatim, new files get fresh ones), and the read path
        refuses loudly when the manifest doesn't describe the exact
        committed file set. Runs under the mutation fence so the file
        set cannot swap mid-compute."""
        with self._write_fence(table):
            lay = self._layout(table)
            if lay.versioned:
                raise ValueError(
                    f"{table!r} is versioned — snapshots are immutable, so "
                    "their filters build at WRITE time: commit with "
                    "overwrite_versioned(bloom_cols=[...]) and every "
                    "snapshot carries its own manifest"
                )
            bm = self._compute_bloom(spark, self.path(table), cols, lay.schema)
            self._commit_inline_sidecar(self.path(table), BLOOM_FILE, bm)
        return bm

    def heal_bloom(
        self, spark: SparkSession, table: str, cols: list[str]
    ) -> dict:
        """Incremental Bloom-manifest repair (r19) for the one stale
        shape a present manifest can be in — MISSING entries for files
        appended during ``append_files``' crash window (renames landed,
        manifest commit didn't). Entries compute for JUST those files
        (plus dropping entries for files no longer present, a
        defensive case no current mutation produces: in-place mutations
        drop the whole manifest), every other per-file filter is kept
        verbatim — sound because committed data files are immutable
        (every mutation lands new names or drops the manifest), so an
        existing entry can never describe changed content. Equals the
        full ``write_bloom`` rebuild bit-for-bit (pinned in tests) at
        O(unmanifested files) cost instead of O(table) — the ingest
        streams' heal path; the gap files' pass is picked by their
        footer row count (``_bloom_pass``), so a batch-sized gap heals
        in one job. Both passes read with the committed schema, so a gap
        file's partition values hash as the type the rest of the
        manifest was built with. Falls back to the full rebuild when no
        manifest exists or ``cols`` doesn't match the manifest's specs.
        Returns the committed manifest."""
        with self._write_fence(table):
            lay = self._layout(table)
            if lay.versioned:
                raise ValueError(
                    f"{table!r} is versioned — snapshots carry their own "
                    "immutable manifests; nothing to heal"
                )
            final = self.path(table)
            schema = lay.schema
            try:
                bm = self.bloom(table)
            except ValueError:
                bm = None  # missing segment → full rebuild below
            if bm is None or list(bm["cols"]) != list(cols):
                bm = self._compute_bloom(spark, final, cols, schema)
            else:
                current = set(self._walk_parquet_rels(final))
                have = set(bm["files"])
                if have == current:
                    return bm  # already exact — nothing to commit
                for rel in have - current:
                    del bm["files"][rel]
                missing = sorted(current - have)
                if missing:
                    abs_paths = [os.path.join(final, r) for r in missing]
                    nrows = sum(
                        f.n for f in self._footers(final, missing).values()
                    )
                    add = self._bloom_pass(
                        spark, final, bm["cols"], nrows, schema=schema,
                        bits_per_key=bm["bits_per_key"], k=bm["k"],
                        paths=abs_paths,
                    )
                    bm["files"].update(add["files"])
            self._commit_inline_sidecar(final, BLOOM_FILE, bm)
        return bm

    def bloom(self, table: str, version: int | None = None) -> dict | None:
        """The table's Bloom manifest — the live one for plain tables,
        the resolved snapshot's own for versioned tables (mirrors
        ``zonemap``: each immutable snapshot carries its manifest, so it
        can never go stale). None when absent; an explicit ``version``
        that isn't retained raises like every other versioned read."""
        try:
            base = self._zoned_base(table, version)
        except (KeyError, ValueError):
            if version is not None:
                raise
            return None  # e.g. a versioned table with no snapshot yet
        return self._sidecar_merged(base, BLOOM_FILE, table)

    def _sidecar_merged(
        self, base: str, filename: str, table: str
    ) -> dict | None:
        """Cached merged view of a segment-list sidecar manifest
        (``_bloom.json`` / ``_zonemap.json``): head ``files`` plus every
        referenced immutable segment's. ``append_files`` writes each
        batch's entries as one SEGMENT (O(batch) manifest I/O per sync,
        the LSM/manifest-list shape); the merged view is assembled here
        once per manifest version and served from the signature-keyed
        cache."""
        p = os.path.join(base, filename)
        key = (base, filename)
        try:
            st = os.stat(p)
        except FileNotFoundError:
            self._sidecar_cache.pop(key, None)
            return None
        sig = (st.st_mtime_ns, st.st_size)
        cached = self._sidecar_cache.get(key)
        if cached is None or cached["sig"] != sig:
            with open(p) as f:
                head = json.load(f)
            segs = list(head.get("segments") or [])
            inline = head.get("files") or {}

            def _seg_files(seg: str) -> dict:
                try:
                    with open(os.path.join(base, seg)) as f:
                        return json.load(f)["files"]
                except FileNotFoundError:
                    raise ValueError(
                        f"{filename} of {table!r} references a missing "
                        f"segment {seg!r} — rebuild the manifest"
                    ) from None

            n_old = len(cached["segments"]) if cached else 0
            if (
                cached is not None
                and len(segs) > n_old
                and segs[:n_old] == cached["segments"]
                and inline == cached["inline"]
            ):
                # an append only ADDED segments (immutable, unique
                # names): parse just the new ones and extend the cached
                # merged view + decoded bitmaps in place — per-sync
                # manifest READ cost stays O(batch), like the write side
                fresh: dict = {}
                for seg in segs[n_old:]:
                    fresh.update(_seg_files(seg))
                files = cached["merged"]["files"]
                if any(rel in files for rel in fresh):
                    cached = None  # overlap: not a pure extension
                else:
                    files.update(fresh)
                    self._extend_decoded(cached, fresh)
                    cached["sig"] = sig
                    cached["segments"] = segs
            else:
                cached = None
            if cached is None:
                files = dict(inline)
                for seg in segs:
                    files.update(_seg_files(seg))
                merged = {k: v for k, v in head.items() if k != "segments"}
                merged["files"] = files
                cached = {
                    "sig": sig,
                    "merged": merged,
                    "decoded": {},
                    "segments": segs,
                    "inline": inline,
                }
                self._sidecar_cache[key] = cached
        # fresh top-level + files dict per call: heal/extend callers
        # mutate the returned mapping, and the cache must only ever
        # reflect what is ON DISK (per-file entries are shared — they
        # are immutable once committed)
        out = dict(cached["merged"])
        out["files"] = dict(out["files"])
        return out

    def _bloom_key_hashes(
        self, spark: SparkSession, table: str, col: str, keys: list, bm: dict
    ) -> list[list[int]]:
        """k xxhash64 values per probe key, computed by the SAME hash as
        the build pass with the key cast to the column's exact type
        (xxhash64 is type-sensitive: hashing an int where the column is
        long would probe garbage positions). Integral key columns hash
        driver-side in vectorized numpy (``functions/xxh64.py``,
        bit-identical to ``F.xxhash64`` by pinned test) — zero Spark
        jobs on the ingest streams' per-batch reconcile probes and every
        point lookup; other types run the one tiny driver-bounded job
        over len(keys) rows. The column type comes from the manifest,
        which every Bloom pass records."""
        parts = self._bloom_spec_parts(col)
        src = StructType.fromJson(bm["schema"])
        fields = [src[p] for p in parts]
        from ..functions.xxh64 import chain_integral_hashes

        rows = [k if len(parts) > 1 else (k,) for k in keys]
        fast = chain_integral_hashes(
            rows, [f.dataType.typeName() for f in fields], bm["k"]
        )
        if fast is not None:
            return fast
        probe = local_frame(spark, rows, StructType(fields))
        rows = probe.select(
            *[
                F.xxhash64(
                    *[F.col(p) for p in parts], F.lit(i)
                ).alias(f"h{i}")
                for i in range(bm["k"])
            ]
        ).collect()
        return [[r[f"h{i}"] for i in range(bm["k"])] for r in rows]

    def bloom_hit_split(
        self,
        spark: SparkSession,
        table: str,
        col: str,
        keys: list,
        version: int | None = None,
    ) -> tuple[list[str], list[str]] | None:
        """Split the table's files into (possibly-containing, definitely
        -not-containing) for the probe ``keys``. None when the table has
        no manifest covering ``col`` (callers fall back to an unpruned
        plan); raises when the manifest is STALE (doesn't describe the
        exact committed file set) — stale must be loud, never a
        mis-prune. ``version`` probes a retained snapshot of a
        versioned table (its own in-snapshot manifest)."""
        bm = self.bloom(table, version)
        if bm is None or col not in bm["cols"]:
            return None
        final = self._zoned_base(table, version)
        current = set(self._walk_parquet_rels(final))
        if set(bm["files"]) != current:
            raise ValueError(
                f"bloom manifest of {table!r} is stale (files changed "
                "outside the maintained paths) — rebuild with write_bloom"
            )
        if not keys:
            return [], sorted(current)
        hashes = self._bloom_key_hashes(spark, table, col, keys, bm)
        rels, *_rest = decoded = self._bloom_decoded(final, col, bm)
        mask = self._bloom_vec_contains(decoded, hashes)
        hit = [r for r, h in zip(rels, mask) if h]
        miss = [r for r, h in zip(rels, mask) if not h]
        return hit, miss

    def read_bloom_keys(
        self,
        spark: SparkSession,
        table: str,
        col: str,
        keys: list,
        version: int | None = None,
    ) -> DataFrame:
        """Manifest-pruned point lookup: scan only the files whose Bloom
        filter admits at least one probe key, then apply the exact
        ``IN`` filter as the residual. The no-false-negative guarantee
        makes the pruned scan return exactly the unpruned result, read
        with the committed schema (``_read_dir``) whichever files are
        kept. ``version`` prunes a time-travel read of a versioned
        table through the snapshot's own manifest."""
        split = self.bloom_hit_split(spark, table, col, keys, version)
        if split is None:
            raise ValueError(
                f"table {table!r} has no {BLOOM_FILE} covering {col!r}; "
                "write it with write_bloom() (or "
                "overwrite_versioned(bloom_cols=...) for snapshots)"
            )
        hit, _miss = split
        df = self._read_dir(
            spark, self._zoned_base(table, version),
            self.schema(table, version), hit,
        )
        parts = self._bloom_spec_parts(col)
        if len(parts) == 1:
            df = df.filter(F.col(col).isin(keys))
        else:
            # tuple residual: struct-IN with literals cast to the exact
            # column types (an untyped int literal next to a long column
            # would silently match nothing)
            df = df.filter(
                F.struct(*parts).isin(
                    [
                        F.struct(
                            *[
                                F.lit(v).cast(df.schema[p].dataType).alias(p)
                                for p, v in zip(parts, key)
                            ]
                        )
                        for key in keys
                    ]
                )
            )
        # same merge-on-read contract as read()/read_zoned(): pending
        # delete keys are masked, so the pruned lookup still returns
        # exactly what the unpruned read would
        return self._apply_pending_deletes(spark, df, table)

    def read_bucket_keys(
        self, spark: SparkSession, table: str, keys: list
    ) -> DataFrame:
        """Bucket-cover point lookup on a BUCKETED table's bucket key:
        scan only the files of the buckets the probe keys hash into
        (``_bucket_cover``: ``pmod(hash(key), n_buckets)`` against the
        ``_NNNNN`` file-name suffixes — the same zero-I/O cover every
        keyed rewrite intersects), then apply the exact ``IN`` residual. A row's
        bucket is a pure function of its key, so the cover is provably
        complete and the pruned scan returns exactly the unpruned
        result. At 100 TB with thousands of buckets this reads
        |keys|/n_buckets of the table for a subject lookup.

        This path exists because Spark's OWN bucket pruning
        (``SelectedBucketsCount`` in the scan) only survives when the
        planner keeps the bucketed scan — ``DisableUnnecessaryBucketedScan``
        (on by default) drops it for a bare filter query with no
        join/aggregate consuming the distribution, and the point lookup
        silently reads every file. The engine-owned cover does not
        depend on planner rules. ``keys``: scalar values for a
        single-column bucket key, tuples (in ``bucket_by`` order) for a
        composite one. The hit files read with the committed schema,
        which also types the probe keys. Pending merge-on-read deletes
        are masked, same contract as ``read``/``read_bloom_keys``."""
        spec = self.bucket_spec(table)
        if spec is None:
            raise ValueError(
                f"{table!r} carries no bucket spec — bucket-cover point "
                "reads need a bucketed layout (use read_bloom_keys for "
                "manifest-pruned lookups on other layouts)"
            )
        bcols = spec["bucket_by"]
        rows = (
            [(k,) for k in keys]
            if len(bcols) == 1
            else [tuple(k) for k in keys]
        )
        tsch = self.schema(table)
        kdf = local_frame(
            spark,
            rows,
            StructType([StructField(c, tsch[c].dataType, True) for c in bcols]),
        )
        # no hit file: the named buckets are empty in the committed state
        df = self._read_files(
            spark, table, self._bucket_cover(table, spec, kdf)
        )
        if len(bcols) == 1:
            df = df.filter(F.col(bcols[0]).isin(keys))
        else:
            df = df.filter(
                F.struct(*bcols).isin(
                    [
                        F.struct(
                            *[
                                F.lit(v).cast(tsch[c].dataType).alias(c)
                                for c, v in zip(bcols, key)
                            ]
                        )
                        for key in rows
                    ]
                )
            )
        return self._apply_pending_deletes(spark, df, table)

    def _zoned_base(self, table: str, version: int | None) -> str:
        """Directory holding the data AND its zone map: the table dir
        for plain tables, the resolved snapshot dir for versioned ones
        (each immutable snapshot carries its OWN map — never stale)."""
        if not os.path.isfile(self._version_pointer(table)):
            if version is not None:
                raise ValueError(f"table {table!r} is not versioned")
            return self.path(table)
        state = self._load_versions(table)
        v = state["current"] if version is None else version
        if v not in state["versions"]:
            raise KeyError(
                f"version {v} of {table!r} is not retained "
                f"(have {sorted(state['versions'])})"
            )
        return os.path.join(self.path(table), state["versions"][v]["dir"])

    def zonemap(
        self, table: str, version: int | None = None
    ) -> dict | None:
        return self._sidecar_merged(
            self._zoned_base(table, version), ZONEMAP_FILE, table
        )

    def metadata_stats(
        self, table: str, version: int | None = None
    ) -> dict | None:
        """Answer ``count(*)`` / per-column ``min``/``max`` from the
        zone-map manifest alone — ZERO data I/O (the Iceberg-metadata-
        table pattern: the planner's row estimate, a freshness probe, a
        dashboard tile — none of them should scan 100 TB). Returns
        ``{"rows", "files", "cols": {c: {"min", "max"}}}`` or ``None``
        when the table carries no zone map; column bounds are exact
        because every mutation path rebuilds or carries exact manifest
        entries. All-NULL file bands are skipped per column (min/max
        ignore NULLs); a column whose every band is NULL reports
        ``{"min": None, "max": None}``.

        Pending merge-on-read deletes REFUSE by default: the manifest
        still counts masked rows, so serving it would overcount —
        ``allow_pending`` is deliberately absent; materialize first
        (the sidecar's whole point is that readers never see stale
        state)."""
        if self.pending_deletes(table) is not None:
            raise ValueError(
                f"{table!r} has pending merge-on-read deletes — manifest "
                "counts include masked rows; materialize_deletes() first"
            )
        zm = self.zonemap(table, version=version)
        if zm is None:
            return None
        cols: dict[str, dict] = {c: {"min": None, "max": None} for c in zm["stat_cols"]}
        rows = 0
        for entry in zm["files"].values():
            rows += entry["n"]
            for c in zm["stat_cols"]:
                lo, hi = entry[c]
                if lo is None:
                    continue  # all-NULL band for this column
                cur = cols[c]
                cur["min"] = lo if cur["min"] is None else min(cur["min"], lo)
                cur["max"] = hi if cur["max"] is None else max(cur["max"], hi)
        return {"rows": rows, "files": len(zm["files"]), "cols": cols}

    def read_zoned(
        self,
        spark: SparkSession,
        table: str,
        col: str | None = None,
        lo=None,
        hi=None,
        ranges: dict | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Manifest-pruned range read: keep only the files whose
        [min, max] band overlaps the requested range(s), scan those with
        ``basePath`` set (partition columns survive), and apply the
        residual filters. This is the read-side complement of the
        ``cluster_by``/``zorder_by`` write layout: the layout makes each
        file's band narrow, the manifest drops non-overlapping files at
        PLANNING time — the scan never opens their footers, which is
        what parquet row-group statistics alone cannot give you at
        100 TB file counts. Files with no non-null values for a queried
        column are dropped (a range predicate never matches NULL).

        Single column: ``read_zoned(spark, t, "k", lo, hi)``. Multiple
        columns: ``read_zoned(spark, t, ranges={"a": (a0, a1),
        "b": (b0, b1)})`` — a file survives only if EVERY range
        overlaps; pair with ``zorder_by`` on the same columns, whose
        layout localizes every listed column, so each conjunct prunes
        (lexicographic ``cluster_by`` only makes the leading column's
        bands narrow). On a versioned table the CURRENT snapshot's map
        is used, or any retained ``version`` (time-travel pruned
        reads). The kept files read with the committed schema
        (``_read_dir``), so the result has ``read``'s schema whichever
        files survive."""
        if ranges is None:
            if col is None:
                raise ValueError("pass col (+ lo/hi) or ranges={...}")
            ranges = {col: (lo, hi)}
        elif col is not None or lo is not None or hi is not None:
            raise ValueError("col/lo/hi and ranges are mutually exclusive")
        base = self._zoned_base(table, version)
        zm = self.zonemap(table, version)
        if zm is None:
            raise ValueError(
                f"table {table!r} has no {ZONEMAP_FILE}; write it with "
                "write_zonemap() or overwrite(..., stat_cols=[...])"
            )
        missing = [c for c in ranges if c not in zm["stat_cols"]]
        if missing:
            raise ValueError(
                f"column(s) {missing} not in zone map stat_cols "
                f"{zm['stat_cols']}"
            )
        df = self._read_dir(
            spark, base, self.schema(table, version),
            self._interval_cover(
                zm["files"], {c: [b] for c, b in ranges.items()}
            )[0],
        )
        for c, (clo, chi) in ranges.items():
            if clo is not None:
                df = df.filter(F.col(c) >= F.lit(clo))
            if chi is not None:
                df = df.filter(F.col(c) <= F.lit(chi))
            if clo is None and chi is None:
                # Pruning drops all-NULL files for every queried column
                # ("a range predicate never matches NULL"); an
                # UNBOUNDED range adds no >=/<= residual, so NULL rows
                # in kept files must be filtered here too or pruning
                # and filtering disagree on the result set.
                df = df.filter(F.col(c).isNotNull())
        # same merge-on-read contract as read(): pending delete keys are
        # masked (versioned tables refuse delete_keys — no-op there)
        return self._apply_pending_deletes(spark, df, table)

    def read_manifest(self, table: str) -> dict:
        """Manifest committed by the last ``write_shards``."""
        with open(os.path.join(self.path(table), "_manifest.json")) as f:
            return json.load(f)

    def read_meta(self, table: str) -> dict:
        """Sidecar committed by the last ``overwrite(..., meta=...)`` —
        empty dict if the table has none."""
        p = os.path.join(self.path(table), META_FILE)
        if not os.path.isfile(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def update_meta(self, table: str, updates: dict) -> dict:
        """Merge ``updates`` into the table's ``_meta.json`` sidecar
        (atomic tmp+replace; creates it if absent). NOT part of a data
        commit — callers must order it strictly AFTER the commit it
        describes (the CDC watermark pattern, r19): a crash between the
        commit and this write leaves the sidecar CONSERVATIVE (older
        than the data), never ahead of it, so consumers like
        ``incremental_load``'s replay early-exit can trust a recorded
        value without a fence. A full ``overwrite`` swap drops the
        sidecar unless re-passed — the right default for markers scoped
        to a table state (e.g. a reload resets the merge high-water
        mark)."""
        m = self.read_meta(table)
        m.update(updates)
        self._write_json_atomic(os.path.join(self.path(table), META_FILE), m)
        return m

    # ---- merge-on-read deletion vectors ---------------------------------

    def pending_deletes(self, table: str) -> dict | None:
        """The table's pending-delete manifest (``{"key_cols", "n_keys",
        "dir"}``; single-column manifests also carry the legacy
        ``"key_col"``) or None. The manifest file is the SOLE commit
        point; the keys live in the versioned parquet sidecar dir it
        names (``_deletes-<hex>``) — each ``delete_keys`` writes a NEW
        dir and flips the manifest, so a manifest can never name a
        partially written or mid-swap dir, and superseded dirs linger
        for in-flight readers until ``vacuum`` sweeps them."""
        p = os.path.join(self.path(table), DELETES_FILE)
        if not os.path.isfile(p):
            return None
        with open(p) as f:
            return json.load(f)

    @staticmethod
    def _delete_key_cols(dm: dict) -> list[str]:
        """Key column list of a delete manifest; pre-composite-key
        manifests recorded a single ``key_col``."""
        return dm.get("key_cols") or [dm["key_col"]]

    @staticmethod
    def _deletes_manifest(
        kcols: list[str], n_keys: int, ndir: str, ts: float | None = None
    ) -> dict:
        """``ts`` is when the OLDEST still-pending delete landed —
        accumulations and subtractions carry it through, so the
        maintenance scheduler's age check can't be pushed back forever
        by a trickle of new deletes."""
        m = {
            "key_cols": kcols,
            "n_keys": n_keys,
            "dir": ndir,
            "ts": time.time() if ts is None else ts,
        }
        if len(kcols) == 1:  # legacy single-column shape kept readable
            m["key_col"] = kcols[0]
        return m

    def _deletes_dir(self, table: str, dm: dict) -> str:
        # legacy manifests (pre-versioned-dir) named the fixed _deletes
        return os.path.join(self.path(table), dm.get("dir", DELETES_DIR))

    @staticmethod
    def _read_deletes(spark: SparkSession, base: str, dm: dict) -> DataFrame:
        """The pending-delete key sidecar of the state dir ``base`` (a
        live table or a group snapshot, each with its own
        ``_schema.json``), read with the key columns' committed types —
        the types ``delete_keys`` casts the keys to — never inferred."""
        tsch = ParquetWarehouse._dir_schema(base, os.path.basename(base))
        schema = StructType(
            [
                StructField(c, tsch[c].dataType, True)
                for c in ParquetWarehouse._delete_key_cols(dm)
            ]
        )
        # the files by name: Spark ignores (with a warning) a root path
        # whose own name starts with "_"
        d = os.path.join(base, dm.get("dir", DELETES_DIR))
        return ParquetWarehouse._read_dir(
            spark, d, schema, ParquetWarehouse._walk_parquet_rels(d)
        )

    def _refuse_pending_deletes(self, table: str, op: str) -> None:
        """Mutations that assemble a new table state from the CURRENT
        files must refuse while deletes are pending: their commit swap
        does not carry the ``_deletes`` sidecar, so the masked rows in
        every file the mutation did NOT rewrite would silently
        resurrect. (``overwrite``/``write_shards`` are exempt by
        contract: a full replace defines a complete new state, which
        supersedes the pending set. The CDC merge fold is the other
        sanctioned path: it passes ``carry_deletes_minus`` so the new
        state carries a correctly rewritten sidecar — see
        ``cdc.merge_and_write``.)"""
        if self.pending_deletes(table) is not None:
            raise ValueError(
                f"{op} on {table!r} with pending merge-on-read deletes "
                "would drop the _deletes sidecar and resurrect masked "
                "rows — run materialize_deletes() (or recluster()) first"
            )

    def _apply_pending_deletes(
        self, spark: SparkSession, df: DataFrame, table: str
    ) -> DataFrame:
        """Anti-join ``df`` against the table's pending delete keys (the
        merge-on-read half of ``delete_keys``); identity when none are
        pending. NULL keys never equality-match, so NULL-keyed rows are
        never masked (``delete_keys`` refuses NULL keys for the same
        reason)."""
        return self._apply_deletes_in_dir(spark, df, self.path(table))

    def _apply_deletes_in_dir(
        self, spark: SparkSession, df: DataFrame, base: str
    ) -> DataFrame:
        """Dir-addressed form of the pending-delete mask, shared by live
        tables and hard-linked group snapshots (whose sidecar rides in
        the snapshot dir itself)."""
        p = os.path.join(base, DELETES_FILE)
        if not os.path.isfile(p):
            return df
        with open(p) as f:
            dm = json.load(f)
        dele = self._read_deletes(spark, base, dm)
        return self._anti_join_keys(
            df, dele, self._delete_key_cols(dm), dm["n_keys"]
        )

    @staticmethod
    def _anti_join_keys(
        df: DataFrame, dele: DataFrame, kcols: list[str], n_keys: int
    ) -> DataFrame:
        """Anti-join ``df`` against the key(-tuple) set ``dele`` on
        ``kcols`` — the shared read-mask / materialize-survivor kernel.
        Composite keys match conjunctively (all columns equal), the
        reference's comma-separated pk-list semantics (ref
        control_migration_schema_script.sql:298-299,336-340). NULLs in
        ``df`` never equality-match, so NULL-keyed rows survive."""
        probe = dele.select(
            *[F.col(c).alias(f"__del_{c}") for c in kcols]
        )
        if n_keys <= DELETE_BROADCAST_KEY_CAP:
            probe = F.broadcast(probe)
        cond = F.lit(True)
        for c in kcols:
            cond = cond & (df[c] == F.col(f"__del_{c}"))
        return df.join(probe, cond, "left_anti")

    @staticmethod
    def _key_scan(
        scan: DataFrame, base: str, kcols: list[str], keys: DataFrame,
        n_keys: int,
    ) -> list[str]:
        """The EXACT files of ``scan`` (a read of the state dir ``base``)
        holding a key tuple of ``keys``, as sorted rel paths: one
        semi-join of the key column(s) and ``_metadata.file_path``
        against ``keys`` — the scan reads the key columns, not the
        table, and the paths come from the scan itself, so no partition
        value is ever rendered to a dir name. No false positives or
        negatives (NULL keys never equality-match). ``keys`` must carry
        ``kcols`` with the scan's types."""
        probe = keys.select(*kcols)
        if n_keys <= DELETE_BROADCAST_KEY_CAP:
            probe = F.broadcast(probe)
        fps = (
            scan.select(*kcols, F.col("_metadata.file_path").alias("__fp"))
            .join(probe, kcols, "left_semi")
            .select("__fp")
            .distinct()
            .collect()
        )
        return sorted(
            {ParquetWarehouse.file_rel(r["__fp"], base) for r in fps}
        )

    def _bucket_cover(
        self, table: str, spec: dict, keys: DataFrame
    ) -> list[str]:
        """The files of the buckets ``keys`` hash into, as sorted names:
        a row's bucket is ``pmod(hash(bucket_by), n_buckets)``, a pure
        function of its bucket columns, matched against the ``_NNNNN``
        file-name suffixes — zero data I/O. The keys take the table's
        exact column types first (Murmur3 is type-sensitive; a key the
        type cannot hold matches no row and at most adds a bucket), and
        tuples with a NULL bucket column match no row; the hash takes the
        columns in the spec's order. Over a local relation the hash
        projects driver-side, starting no job."""
        tsch = self.schema(table)
        cols = spec["bucket_by"]
        bids = {
            r["__b"]
            for r in keys.dropna(subset=cols).select(
                F.pmod(
                    F.hash(*[F.col(c).try_cast(tsch[c].dataType) for c in cols]),
                    F.lit(spec["n_buckets"]),
                ).alias("__b")
            ).collect()
        }
        return sorted(
            n
            for n in os.listdir(self.path(table))
            if n.endswith(".parquet") and self._bucket_id_of(n) in bids
        )

    @staticmethod
    def _key_set(keys: DataFrame) -> KeySet:
        """The distinct tuples of ``keys`` from one driver-bounded step,
        the input of every key discovery (keyed rewrites and the CDC
        merge): up to ``DELETE_BLOOM_PROBE_CAP`` tuples collect and
        become one local relation, which the covers, the exact scan and
        the rewrite's joins reuse; above it one aggregation counts the
        tuples and bounds each column, and the set stays distributed."""
        keys = keys.distinct()
        rows = keys.limit(DELETE_BLOOM_PROBE_CAP + 1).collect()
        if len(rows) <= DELETE_BLOOM_PROBE_CAP:
            return KeySet(
                local_frame(keys.sparkSession, rows, keys.schema),
                len(rows), rows, None,
            )
        agg = keys.agg(
            F.count(F.lit(1)).alias("__n"),
            *[F.min(c).alias(f"__lo{i}") for i, c in enumerate(keys.columns)],
            *[F.max(c).alias(f"__hi{i}") for i, c in enumerate(keys.columns)],
        ).first()
        return KeySet(keys, agg["__n"], None, {
            c: (agg[f"__lo{i}"], agg[f"__hi{i}"])
            for i, c in enumerate(keys.columns)
        })

    def _key_cover(
        self,
        table: str,
        kcols: list[str],
        keys: KeySet,
        within: list[str] | None = None,
    ) -> list[str] | None:
        """The manifest half of key discovery: the files of ``table``
        that may hold a ``kcols`` tuple of ``keys``, as sorted rel
        paths, from metadata alone — the engine's stand-in for the
        micro-partition pruning the reference's DELETE/MERGE leans on
        (ref :369-408). Every cover that applies is intersected, each a
        superset of the exact file set:

        - the zone map's ``_interval_cover`` on each key column it
          tracks — of the key points, or of their one [min, max] range
          above ``DELETE_BLOOM_PROBE_CAP``;
        - up to the cap, the Bloom manifest of a spec over exactly
          ``kcols`` (``bloom_hit_split``: a per-column filter cannot
          attest a composite tuple);
        - up to the cap, the bucket-id cover when ``bucket_by`` is a
          subset of ``kcols``;
        - a key set with no NULL-free tuple, which covers no file.

        A manifest counts only while it lists exactly the committed
        files. ``within`` restricts the result to those files (the CDC
        merge's touched partitions). None when no cover applies or the
        result keeps every committed file: the caller then runs the
        exact scan (``_key_scan``) or rewrites the table."""
        rels = self._walk_parquet_rels(self.path(table))
        pts = ivs = None
        if keys.rows is not None:
            pts = [r for r in keys.rows if all(r[c] is not None for c in kcols)]
            ivs = {c: [(r[c], r[c]) for r in pts] for c in kcols}
        elif keys.bounds is not None:
            ivs = {c: [keys.bounds[c]] for c in kcols}
        covers: list[list[str]] = []
        if pts == []:
            covers.append([])  # no NULL-free tuple: no file holds one
        zm = self.zonemap(table)
        if ivs and zm is not None and set(zm["files"]) == set(rels):
            tracked = {c: v for c, v in ivs.items() if c in zm["stat_cols"]}
            if tracked:
                covers.append(self._interval_cover(zm["files"], tracked)[0])
        if pts:
            bm = self.bloom(table)
            spec = next(
                (
                    s
                    for s in (bm["cols"] if bm else [])
                    if set(self._bloom_spec_parts(s)) == set(kcols)
                ),
                None,
            )
            if spec is not None and set(bm["files"]) == set(rels):
                # tuples in the SPEC's column order: the hash is
                # argument-order sensitive
                parts = self._bloom_spec_parts(spec)
                probe = [
                    r[parts[0]] if len(parts) == 1
                    else tuple(r[p] for p in parts)
                    for r in pts
                ]
                covers.append(self.bloom_hit_split(
                    keys.frame.sparkSession, table, spec, probe
                )[0])
            bspec = self.bucket_spec(table)
            if bspec is not None and set(bspec["bucket_by"]) <= set(kcols):
                covers.append(self._bucket_cover(table, bspec, keys.frame))
        if not covers:
            return None
        hit = set(rels if within is None else within).intersection(*covers)
        return sorted(hit) if len(hit) < len(rels) else None

    def _rewrite_key_cover(
        self,
        spark: SparkSession,
        table: str,
        kcols: list[str],
        keys: KeySet,
        allow_pending_deletes: bool = False,
    ) -> tuple[list[str], dict | None]:
        """The one keyed copy-on-write rewrite, shared by
        ``erase_subjects`` (non-versioned) and ``materialize_deletes``:
        the files the key cover names (``_key_cover``, else the exact
        ``_key_scan``) read back (``_read_files``), lose every row whose
        key tuple is in ``keys`` (``_anti_join_keys``) and commit through
        ``_replace_files_unlocked`` — bucket-preserving on a bucketed
        table — while every other file carries as a hard link. Returns
        the rewritten files and the commit's stats; an empty cover
        writes nothing (``([], None)``). The caller holds the mutation
        fence."""
        hit = self._key_cover(table, kcols, keys)
        if hit is None:
            hit = self._key_scan(
                self._read_files(spark, table), self.path(table), kcols,
                keys.frame, keys.n,
            )
        if not hit:
            return hit, None
        survivors = self._anti_join_keys(
            self._read_files(spark, table, hit), keys.frame, kcols, keys.n
        )
        return hit, self._replace_files_unlocked(
            survivors, table, hit, allow_pending_deletes=allow_pending_deletes
        )

    def delete_keys(
        self, spark: SparkSession, table: str, key_col, keys
    ) -> dict:
        """MERGE-ON-READ delete (Iceberg-style equality-delete sidecar;
        the instant-path counterpart of ``erase_subjects``' copy-on-write
        rewrite): record the keys in the ``_deletes`` sidecar and commit
        the manifest — NO data file is read, written, or relinked, so the
        delete is O(|keys|) regardless of table size. ``read`` (and
        ``read_zoned``) then anti-join the pending keys until
        ``materialize_deletes`` (or ``recluster``) rewrites the affected
        files and drops the sidecar.

        ``key_col``: a column name or a LIST of column names — the
        composite-key form mirrors the reference's comma-separated
        primary-key list (ref control_migration_schema_script.sql:27,
        :298-299), matched conjunctively like its join predicate
        (ref :336-340). ``keys``: a DataFrame whose columns are exactly
        the key columns (one anonymous column allowed for a single key)
        or a Python list of values (single key) / row tuples (composite
        key). Repeated calls accumulate (set union) under one key-column
        set — changing it requires materializing first, and NULL key
        fields are refused (NULL never equality-matches; the anti-join
        would silently delete nothing).

        Consistency contract, ENFORCED: every file-level mutation that
        assembles a new state from the current files
        (``replace_files``, ``compact``,
        ``erase_subjects``) refuses while deletes are pending, because
        its commit swap would drop the sidecar and resurrect the masked
        rows. The ONE sanctioned exception is a CDC merge whose primary
        keys equal the pending key columns: ``merge_and_write`` folds
        the pending set into the merge (masks the sub-target, rewrites
        the sidecar minus the batch's keys) so deferred GDPR queues and
        live syncs coexist — see ``cdc.merge_and_write``. A full
        ``overwrite`` also remains allowed: it defines a complete new
        state, superseding the pending set. Versioned tables are
        refused (snapshots are immutable — erase through
        ``overwrite_versioned``). BUCKETED layouts are ACCEPTED: the
        sidecar is a read-side mask that touches no bucket file (both
        ``read`` and ``read_bucketed`` anti-join it, and the broadcast
        anti preserves the probe side's partitioning, so co-located
        joins still plan zero exchanges), and ``materialize_deletes``
        rewrites bucket files copy-on-write through the bucket-
        preserving staged writer — when the key columns contain
        ``bucket_by``, the key cover includes the computable bucket-id
        cover (``_bucket_cover``), zero data I/O.

        Crash-safety AND lock-free readers: the accumulated key set is
        written to a NEW versioned sidecar dir (``_deletes-<hex>``) and
        the atomic manifest rename is the ONLY commit point — a crash
        before it leaves the previous pending set authoritative (the
        staged dir is an orphan no reader consults; ``vacuum`` sweeps
        it), and a reader holding the prior manifest keeps a fully
        intact prior dir to read (superseded dirs are swept by
        ``vacuum`` after its TTL, never unlinked here)."""
        final = self.path(table)
        kcols = [key_col] if isinstance(key_col, str) else list(key_col)
        if not kcols or len(set(kcols)) != len(kcols):
            raise ValueError(f"key columns must be non-empty and distinct: {kcols}")
        with self._write_fence(table):
            lay = self._layout(table)
            if lay.versioned:
                raise ValueError(
                    f"{table!r} is versioned — snapshots are immutable; "
                    "erase through erase_subjects/overwrite_versioned "
                    "instead"
                )
            # both input forms land on the table columns' EXACT types so
            # the read-path equality anti-join never compares across
            # types (a string-vs-long join coerces through DOUBLE and
            # mis-matches keys above 2^53); try_cast turns an
            # unparseable key into NULL — plain cast THROWS under ANSI
            # mid-write — which the NULL refusal below rejects loudly
            tsch = lay.schema
            key_dts = {c: tsch[c].dataType for c in kcols}
            if isinstance(keys, DataFrame):
                if len(kcols) == 1 and len(keys.columns) == 1:
                    # single key: any column name is accepted positionally
                    keys = keys.select(F.col(keys.columns[0]).alias(kcols[0]))
                elif set(keys.columns) != set(kcols):
                    raise ValueError(
                        f"keys DataFrame columns {keys.columns} must be "
                        f"exactly the key columns {kcols}"
                    )
                # the cast must be LOSSLESS per value: try_cast silently
                # truncates e.g. double 7.9 -> bigint 7, which would
                # delete a key the caller never named. A value is
                # lossless iff it round-trips; NULLs (unparseable) flow
                # on to the NULL refusal below.
                need_cast = [
                    c for c in kcols if keys.schema[c].dataType != key_dts[c]
                ]
                if need_cast:
                    pair = keys.select(
                        *[F.col(c).alias(f"__src_{c}") for c in need_cast],
                        *[
                            F.col(c).try_cast(key_dts[c]).alias(c)
                            if c in need_cast
                            else F.col(c)
                            for c in kcols
                        ],
                    )
                    lossy_any = F.lit(False)
                    for c in need_cast:
                        src_dt = keys.schema[c].dataType
                        lossy_any = lossy_any | (
                            F.col(f"__src_{c}").isNotNull()
                            & F.col(c).isNotNull()
                            & (F.col(c).try_cast(src_dt) != F.col(f"__src_{c}"))
                        )
                    bad = pair.filter(lossy_any).limit(1).collect()
                    if bad:
                        vals = {c: bad[0][f"__src_{c}"] for c in need_cast}
                        raise ValueError(
                            f"delete key value(s) {vals!r} are not exactly "
                            f"representable as the table's key type(s) "
                            f"{[key_dts[c].simpleString() for c in need_cast]}"
                            " — refusing a lossy cast that would delete a "
                            "different key"
                        )
                    kdf = pair.select(*kcols)
                else:
                    kdf = keys.select(*kcols)
            else:
                rows = (
                    [(k,) for k in keys]
                    if len(kcols) == 1
                    else [tuple(k) for k in keys]
                )
                kdf = local_frame(
                    spark,
                    rows,
                    StructType(
                        [StructField(c, key_dts[c], True) for c in kcols]
                    ),
                )
            dm = self.pending_deletes(table)
            if dm is not None:
                prev = self._delete_key_cols(dm)
                if set(prev) != set(kcols):
                    raise ValueError(
                        f"{table!r} already has pending deletes on "
                        f"{prev!r}; one key-column set at a time — "
                        "materialize_deletes() before switching"
                    )
                kdf = kdf.unionByName(self._read_deletes(spark, final, dm))
            kdf = kdf.distinct().persist()
            ndir = f"{DELETES_DIR}-{uuid.uuid4().hex}"
            try:
                null_any = F.lit(False)
                for c in kcols:
                    null_any = null_any | F.col(c).isNull()
                # one aggregate job carries BOTH the NULL refusal and the
                # manifest's key count (these were two separate jobs; on
                # the deferred-GDPR hot path every delete_keys call is
                # micro-batch latency, and the pending set is tiny
                # relative to a job launch)
                stats = kdf.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.max(null_any.cast("int")).alias("has_null"),
                ).first()
                if stats["has_null"]:
                    raise ValueError(
                        "NULL delete key fields are refused: NULL never "
                        "equality-matches, so the read-path anti-join "
                        "would silently delete nothing (a NULL here may "
                        "also be a failed cast to the column's type)"
                    )
                n_keys = stats["n"]
                kdf.coalesce(1).write.mode("overwrite").parquet(
                    os.path.join(final, ndir)
                )
            finally:
                kdf.unpersist()
            manifest = self._deletes_manifest(
                kcols, n_keys, ndir,
                ts=dm.get("ts") if dm is not None else None,
            )
            self._write_json_atomic(os.path.join(final, DELETES_FILE), manifest)
            # superseded sidecar dirs are left for vacuum (in-flight
            # readers holding the prior manifest may still be scanning
            # them); the manifest flip above already de-references them
        return manifest

    def materialize_deletes(self, spark: SparkSession, table: str) -> dict:
        """Apply the pending merge-on-read deletes to the data files and
        drop the sidecar — the maintenance half of ``delete_keys``.

        The rewrite is ``erase_subjects``' own (``_rewrite_key_cover``):
        the key cover (``_key_cover`` — the zone map, the Bloom manifest
        and the bucket-id cover where they apply, else one exact
        key-column scan) names the files holding a pending key, only
        those read back, lose the keyed rows and commit copy-on-write
        through ``replace_files`` (bucket-preserving on a bucketed
        table), and every other file carries as a hard link. The commit
        swap drops the sidecar WITH the rewrite — a crash before the
        swap leaves the pending set authoritative, so reads stay
        correct through every window. A hive-partitioned table rewrites
        at file grain inside its recorded partition dirs, like the
        hybrid merge scope.

        Returns ``replace_files``' stats dict (plus ``"keys_applied"``);
        a no-op (nothing pending, or no file holds a pending key) only
        drops the sidecar."""
        with self._write_fence(table):
            dm = self.pending_deletes(table)
            if dm is None:
                return {"keys_applied": 0, "files_replaced": 0}
            final = self.path(table)
            # the swap inside commits the survivors AND drops the
            # _deletes sidecar (not in the carried-sidecar set) in ONE
            # atomic rename — materialization cannot tear
            _hit, res = self._rewrite_key_cover(
                spark, table, self._delete_key_cols(dm),
                self._key_set(self._read_deletes(spark, final, dm)),
                allow_pending_deletes=True,
            )
            if res is None:
                # no data file holds a pending key: drop the manifest
                # (the sole commit point); the de-referenced sidecar
                # dirs are left for vacuum — in-flight readers holding
                # this manifest may still be scanning them
                os.remove(os.path.join(final, DELETES_FILE))
                return {"keys_applied": dm["n_keys"], "files_replaced": 0}
            res["keys_applied"] = dm["n_keys"]
            return res

    def append_files(
        self, spark: SparkSession, df: DataFrame, table: str
    ) -> dict:
        """O(batch) INSERT INTO: stage ``df`` as its own parquet files
        and atomically RENAME them into the table directory (or the hive
        partition dirs its committed layout records). No existing file is
        opened or replaced — write cost follows the batch, not the
        table, which is the only append shape that survives continuous
        ingest at 100 TB (a per-batch rewrite is O(table)).

        BUCKETED tables append THROUGH the bucket layout (r18, the r17
        verdict's task 4): the batch stages via Spark's own bucketed
        writer, so every landed file carries the ``_NNNNN`` bucket-id
        suffix and rows stay routed by ``pmod(hash(keys))`` — the
        bucket-cover point lookup and the zero-exchange co-located join
        stay correct (a bucket now holds several files; Spark unions
        them into the bucket's task and, seeing >1 file per bucket,
        simply re-sorts before a merge join instead of trusting the
        per-file sort — correctness never depends on the file count).
        The cached catalog file listing is refreshed.

        Consistency contract: runs under the table's mutation fence;
        refuses versioned tables (appends would bypass snapshot
        commits) and schema drift (``_refuse_schema_drift``: appended
        columns must match the committed schema by name AND type — a
        file of a drifted type lands fine, then every later scan of the
        table fails); the committed schema itself is left unchanged.
        Pending merge-on-read deletes no longer refuse (r19): the
        batch is anti-join MASKED against the pending key set before
        staging, so appended files never hold a pending-keyed row and
        the sidecar's guarantees hold untouched — defer-mode GDPR and
        continuous ingest compose (see the body comment). The batch is rebalanced, then stages
        through the same stager as every data commit
        (``_stage_files``), which also computes its zone-map and Bloom
        entries at the table's persisted tuning. The manifests are
        EXTENDED, not dropped (r18): both are per-file, so the staged
        batch's entries compute in O(batch), and BOTH commit as one
        immutable SEGMENT file plus a head rewrite (r19) — head size is
        params + segment list, so per-append manifest I/O is O(batch)
        at any corpus size (an inline rewrite re-dumps every entry per
        sync, O(corpus files) at 100 TB). A crash between the renames
        and the manifest commits leaves the ZONE MAP absent (its head
        is dropped up-front — zoned readers trust the map, so
        absent-and-loud is its only safe crash state) and the BLOOM
        head at its pre-append version: stale-but-present — safe
        because every bloom consumer (``bloom_hit_split``) first checks
        the manifest's file set against the directory and refuses a
        mismatch toward its unpruned fallback, never mis-prunes — and
        ``heal_bloom`` repairs it at O(files in the gap). Each file lands via one atomic
        rename, so readers never observe a torn file; a crash mid-batch
        leaves a PREFIX of the batch appended — callers needing
        exactly-once reconcile by key against the table (the streaming
        ingest pattern), and a crashed batch's abandoned staging dir is
        swept by the next fenced append. Small-file accretion folds
        away with ``compact``.

        The batch plan is evaluated ONCE (r17 advisor finding): rows
        are counted from the staged files' parquet footers, never by a
        second ``df.count()`` evaluation — a nondeterministic input
        cannot make the reported rows disagree with the written files,
        and a zero-row batch no-ops from the staged evidence itself.

        Returns ``{"files_added", "rows"}``.
        """
        with self._write_fence(table):
            return self._append_files_unlocked(spark, df, table)

    def _append_files_unlocked(
        self, spark: SparkSession, df: DataFrame, table: str
    ) -> dict:
        """``append_files`` body; the caller MUST hold the table's
        mutation fence (the ANN index extend holds one fence across its
        dup check + this append)."""
        lay = self._layout(table)
        if lay.versioned:
            raise ValueError(
                f"{table!r} is a versioned table — appends would bypass "
                "its snapshot commits; write a new version instead"
            )
        bspec = lay.bucket_spec
        self._refuse_schema_drift(table, df, lay.schema)
        dm = self.pending_deletes(table)
        if dm is not None:
            # r19 fold (defer-mode GDPR × continuous ingest): appends no
            # longer refuse on a pending _deletes sidecar — the batch is
            # MASKED against the pending key set before staging, so no
            # appended file ever contains a pending-keyed row. That
            # preserves every sidecar invariant without touching it:
            # reads stay correct (the read-path anti-join is now a no-op
            # over the appended files), materialize_deletes' pruned
            # discovery never has to rewrite an appended file, a crash
            # mid-append lands a prefix of already-masked files
            # (resurrects nothing), and a subject re-asserted while its
            # erasure is pending stays erased — its rows never land.
            # Unlike the CDC-merge fold (cdc.merge_and_write, which
            # SUBTRACTS the batch's keys because a MERGE upsert
            # legitimately supersedes a delete), an insert-only append
            # must leave the pending set intact: it still masks the
            # pre-existing files. The refusal survives only for a
            # corrupt manifest whose key columns aren't table columns
            # (unmaskable — nothing sound can be staged).
            kcols = self._delete_key_cols(dm)
            if not set(kcols) <= set(df.columns):
                raise ValueError(
                    f"{table!r} has pending merge-on-read deletes on "
                    f"{kcols!r}, which are not all table columns — the "
                    "batch cannot be masked; materialize_deletes() first"
                )
            dele = self._read_deletes(spark, self.path(table), dm)
            df = self._anti_join_keys(df, dele, kcols, dm["n_keys"])
        if bspec is None:
            df = self._cluster_for_partitioned_write(df, lay.partition_by)
        zm = self.zonemap(table)
        try:
            bm = self.bloom(table)
        except ValueError:
            # a head referencing a missing segment: skip manifest
            # maintenance — pruned readers refuse loudly and heal_bloom
            # rebuilds, while the append itself proceeds
            bm = None
        root = self.path(table)
        base = os.path.basename(root.rstrip("/"))
        parent = os.path.dirname(root.rstrip("/"))
        # single-writer sweep of a crashed prior append's staging dir
        for d in os.listdir(parent):
            if d.startswith(f".{base}.append-tmp-"):
                shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
        staging = os.path.join(
            parent, f".{base}.append-tmp-{uuid.uuid4().hex}"
        )
        _t0 = time.monotonic()
        try:
            # ONE evaluation: rows come from the staged footers, and the
            # zero-row no-op is decided on the same evidence (an empty
            # first evaluation can't be contradicted by a write). The
            # batch's manifest entries compute over the stage BEFORE the
            # renames, so a crash leaves the table without manifests
            # (loud fallback), never with a manifest missing committed
            # files (silent mis-prune).
            staged, new_zm, new_bm = self._stage_files(
                df, staging, partition_by=lay.partition_by, bucket_spec=bspec,
                stat_cols=zm and zm["stat_cols"], bloom=bm,
            )
            # zero-row part files (empty write tasks) carry no data:
            # renaming them in would only accrete inodes and blind
            # row-driven manifest passes
            staged = {rel: n for rel, n in staged.items() if n}
            rows = sum(staged.values())
            if rows == 0:
                # a zero-row append is a true no-op: no file lands, no
                # sidecar changes (a schema-only parquet file per empty
                # batch would make replayed/filtered-empty batches
                # accrete inode churn forever)
                return {"files_added": 0, "rows": 0}
            timings = {"stage_s": round(time.monotonic() - _t0, 4)}
            _t0 = time.monotonic()
            # raw heads (params + inline files + segment list), captured
            # BEFORE the crash-safety drop below removes the head files
            heads = {}
            for name, m in ((ZONEMAP_FILE, new_zm), (BLOOM_FILE, new_bm)):
                if m is not None:
                    with open(os.path.join(root, name)) as f:
                        heads[name] = (json.load(f), m["files"])
            self._drop_zonemap(table)
            tag = uuid.uuid4().hex[:12]

            def final_rel(rel: str) -> str:
                d, fn = os.path.split(rel)
                return os.path.join(d, f"app-{tag}-{fn}") if d else f"app-{tag}-{fn}"

            for rel in staged:
                dest = os.path.join(root, final_rel(rel))
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                os.rename(os.path.join(staging, rel), dest)
            # extend-and-recommit the manifests AFTER the data renames,
            # each as one immutable SEGMENT + a tiny head rewrite
            # (_extend_sidecar_segmented): O(batch) manifest I/O at any
            # corpus size — the inline rewrite both sides used to do is
            # an O(corpus-files) JSON dump per sync at 100 TB. Crash
            # window: zone map absent (head dropped up-front, zoned
            # readers refuse loudly), bloom head at its pre-append
            # version (stale-and-refused, healed incrementally).
            for name, (head, files) in heads.items():
                self._extend_sidecar_segmented(
                    root, name, head,
                    {final_rel(r): e for r, e in files.items() if r in staged},
                    tag,
                )
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        if bspec is not None:
            # the session catalog caches the bucketed file listing —
            # invalidate so the next read sees the appended files
            self._refresh_bucketed_catalog(spark, table)
        # stage/commit wall split (r19, the ingest sentinel's
        # localization ask): additive diagnostics — callers key on
        # files_added/rows; the zero-row no-op return above stays bare
        timings["commit_s"] = round(time.monotonic() - _t0, 4)
        return {"files_added": len(staged), "rows": rows, "timings": timings}

    def compact(
        self,
        spark: SparkSession,
        table: str,
        target_file_bytes: int = 128 << 20,
        sort_by: list[str] | None = None,
    ) -> int:
        """Bin-pack small files up to ``target_file_bytes`` per output file.
        Returns the number of leaf data directories rewritten (1 for a
        bucketed pass, 0 for a no-op or a versioned table).

        Every incremental CDC batch appends a few small files per touched
        partition; after thousands of syncs a 100 TB table degenerates
        into millions of tiny files and scan planning + open() overhead
        dominate reads. ``_compaction_plan`` picks each leaf data
        directory whose file count exceeds ceil(bytes/target); each is
        read with the table's committed schema and repacked with
        ``coalesce`` (shuffle-free, keeping the clustered row order),
        and the leaves union into one write job. Leaves already at
        target are neither read nor touched (mtimes stable), so repeated
        compaction is an idempotent no-op.

        The pass is ONE atomic ``replace_files`` commit: the planned
        files are replaced, every other file carries over as a hard
        link, and the zone map and Bloom manifest are maintained like in
        every copy-on-write commit (carried entries verbatim, new ones
        over the staged files at the table's persisted tuning). Readers
        see the previous state or the compacted one, and a failure
        before the swap keeps the previous state, manifests included.

        ``sort_by`` turns the repack into a PER-PARTITION recluster —
        the hive-layout counterpart of ``recluster`` (which covers flat
        tables): every leaf rewrites range-sorted on the given columns,
        so each partition's files regain narrow disjoint zone bands and
        the HYBRID merge scope prunes inside partitions again. A sort
        pass rewrites EVERY leaf (sortedness cannot be observed from
        file counts), so it is an explicit maintenance pass, not an
        idempotent no-op; on a table with no zone map it creates one
        over ``sort_by``.

        Bucketed tables repack at BUCKET grain: fragmented buckets
        (multi-file, accumulated by bucket-preserving file replaces)
        merge back to one file per bucket through the bucket-preserving
        staged writer — single-file buckets hard-link through untouched,
        the spec's own ``sort_by`` re-sorts each merged bucket whole,
        and the layout contract + catalog survive. ``target_file_bytes``
        does not split buckets (the bucket count is the parallelism
        contract); ``sort_by`` contradicting the spec refuses.

        Runs under the table's mutation fence: a concurrent
        ``replace_files``/erase would be a lost update (the second
        swap discards the first's rows).
        """
        with self._write_fence(table):
            return self._compact_unlocked(
                spark, table, target_file_bytes, sort_by
            )

    def _compaction_plan(
        self, table: str, target_file_bytes: int
    ) -> tuple[dict | None, list[tuple[list[str], int]]]:
        """The compaction plan ``compact`` executes and
        ``compaction_debt`` summarises: ``(bucket_spec, units)``, each
        unit ``(rels, n)`` — the parquet rel paths of one leaf data dir
        (bucketed: of one bucket) and the file count ``compact`` leaves
        there; more than ``n`` files is over target. A bucket's ideal is
        ONE file whatever its size (compact never splits a bucket), a
        leaf's ``max(1, ceil(bytes / target))``. Pure os.stat over the
        listing; a versioned table's snapshot dirs are hidden, so its
        plan is empty."""
        final = self.path(table)
        spec = self.bucket_spec(table)
        units: dict[int | str | None, list[str]] = {}
        for rel in sorted(self._walk_parquet_rels(final)):
            units.setdefault(
                os.path.dirname(rel) if spec is None
                else self._bucket_id_of(rel), [],
            ).append(rel)
        if spec is not None:
            return spec, [
                (rels, len(rels) if b is None else 1)
                for b, rels in units.items()
            ]
        return None, [
            (rels, max(1, math.ceil(sum(
                os.path.getsize(os.path.join(final, r)) for r in rels
            ) / target_file_bytes)))
            for rels in units.values()
        ]

    def _compact_unlocked(
        self,
        spark: SparkSession,
        table: str,
        target_file_bytes: int,
        sort_by: list[str] | None = None,
    ) -> int:
        self._refuse_pending_deletes(table, "compact")
        spec, units = self._compaction_plan(table, target_file_bytes)
        if spec is not None and sort_by is not None and (
            list(sort_by) != spec["sort_by"]
        ):
            raise ValueError(
                f"{table!r} is bucketed — its sort contract is the "
                f"spec's sort_by {spec['sort_by']}; rewrite through "
                "write_bucketed to change it"
            )
        # a sort pass rewrites every leaf (see compact)
        work = [
            (rels, n) for rels, n in units
            if len(rels) > n or (sort_by is not None and spec is None)
        ]
        if not work:
            return 0
        replaced = sorted(r for rels, _ in work for r in rels)
        if spec is not None:
            # the bucket-preserving stager re-sorts each merged bucket
            frame = self._read_files(spark, table, replaced)
        else:
            leaves = []
            for rels, n in work:
                df = self._read_files(spark, table, rels)
                leaves.append(
                    # per-partition recluster: one range shuffle scoped
                    # to this leaf's rows, narrow disjoint bands per file
                    df.repartitionByRange(n, *sort_by).sortWithinPartitions(
                        *sort_by
                    )
                    if sort_by is not None
                    else df.coalesce(n)
                )
            frame = functools.reduce(DataFrame.union, leaves)
        self._replace_files_unlocked(frame, table, replaced)
        if sort_by is not None and spec is None and self.zonemap(table) is None:
            self._write_zonemap_unlocked(spark, table, sort_by)
        return 1 if spec is not None else len(work)

    # Staging artifacts all carry a dotted stage kind (.tmp-/.old-/
    # .compact-; in-tree .compact-/.old- dirs come only from crashes of
    # older commits' per-leaf compaction swap, kept so they still get
    # swept) and END with a full uuid4 hex (32 chars) — every
    # staging site uses uuid.uuid4().hex. Nothing the warehouse commits
    # as live state matches BOTH (snapshots are _vNNNNN, group snaps
    # cNNNNN, CoW data files cow-<hex8>-part-*.parquet, locks/tokens
    # have no hex suffix), so the pattern alone identifies an orphan.
    _ORPHAN_RE = re.compile(r"\.(tmp|old|compact)-.*[0-9a-f]{32}$")
    # Versioned merge-on-read sidecar dirs; LIVE iff the table's
    # _deletes.json names them (see pending_deletes).
    _DELETES_DIR_RE = re.compile(
        rf"^{re.escape(DELETES_DIR)}-[0-9a-f]{{32}}$"
    )

    def vacuum(self, ttl_seconds: float = 24 * 3600) -> list[str]:
        """Remove crash-orphaned staging artifacts — the temp/displaced
        dirs (and manifest temp files) a writer that died mid-commit
        leaves behind: ``.tmp-*``/``.old-*`` staging in the warehouse
        root, ``*.compact-*``/``*.old-*`` next to leaf data dirs,
        ``*.json.tmp-*`` manifest temps, and merge-on-read sidecar dirs
        (``_deletes-<hex>``) the current delete manifest no longer
        references. Every commit path already cleans up on SUCCESS;
        vacuum is the janitor for crashes and for superseded delete
        sidecars (which are deliberately left behind as a grace window
        for in-flight readers), which otherwise leak disk forever at
        100 TB staging sizes. No current writer stages next to leaf
        dirs; those come from crashes of older commits' compaction.

        Safety, three layers: (1) an artifact is removed only when its
        mtime is older than ``ttl_seconds`` (default 24 h), so a LIVE
        writer's staging is never touched — vacuum needs no fence and
        can run alongside writers; (2) the name pattern is exact
        (dotted stage kind + full uuid hex), never matching committed
        state (snapshot dirs ``_vNNNNN``, group snaps, ``cow-*`` data
        files, locks); (3) a staging DIRECTORY whose displaced-from
        live path is MISSING is skipped entirely — that is the torn
        window of a crash between a commit swap's two renames, where
        the ``.old-*`` dir holds the ONLY copy of the committed data
        (rename does not touch mtime, so TTL alone cannot protect it);
        opening a warehouse renames such a state back
        (``_roll_back_torn_swaps``), and vacuum must never convert it
        into silent data loss. Returns the removed paths
        relative to the warehouse root."""
        import time

        cutoff = time.time() - ttl_seconds
        removed = []

        def _expired(p: str) -> bool:
            try:
                return os.lstat(p).st_mtime <= cutoff
            except FileNotFoundError:
                return False  # concurrent cleanup won the race

        def _stem(dirpath: str, name: str) -> str:
            """The live path this staging artifact was staged FOR /
            displaced FROM: root-form ``.kind-<rest>[-new]-<hex>`` maps
            to <rest>; in-tree form ``X.kind-<hex>`` maps to X."""
            if name.startswith("."):
                body = name.split("-", 1)[1]  # drop ".kind-"
                body = body.rsplit("-", 1)[0]  # drop "-<hex>"
                if body.endswith("-new"):
                    body = body[: -len("-new")]
                return os.path.join(dirpath, body)
            return os.path.join(dirpath, name.rsplit(".", 1)[0])

        for dirpath, dirs, files in os.walk(self.root, topdown=True):
            for name in list(dirs):
                p = os.path.join(dirpath, name)
                if self._DELETES_DIR_RE.match(name) or name == DELETES_DIR:
                    # versioned sidecar dirs, plus the legacy FIXED
                    # '_deletes' (pre-versioned manifests carry no
                    # 'dir' key and mean exactly that dir)
                    dm_p = os.path.join(dirpath, DELETES_FILE)
                    live = None
                    if os.path.isfile(dm_p):
                        with open(dm_p) as f:
                            live = json.load(f).get("dir", DELETES_DIR)
                    if name == live or not _expired(p):
                        continue
                elif self._ORPHAN_RE.search(name):
                    stem = _stem(dirpath, name)
                    # a _deletes* staging stem is derived metadata,
                    # never the only copy of table data — the torn-swap
                    # guard below is for DATA dirs (legacy
                    # '_deletes.tmp-*' would otherwise leak forever
                    # once its fixed stem is gone)
                    if os.path.basename(stem) != DELETES_DIR and not (
                        os.path.exists(stem)
                    ):
                        continue  # torn swap: may be the only copy
                    if not _expired(p):
                        continue
                else:
                    continue
                shutil.rmtree(p, ignore_errors=True)
                dirs.remove(name)  # pruned: don't descend
                removed.append(os.path.relpath(p, self.root))
            for name in files:
                # manifest/pointer temps: never the only copy of data
                p = os.path.join(dirpath, name)
                if self._ORPHAN_RE.search(name) and _expired(p):
                    try:
                        os.remove(p)
                    except FileNotFoundError:
                        continue
                    removed.append(os.path.relpath(p, self.root))
        return sorted(removed)

    def layout_drift(self, table: str, col: str | None = None) -> dict:
        """Metadata-only layout-drift report for a zone-mapped table —
        the scheduling signal for ``recluster``/``compact(sort_by=)``,
        computed from the manifest alone (ZERO data I/O, so it can run
        every sync cycle even at 100 TB):

        - ``avg_cover``: the average number of file key-bands covering
          a random COVERED point of the keyspace (the "stabbing
          number" = sum of band widths / width of their union — gaps
          between bands don't dilute the score). 1.0 is a perfectly
          disjoint clustered layout (regardless of gaps); N means a
          point lookup or a narrow merge band overlaps ~N files, i.e.
          the zone-scoped merge rewrites ~N files where a clustered
          layout rewrites 1. When every band is a single point (a
          file holding one distinct key) the measure is zero on both
          sides and ``avg_cover`` falls back to the sweep's peak.
        - ``max_cover``: the worst point (computed by an O(F log F)
          boundary sweep), bounding the worst-case prune miss.
        - ``files``: mapped file count (all-NULL-band files excluded).

        Numeric stat columns only (widths need arithmetic); pass
        ``col`` to pick one of the mapped columns (default: the first
        stat column). Raises when the table has no covering map — an
        unmapped table has nothing to prune with, which is its own
        signal."""
        zm = self.zonemap(table)
        if zm is None:
            raise ValueError(
                f"{table!r} has no zone map; write one with "
                "write_zonemap() before measuring layout drift"
            )
        c = col or zm["stat_cols"][0]
        if c not in zm["stat_cols"]:
            raise ValueError(
                f"column {c!r} not in zone map stat_cols {zm['stat_cols']}"
            )
        bands = [
            (e[c][0], e[c][1])
            for e in zm["files"].values()
            if e[c][0] is not None and e[c][1] is not None
        ]
        if not bands:
            # every mapped file is all-NULL for this column
            return {"files": 0, "avg_cover": 0.0, "max_cover": 0}
        if not all(
            isinstance(v, (int, float)) and not isinstance(v, bool)
            for lo, hi in bands
            for v in (lo, hi)
        ):
            raise ValueError(
                f"layout_drift needs a numeric stat column; {c!r} bands "
                "are non-numeric"
            )
        # one boundary sweep gives both the worst stabbing number and
        # the measure of the bands' UNION (the avg denominator — gaps
        # between bands must not dilute the score)
        events = sorted(
            [(lo, 1) for lo, _ in bands] + [(hi, -1) for _, hi in bands],
            key=lambda t: (t[0], -t[1]),  # opens before closes at ties
        )
        cur = peak = 0
        covered = 0.0
        prev = None
        for pos, d in events:
            if cur > 0 and prev is not None:
                covered += pos - prev
            prev = pos
            cur += d
            peak = max(peak, cur)
        total = sum(hi - lo for lo, hi in bands)
        # all-point bands: measure is zero on both sides; the sweep's
        # peak (coincident points counted, distinct points 1) IS the
        # stabbing number there
        avg = total / covered if covered > 0 else float(peak)
        return {
            "files": len(bands),
            "avg_cover": round(avg, 4),
            "max_cover": peak,
        }

    def compaction_debt(
        self, table: str, target_file_bytes: int = 128 << 20
    ) -> dict:
        """Metadata-only compaction advisor — ``layout_drift``'s
        bin-packing sibling, and together with it the complete
        maintenance-scheduler signal set (both run every sync cycle at
        zero data I/O): per leaf data directory, how many files exist
        versus how many ``compact`` would leave at
        ``target_file_bytes``. ``excess_files`` is the total small-file
        debt (what a compaction pass would eliminate);
        ``leaves_over_target`` is how many directories a plain
        ``compact`` would actually rewrite. Pure os.stat over the
        listing — the 100 TB failure mode this schedules against is
        scan planning + open() overhead from millions of
        CDC-accumulated small files, which grows silently until reads
        degrade."""
        spec, units = self._compaction_plan(table, target_file_bytes)
        over = [len(rels) - n for rels, n in units if len(rels) > n]
        return {
            # a bucketed table is one leaf: compact merges every
            # fragmented bucket in one pass
            "leaves": 1 if spec else len(units),
            "leaves_over_target": min(len(over), 1) if spec else len(over),
            "files": sum(len(rels) for rels, _ in units),
            "excess_files": sum(over),
        }

    def delete_where(
        self, spark: SparkSession, table: str, key_col, condition
    ) -> dict:
        """Predicate form of ``delete_keys``: one key-column scan
        resolves ``condition`` (a Column or SQL string) to the matching
        keys (``key_col``: name or list of names, like ``delete_keys``),
        which then delete merge-on-read through the sidecar — still ZERO
        data-file rewrites; the scan reads only the columns the
        predicate and key need (column pruning), not the table. The scan
        goes through ``read`` so it sees exactly what a reader sees:
        already-deleted keys masked (not redundantly re-unioned)."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        kcols = [key_col] if isinstance(key_col, str) else list(key_col)
        keys = (
            self.read(spark, table).filter(cond).select(*kcols).distinct()
        )
        return self.delete_keys(spark, table, key_col, keys)

    def recluster(
        self,
        spark: SparkSession,
        table: str,
        cluster_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        cluster_partitions: int | None = None,
        target_file_bytes: int = 128 << 20,
    ) -> dict:
        """Maintenance rewrite that RESTORES the data-skipping layout of
        a flat table accreted through CDC merges.

        Every scoped merge writes its merged rows into new files
        spanning the BATCH's key range, so after thousands of syncs the
        per-file zone bands widen until they all overlap and manifest
        pruning degrades: the zone-scoped path stops pruning and every
        merge falls back to the scan-scoped discovery — still exact,
        but it reads the full key column per batch (~1 TB of pk values
        per sync at 100 TB). Reclustering range-sorts the table back
        into narrow disjoint bands, converting per-batch O(key-column
        scan) back into O(1) manifest pruning — the same maintenance
        role as Delta's OPTIMIZE ZORDER or a Snowflake re-cluster.

        ``cluster_by`` defaults to the table's zone-map ``stat_cols``;
        ``zorder_by`` interleaves instead (multi-column skipping);
        ``cluster_partitions`` fixes the output file count (default:
        sized from the current bytes / ``target_file_bytes``). The zone
        map is rebuilt over the new layout (created over the cluster
        columns if the table had none — reclustering EXISTS to enable
        pruning), a bloom manifest is rebuilt over its column specs, and
        ``_meta.json`` carries over. Pending merge-on-read deletes are
        APPLIED by the rewrite (the swap drops the sidecar — this is a
        full-table materialize_deletes for free). Stages through
        ``_stage_state`` and atomically swaps under the mutation fence;
        versioned, bucketed, and hive-partitioned tables are refused
        (snapshots are immutable; buckets' layout is their spec;
        partitioned tables recluster per-partition through compact +
        the hybrid scope).

        Returns ``{"files_before", "files_after", "rows"}``.
        """
        final = self.path(table)
        with self._write_fence(table):
            lay = self._layout(table)
            if lay.versioned:
                raise ValueError(
                    f"{table!r} is versioned — write read-optimized "
                    "snapshots with overwrite_versioned(..., cluster_by=...)"
                )
            if lay.bucket_spec is not None:
                raise ValueError(
                    f"{table!r} is bucketed — hash bucketing IS its "
                    "clustering contract; compact() merges fragmented "
                    "buckets whole-sorted, rebucket() changes the layout"
                )
            if lay.partition_by:
                raise ValueError(
                    f"{table!r} is hive-partitioned — recluster works on "
                    "flat tables (partitioned layouts compact per leaf)"
                )
            files = [
                n for n in os.listdir(final) if n.endswith(".parquet")
            ]
            if not files:
                return {"files_before": 0, "files_after": 0, "rows": 0}
            zm = self.zonemap(table)
            bm = self.bloom(table)
            if cluster_by is None and zorder_by is None:
                if zm is None:
                    raise ValueError(
                        f"pass cluster_by/zorder_by: {table!r} has no "
                        "zone map to default the cluster columns from"
                    )
                cluster_by = zm["stat_cols"]
            df = self.read(spark, table)
            if cluster_partitions is None:
                total = sum(
                    os.path.getsize(os.path.join(final, n)) for n in files
                )
                cluster_partitions = max(
                    1, math.ceil(total / target_file_bytes)
                )
            with self._staging(table) as tmp:
                staged = self._stage_state(
                    self._apply_layout(
                        df, cluster_by, zorder_by, cluster_partitions
                    ),
                    tmp,
                    meta=self.read_meta(table) or None,
                    stat_cols=(
                        zm["stat_cols"] if zm is not None
                        else list(cluster_by or zorder_by)
                    ),
                    bloom_cols=bm and bm["cols"],
                )
                self._commit_swap(tmp, final, table)
        return {
            "files_before": len(files),
            "files_after": sum(map(bool, staged.values())),
            "rows": sum(staged.values()),
        }

    def rebucket(
        self,
        spark: SparkSession,
        table: str,
        bucket_by: list[str],
        n_buckets: int,
        sort_by: list[str] | None = None,
        stat_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
    ) -> dict:
        """Maintenance rewrite that CONVERGES a table onto a declared
        hash-bucket layout — the reconcile path for declared-vs-persisted
        bucket drift (``maintenance``'s ``bucket_drift`` report was
        report-only before this existed: a drifted table stayed drifted
        forever unless manually overwritten, and a co-located-join
        contract quietly rotted).

        Accepts a bucketed table whose persisted spec drifted from the
        declaration (changed keys, bucket count, or sort), or a FLAT
        table that gained a bucket declaration after creation. The
        whole table rewrites through the staged bucketed writer and
        promotes via the atomic swap — same crash-safety as
        ``write_bucketed``. Pending merge-on-read deletes are APPLIED
        by the rewrite (the swap drops the sidecar — a full-table
        materialize for free, like ``recluster``). Zone/Bloom manifests
        rebuild over the new files, keeping each manifest's persisted
        column specs unless ``stat_cols``/``bloom_cols`` override (the
        declared layout passes them explicitly). Versioned and
        hive-partitioned tables are refused — neither can carry a
        bucket spec.

        This is deliberately a FULL-table rewrite: a bucket id is a
        pure function of the key columns, so no per-file subset can
        change ``bucket_by``/``n_buckets`` consistently. That is why
        the maintenance scheduler gates it behind an opt-in policy flag
        and the per-cycle action budget (one table per cycle) instead
        of firing on every drift report.

        Returns ``{"files_before", "files_after", "rows"}``.
        """
        final = self.path(table)
        if not bucket_by or not isinstance(n_buckets, int) or n_buckets < 1:
            raise ValueError(
                "rebucket needs bucket_by and a positive n_buckets"
            )
        spec = {
            "bucket_by": list(bucket_by),
            "n_buckets": n_buckets,
            "sort_by": list(sort_by or []),
        }
        with self._write_fence(table):
            lay = self._layout(table)
            if lay.versioned:
                raise ValueError(
                    f"{table!r} is versioned — snapshots are immutable and "
                    "carry no bucket layout"
                )
            if lay.partition_by:
                raise ValueError(
                    f"{table!r} is hive-partitioned — a hive layout and "
                    "a bucket layout are mutually exclusive contracts"
                )
            files_before = [
                n for n in os.listdir(final) if n.endswith(".parquet")
            ]
            zm = self.zonemap(table)
            bm = self.bloom(table)
            if stat_cols is None and zm is not None:
                stat_cols = zm["stat_cols"]
            if bloom_cols is None and bm is not None:
                bloom_cols = bm["cols"]
            # masked read: the swap below drops the _deletes sidecar,
            # so the rewrite must bake the pending deletes in
            with self._staging(table) as tmp:
                staged = self._stage_state(
                    self.read(spark, table), tmp, bucket_spec=spec,
                    meta=self.read_meta(table) or None,
                    stat_cols=stat_cols, bloom_cols=bloom_cols,
                )
                self._commit_swap(tmp, final, table)
            # the session catalog still describes the OLD layout — drop
            # it; read_bucketed recreates from the new committed spec
            spark.sql(
                f"DROP TABLE IF EXISTS `{self._catalog_name(table)}`"
            )
        return {
            "files_before": len(files_before),
            "files_after": len(staged),
            "rows": sum(staged.values()),
        }

    def _catalog_name(self, table: str) -> str:
        return "wh_" + re.sub(r"[^A-Za-z0-9_]", "_", table)

    def write_bucketed(
        self,
        df: DataFrame,
        table: str,
        bucket_by: list[str],
        n_buckets: int,
        sort_by: list[str] | None = None,
        stat_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
    ) -> None:
        """Write ``table`` hash-bucketed on ``bucket_by`` (optionally
        sorted within each bucket).

        This is the co-located-join path at 100 TB: two tables bucketed on
        the same key into the same bucket count join with ZERO shuffle on
        either side — each task reads matching bucket files directly
        (pinned by tests/test_plans.py).  Bucket+sort on the merge key is
        also the right layout for CDC targets: the MERGE's join hits
        pre-clustered files instead of reshuffling the whole table.

        Spark keeps bucketing metadata in the catalog, not in parquet, so
        the spec is also persisted to ``_bucket_spec.json`` in the table
        directory and ``read_bucketed`` re-registers the table in a fresh
        session's (in-memory) catalog from that file and the committed
        ``_schema.json`` — so a committed-empty bucketed table (zero
        bucket files — the writer emits none for an empty frame) stays
        readable in a fresh session.

        ``stat_cols`` / ``bloom_cols`` build the per-file zone map /
        Bloom manifest over the staged files and commit them atomically
        WITH the data — same contract as ``overwrite``. On a bucketed
        table the Bloom manifest is what keeps GDPR/MOR delete discovery
        at FILE grain for keys the bucket layout does NOT cluster
        (``materialize_deletes`` otherwise exact-scans the key column;
        deletes on the bucket keys use the computable bucket-id cover
        either way). Both manifests then survive every bucket-preserving
        mutation via ``_replace_files_unlocked``'s carry/recompute.

        Crash-safe: the new state stages through ``_stage_state`` and
        promotes via the same atomic swap as ``overwrite``, under the
        same mutation fence — the previous committed state stays
        readable until the flip.
        """
        spec = {
            "bucket_by": list(bucket_by),
            "n_buckets": n_buckets,
            "sort_by": list(sort_by or []),
        }
        with self._write_fence(table), self._staging(table) as tmp:
            self._stage_state(
                df, tmp, bucket_spec=spec,
                stat_cols=stat_cols, bloom_cols=bloom_cols,
            )
            self._commit_swap(tmp, self.path(table), table)
        # the session catalog may still describe the OLD layout/schema
        # (this call can change both) — drop it; read_bucketed recreates
        # the external entry lazily from the committed spec sidecar
        df.sparkSession.sql(
            f"DROP TABLE IF EXISTS `{self._catalog_name(table)}`"
        )

    def bucket_spec(self, table: str) -> dict | None:
        """The persisted bucket layout (``{"bucket_by", "n_buckets",
        "sort_by"}``) or None for non-bucketed tables — the contract
        rewriters (CDC merge, erasure) use to rewrite THROUGH
        ``write_bucketed`` so the co-located-join layout survives. The
        layout only: the table's schema is the committed
        ``_schema.json`` (``schema``)."""
        p = os.path.join(self.path(table), BUCKET_SPEC_FILE)
        if not os.path.isfile(p):
            return None
        with open(p) as f:
            return json.load(f)

    # Spark's own bucket-id convention (BucketingUtils.getBucketId):
    # the LAST ``_<digits>`` run before the extension chain names the
    # bucket, e.g. part-00000-<uuid>_00003.c000.snappy.parquet → 3.
    # The cow-<hex>- collision prefix _link_staged may prepend is at
    # the FRONT of the name, so renamed carried files keep parsing.
    _BUCKET_FILE_RE = re.compile(r".*_(\d+)(?:\..*)?$")

    @classmethod
    def _bucket_id_of(cls, filename: str) -> int | None:
        m = cls._BUCKET_FILE_RE.match(os.path.basename(filename))
        return int(m.group(1)) if m else None

    def _stage_bucketed(self, df: DataFrame, dest: str, spec: dict) -> None:
        """Stage ``df`` into ``dest`` through Spark's OWN bucketed
        writer so every staged file carries the ``_NNNNN`` bucket-id
        suffix the bucketed scan keys on — the write-side half of the
        bucket-preserving file replace (``_replace_files_unlocked``).

        Spark only writes bucketed layouts through ``saveAsTable``, so
        the staging goes through a throwaway EXTERNAL catalog entry
        (``option("path", dest)``) dropped immediately after — dropping
        an external table keeps its files. One repartition on the
        bucket keys first: ``repartition(n, keys)`` hash-partitions
        with the same Murmur3-pmod the writer assigns bucket ids with,
        so each task holds exactly one bucket and the stage emits ONE
        file per non-empty bucket instead of files × tasks."""
        missing = [c for c in spec["bucket_by"] if c not in df.columns]
        if missing:
            raise ValueError(
                f"replacement data lacks bucket column(s) {missing}"
            )
        spark = df.sparkSession
        out = df.repartition(
            spec["n_buckets"], *[F.col(c) for c in spec["bucket_by"]]
        )
        w = out.write.format("parquet").mode("overwrite")
        w = w.bucketBy(spec["n_buckets"], *spec["bucket_by"])
        if spec.get("sort_by"):
            w = w.sortBy(*spec["sort_by"])
        name = f"wh_stage_{uuid.uuid4().hex}"
        try:
            w.option("path", dest).saveAsTable(name)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS `{name}`")

    def _refresh_bucketed_catalog(self, spark: SparkSession, table: str) -> None:
        """After a bucket-preserving swap the session's external catalog
        entry (if one exists) still describes the right location and
        layout, but Spark caches the file listing — invalidate it so
        the next read lists the NEW state's files. If the commit EVOLVED
        the committed schema (an additive CDC evolution batch through
        ``overwrite``), the entry's pinned column list would silently
        DROP the new columns from every later read — compare it with
        the committed schema (names+types; catalog nullability is not
        authoritative) and drop the entry instead, so ``read_bucketed``
        lazily recreates it. A fresh session needs nothing either way."""
        name = self._catalog_name(table)
        if not spark.catalog.tableExists(name):
            return
        disk = [(f.name, f.dataType) for f in self.schema(table)]
        cur = [
            (f.name, f.dataType)
            for f in spark.table(name).schema.fields
        ]
        if cur != disk:
            spark.sql(f"DROP TABLE IF EXISTS `{name}`")
        else:
            spark.catalog.refreshTable(name)

    def read_bucketed(self, spark: SparkSession, table: str) -> DataFrame:
        """Read a bucketed table THROUGH the catalog so joins/aggregations
        on the bucket key can use the existing layout instead of
        shuffling.  If the catalog entry is gone (fresh session), it is
        recreated as an external bucketed table over the same files from
        the persisted spec and the committed schema (``schema``) — a
        committed-empty state (no bucket file) included.

        Pending merge-on-read deletes are masked here too (same contract
        as ``read``): the key set broadcasts, and a broadcast LEFT ANTI
        preserves the streamed side's output partitioning, so a
        downstream join on the bucket key still plans ZERO exchanges on
        this side (pinned by tests/test_bucket_gdpr.py).
        """
        name = self._catalog_name(table)
        final = self.path(table)
        if not spark.catalog.tableExists(name):
            spec = self.bucket_spec(table)
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in self.schema(table)
            )
            bcols = ", ".join(f"`{c}`" for c in spec["bucket_by"])
            sorted_by = (
                " SORTED BY (" + ", ".join(f"`{c}`" for c in spec["sort_by"]) + ")"
                if spec["sort_by"]
                else ""
            )
            spark.sql(
                f"CREATE TABLE `{name}` ({cols}) USING parquet "
                f"CLUSTERED BY ({bcols}){sorted_by} "
                f"INTO {spec['n_buckets']} BUCKETS LOCATION '{final}'"
            )
        return self._apply_pending_deletes(spark, spark.table(name), table)

    def replace_partitions(
        self,
        df: DataFrame,
        table: str,
        touched: list[tuple],
    ) -> dict:
        """Partition-grain ``replace_files``: ``df`` replaces every file
        under the ``touched`` dirs, in the same fenced copy-on-write
        commit (a touched partition ``df`` leaves empty has no dir in
        the new state). Each tuple holds one value per hive column the
        table records (``_layout``), in that order. Dir names render as
        ``col=value`` (NULL as Spark's default-partition sentinel), so
        pass values whose string form is their hive dir name (integers,
        plain strings). ``perfbench/layers.py`` traces commits under
        this name."""
        with self._write_fence(table):
            parts = self._layout(table).partition_by
            dirs = {
                "/".join(
                    f"{c}=__HIVE_DEFAULT_PARTITION__" if v is None else f"{c}={v}"
                    for c, v in zip(parts, vals)
                )
                for vals in touched
            }
            replaced = [
                rel
                for rel in self._walk_parquet_rels(self.path(table))
                if os.path.dirname(rel) in dirs
            ]
            return self._replace_files_unlocked(df, table, replaced)

    def erase_subjects(
        self,
        spark: SparkSession,
        table: str,
        key_col: str,
        subjects: DataFrame,
        retain: int = 1,
    ) -> dict:
        """EXECUTE a right-to-be-forgotten request against an on-disk
        table (the deletion q119 audits): remove every row whose
        ``key_col`` appears in ``subjects`` (a one-column DataFrame of
        subject keys — request sets are small, so it broadcasts). For a
        COMPOSITE subject key (the reference's comma-separated pk-list
        shape), route through ``delete_keys(key_cols=[...])`` +
        ``materialize_deletes`` instead — identical end state, tuple
        matching, and the instant-masking window as a bonus.
        Returns ``{"rows_before", "rows_erased", "rows_after",
        "touched_partitions", "purged_versions"}`` (the last names the
        pre-erasure snapshots a versioned erase discarded — also
        surfaced as a warning, since ``retain=1`` silently drops ALL
        history by design; ``None`` for non-versioned layouts).

        Two rewrite scopes, picked by the table's committed layout
        (``_layout``):

        - **versioned** (``_version.json`` present): the survivors
          commit as the next snapshot through ``overwrite_versioned``
          with ``retain`` (default 1, which prunes every pre-erasure
          snapshot immediately — erasure is only complete once no
          retained snapshot holds the subject's rows; pass a larger
          ``retain`` only if policy allows the grace window).
        - **every other layout** (flat, hive-partitioned, bucketed):
          FILE-grain copy-on-write through the rewrite
          ``materialize_deletes`` runs (``_rewrite_key_cover``). The key
          cover (``_key_cover``) intersects the zone map, the Bloom
          manifest and the bucket-id cover where they apply, else one
          broadcast semi-join scan of the key column finds the exact
          files; only those anti-join and rewrite through
          ``replace_files`` (bucket-preserving on a bucketed table;
          an emptied partition has no dir in the new state), and every
          other file hard-links through with its inode — and its
          zone-map and Bloom entries — intact. At 100 TB an erasure
          request touches a handful of files, not the table.
          ``touched_partitions`` counts the partition dirs of the
          rewritten files (``None`` on a table with no hive columns).

        Subject sets of up to ``DELETE_BLOOM_PROBE_CAP`` keys collect to
        the driver for the manifest covers; larger ones never leave the
        cluster (``_key_set``). The returned counts come from parquet
        footers (the committed files' and, versioned, the staged
        snapshot's), so the erase counts no row through a scan.

        Every rewrite stages into a temp dir before its swap, so reading
        the files being replaced while writing the new ones is safe.

        SINGLE WRITER per table, ENFORCED: the whole read→rewrite spans
        ONE acquisition of the table's mutation fence, which
        ``overwrite_versioned``, ``replace_files`` and ``compact`` take
        too (a snapshot committed between a versioned erase's read and
        its republish would be silently PURGED with ``retain=1``).
        """
        with self._write_fence(table):
            return self._erase_subjects_unlocked(
                spark, table, key_col, subjects, retain
            )

    def _erase_subjects_unlocked(
        self,
        spark: SparkSession,
        table: str,
        key_col: str,
        subjects: DataFrame,
        retain: int,
    ) -> dict:
        """``erase_subjects`` body; the caller MUST hold the table's
        mutation fence."""
        self._refuse_pending_deletes(table, "erase_subjects")
        subj = subjects.toDF("__erase_key").filter(
            F.col("__erase_key").isNotNull()
        ).distinct()
        lay = self._layout(table)
        touched_n = None
        purged: list[int] | None = None
        if lay.versioned:
            base = self._zoned_base(table, None)
            rows_before = sum(
                f.n for f in self._footers(
                    base, self._walk_parquet_rels(base)
                ).values()
            )
            current = self._read_dir(spark, base, self._dir_schema(base, table))
            survivors = current.join(
                F.broadcast(subj),
                current[key_col] == F.col("__erase_key"),
                "left_anti",
            )
            held_before = set(self._load_versions(table)["versions"])
            # the republished snapshot KEEPS the erased snapshot's
            # derived-metadata contract: a snapshot committed with
            # stat_cols / bloom_cols would otherwise silently lose its
            # zone map and bloom manifest at the erase, degrading every
            # later time-travel read to full scans
            prior_zm = self.zonemap(table)
            prior_bm = self.bloom(table)
            _v, staged = self._overwrite_versioned_unlocked(
                survivors,
                table,
                retain=retain,
                stat_cols=prior_zm["stat_cols"] if prior_zm else None,
                bloom_cols=prior_bm["cols"] if prior_bm else None,
            )
            # With retain=1 (the GDPR-complete default) every
            # pre-erasure snapshot is purged — history is gone by
            # design, but silently. Name the purged versions so
            # operators see what the erase discarded.
            purged = sorted(
                held_before - set(self._load_versions(table)["versions"])
            )
            if purged:
                warnings.warn(
                    f"erase_subjects({table!r}) purged pre-erasure "
                    f"snapshot version(s) {purged} (retain={retain}); "
                    "erasure is only complete once no retained snapshot "
                    "holds the subject's rows",
                    stacklevel=2,
                )
            rows_after = sum(staged.values())
        else:
            # pending deletes are refused above, so the committed
            # footers count exactly the rows a read sees
            base = self.path(table)
            footers = {
                rel: f.n for rel, f in self._footers(
                    base, self._walk_parquet_rels(base)
                ).items()
            }
            rows_before = sum(footers.values())
            # the subject keys take the column's exact type (the bucket
            # hash and the Bloom hash are type-sensitive); a subject the
            # type cannot hold exactly matches no row — Spark's coerced
            # equality decides, as a join on the raw value would
            dt = lay.schema[key_col].dataType
            key = F.col("__erase_key")
            if subj.schema["__erase_key"].dataType != dt:
                subj = subj.filter(key.try_cast(dt) == key)
            hit, res = self._rewrite_key_cover(
                spark, table, [key_col],
                self._key_set(subj.select(key.try_cast(dt).alias(key_col))),
            )
            if lay.partition_by:
                touched_n = len({os.path.dirname(rel) for rel in hit})
            # the rewritten files' rows minus their survivors
            rows_after = rows_before - (
                sum(footers[rel] for rel in hit)
                - (res["rows_written"] if res else 0)
            )
        return {
            "rows_before": rows_before,
            "rows_erased": rows_before - rows_after,
            "rows_after": rows_after,
            "touched_partitions": touched_n,
            "purged_versions": purged,
        }

    def _read_files(
        self,
        spark: SparkSession,
        table: str,
        rels: list[str] | None = None,
    ) -> DataFrame:
        """Read the live table's files — all of them, or just ``rels`` —
        the way ``read`` sees them, without its delete mask: through
        ``_read_dir`` with the committed schema, so a rewrite stages the
        values the table holds whichever partition dirs it reads."""
        return self._read_dir(
            spark, self.path(table), self.schema(table), rels
        )

    # ------------------------------------------------------------------
    # Versioned snapshots (time travel)
    # ------------------------------------------------------------------
    #
    # ``overwrite`` deletes the displaced table directory the moment the
    # swap lands — correct for the single-writer migration loop, but on a
    # shared 100 TB cluster a long scan that resolved its file list
    # against the old state dies mid-read, and yesterday's state is
    # unrecoverable. ``overwrite_versioned`` keeps each committed state
    # as an immutable snapshot directory plus one atomically-replaced
    # pointer file (the minimal form of the Iceberg/Delta snapshot
    # model):
    #
    #     root/table/_v00001/...parquet      immutable snapshot data
    #     root/table/_v00002/...parquet
    #     root/table/_version.json           {"current": 2, "versions": {...}}
    #
    # Underscore-prefixed snapshot dirs are invisible to plain parquet
    # discovery, so a versioned table can never be half-read by accident.
    # Writers: write the new snapshot dir fully, then os.replace the
    # pointer (crash before the flip leaves the previous state current;
    # an orphaned _v dir is pruned by the next writer). Readers: resolve
    # the pointer once, then scan files no writer will ever mutate —
    # retention (``retain``) is the grace window concurrent readers get.

    def _version_pointer(self, table: str) -> str:
        return os.path.join(self.path(table), VERSION_FILE)

    def _mutation_lock_path(self, table: str) -> str:
        """The one lock path of the table's mutation fence, taken by
        every writer of the table: full-state commits (``overwrite``,
        ``write_shards``, ``write_bucketed``, ``recluster``,
        ``rebucket``), file-grain commits (``replace_files``,
        ``append_files``, ``compact``, the keyed rewrites), the
        manifest rebuilds and versioned commits. The lock must live
        OUTSIDE the table dir: ``_commit_swap`` renames the whole
        directory away, which would displace an in-dir lock mid-fence —
        a second writer could then acquire a fresh in-dir lock that the
        first writer's cleanup would delete (the check-then-remove race
        ``_break_stale_lock`` documents)."""
        safe = re.sub(r"[^A-Za-z0-9_]", "_", table)
        return os.path.join(self.root, f".{safe}{LOCK_FILE}")

    def _write_fence(self, table: str, lock_path: str | None = None):
        """ENFORCED single-writer fence: an ``O_EXCL``-created lock file
        at the table's mutation lock path (``_mutation_lock_path``; at
        ``lock_path`` for non-table resources like group pointers).
        Code already inside the fence calls the ``_unlocked`` body of a
        fenced method, never the method itself. The second concurrent writer
        raises :class:`ConcurrentWriteError` instead of silently losing
        a commit in the ``_version.json`` read-modify-write. O_EXCL is
        atomic on POSIX local filesystems and on HDFS-style stores with
        create-if-absent semantics; object stores without atomic
        create-if-absent (plain S3) need an external lock service — the
        same caveat every file-based table format carries.

        Staleness escape: the lock records ``pid=<pid> host=<host>``.
        When a second writer finds the lock held by a process on the
        SAME host that is no longer alive (``os.kill(pid, 0)`` raises
        ``ProcessLookupError``), the crashed writer's lock is broken
        LOUDLY (a warning naming the dead holder) and acquisition
        retried once, instead of wedging every future commit until a
        human removes the file. Locks from other hosts — where
        liveness cannot be probed — still fail closed."""
        @contextlib.contextmanager
        def fence():
            lock = lock_path or self._mutation_lock_path(table)
            for attempt in (0, 1):
                try:
                    fd = os.open(
                        lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                    )
                    break
                except FileExistsError:
                    try:
                        with open(lock) as f:
                            holder = f.read().strip() or "unknown"
                    except OSError:
                        holder = "unknown"
                    if attempt == 0 and self._lock_holder_dead(holder):
                        if self._break_stale_lock(lock, table):
                            continue  # removed under the token: retry
                    raise ConcurrentWriteError(
                        f"table {table!r} is being written by another "
                        f"writer (holder: {holder}; lock: {lock}). If "
                        "that writer crashed on another host, remove "
                        "the lock file manually."
                    ) from None
            try:
                os.write(
                    fd,
                    f"pid={os.getpid()} host={socket.gethostname()}".encode(),
                )
                os.close(fd)
                yield
            finally:
                try:
                    os.remove(lock)
                except OSError:
                    pass

        return fence()

    def _break_stale_lock(self, lock: str, table: str) -> bool:
        """Remove a dead writer's lock under a single-breaker TOKEN.

        A naive check-then-remove races: two breakers both observe the
        dead holder, the faster one removes AND re-acquires, and the
        slower one's ``os.remove`` then deletes the LIVE lock — two
        writers inside the fence. Lock removal therefore requires
        holding ``<lock>.break`` (O_EXCL, so exactly one breaker), and
        the holder is RE-READ under the token before removing: the
        stale lock cannot change while the token is held, because
        creating a lock needs the path absent and removing one needs
        this token. A breaker that crashes holding the token leaves it
        behind; its recorded pid gets the same dead-holder treatment,
        one level down. Returns True when the stale lock is gone and
        acquisition should retry; False = someone else is mid-break
        (fail closed)."""
        token = lock + ".break"
        try:
            tfd = os.open(token, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            try:
                with open(token) as f:
                    tholder = f.read().strip()
            except OSError:
                return False
            if self._lock_holder_dead(tholder):
                try:  # crashed breaker: clear its token and retry ours
                    os.remove(token)
                except OSError:
                    pass
                return self._break_stale_lock(lock, table)
            return False
        try:
            os.write(
                tfd,
                f"pid={os.getpid()} host={socket.gethostname()}".encode(),
            )
            os.close(tfd)
            try:
                with open(lock) as f:
                    holder = f.read().strip() or "unknown"
            except OSError:
                return True  # already gone: retry acquisition
            if not self._lock_holder_dead(holder):
                return False  # re-acquired by a live writer meanwhile
            warnings.warn(
                f"breaking stale writer lock {lock} of table {table!r} "
                f"held by dead process ({holder})",
                stacklevel=4,
            )
            try:
                os.remove(lock)
            except OSError:
                pass
            return True
        finally:
            try:
                os.remove(token)
            except OSError:
                pass

    @staticmethod
    def _lock_holder_dead(holder: str) -> bool:
        """True iff the lock's recorded holder is a process on THIS
        host that is provably not alive. Malformed holders, other
        hosts, and live/unprobeable pids all return False (fail
        closed)."""
        fields = dict(
            kv.split("=", 1) for kv in holder.split() if "=" in kv
        )
        if fields.get("host") != socket.gethostname():
            return False
        try:
            pid = int(fields["pid"])
        except (KeyError, ValueError):
            return False
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            return True
        except OSError:
            return False
        return False

    def _load_versions(self, table: str) -> dict:
        p = self._version_pointer(table)
        if not os.path.isfile(p):
            return {"current": 0, "versions": {}}
        with open(p) as f:
            state = json.load(f)
        state["versions"] = {int(k): v for k, v in state["versions"].items()}
        return state

    def overwrite_versioned(
        self,
        df: DataFrame,
        table: str,
        meta: dict | None = None,
        retain: int = 2,
        cluster_by: list[str] | None = None,
        cluster_partitions: int | None = None,
        zorder_by: list[str] | None = None,
        stat_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
    ) -> int:
        """Commit ``df`` as the table's next immutable snapshot and
        return its version number. Keeps the newest ``retain`` snapshots
        (>=1); older ones are pruned AFTER the pointer flip, so a reader
        that resolved any retained version keeps valid files.
        ``cluster_by``/``zorder_by`` apply the same data-skipping file
        layouts as ``overwrite``; ``stat_cols`` builds the snapshot's
        zone map inside the snapshot dir before the rename, so every
        immutable snapshot carries its own never-stale map and
        ``read_zoned(..., version=...)`` prunes time-travel reads.

        SINGLE WRITER per table, ENFORCED: the read-modify-write of
        ``_version.json`` is not compare-and-swap, so the whole commit
        runs inside the table's mutation fence — a second concurrent
        writer raises :class:`ConcurrentWriteError` loudly instead of
        computing the same next version and silently losing a commit.
        Concurrent READERS are the supported case — that is what the
        retained immutable snapshots exist for."""
        if retain < 1:
            raise ValueError("retain must be >= 1")
        with self._write_fence(table):
            return self._overwrite_versioned_unlocked(
                df,
                table,
                meta=meta,
                retain=retain,
                cluster_by=cluster_by,
                cluster_partitions=cluster_partitions,
                zorder_by=zorder_by,
                stat_cols=stat_cols,
                bloom_cols=bloom_cols,
            )[0]

    def _overwrite_versioned_unlocked(
        self,
        df: DataFrame,
        table: str,
        meta: dict | None = None,
        retain: int = 2,
        cluster_by: list[str] | None = None,
        cluster_partitions: int | None = None,
        zorder_by: list[str] | None = None,
        stat_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
    ) -> tuple[int, dict[str, int]]:
        """``overwrite_versioned`` body; the caller MUST hold the
        table's ``_write_fence`` (``erase_subjects`` spans its
        read→purge→republish under ONE fence acquisition so a concurrent
        versioned commit cannot land between the erase's snapshot read
        and its republish — that interleaving would be purged unseen
        with ``retain=1``). Returns the new version and each staged
        file's footer row count (``_stage_state``)."""
        if retain < 1:
            raise ValueError("retain must be >= 1")
        df = self._apply_layout(df, cluster_by, zorder_by, cluster_partitions)
        os.makedirs(self.path(table), exist_ok=True)
        state = self._load_versions(table)
        version = state["current"] + 1
        vdir = f"_v{version:05d}"
        final = os.path.join(self.path(table), vdir)
        with self._staging(table) as tmp:
            # the manifests are computed over the staged snapshot and
            # ride inside it through the rename, so every immutable
            # snapshot carries its own never-stale zone map and filters
            # and time-travel reads (version diffs, q110) file-prune
            rows = self._stage_state(
                df, tmp, meta=meta, stat_cols=stat_cols, bloom_cols=bloom_cols
            )
            os.replace(tmp, final)
        state["versions"][version] = {"dir": vdir, "meta": meta or {}}
        state["current"] = version
        keep = sorted(state["versions"])[-retain:]
        pruned = [v for v in state["versions"] if v not in keep]
        state["versions"] = {v: state["versions"][v] for v in keep}
        self._write_json_atomic(self._version_pointer(table), state)
        # prune only after the flip: pruned versions are no longer
        # resolvable, and a crash here just leaves dirs for the next
        # writer's orphan sweep below
        for v in pruned:
            shutil.rmtree(
                os.path.join(self.path(table), f"_v{v:05d}"),
                ignore_errors=True,
            )
        live = {info["dir"] for info in state["versions"].values()}
        for name in os.listdir(self.path(table)):
            if re.fullmatch(r"_v\d{5}", name) and name not in live:
                shutil.rmtree(
                    os.path.join(self.path(table), name),
                    ignore_errors=True,
                )
        return version, rows

    def read_version(
        self, spark: SparkSession, table: str, version: int | None = None
    ) -> DataFrame:
        """Read a snapshot of a versioned table — the current one by
        default, or any retained ``version`` (time travel) — with the
        snapshot's own committed schema."""
        if self._load_versions(table)["current"] == 0:
            raise FileNotFoundError(f"{table!r} has no versioned snapshots")
        base = self._zoned_base(table, version)
        return self._read_dir(spark, base, self._dir_schema(base, table))

    def versions(self, table: str) -> dict[int, dict]:
        """Retained snapshot versions with their committed meta."""
        return self._load_versions(table)["versions"]

    # ------------------------------------------------------------------
    # Consistent multi-table snapshots (group commit)
    # ------------------------------------------------------------------
    #
    # Per-table versioning makes each table individually atomic, but a
    # reader joining two tables mid-publish can still see table A's new
    # snapshot with table B's old one — a TORN multi-table state (the
    # fact/dim consistency problem every warehouse publish has). A group
    # commit closes it with one more pointer level:
    #
    #     root/_group_<name>.json    {"current": 2,
    #                                 "commits": {2: {"orders": 5,
    #                                                 "lineitem": 7}}}
    #
    # Writers commit every member table as a regular versioned snapshot
    # (each under its own writer fence), then atomically replace the ONE
    # group pointer. Readers resolve the group pointer once and read the
    # recorded table versions — all tables at the same commit, or (if
    # the writer crashed before the flip) all tables at the previous
    # one; never a mix. Crash-orphaned table versions are swept by
    # retention on the next successful commit.

    def _group_pointer(self, group: str) -> str:
        safe = re.sub(r"[^A-Za-z0-9_]", "_", group)
        return os.path.join(self.root, f"_group_{safe}.json")

    def _load_group(self, group: str) -> dict:
        p = self._group_pointer(group)
        if not os.path.isfile(p):
            return {"current": 0, "commits": {}}
        with open(p) as f:
            state = json.load(f)
        state["commits"] = {
            int(k): v for k, v in state["commits"].items()
        }
        return state

    def commit_group(
        self,
        tables: dict[str, DataFrame],
        group: str,
        retain: int = 2,
    ) -> int:
        """Publish a CONSISTENT snapshot of several tables: each member
        commits through ``overwrite_versioned`` (every group commit
        writes every member, so per-table retention aligns with group
        retention), then the single group pointer flips atomically.
        Returns the group commit number.

        Member sets must not shrink: dropping a table from a later
        commit would leave older group commits resolvable but the
        table's own retention unaware of them — refused loudly.
        Single writer per GROUP, enforced with the same ``O_EXCL``
        fence as per-table commits (member commits take their own
        per-table fences inside). Members retain ``retain + 1`` table
        versions so one CRASHED attempt (members committed, pointer
        never flipped — its versions still occupy retention slots)
        cannot expire the oldest retained group commit; resolving a
        group commit whose member versions DID expire raises KeyError
        loudly, never a torn read. Group members should only be written
        through ``commit_group`` — a standalone ``overwrite_versioned``
        on a member desynchronizes the two retention windows the same
        way."""
        if not tables:
            raise ValueError("commit_group needs at least one table")
        if retain < 1:
            raise ValueError("retain must be >= 1")
        with self._write_fence(
            group, lock_path=self._group_pointer(group) + ".lock"
        ):
            # Load INSIDE the fence: the read-modify-write of the group
            # pointer must be fully fenced, or two writers that both
            # loaded current=N before serializing through the lock
            # would each compute commit N+1 and the second would
            # silently discard the first's commit mapping (the exact
            # lost-update the fence exists to prevent; mirrors
            # overwrite_versioned loading _version.json inside its
            # fence).
            state = self._load_group(group)
            prev = state["commits"].get(state["current"], {})
            missing = set(prev) - set(tables)
            if missing:
                raise ValueError(
                    f"group {group!r} commit is missing member tables "
                    f"{sorted(missing)}; member sets must not shrink"
                )
            committed = {
                name: self.overwrite_versioned(df, name, retain=retain + 1)
                for name, df in tables.items()
            }
            commit = state["current"] + 1
            state["commits"][commit] = committed
            keep = sorted(state["commits"])[-retain:]
            state["commits"] = {v: state["commits"][v] for v in keep}
            state["current"] = commit
            self._write_json_atomic(self._group_pointer(group), state)
            # a group may interleave linked and DataFrame commits: the
            # retention prune above can expire LINKED commits, so the
            # hard-link snapshot sweep runs here too
            self._sweep_group_snaps(group, state)
        return commit

    def has_committed_data(self, table: str) -> bool:
        """True when the table holds a committed PLAIN (unversioned)
        state — its ``_schema.json``, which every commit writes, an
        emptied state's included — the precondition for joining a
        linked group snapshot. A versioned table returns False (group
        it via ``commit_group``)."""
        try:
            return not self._layout(table).versioned
        except FileNotFoundError:
            return False

    def group_members(self, group: str) -> list[str]:
        """Member tables of the group's current commit ([] if the group
        has never committed) — what a new cycle must re-snapshot even
        when its queue touches only a subset (member sets never
        shrink)."""
        state = self._load_group(group)
        return sorted(state["commits"].get(state["current"], {}))

    def _group_snap_root(self, group: str) -> str:
        safe = re.sub(r"[^A-Za-z0-9_]", "_", group)
        return os.path.join(self.root, f"_group_{safe}")

    def group_meta(self, group: str) -> dict:
        """Small marker map carried by the group pointer (empty for a
        group without one). Written atomically WITH a
        ``commit_group_linked(..., meta=...)`` pointer flip, so unlike
        a table's ``_meta.json`` it can never lag or lead the commit it
        describes — the group-stream replay guard reads it with one
        JSON load and no data I/O."""
        return self._load_group(group).get("meta", {})

    def commit_group_linked(
        self, tables: list[str], group: str, retain: int = 2,
        meta: dict | None = None,
    ) -> int:
        """Publish a CONSISTENT multi-table snapshot of the members'
        CURRENT committed states via HARD LINKS — zero data I/O, so a
        sync cycle over 100 TB of tables snapshots in file-count time.
        The cycle-boundary primitive ``run_queue(group=...)`` commits
        through: readers resolving the group see every member exactly
        as it stood when the cycle finished, never a mid-cycle mix, and
        the links keep the snapshot stable even while later cycles
        atomically swap the working table dirs out from under it (an
        ``os.replace``/rmtree removes names, not inodes).

        Members must be PLAIN or hive-partitioned tables (a versioned
        member's states are already immutable — group them with
        ``commit_group``). The same group may interleave linked and
        DataFrame commits; the member-shrink rule spans both. A member
        with PENDING merge-on-read deletes snapshots fine: its sidecar
        rides into the snapshot (manifest copy + hard-linked key
        parquet) and ``read_group`` applies it, so a defer-mode GDPR
        queue never stalls the epoch and the group boundary shows
        exactly the masked view a live reader saw. Retention
        prunes the oldest linked snapshot dirs with the pointer update;
        a crash between linking and the flip leaves an orphan dir that
        the next successful commit sweeps. Single writer per group
        (same ``O_EXCL`` fence). Returns the group commit number."""
        if not tables:
            raise ValueError("commit_group_linked needs at least one table")
        if retain < 1:
            raise ValueError("retain must be >= 1")
        with self._write_fence(
            group, lock_path=self._group_pointer(group) + ".lock"
        ):
            state = self._load_group(group)
            prev = state["commits"].get(state["current"], {})
            missing = set(prev) - set(tables)
            if missing:
                raise ValueError(
                    f"group {group!r} commit is missing member tables "
                    f"{sorted(missing)}; member sets must not shrink"
                )
            commit = state["current"] + 1
            snap = os.path.join(self._group_snap_root(group), f"c{commit:05d}")
            members: dict[str, dict] = {}
            for t in tables:
                lay = self._layout(t)
                if lay.versioned:
                    raise ValueError(
                        f"member {t!r} is versioned — its snapshots are "
                        "already immutable; commit it with commit_group"
                    )
                # a member's pending merge-on-read deletes ride INTO the
                # snapshot (manifest copy + hard-linked key parquet), so
                # the group boundary captures the masked view instead of
                # refusing the whole epoch — one deferred GDPR delete
                # must not stall every member's group stream. read_group
                # applies the snapshot's own sidecar; the links keep it
                # stable after the live table materializes.
                dm = self.pending_deletes(t)
                src = self.path(t)
                dst = os.path.join(snap, t)
                os.makedirs(dst, exist_ok=True)
                for dirpath, dirs, files in os.walk(src):
                    # hidden dirs are sidecars, never snapshot data
                    dirs[:] = [
                        d for d in dirs if not d.startswith(("_", "."))
                    ]
                    rel = os.path.relpath(dirpath, src)
                    for fn in files:
                        if not fn.endswith(".parquet"):
                            continue
                        d = dst if rel == "." else os.path.join(dst, rel)
                        os.makedirs(d, exist_ok=True)
                        os.link(
                            os.path.join(dirpath, fn), os.path.join(d, fn)
                        )
                self._write_json_atomic(
                    os.path.join(dst, SCHEMA_FILE), lay.schema.jsonValue()
                )
                if dm is not None:
                    sdir = self._deletes_dir(t, dm)
                    sdst = os.path.join(dst, os.path.basename(sdir))
                    os.makedirs(sdst, exist_ok=True)
                    for fn in os.listdir(sdir):
                        if fn.endswith(".parquet"):
                            os.link(
                                os.path.join(sdir, fn),
                                os.path.join(sdst, fn),
                            )
                    # manifest written AFTER its dir is fully linked;
                    # "dir" rebased to the snapshot-local basename
                    self._write_json_atomic(
                        os.path.join(dst, DELETES_FILE),
                        {**dm, "dir": os.path.basename(sdir)},
                    )
                members[t] = {"dir": os.path.relpath(dst, self.root)}
            state["commits"][commit] = members
            keep = sorted(state["commits"])[-retain:]
            state["commits"] = {v: state["commits"][v] for v in keep}
            state["current"] = commit
            if meta:
                # merged like update_meta, but atomic WITH the flip:
                # readers of group_meta() see a marker only once the
                # commit it describes is the current one
                state["meta"] = {**state.get("meta", {}), **meta}
            self._write_json_atomic(self._group_pointer(group), state)
            self._sweep_group_snaps(group, state)
        return commit

    def _sweep_group_snaps(self, group: str, state: dict) -> None:
        """Remove expired AND crash-orphaned hard-link snapshot dirs:
        anything under the group's snap root that no retained commit
        references. Runs after EVERY group pointer flip (linked or
        DataFrame-style), since either kind of commit can expire a
        linked one through retention."""
        live = {
            f"c{v:05d}"
            for v, mem in state["commits"].items()
            if any(isinstance(m, dict) for m in mem.values())
        }
        sroot = self._group_snap_root(group)
        if os.path.isdir(sroot):
            for name in os.listdir(sroot):
                if name not in live:
                    shutil.rmtree(
                        os.path.join(sroot, name), ignore_errors=True
                    )

    def read_group(
        self, spark: SparkSession, group: str, commit: int | None = None
    ) -> dict[str, DataFrame]:
        """Resolve one group commit (the current one by default, or any
        retained ``commit`` — multi-table time travel) and return every
        member table AT THAT COMMIT. The pointer is resolved once, so
        the returned frames are mutually consistent even while a writer
        publishes the next commit. Members committed by ``commit_group``
        resolve through their versioned snapshots; members committed by
        ``commit_group_linked`` read their hard-linked snapshot dirs with
        the schema committed into each."""
        state = self._load_group(group)
        if state["current"] == 0:
            raise FileNotFoundError(f"group {group!r} has no commits")
        c = state["current"] if commit is None else commit
        if c not in state["commits"]:
            raise KeyError(
                f"group commit {c} of {group!r} is not retained "
                f"(have {sorted(state['commits'])})"
            )
        out = {}
        for name, v in state["commits"][c].items():
            if isinstance(v, dict):
                base = os.path.join(self.root, v["dir"])
                # a snapshot taken while the member had pending
                # merge-on-read deletes carries its own sidecar — apply
                # it so the group boundary shows the masked view
                out[name] = self._apply_deletes_in_dir(
                    spark,
                    self._read_dir(spark, base, self._dir_schema(base, name)),
                    base,
                )
            else:
                out[name] = self.read_version(spark, name, version=v)
        return out

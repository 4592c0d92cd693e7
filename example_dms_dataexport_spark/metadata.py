"""DMS control metadata store.

Mirrors the reference's ``DMS_METADATA`` table
(control_migration_schema_script.sql:20-37): one row per source table, keyed
by ``full_path`` (the stage-relative ``<schema>/<table>`` directory prefix),
carrying target naming, the comma-separated ``primary_keys`` string
(ref :27, split at :298-299), and the two per-table watermarks:

- ``last_full_load_date`` (timestamp) — advanced by full_load (ref :244)
- ``last_incremental_file`` (string)  — advanced by incremental_load
  (ref :412-416); reset to the sentinel ``'0'`` on full reload (ref :244).
  CDC file names (``2YYYYMMDD-nnnnnnnnn.csv``) sort lexicographically by
  time, so a plain string comparison is the watermark predicate (ref :359).

The control table is tiny (one row per table), driver-resident, and mutated
read-modify-write, so it is stored as a single JSON document written
atomically (tmp + rename) — the SURVEY §1.1 "single JSON state store"
option.  At 100 TB the data plane never touches this store; only the
planner/loader driver code does.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
from dataclasses import asdict, dataclass, field


def source_ordered(columns: list[str], recorded: list[str]) -> list[str]:
    """Restore the recorded SOURCE column order over ``columns`` (a
    possibly partition-reordered schema): recorded names first (those
    still present), then any columns the record doesn't know about.
    Shared by the batch loaders and the streaming CDC driver — the
    positional-cast contract has exactly one definition."""
    order = [c for c in recorded if c in columns]
    order += [c for c in columns if c not in order]
    return order


@dataclass
class TableMeta:
    """One DMS_METADATA row (ref :20-37)."""

    full_path: str  # '<db_schema>/<db_table>' stage-relative prefix
    db_schema: str
    db_table: str
    stage: str  # stage root URI/path (LIST @stage target)
    primary_keys: list[str] = field(default_factory=list)
    file_format: str = "csv"
    target_table: str = ""  # warehouse table name (sf_table analogue)
    cloud_provider: str = ""
    bucket: str = ""
    db_prefix: str = ""
    additional_config: str = "{}"  # JSON string (ref 'variant' column :34)
    last_full_load_date: str | None = None  # ISO-8601 UTC
    last_incremental_file: str = "0"  # sentinel '0' (ref :244)
    # Source column order, recorded by full_load — the positional-CDC
    # contract (ref :341-348 introspects information_schema for exactly
    # this). Needed because Spark re-orders a hive-PARTITIONED target's
    # schema (partition columns move last), which would silently garble
    # the positional cast for any non-last partition column.
    column_order: list[str] = field(default_factory=list)

    def __post_init__(self) -> None:
        if isinstance(self.primary_keys, str):
            # ref :298-299: comma-split, spaces stripped
            self.primary_keys = [
                c for c in self.primary_keys.replace(" ", "").split(",") if c
            ]
        if not self.target_table:
            self.target_table = f"{self.db_schema}_{self.db_table}"

    _LAYOUT_KEYS = frozenset(
        {
            "partition_by",
            "cluster_by",
            "zorder_by",
            "cluster_partitions",
            "stat_cols",
            "bloom_cols",
            "bucket_by",
            "n_buckets",
            "sort_by",
        }
    )

    def layout(self) -> dict:
        """Per-table TARGET LAYOUT declared under ``additional_config``
        (the reference's free-form variant column, ref :34):

            {"layout": {"partition_by": [...], "cluster_by": [...],
                        "zorder_by": [...], "cluster_partitions": N,
                        "stat_cols": [...], "bloom_cols": [...],
                        "bucket_by": [...], "n_buckets": N,
                        "sort_by": [...]}}

        ``bucket_by``/``n_buckets`` (+ optional ``sort_by``) declare the
        HASH-BUCKETED co-located-join layout: full_load CREATES the
        table through ``write_bucketed`` and every later mutation (CDC
        merge, GDPR delete/erase, compact, overwrite) preserves it via
        the persisted ``_bucket_spec.json``. Mutually exclusive with
        the hive/cluster/zorder keys — bucketing IS the layout.

        ``bloom_cols`` declares per-file Bloom manifests over point-
        lookup key columns (GDPR file-grain erasure, MOR delete
        discovery). Like ``stat_cols``, the declaration makes the
        manifest part of the table's layout CONTRACT: full rewrites
        build it atomically with the data, and the maintenance advisor
        rebuilds it when an in-place mutation (compact / erase /
        ANN-index extend) has dropped it — without the declaration a
        dropped manifest silently degrades erasure to partition-grain
        rewrites or full key scans until someone remembers
        ``write_bloom``.

        Declared once at registration, honored by EVERY load: full_load
        applies it to the initial overwrite, incremental_load derives
        its partition scoping from ``partition_by`` and re-applies the
        clustering/zone-map options on full rewrites. The table's
        committed state then records the layout it was written with
        (``_schema.json``'s ``partition_by``, ``_bucket_spec.json``),
        and every rewrite and append of it — CDC file replaces,
        erasure, materialized deletes, compaction, appends — reads the
        layout from there (``ParquetWarehouse._layout``) instead of
        taking it as an argument. At 100 TB the layout IS the
        read-performance contract, so it belongs in the control
        metadata, not in per-call arguments that each caller must
        remember to repeat. Unknown keys raise (a typo must not
        silently produce an unlaid-out table)."""
        try:
            cfg = json.loads(self.additional_config or "{}")
        except json.JSONDecodeError as e:
            raise ValueError(
                f"additional_config for {self.full_path!r} is not valid "
                f"JSON: {e}"
            ) from None
        if not isinstance(cfg, dict):
            raise ValueError(
                f"additional_config for {self.full_path!r} must be a JSON "
                f"object, got {type(cfg).__name__}"
            )
        lay = cfg.get("layout") or {}
        unknown = set(lay) - self._LAYOUT_KEYS
        if unknown:
            raise ValueError(
                f"unknown layout key(s) {sorted(unknown)} for "
                f"{self.full_path!r}; supported: {sorted(self._LAYOUT_KEYS)}"
            )
        # bucket layout: hash bucketing IS the table's clustering AND
        # partitioning contract, so it is mutually exclusive with the
        # hive/cluster/zorder keys; misdeclaration must fail at
        # registration read, not as a wrong layout three loads later
        if lay.get("bucket_by"):
            if not isinstance(lay.get("n_buckets"), int) or lay["n_buckets"] < 1:
                raise ValueError(
                    f"layout for {self.full_path!r} declares bucket_by "
                    "but n_buckets is missing or not a positive int"
                )
            conflict = [
                k
                for k in ("partition_by", "cluster_by", "zorder_by")
                if lay.get(k)
            ]
            if conflict:
                raise ValueError(
                    f"layout for {self.full_path!r} combines bucket_by "
                    f"with {conflict} — hash bucketing is the layout; "
                    "declare one or the other"
                )
        elif lay.get("n_buckets") or lay.get("sort_by"):
            raise ValueError(
                f"layout for {self.full_path!r} declares "
                "n_buckets/sort_by without bucket_by"
            )
        return lay


class MetadataStore:
    """Atomic JSON-backed store of TableMeta rows, keyed by full_path."""

    def __init__(self, path: str):
        self.path = path
        self._lock = threading.Lock()
        self._rows: dict[str, TableMeta] = {}
        if os.path.exists(path):
            with open(path) as f:
                raw = json.load(f)
            self._rows = {k: TableMeta(**v) for k, v in raw.items()}

    def _flush(self) -> None:
        d = os.path.dirname(os.path.abspath(self.path)) or "."
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump({k: asdict(v) for k, v in self._rows.items()}, f, indent=1)
        os.replace(tmp, self.path)

    def register(self, meta: TableMeta, overwrite: bool = True) -> None:
        with self._lock:
            if not overwrite and meta.full_path in self._rows:
                return
            self._rows[meta.full_path] = meta
            self._flush()

    def get(self, full_path: str) -> TableMeta | None:
        with self._lock:
            return self._rows.get(full_path)

    def all(self) -> list[TableMeta]:
        with self._lock:
            return list(self._rows.values())

    def distinct_stages(self) -> list[str]:
        """SELECT DISTINCT stage ... WHERE stage IS NOT NULL (ref :96)."""
        with self._lock:
            return sorted({m.stage for m in self._rows.values() if m.stage})

    def update_watermarks(
        self,
        full_path: str,
        last_full_load_date: str | None = None,
        last_incremental_file: str | None = None,
    ) -> None:
        """Advance per-table watermark (ref :244, :412-416)."""
        with self._lock:
            meta = self._rows[full_path]
            if last_full_load_date is not None:
                meta.last_full_load_date = last_full_load_date
            if last_incremental_file is not None:
                meta.last_incremental_file = last_incremental_file
            self._flush()

    def update_column_order(self, full_path: str, columns: list[str]) -> None:
        """Record the source column order at full-load time (the
        information_schema introspection analogue, ref :307-321/:341-348)
        so later positional CDC casts survive a partitioned target's
        schema re-ordering."""
        with self._lock:
            self._rows[full_path].column_order = list(columns)
            self._flush()

"""incremental_load analogue (ref :271-428) — the pipeline's crown jewel.

Reference flow → Spark mapping:

1. metadata fetch incl. watermark + primary_keys (ref :277-299)
   → MetadataStore.get
2. CDC file pattern ``.*/<schema>/<table>/2.*\\.csv`` (ref :301)
   → regex over the stage listing
3. new-files check ``max(metadata$filename) > watermark`` (ref :358-367)
   → driver-side: prune the *file list* by lexicographic watermark before
     any Spark read is planned.  The reference pushes the filter into the
     stage scan; pruning the listing is the same optimization one level
     earlier (SURVEY §4 — the biggest 100 TB lever), and the early-exit
     "No files to process." (ref :421-423) falls out for free.
4. schema introspection + positional casts (ref :307-348)
   → target schema applied in the CSV read (sources/csv_stage.py)
5. latest-wins dedup + MERGE (ref :369-409)
   → merge.apply_changes: max_by latest-wins dedup + full-outer join
6. advance watermark to max processed file (ref :412-416)
   → MetadataStore.update_watermarks, after the write commits
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .listing import list_stage
from .merge import apply_changes
from .metadata import MetadataStore, source_ordered
from .sources.csv_stage import cdc_schema
from .sources.stage import read_stage, stage_extension
from .sources.warehouse import KeySet, ParquetWarehouse

# ref :301 — CDC files start with '2' (2YYYYMMDD-nnnnnnnnn.<ext>); the
# extension follows the table's metadata file_format (ref :26).
CDC_PATTERN = r".*/{schema}/{table}/2.*\.{ext}"


def incremental_load(
    spark: SparkSession,
    store: MetadataStore,
    warehouse: ParquetWarehouse,
    full_path: str,
    partition_by: list[str] | None = None,
    schema: StructType | None = None,
) -> str:
    """Apply all CDC files newer than the watermark; returns a status
    string shaped like the reference's returns (ref :418-426).

    ``schema``: additive schema evolution. When the source grows a column
    the CDC files carry an extra positional field the stored target
    doesn't have; pass the EVOLVED target schema and the load reads the
    files against it while back-filling the new columns as NULL on the
    existing rows (the merge then writes the evolved layout). Columns may
    only be added — a schema missing stored columns raises rather than
    silently dropping data.
    """
    meta = store.get(full_path)
    if meta is None:
        return "Specified full_path doesn't exist in dms_metadata table."
    if not meta.stage or not meta.primary_keys:
        return "The fields stage and primary_keys can't be null"  # ref :303-305
    layout = meta.layout()
    if partition_by is None:  # declared layout drives the partition scoping
        partition_by = layout.get("partition_by")

    pattern = CDC_PATTERN.format(
        schema=meta.db_schema,
        table=meta.db_table,
        ext=stage_extension(meta.file_format),
    )
    all_cdc = list_stage(spark, meta.stage, pattern)
    # Watermark compares *file names* lexicographically (ref :359,393) —
    # DMS names encode time as 2YYYYMMDD-nnnnnnnnn so name order = time
    # order; the full-load sentinel '0' sorts before every CDC file.
    new_files = [
        f.path
        for f in all_cdc
        if f.path.rsplit("/", 1)[-1] > meta.last_incremental_file
    ]
    if not new_files:
        return "No files to process."  # ref :421-423

    # Zero-data-I/O replay early-exit (r19 — ref :358-367's check taken
    # one level deeper): the warehouse meta sidecar records the last
    # file each COMMITTED merge consumed (written strictly AFTER the
    # commit, so it can lag the data but never lead it). A re-delivered
    # window — crash between the merge commit and the metadata-store
    # watermark advance — therefore skips the whole merge: the files are
    # "new" only to the stale watermark, which just advances. One JSON
    # read; no data file opens. Genuinely new files (> the recorded
    # mark) fall through to the merge, which re-applies any replayed
    # prefix idempotently (latest-wins).
    last_file = max(f.rsplit("/", 1)[-1] for f in new_files)
    last_merged = warehouse.read_meta(meta.target_table).get(
        "last_merged_file"
    )
    if last_merged is not None and last_file <= last_merged:
        store.update_watermarks(full_path, last_incremental_file=last_file)
        return "No files to process."  # already merged; watermark healed

    target = warehouse.read(spark, meta.target_table)
    evolved = False
    if schema is not None:
        dropped = [c for c in target.columns if c not in schema.fieldNames()]
        if dropped:
            raise ValueError(
                f"schema evolution is additive-only; missing stored columns: "
                f"{dropped}"
            )
        for f_ in schema.fields:
            if f_.name not in target.columns:
                target = target.withColumn(
                    f_.name, F.lit(None).cast(f_.dataType)
                )
                evolved = True
                continue
            cur = target.schema[f_.name].dataType
            if cur != f_.dataType:
                # type evolution is WIDENING-only: every stored value
                # must be exactly representable in the new type, or the
                # rewrite silently corrupts history. Anything lossy
                # (long->double above 2^53, narrowing, string renders)
                # refuses loudly.
                if not _is_widening(cur, f_.dataType):
                    raise ValueError(
                        f"schema evolution of column {f_.name!r} from "
                        f"{cur.simpleString()} to "
                        f"{f_.dataType.simpleString()} is not a lossless "
                        "widening; only byte<short<int<long, "
                        "float/int32-or-smaller -> double, and "
                        "scale/integer-digit-growing decimal changes are "
                        "supported"
                    )
                target = target.withColumn(
                    f_.name, F.col(f_.name).cast(f_.dataType)
                )
                evolved = True
        target = target.select(*schema.fieldNames())
        read_schema = schema
    else:
        if meta.column_order:
            # the positional CDC cast follows the SOURCE order recorded
            # at full load — a partitioned target's schema reads back
            # partition-columns-last, which would garble the cast
            target = target.select(
                *source_ordered(target.columns, meta.column_order)
            )
        read_schema = target.schema
    changes = read_stage(
        spark,
        new_files,
        cdc_schema(read_schema),
        file_format=meta.file_format,
        with_file_metadata=True,
    )
    version_cols = ["_dms_filename", "_dms_rownum"]  # ref :382 total order

    n = merge_and_write(
        warehouse,
        meta.target_table,
        target,
        changes,
        pks=meta.primary_keys,
        version_cols=version_cols,
        partition_by=partition_by,
        # An evolution batch must not be partition-scoped: rewriting only
        # touched partitions would leave untouched partition dirs on the
        # OLD parquet layout, and a later plain read (mergeSchema off) can
        # resolve the table schema from an old-layout footer — silently
        # losing the new column. Force the one-time full rewrite.
        full_rewrite=evolved,
        layout=layout,
    )

    # ordering: data commit (above) -> merge high-water mark -> store
    # watermark. Every crash window re-runs conservatively: before the
    # mark, the replay early-exit can't trigger (re-merge, idempotent);
    # after it, the early-exit heals the watermark without a merge.
    warehouse.update_meta(meta.target_table, {"last_merged_file": last_file})
    if schema is not None:  # evolution: the new order is authoritative
        store.update_column_order(full_path, schema.fieldNames())
    store.update_watermarks(full_path, last_incremental_file=last_file)
    return f"Rows affected: {n}."



def merge_and_write(
    warehouse: ParquetWarehouse,
    target_table: str,
    target,
    changes,
    pks: list[str],
    version_cols: list[str],
    partition_by: list[str] | None = None,
    full_rewrite: bool = False,
    layout: dict | None = None,
) -> int:
    """MERGE ``changes`` into ``target`` and commit to ``target_table``;
    returns the written row count. ONE code path for the merge+write,
    shared by the batch loader and the streaming foreachBatch driver.

    The reference runs one MERGE and leaves the choice of what to
    rewrite to Snowflake's micro-partition pruning (ref :369-408). Here
    the warehouse's one key cover picks the candidate target FILES, the
    merge joins only those, and one ``replace_files`` commit swaps in
    the rewritten files while every other file hard-links through.

    The batch's keys come from ONE driver-bounded step
    (``ParquetWarehouse._key_set`` over the distinct (pks,
    ``partition_by``) tuples): it is the empty-batch probe, its tuples
    name the touched partitions, and their local relation feeds the
    cover, the exact scan and the same-key delete fold. Then:

    1. manifest cover (``ParquetWarehouse._key_cover``: the zone-map
       point cover, the Bloom and the bucket-id covers, intersected) —
       ``_zone_scoped_merge`` for flat and bucketed targets,
       ``_hybrid_scoped_merge`` restricted to the files of the touched
       partitions. Partition columns must be stable per PK (a
       pk-derived bucket or an immutable date), so a matching target
       row can only live in a touched partition;
    2. pk scan (``_scan_scoped_merge``): when no manifest narrows, one
       semi-join of the target's pk columns, restricted to the touched
       partitions, against the batch's keys finds the exact files
       holding a batch key through ``_metadata.file_path``
       (``ParquetWarehouse._key_scan``) — the stage for targets
       unclustered on their key and for partition values whose hive
       directory names the cover cannot render.

    Versioned targets and on-disk layouts that do not match
    ``partition_by`` take neither stage. Correctness is unconditional:
    every stage keeps every file that could hold a row matching a
    change (NULL-PK rows never equality-match), so a carried file holds
    only rows the full-outer merge would pass through unchanged, and
    inserts land in new files. Emptied partitions simply have no
    directory in the assembled state.

    When no stage narrows (the cover keeps every committed file, a
    table with none included), the whole table rewrites through
    ``overwrite`` with the declared ``layout`` (``TableMeta.layout()``):
    the only terminal that re-applies the clustering / zone-map options,
    so an unprunable or reloaded table lands read-optimized. A bucketed
    target instead replaces every file through ``replace_files``, which
    stages through the bucket-preserving writer.

    ``full_rewrite`` skips the chain for one batch while KEEPING the
    hive partition layout on disk — the schema-evolution case, where
    every file must be rewritten to the evolved layout so no reader can
    resolve the table schema from a stale old-layout footer.
    """
    # MERGE-ON-READ FOLD: a pending _deletes sidecar no longer stalls
    # ingestion (the r11 weak mark: defer-mode GDPR serialized every
    # sync behind a manual materialize). When the merge's primary keys
    # EQUAL the pending key columns, the pending set folds into the
    # merge itself: (a) every sub-target masks the pending keys, so
    # rewritten files physically drop the masked rows; (b) the sidecar
    # is rewritten to pending ⊖ batch-keys, so a key the batch
    # re-inserts stops being masked — sound because every stage's
    # candidate set provably covers ALL rows holding a batch pk
    # (partition cols are stable per pk; every key cover keeps each file
    # that may hold a batch key; the scan discovery is an exact pk
    # semi-join), so no masked row whose key leaves the sidecar
    # survives unrewritten.
    #
    # With DIFFERENT key columns (the common compliance composition:
    # defer-mode GDPR keyed on subject_id while the CDC pks are
    # order/line ids) the sidecar cannot be subtracted — none of the
    # scoping proofs cover the subject key — so the fold instead carries
    # the sidecar INTACT (an empty subtraction) and masks the CHANGE
    # BATCH against the pending set: (a) rewritten files are built from
    # masked inputs, so they physically lack subject rows; (b) untouched
    # files' subject rows stay masked by the carried sidecar; (c) a
    # batch row RE-ASSERTING a pending subject is masked too — the
    # compliance plane outranks the data plane until the deletion is
    # materialized (the deliberate asymmetry vs the same-key fold, where
    # batch re-inserts win). Crash-replay converges BECAUSE the sidecar
    # survives the commit: a replayed batch is masked by the same
    # pending set, unlike the drop-the-sidecar alternative, whose replay
    # would resurrect the batch's masked rows. The compliance clock
    # (manifest ts) keeps ticking, so the maintenance scheduler still
    # materializes the physical bytes on schedule.
    fold_minus = None
    carry_intact = False
    same_key_fold = False
    dm = warehouse.pending_deletes(target_table)
    if dm is not None:
        kcols = warehouse._delete_key_cols(dm)
        if set(kcols) != set(pks):
            missing = [c for c in kcols if c not in changes.columns]
            if missing:
                raise ValueError(
                    f"{target_table!r} has pending merge-on-read "
                    f"deletes on {kcols!r}, and the change batch "
                    f"lacks column(s) {missing!r} — the batch cannot "
                    "be masked against the pending set; run "
                    "materialize_deletes() first"
                )
            changes = warehouse._apply_pending_deletes(
                changes.sparkSession, changes, target_table
            )
            if not full_rewrite:
                # empty subtraction: every scoped commit rewrites the
                # sidecar verbatim (original keys, original ts)
                fold_minus = changes.select(*kcols).limit(0)
                carry_intact = True
            # a full_rewrite (evolution) batch rewrites EVERY file from
            # the masked target, so any-key pending deletes apply
            # physically and the swap drops the sidecar — no scoping
            # proof needed, no sidecar carry (fold_minus stays None).
            # The batch is masked ABOVE too: without it, a batch row
            # re-asserting a pending GDPR subject would land physically
            # in the evolved state while the erasure record vanished
            # with the sidecar — the compliance plane outranks the data
            # plane until the deletion is materialized, same asymmetry
            # as the carry-intact fold.
        else:
            same_key_fold = True  # minus the batch's keys, found below
        # defensive re-mask: incremental_load's target comes from
        # warehouse.read (already masked); a direct caller's may not be.
        # The anti-join is idempotent and the pending set is bounded.
        target = warehouse._apply_pending_deletes(
            changes.sparkSession, target, target_table
        )
    # The batch's distinct (pk, partition) tuples, in one driver-bounded
    # step. An empty batch applies nothing: short-circuit with NO commit
    # at all — a commit would otherwise churn a full directory of hard
    # links (or a whole-table rewrite) for a no-op. full_rewrite is
    # exempt: an evolution batch may be empty yet must still rewrite
    # every file to the evolved layout.
    cand = None
    if not full_rewrite:
        keys = ParquetWarehouse._key_set(
            changes.select(*dict.fromkeys([*pks, *(partition_by or [])]))
        )
        if not keys.n:
            return 0
        if same_key_fold:
            fold_minus = keys.frame.select(*pks)
        rels = ParquetWarehouse._walk_parquet_rels(warehouse.path(target_table))
        if not os.path.isfile(warehouse._version_pointer(target_table)) and all(
            _in_layout(rel, partition_by) for rel in rels
        ):
            # the touched partitions; unknown above the key cap
            touched = None
            if partition_by and keys.rows is not None:
                touched = {tuple(r[c] for c in partition_by) for r in keys.rows}
            if partition_by:
                cand = _hybrid_scoped_merge(
                    warehouse, target_table, pks, partition_by, keys, rels,
                    touched,
                )
            else:
                cand = _zone_scoped_merge(warehouse, target_table, pks, keys)
            if cand is None:
                cand = _scan_scoped_merge(
                    warehouse, target_table, pks, keys, rels, partition_by,
                    touched,
                )
    if cand is None and (
        full_rewrite or warehouse.bucket_spec(target_table) is None
    ):
        merged = apply_changes(
            target, changes, pks=pks, version_cols=version_cols
        ).persist()
        n = merged.count()  # materialization also validates before the swap
        # full_rewrite keeps the partition layout: the atomic whole-table
        # swap also drops any pending-delete sidecar with the old dir —
        # EXCEPT under the mismatched-key fold, where the sidecar must
        # survive the commit (carry_deletes_intact) or a crash-replay of
        # the batch would resurrect its masked rows.
        lay = layout or {}
        warehouse.overwrite(
            merged,
            target_table,
            partition_by=partition_by,
            cluster_by=lay.get("cluster_by"),
            zorder_by=lay.get("zorder_by"),
            cluster_partitions=lay.get("cluster_partitions"),
            stat_cols=lay.get("stat_cols"),
            bloom_cols=lay.get("bloom_cols"),
            carry_deletes_intact=carry_intact,
        )
        merged.unpersist()
        return n
    spark = changes.sparkSession
    if cand is None:  # bucketed and unnarrowed: every file rewrites
        cand = rels
        sub_target = target
    elif cand:
        # the candidate files with the committed schema: partition column
        # types never depend on which dirs are read
        sub_target = warehouse._read_files(spark, target_table, cand).select(
            *target.columns
        )
        # raw file reads bypass the read mask: drop the pending deletes
        # here or the rewrite would resurrect them
        sub_target = warehouse._apply_pending_deletes(
            spark, sub_target, target_table
        )
    else:  # pure-insert batch relative to every file: merge against nothing
        sub_target = target.limit(0)
    merged = apply_changes(
        sub_target, changes, pks=pks, version_cols=version_cols
    )
    # replace_files stages to a temp dir and swaps atomically, so the
    # lazy merged plan may safely read the files it replaces.
    res = warehouse.replace_files(
        merged, target_table, cand, partition_by=partition_by,
        carry_deletes_minus=fold_minus,
    )
    return res["rows_written"]


def _is_widening(src, dst) -> bool:
    """True when every ``src`` value is EXACTLY representable in
    ``dst`` — the safety condition for in-place type evolution:
    byte<short<int<long; float and <=32-bit integers embed exactly in
    float64; decimal may grow its scale and/or integer digits. Long ->
    double is NOT widening (loses precision above 2^53); nothing ->
    string is NOT widening (rendering is engine-specific); date ->
    timestamp is NOT widening (implicit-midnight semantics shift)."""
    from pyspark.sql.types import (
        ByteType,
        DecimalType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
    )

    ladder = (ByteType, ShortType, IntegerType, LongType)

    def rank(dt):
        for i, t in enumerate(ladder):
            if isinstance(dt, t):
                return i
        return None

    rs, rd = rank(src), rank(dst)
    if rs is not None and rd is not None:
        return rd >= rs
    if isinstance(dst, DoubleType):
        # float32 and integers up to 32 bits are exact in float64
        return isinstance(src, FloatType) or (rs is not None and rs <= 2)
    if isinstance(src, DecimalType) and isinstance(dst, DecimalType):
        return (
            dst.precision - dst.scale >= src.precision - src.scale
            and dst.scale >= src.scale
        )
    return False


# The characters Spark's ExternalCatalogUtils percent-escapes in hive
# partition directory names (plus control chars and DEL, handled in
# code): a string value containing any of these renders differently on
# disk than Python str() would build it.
_HIVE_ESCAPED_CHARS = set('"#%\'*/:=?\\{[]^ \t\n\r')


def _in_layout(rel: str, partition_by: list[str] | None) -> bool:
    """True when data file ``rel`` sits under exactly the hive dirs
    ``partition_by`` declares (directly in the table dir when flat). A
    table laid out otherwise on disk cannot be file-replaced under that
    declaration: carrying its files while the merge writes the declared
    layout would duplicate the merged rows next to their old copies."""
    parts = rel.split("/")[:-1]
    cols = partition_by or []
    return len(parts) == len(cols) and all(
        p.startswith(f"{c}=") for p, c in zip(parts, cols)
    )


def _touched_predicate(schema, partition_by: list[str], touched: set[tuple]):
    """Filter selecting the ``touched`` partition tuples, typed against
    ``schema``. One struct-IN predicate, not an OR-chain of equality
    conjunctions: thousands of touched partitions would otherwise build
    a huge expression tree that slows analysis/codegen; Catalyst
    converts it to a single INSET that still lands in PartitionFilters.
    A NULL inside a tuple would make struct-IN evaluate to NULL and
    silently exclude that partition, so NULL-bearing tuples get a
    null-safe eqNullSafe conjunction instead (rare: partition columns
    are normally non-null by construction)."""
    non_null = [vals for vals in touched if all(v is not None for v in vals)]
    with_null = [vals for vals in touched if any(v is None for v in vals)]
    pred = F.lit(False)
    if non_null:
        pred = F.struct(*partition_by).isin(
            [
                F.struct(
                    *[
                        F.lit(v).cast(schema[c].dataType).alias(c)
                        for c, v in zip(partition_by, vals)
                    ]
                )
                for vals in non_null
            ]
        )
    for vals in with_null:
        conj = F.lit(True)
        for c, v in zip(partition_by, vals):
            conj = conj & F.col(c).eqNullSafe(
                F.lit(v).cast(schema[c].dataType)
            )
        pred = pred | conj
    return pred


# The narrowing stages below are thin calls of the warehouse's key
# cover (``_key_cover``) and exact scan (``_key_scan``); they stay
# separate functions because the benchmark's tracer
# (perfbench/layers.py) records each stage by its name.


def _zone_scoped_merge(
    warehouse: ParquetWarehouse,
    target_table: str,
    pks: list[str],
    keys: KeySet,
) -> list[str] | None:
    """MANIFEST stage for flat and bucketed targets: the files the key
    cover (``ParquetWarehouse._key_cover`` — zone map, Bloom manifest,
    bucket ids) keeps for the batch's keys; None when no cover applies
    or it keeps every file."""
    return warehouse._key_cover(target_table, pks, keys)


def _hybrid_scoped_merge(
    warehouse: ParquetWarehouse,
    target_table: str,
    pks: list[str],
    partition_by: list[str],
    keys: KeySet,
    rels: list[str],
    touched: set[tuple] | None,
) -> list[str] | None:
    """MANIFEST stage for hive-partitioned targets: the key cover
    restricted to the files of the ``touched`` partitions, so a 10-row
    change to a 100 GB partition rewrites only its covered files, and
    every untouched partition carries whole (Snowflake's
    micro-partition pruning composes with its partitioning the same
    way). Above the key cap the partitions are unknown and the cover
    runs over every file.

    The touched partitions are addressed by their hive dir names, built
    here with Python ``str(v)``. Spark hive-ESCAPES dir names for many
    value types (timestamps render ':' as '%3A', Python True vs Spark
    'true', '"#%\\'*/:=?\\{[]^' and control chars in strings), and a
    mismatch would silently exclude the partition's files and write the
    change rows as DUPLICATES next to the old ones. So only integer
    values and provably escape-free strings take this stage; anything
    else declines to the pk-scan stage, which reads file paths from
    Spark and renders nothing. None also when no cover applies or it
    keeps every file."""
    within = None
    if touched is not None:
        if not all(_renderable(v) for vals in touched for v in vals):
            return None
        prefixes = {
            "/".join(
                f"{c}=__HIVE_DEFAULT_PARTITION__" if v is None else f"{c}={v}"
                for c, v in zip(partition_by, vals)
            )
            for vals in touched
        }
        within = [rel for rel in rels if os.path.dirname(rel) in prefixes]
    return warehouse._key_cover(target_table, pks, keys, within)


def _renderable(v) -> bool:
    """True when Python ``str(v)`` is the hive dir name Spark writes for
    partition value ``v``."""
    if v is None:
        return True  # the exact __HIVE_DEFAULT_PARTITION__ sentinel
    if isinstance(v, bool):
        return False  # Python 'True' vs Spark 'true'
    if isinstance(v, int):
        return True
    if isinstance(v, str):
        return v != "" and not any(
            ch in _HIVE_ESCAPED_CHARS or ord(ch) < 32 or ord(ch) == 127
            for ch in v
        )
    return False  # timestamps/dates/floats/decimals: formats differ


def _scan_scoped_merge(
    warehouse: ParquetWarehouse,
    target_table: str,
    pks: list[str],
    keys: KeySet,
    rels: list[str],
    partition_by: list[str] | None = None,
    touched: set[tuple] | None = None,
) -> list[str] | None:
    """PK-SCAN stage: the EXACT files holding a batch key, from the
    warehouse's exact scan (``ParquetWarehouse._key_scan``: one
    semi-join of the target's pk column(s) and ``_metadata.file_path``
    against the batch's keys), pruned first to the ``touched``
    partitions on partitioned targets.

    The layout-independent rewrite-amplification fix (the touched-file
    discovery join Delta's MERGE runs): a CDC target unclustered on its
    pk with no Bloom manifest — the common retrofitted-table case —
    would otherwise pay a FULL-TABLE rewrite per batch; this costs one
    pk-column scan plus rewrite I/O proportional to the touched files.
    File paths come from the scan itself, so no partition value is ever
    rendered to a dir name. None for single-file tables and batches
    that touch every file."""
    if len(rels) <= 1:
        return None  # nothing to prune against
    spark = keys.frame.sparkSession
    scan = warehouse._read_files(spark, target_table)
    if partition_by and touched is not None:
        scan = scan.filter(_touched_predicate(scan.schema, partition_by, touched))
    hit = ParquetWarehouse._key_scan(
        scan, warehouse.path(target_table), pks, keys.frame, keys.n
    )
    return hit if len(hit) < len(rels) else None

"""Streaming ANN-index maintenance — the continuous-ingest twin of
``operators.ann_index.extend_ann_index``.

A corpus that ingests continuously cannot rebuild its ANN index per
sync (re-train + re-encode is the O(corpus) cost the index exists to
avoid); the at-scale shape is the one faiss uses — add to a trained
index without retraining. Here each micro-batch of new vectors is
encoded with the index's FROZEN codebooks and appended into its coarse
list partitions: per-batch cost is proportional to the batch's touched
lists, untouched partitions' files are never opened (same inode
contract as the batch extend, pinned in tests/test_ann_stream.py).

Exactly-once across foreachBatch retries: a replayed trigger batch
re-delivers the same files, and the index's append-only refusal exists
for USER error, not for replays — so the hook drops ids the index
already holds, but only after VERIFYING each dropped row is a true
replay (re-encoding under the frozen codebooks must reproduce the
indexed code+norm; a changed vector under an existing id refuses
loudly — silent discard would corrupt recall). A full replay
therefore extends with an empty batch, a no-op touching no partition. Two concurrent writers are
still excluded by the table's mutation fence inside
``extend_ann_index`` (the stream is the single writer by contract, as
with every warehouse table).

MaintenancePolicy precedent: ``start_cdc_stream`` runs layout advice
every N batches; the index needs no such pass — extends rewrite whole
list partitions already, and the codebooks are frozen by design (drift
is a REBUILD decision, measured by recall, not a layout pass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

from ..operators.ann_index import ANN_META_KEY, extend_ann_index


def ann_ingest_schema(id_col: str = "vec_id", vec_col: str = "embedding") -> StructType:
    """Landing-file schema for vector ingest: (id bigint, vec double[])."""
    return StructType(
        [
            StructField(id_col, LongType()),
            StructField(vec_col, ArrayType(DoubleType())),
        ]
    )


def start_ann_ingest_stream(
    spark: SparkSession,
    landing_glob: str,
    warehouse,
    index_name: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    available_now: bool = True,
    max_files_per_trigger: int = 1,
    mode: str = "append",
    compact_every: int | None = 20,
    compact_target_bytes: int = 128 << 20,
) -> StreamingQuery:
    """Feed parquet vector landing files into the managed IVF-PQ index,
    one ``extend_ann_index`` per micro-batch. The index must already
    exist (``build_ann_index`` — the stream never trains codebooks).

    ``mode`` defaults to ``"append"`` (O(batch) file-append commits —
    the continuous-ingest shape; list-size-proportional rewrites per
    micro-batch would be exactly the write amplification a stream
    cannot afford). Append's crash window — a prefix of a batch's
    files landed — is healed by this stream's own anti-join on replay;
    ``"rewrite"`` commits each batch copy-on-write through
    ``replace_files``.

    ``compact_every``: append mode accretes one file per touched list
    per batch, so every N-th batch runs the standard leaf repack on the
    index (the ``start_cdc_stream`` MaintenancePolicy precedent: keyed
    off ``batch_id`` so restarts re-run it harmlessly — compaction of
    an already-compacted table is an idempotent no-op — and a
    maintenance failure never fails the batch). ``None`` disables.

    Replay reconciliation is BLOOM-MANIFEST-PRUNED (r18, the r17
    verdict's one scale finding): stream start writes a per-file Bloom
    manifest on ``vec_id`` if the index lacks one (one O(index) pass —
    every later append extends it in O(batch)), and each batch's dup
    discovery probes its own driver-bounded id set through
    ``read_bloom_keys`` — only bloom-HIT partition files are opened,
    and the replay anti-join broadcasts the key-bounded hit relation
    instead of shuffling the index's id column every micro-batch. The
    full-index joins remain as the loud fallback for oversized batches
    or a manifest left stale by an append crash; only the STALE case
    heals — incrementally, via ``warehouse.heal_bloom`` (entries for
    just the manifest's gap files, r19). An oversized batch needs no
    heal: its append extends the live manifest in O(batch), so the
    next bounded batch prunes again.
    """
    # fail fast at start, not inside batch 0: the descriptor must exist
    warehouse.read_meta(index_name)[ANN_META_KEY]
    bm = warehouse.bloom(index_name)
    if bm is None or "vec_id" not in bm["cols"]:
        # one-time manifest bootstrap; appends maintain it from here
        warehouse.write_bloom(spark, index_name, ["vec_id"])

    stream = (
        spark.readStream.schema(ann_ingest_schema(id_col, vec_col))
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(landing_glob)
    )

    def extend_batch(batch: DataFrame, batch_id: int) -> None:
        # Replay idempotence: drop already-indexed ids so a
        # re-delivered batch is a clean no-op — but VERIFY first that
        # each dropped row is a true replay (same vector -> same
        # frozen-codebook code+norm as the indexed row). Without the
        # check, a user landing a CHANGED embedding under an existing
        # id (an upsert attempt) would be silently discarded — exactly
        # the recall-corrupting divergence the batch API's append-only
        # ValueError exists to surface loudly.
        from ..operators.ann_index import _encode_with_lists
        from .corpus_stream import RECONCILE_PROBE_CAP

        desc = warehouse.read_meta(index_name)[ANN_META_KEY]
        batch = batch.persist()
        try:
            # the INDEXED rows sharing this batch's ids: bloom-pruned
            # when the batch is probe-bounded and the manifest is live
            # (only hit partition files open), else the full id-column
            # scan — after which the manifest heals for later batches
            ids = [
                r[0]
                for r in batch.select(id_col)
                .limit(RECONCILE_PROBE_CAP + 1)
                .collect()
            ]
            if any(i is None for i in ids):
                # NULL ids would TypeError inside sorted() below with
                # an opaque message — refuse in the admissibility
                # contract's own voice
                raise ValueError(
                    f"ann ingest stream for {index_name!r}: the batch "
                    f"carries a NULL {id_col!r} — vec_ids key the "
                    "replay reconciliation and must be non-NULL"
                )
            # oversized batches (> probe cap) fall back to the full
            # id-column scan but need NO heal: extend_ann_index extends
            # a live manifest in O(batch) (r18 advisor finding — the
            # old flag paid an O(index) rebuild per oversized batch).
            # Only a STALE/MISSING manifest (read_bloom_keys raised)
            # heals, and incrementally: entries for just the missing
            # files (warehouse.heal_bloom).
            indexed_dup = None
            stale = False
            if len(ids) <= RECONCILE_PROBE_CAP:
                try:
                    indexed_dup = warehouse.read_bloom_keys(
                        spark, index_name, "vec_id", sorted(set(ids))
                    ).select("vec_id", "code", "vnorm")
                except ValueError:
                    stale = True
            if indexed_dup is None:
                indexed_dup = warehouse.read(spark, index_name).select(
                    "vec_id", "code", "vnorm"
                )
            else:
                # key-bounded hit relation: broadcast on every use
                indexed_dup = F.broadcast(indexed_dup)
            dup = batch.join(
                indexed_dup.select(F.col("vec_id").alias(id_col)),
                id_col,
                "left_semi",
            )
            # admissibility first (r17 advisor finding): a dup row the
            # encoder would FILTER (wrong dim, zero norm) cannot be
            # verified as a true replay — refusing beats silently
            # anti-joining it away as if it matched the indexed vector
            n_dup = dup.count()
            enc_dup = _encode_with_lists(
                dup, desc["book"], desc["coarse"], vec_col, id_col
            )
            if enc_dup.count() != n_dup:
                raise ValueError(
                    f"ann ingest stream for {index_name!r}: a re-landed "
                    "vec_id carries an INADMISSIBLE vector (wrong "
                    "dimension or zero norm) — not a replay; rebuild or "
                    "materialize deletes before re-adding a changed id"
                )
            conflict = (
                enc_dup.select(
                    "vec_id",
                    F.col("code").alias("_new_code"),
                    F.col("vnorm").alias("_new_vnorm"),
                )
                .join(indexed_dup, "vec_id")
                .filter(
                    (F.col("code") != F.col("_new_code"))
                    | (F.col("vnorm") != F.col("_new_vnorm"))
                )
                .limit(1)
                .collect()
            )
            if conflict:
                raise ValueError(
                    f"ann ingest stream for {index_name!r}: vec_id "
                    f"{conflict[0]['vec_id']} re-landed with a DIFFERENT "
                    "vector — the index is append-only (a replayed batch "
                    "re-delivers identical vectors); rebuild or "
                    "materialize deletes before re-adding a changed id"
                )
            fresh = batch.join(
                indexed_dup.select(F.col("vec_id").alias(id_col)),
                id_col,
                "left_anti",
            )
            extend_ann_index(
                warehouse, spark, fresh, index_name,
                vec_col=vec_col, id_col=id_col, mode=mode,
            )
            if stale:
                try:  # O(manifest gap) after a crash/legacy table
                    warehouse.heal_bloom(spark, index_name, ["vec_id"])
                except Exception:  # noqa: BLE001 — never fails a batch
                    pass
        finally:
            batch.unpersist()
        # batch 0 is skipped: a fresh stream (or a replay from a new
        # checkpoint) has accreted nothing yet, and compacting the
        # just-built index there would break the no-op-replay inode
        # contract for no benefit
        if (
            compact_every is not None
            and batch_id > 0
            and batch_id % compact_every == 0
        ):
            try:
                warehouse.compact(
                    spark, index_name,
                    target_file_bytes=compact_target_bytes,
                )
            except Exception:  # noqa: BLE001 — maintenance never fails a batch
                pass

    writer = (
        stream.writeStream.foreachBatch(extend_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

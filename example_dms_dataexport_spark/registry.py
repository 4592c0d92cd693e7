"""Shared query/oracle registry.

Query modules register via the ``query`` decorator; ``load_all()`` imports
every query module and returns the populated maps. The driver contract
(``__spark_entry__``) and local tools consume only this entry point.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str | None] = {}

# Faces written and oracle-verified locally but NOT yet registered with
# the driver: the freshness floor (tools/check_freshness.py) requires
# every *registered* new face to sit inside the 50-slot window, so in a
# slot-starved round new work stages here and promotes to @query when a
# rotation slot opens.  ``tools/check_oracle.py --staged`` exercises
# these against DuckDB exactly like registered faces.
STAGED: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def query(name: str, oracle: str | None):
    """Register a (spark, sf_dir) -> DataFrame callable with its DuckDB
    oracle SQL (None = driver records a weaker rows-only check)."""

    def deco(fn):
        QUERIES[name] = fn
        ORACLES[name] = oracle
        return fn

    return deco


def staged_query(name: str, oracle: str | None):
    """Like ``query`` but holds the face out of the driver window until a
    rotation slot opens (promote by swapping the decorator to ``query``
    and appending the name to PRIORITY)."""

    def deco(fn):
        STAGED[name] = (fn, oracle)
        return fn

    return deco


# Faces retired by a fold/merge: every driver row recorded under the
# retired name is carried by the absorbing face (the q114-fixture
# precedent, applied registry-wide in r18 to break the 150-face window
# saturation the r17 verdict flagged). tools/check_freshness.py accepts
# recorded-but-unregistered names through this map.
MERGED: dict[str, str] = {
    # r17 staged oracle-twins, folded as dual-path identity asserts
    "q151_pq_rerank_knn": "q28_knn_brute",
    "q155_pipeline_spec_build": "q38_cleaning_pipeline",
    "q156_semantic_dedup_indexed": "q82_semantic_dedup",
    # redundant sibling faces, merged into one attestation each
    "q121_scd2_current_view": "q74_scd2_history",
    "q110_time_travel_diff": "q76_snapshot_diff",
    "q92_sketch_merge_accuracy": "q87_sketch_accuracy",
    "q77_unpivot_metrics": "q60_pivot_lang_source",
    "q61_cube_flag_status": "q66_grouping_sets",
    "q126_orc_stage_roundtrip": "q126_stage_format_roundtrips",
    "q127_xml_stage_roundtrip": "q126_stage_format_roundtrips",
    "q146_avro_stage_roundtrip": "q126_stage_format_roundtrips",
    # r19 folds: durable window headroom (the r18 verdict's Next #1) —
    # each absorber's widened output pins the retired face's relation
    # (checksum/sentinel sections, join-merged columns, or the dual
    # container decode); bench keeps the historical series via the
    # *_bench_* single-path bodies in bench.py OVERRIDES.
    "q19_text_features": "q20_corpus_profile",
    "q23_minhash_signatures": "q24_minhash_dedup_pairs",
    "q25_simhash": "q26_simhash_pairs",
    "q46_token_chunks": "q50_pack_chunks",
    "q88_bigram_logprob": "q48_unigram_logprob",
    "q132_jpeg_decode": "q134_jpeg_color_decode",
    "q112_kll_quantile_accuracy": "q99_quantile_sketch_accuracy",
}

# The driver's correctness harness records only the FIRST 50 registered
# queries each round (CORRECTNESS_r{N}.json is a 50-row window over
# registration order). load_all() therefore emits the maps in an explicit
# priority order, rotated each round so every query accumulates a recent
# green driver row on record (README "Driver correctness window").
# Round 21 window: the CDC merge faces whose path the one-pipeline
# merge (pruner chain + one replace_files commit) rewrote, then the r20
# carry-overs q83/q84 (tokenize-once bodies), then the 41 further faces
# check_freshness.py forces (latest green row r18, which would age past
# the N-2 floor after r21 lands). That fills the 50-row window exactly,
# so the third r20 carry-over, q100, sits just past it: its r20 change
# was reverted, its body is unchanged since its r19 green row, and that
# row stays within the floor.
PRIORITY = [
    # --- re-attest the rewritten CDC merge path (7) ---
    "q129_declared_layout_pipeline",
    "q131_zone_merge_prune",
    "q135_stream_group_cycle",
    "q137_hybrid_merge_prune",
    "q140_scan_scoped_merge",
    "q141_recluster_merge_prune",
    "q144_composite_delete_fold",
    # --- r20 carry-overs (2) ---
    "q83_bm25_rank",
    "q84_quality_percentile",
    # --- forced r18 cohort (41) ---
    "q21_quality_filter",
    "q22_exact_dedup",
    "q26_simhash_pairs",
    "q27_ngram_jaccard_pairs",
    "q28_knn_brute",
    "q29_knn_lsh",
    "q30_knn_ivf",
    "q31_embedding_dup_pairs",
    "q32_media_decode",
    "q33_frame_sample",
    "q122_png_decode",
    "q37_repetition_ratio",
    "q43_dedup_clusters",
    "q44_decontaminate",
    "q45_stratified_sample",
    "q40_pii_redaction",
    "q41_vocab_df",
    "q118_chunk_integrity",
    "q120_pack_efficiency",
    "q148_dsir_importance_weights",
    "q149_mixture_temperature",
    "q153_binary_hamming_knn",
    "q154_webdataset_roundtrip",
    "q16_hourly_event_windows",
    "q35_length_percentiles",
    "q36_rollup_acctbal",
    "q54_profile_orders",
    "q59_histogram_totalprice",
    "q60_pivot_lang_source",
    "q63_intersect_except",
    "q66_grouping_sets",
    "q114_bucketed_join_revenue",
    "q117_cdc_backlog",
    "q124_scd2_delta_apply",
    "q125_group_commit_join",
    "q128_zonemap_prune",
    "q130_zorder_multicol_prune",
    "q126_stage_format_roundtrips",
    "q145_maintenance_cycle",
    "q152_metadata_stats",
    "q158_append_files_insert",
    # --- r20 carry-over past the window ---
    "q100_heavy_hitters",
]

def load_all():
    from . import queries_llm, queries_relational  # noqa: F401

    missing = [n for n in PRIORITY if n not in QUERIES]
    if missing:
        raise RuntimeError(f"PRIORITY names not registered: {missing}")
    order = [*PRIORITY, *(n for n in QUERIES if n not in PRIORITY)]
    return (
        {n: QUERIES[n] for n in order},
        {n: ORACLES[n] for n in order},
    )

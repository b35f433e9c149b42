"""Retired-query coverage. A query retired from the gate registry leaves
the package, unless its DuckDB compare here is the only value gate of
some operator arithmetic, or a test uses its builder as a reference.
Three stay: ``ann_rand_lsh`` (seeded random-plane code),
``dedup_simhash_portable`` (SimHash bit-vote arithmetic) and
``token_budget_pack`` (the 1-level plan tests/test_chunking.py compares
the sharded plan against)."""

from __future__ import annotations

from .conftest import SF_ORACLE
from .oracle import compare, duckdb_con


def test_retired_are_not_registered(spark):
    from amsterdam_map_data_wrangling_spark.plans.catalog import QUERIES

    for retired, occupant in [
        ("ilike_filter_count", "warc_roundtrip_stats"),
        ("ann_ivf_probe2", "geo_haversine_radius"),
        ("sparse_cosine_topk", "geo_nn_on_sphere"),
        ("uniform_sample_per_group", "dup_span_removal"),
        ("token_budget_pack", "leakage_free_split"),
        ("spatial_radius_pairs", "geo_way_lengths"),
        # r18 batch: five slots freed for the five r18 front entrants
        ("dedup_minhash_portable", "training_shuffle_order"),
        ("dedup_simhash_portable", "compaction_plan_ffd"),
        ("dedup_cluster_size_hist", "session_window_per_user"),
        ("neardup_degree_hist", "event_gap_stats"),
        ("quality_components", "funnel_conversion"),
    ]:
        assert retired not in QUERIES
        assert occupant in QUERIES  # the slot's new occupant


def test_retired_token_budget_pack_still_matches_oracle(spark):
    """Retired r11 (slot went to leakage_free_split): the 1-level packing
    plan still matches the oracle that token_budget_pack_sharded gates
    through the 2-level plan."""
    from amsterdam_map_data_wrangling_spark.plans.catalog import QUERIES
    from amsterdam_map_data_wrangling_spark.plans.text import (
        token_budget_pack,
    )

    con = duckdb_con(SF_ORACLE)
    try:
        compare(
            token_budget_pack(spark, SF_ORACLE),
            con,
            QUERIES["token_budget_pack_sharded"].oracle,
        )
    finally:
        con.close()


def test_retired_ann_rand_lsh_still_matches_oracle(spark):
    """Retired r17 (slot went to bound_doc_width_roundtrip): the seeded
    random-hyperplane LSH — the closest twin of the still-gated
    ann_sign_lsh (identical bucket-join + exact-cosine plan shape, only
    the hash family differs) — still matches its inlined-plane
    exact-int oracle."""
    from amsterdam_map_data_wrangling_spark.plans.similarity import (
        ANN_RAND_LSH_ORACLE,
        ann_rand_lsh,
    )

    con = duckdb_con(SF_ORACLE)
    try:
        compare(ann_rand_lsh(spark, SF_ORACLE), con, ANN_RAND_LSH_ORACLE)
    finally:
        con.close()


def test_retired_dedup_simhash_portable_still_matches_oracle(spark):
    """Retired r18: the md5-anchored 16-bit SimHash construction (bit
    votes + sign threshold) — construction twin of the still-gated
    dedup_simhash_bands — still matches value-for-value."""
    from amsterdam_map_data_wrangling_spark.plans.dedup import (
        SIMHASH_PORTABLE_ORACLE,
        dedup_simhash_portable,
    )

    con = duckdb_con(SF_ORACLE)
    try:
        compare(
            dedup_simhash_portable(spark, SF_ORACLE),
            con,
            SIMHASH_PORTABLE_ORACLE,
        )
    finally:
        con.close()

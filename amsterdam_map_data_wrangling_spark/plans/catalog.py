"""Query-catalog registry.

Each named query is a pair: a DataFrame ``build(spark, sf_dir)`` and an
equivalent ANSI-SQL oracle string for DuckDB (``None`` → the driver runs a
weaker rows-only check; used only for genuinely non-SQL-expressible ops).

Conventions that keep the driver's hash compare honest (see
``plans/queries.py`` module docstring): identical aliases on both sides,
identical ``round()`` on float aggregates, total tie-break ordering under
every LIMIT, non-empty results at sf0.01, and — because the driver's
value-hash is type-sensitive — no DuckDB-only types in oracle output:
DuckDB widens ``SUM(BIGINT)`` to HUGEINT (Spark stays BIGINT), so every
integer SUM in an oracle's SELECT list must be ``CAST(SUM(...) AS
BIGINT)``.  (Window/CTE-internal sums that never reach the output are
exempt.)

Float-SUM convention (round-5 ADVICE follow-through): a gated
``round(SUM(double), k)`` depends on accumulation order, so 2-decimal
equality is data-dependent luck that a testdata scale-up can flip. Where
the summand is an exact 2-decimal quantity (prices, balances), gate the
exact integer form instead: ``round(SUM(CAST(round(x*100) AS
BIGINT))/100.0, 2)`` on BOTH engines (see salted_join_hot_customer).
Where it is not (products like ``price*(1-disc)``, continuous values,
averages), exact re-representation would change semantics; those rely on
both engines' chunked partial summation keeping FP error orders of
magnitude under the rounding granularity — green since round 1, and a
flip localizes immediately to the rounding boundary. ORDERED window
running sums are exempt: both engines accumulate in the same frame
order, so they are bit-identical by construction.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from amsterdam_map_data_wrangling_spark.sources.registry import load_tables

Build = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Build
    oracle: str | None  # None → non-SQL-expressible, driver does rows-only
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None, doc: str = ""):
    """Register ``build`` as catalog query ``name``; ``doc`` defaults to
    the build's whitespace-normalised docstring."""

    def deco(fn: Build) -> Build:
        QUERIES[name] = QuerySpec(
            name=name,
            build=fn,
            oracle=oracle,
            doc=doc or " ".join((fn.__doc__ or "").split()),
        )
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    dfs = load_tables(spark, sf_dir, list(names))
    return [dfs[n] for n in names]


#: Driver-gate priority: the correctness artifact records the FIRST 50
#: registry entries, so this order is evidence policy. Front the
#: queries with the oldest verdicts, those whose plan or oracle changed
#: and new ones; park the next-oldest cohort right behind slot 50; the
#: rest append in registration order. Every query keeps a verdict at
#: most two distinct gate windows old, except a bounded tail of N - 100
#: unchanged queries that may age to three (policy and checks in
#: tests/test_gate_freshness.py; rotation history in PLANS.md "Gate
#: rotation history").
_GATE_PRIORITY: list[str] = [
    "dedup_keep_canonical",
    "dedup_edit_refine",
    "audio_dims",
    "video_dims",
    "count_global",
    "distinct_users_union",
    "custkeys_intersect",
    "custkeys_except",
    "topk_group_distinct",
    "topk_group_count",
    "topk_order_limit",
    "like_filter_count",
    "scan_filter_project",
    "pct_shares",
    "runtime_bloom_filter_join",
    "local_supplier_volume",
    "semi_join_active_customers",
    "anti_join_inactive_customers",
    "weekly_cohort_retention",
    "key_skew_profile",
    "zorder_layout_stats",
    "asof_last_click_before_error",
    "interval_overlap_balances",
    "above_avg_orders_per_customer",
    "segment_event_counts",
    "gap_log2_hist",
    "cms_heavy_hitters",
    "text_stats",
    "term_freq_topk",
    "bigram_topk",
    "lang_id_confusion",
    "chunk_documents_udtf",
    "repetition_stats",
    "benchmark_contamination",
    "mixture_proportional_sample",
    "dup_span_coverage",
    "tumbling_window_stats",
    "sliding_window_by_type",
    "interval_join_click_error",
    "json_props_stats",
    "value_percentiles_by_type",
    "equi_depth_histogram",
    "expectations_report",
    "python_datasource_stats",
    "nested_json_shred",
    "snapshot_table_diff",
    "map_ops_surface",
    "jpeg_pixel_stats",
    "near_dup_transitivity",
    "geo_nn_on_sphere",
    # ---- window boundary (slot 50) ----
    "dedup_exact_groups",
    "dedup_ngram_jaccard",
    "dedup_minhash_pairs",
    "dedup_clusters",
    "dedup_minhash_portable_pairs",
    "dedup_simhash_bands",
    "sorted_neighborhood_window",
    "near_dup_pagerank",
    "incremental_dedup_stats",
    "leakage_free_split",
    "winsorize_price_stats",
    "robust_z_by_priority",
    "unigram_lm_scores",
    "weighted_sample_per_group",
    "ols_price_trend_by_priority",
    "geo_haversine_radius",
    "multimodal_features",
    "multimodal_dims",
    "audio_levels",
    "image_pixel_stats",
    "star_join_customers_by_region",
    "range_join_balance_bands",
    "gap_sessionization",
    "nation_volume_shipping",
    "knn_cosine_brute",
    "ann_sign_lsh",
    "bound_doc_width_roundtrip",
    "ann_ivf",
    "embedding_near_dup_pairs",
    "ann_sq8_rerank",
    "ann_pq_adc",
    "sketch_users_by_type",
    "sketch_value_quantiles",
    "sparse_cosine_pairs",
    "bloom_vocab_overlap",
    "decontaminate_stats",
    "bm25_search",
    "quality_filter_pipeline",
    "tfidf_top_terms",
    "token_budget_pack_sharded",
    "pii_redaction_stats",
    "dup_span_removal",
    "resample_locf_daily",
    "trailing_window_revenue",
    "salted_join_hot_customer",
    "variant_json_stats",
    "null_semantics_audit",
    "xml_roundtrip_stats",
]




def _ordered() -> dict[str, QuerySpec]:
    missing = [n for n in _GATE_PRIORITY if n not in QUERIES]
    if missing:
        raise KeyError(f"_GATE_PRIORITY names not in registry: {missing}")
    out: dict[str, QuerySpec] = {n: QUERIES[n] for n in _GATE_PRIORITY}
    for name, spec in QUERIES.items():
        if name not in out:
            out[name] = spec
    return out


def queries() -> dict[str, Build]:
    return {name: spec.build for name, spec in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in _ordered().items()
        if spec.oracle is not None
    }


def catalog_markdown() -> str:
    """Deterministic one-line-per-query index of the registry, in gate
    order — regenerate QUERIES.md with
    ``python -c "from amsterdam_map_data_wrangling_spark.plans.catalog
    import catalog_markdown; print(catalog_markdown(), end='')" >
    QUERIES.md``; tests/test_catalog_doc.py fails if the file drifts."""
    specs = _ordered()
    lines = [
        "# Query catalog (generated — do not edit by hand)",
        "",
        f"{len(specs)} registered queries, listed in gate order (the "
        f"driver's correctness artifact records the first 50). Every "
        f"query carries a DuckDB value oracle.",
        "",
        "| # | query | doc |",
        "|---|---|---|",
    ]
    for i, (name, spec) in enumerate(specs.items(), 1):
        doc = (spec.doc or "").strip().replace("\n", " ")
        first = doc.split(". ")[0].rstrip(".") + "." if doc else ""
        first = first.replace("|", "\\|")
        lines.append(f"| {i} | `{name}` | {first} |")
    return "\n".join(lines) + "\n"


def oracle_hash(sql: str) -> str:
    """Whitespace-normalized sha256 prefix of an oracle SQL string — the
    unit of the ORACLE_HASHES.json freshness ledger (r6 ADVICE #2:
    record a hash of each query's oracle so the freshness test can
    mechanically reject a stale verdict whose gate definition changed
    after the verdict was earned). Whitespace-insensitive so pure
    reformatting does not force a re-gate; any token change does."""
    import hashlib

    return hashlib.sha256(" ".join(sql.split()).encode()).hexdigest()[:16]


def oracle_hashes_snapshot() -> dict[str, str]:
    """Current {query: oracle_hash} for every oracle-gated query."""
    return {
        name: oracle_hash(spec.oracle)
        for name, spec in _ordered().items()
        if spec.oracle is not None
    }

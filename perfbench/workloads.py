"""The two workloads: which statements a pass runs and how outputs are
checked.

A *statement* is one unit a user waits for: a catalog query (build its
DataFrame, collect its rows), a README SQL statement over the shaped OSM
tables, or one ETL run. Every workload is a closed loop with one client:
the next statement starts when the previous one has returned.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import check
import gen_osm
import gen_star

#: Star-schema queries: the reference's SQL shapes (UNION ALL distinct,
#: LIKE, top-k, join) plus the ``r08_queue`` family. Their time is
#: plan construction and the per-job scheduling floor, so a change to that
#: shared driver path shows here.
STAR_QUERIES = [
    "distinct_users_union",      # queries: UNION ALL + distinct
    "like_filter_count",         # queries: LIKE
    "topk_group_count",          # queries: group-by top-k
    "join_revenue_by_priority",  # queries: join + aggregate
    "gap_log2_hist",             # r08_queue
]

#: One query of every other ``plans`` family, each the cheapest of its
#: family that has a DuckDB oracle, so that a change to any family module
#: moves its ``plans.<family>.*`` metrics and the pass cost.
FAMILY_QUERIES = [
    "sliding_window_by_type",    # windows
    "winsorize_price_stats",     # features
    "cms_heavy_hitters",         # sketches
    "normalize_phone_lengths",   # wrangling
    "geo_way_lengths",           # geo
    "multimodal_dims",           # multimodal
    "embedding_label_stats",     # similarity
    "bloom_vocab_overlap",       # sparse
]

#: LLM-corpus queries: two consumers of the shared near-duplicate memo
#: (``plans.dedup``) — one reads the pair relation, one the components
#: built on it — and per-document text statistics. The memo builds run
#: multi-job plans whose executor work is more than the floor.
CORPUS_QUERIES = [
    "dedup_ngram_jaccard",       # memo: shared pairs
    "dedup_keep_canonical",      # memo: shared components
    "text_stats",                # text
]

#: A ``catalog`` pass runs the groups in this order, so the first memo
#: consumer (``dedup_ngram_jaccard``) always pays the pair build and the
#: second the component build.
CATALOG_QUERIES = STAR_QUERIES + FAMILY_QUERIES + CORPUS_QUERIES


@dataclass
class Config:
    """Input sizes of one workload run."""

    star_sf: float = 0.01
    osm_files: int = 4
    osm_nodes: int = 8_000
    osm_ways: int = 1_600


SIZES = {
    "full": {
        "osm_etl": Config(),
        "catalog": Config(),
    },
    # the smallest inputs, for the smoke test
    "tiny": {
        "osm_etl": Config(osm_files=1, osm_nodes=600, osm_ways=120),
        "catalog": Config(star_sf=0.001),
    },
}


@dataclass
class Inputs:
    """What the benchmark generated for one run."""

    star_dir: str = ""
    xml_dir: str = ""
    xml_bytes: int = 0
    expected_rows: dict[str, int] = field(default_factory=dict)


def generate(workload: str, cfg: Config, seed: int, root: str) -> Inputs:
    inputs = Inputs()
    if workload == "osm_etl":
        inputs.xml_dir = os.path.join(root, "xml")
        inputs.xml_bytes = gen_osm.generate(
            inputs.xml_dir, seed, cfg.osm_files, cfg.osm_nodes, cfg.osm_ways
        )
        inputs.expected_rows = gen_osm.expected_counts(
            cfg.osm_files, cfg.osm_nodes, cfg.osm_ways
        )
    else:
        inputs.star_dir = os.path.join(root, "star")
        inputs.expected_rows = gen_star.generate(inputs.star_dir, seed, cfg.star_sf)
    return inputs


def star_oracles(oracles: dict[str, str], star_dir: str) -> dict[str, tuple]:
    """DuckDB oracle results of the catalog queries over the generated
    tables."""
    con = check.star_views(star_dir)
    try:
        return {n: check.oracle(con, sql) for n, sql in oracles.items()}
    finally:
        con.close()


def osm_oracles(out_dir: str, statements: dict[str, str]) -> dict[str, tuple]:
    """DuckDB results of the README statements over the parquet the ETL
    wrote."""
    con = check.parquet_views(
        {
            t: os.path.join(out_dir, t, "*.parquet")
            for t in ("nodes", "nodes_tags", "ways", "ways_tags", "ways_nodes")
        }
    )
    try:
        return {n: check.oracle(con, sql) for n, sql in statements.items()}
    finally:
        con.close()


def parquet_rows(path: str) -> int:
    """Rows in the parquet files of a written table (0 if it is missing)."""
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return 0
    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )

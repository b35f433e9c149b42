"""Concurrent-catalog safety (r16; r15 verdict "Next round" #6): a real
cluster runs the catalog's queries CONCURRENTLY against one scheduler
and one shared-relation memo. These tests pin (a) value identity under
threaded execution and (b) the per-key build critical section — before
the r16 locks, two threads missing the same memo key both paid the full
blocking+checkpoint build (cost race, found by the contention probe's
design review; values were never wrong, last put won).
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

SF = "/root/testdata/sf0.001"

#: a mix that shares memo keys (the 4 graph consumers), shares scans,
#: and touches different table families
NAMES = [
    "dedup_clusters",
    "dedup_keep_canonical",
    "near_dup_pagerank",  # memo consumer (cluster_size_hist retired r18)
    "near_dup_transitivity",
    "dedup_ngram_jaccard",
    "topk_group_count",
    "pricing_summary",
    "text_stats",
    "ann_sign_lsh",
    "quality_scores",
]


def _rows(spark, name):
    from amsterdam_map_data_wrangling_spark.plans.queries import QUERIES

    return sorted(
        (tuple(r) for r in QUERIES[name].build(spark, SF).collect()),
        key=repr,
    )


def test_threaded_catalog_matches_serial(spark):
    from amsterdam_map_data_wrangling_spark.plans.dedup import (
        clear_graph_memo,
    )

    clear_graph_memo()
    serial = {n: _rows(spark, n) for n in NAMES}
    clear_graph_memo()
    with ThreadPoolExecutor(8) as ex:
        threaded = dict(
            zip(NAMES, ex.map(lambda n: _rows(spark, n), NAMES))
        )
    assert threaded == serial


def test_memo_builds_once_under_contention(spark):
    """Eight threads racing for the same never-built memo key must run
    the build exactly once — the rest block on the per-key lock and
    read the stored value."""
    from amsterdam_map_data_wrangling_spark.plans import dedup

    dedup.clear_graph_memo()
    builds = []
    build_lock = threading.Lock()
    key = ("test-key", "contention")

    def build():
        with build_lock:
            builds.append(1)
        return "built"

    def get():
        return dedup.memo_get_or_build(key, build)

    with ThreadPoolExecutor(8) as ex:
        got = list(ex.map(lambda _i: get(), range(8)))
    assert got == ["built"] * 8
    assert len(builds) == 1, f"build ran {len(builds)}x under contention"

    # and the shared pair relation itself: 8 threaded consumers of the
    # same (sf_dir, params) key produce one underlying build — also when
    # they ask for different registered thresholds (0.3 and 0.5), which
    # all read the one build at the floor
    real_builds = []
    orig = dedup.ngram_jaccard_pairs

    def counting(*a, **kw):
        with build_lock:
            real_builds.append(1)
        return orig(*a, **kw)

    dedup.ngram_jaccard_pairs = counting
    try:
        for thresholds in ([0.5] * 8, [0.3, 0.5] * 4):
            dedup.clear_graph_memo()
            real_builds.clear()
            with ThreadPoolExecutor(8) as ex:
                res = list(
                    ex.map(
                        lambda thr: dedup.shared_jaccard_pairs(
                            spark, SF, threshold=thr
                        ).count(),
                        thresholds,
                    )
                )
            by_thr = {}
            for thr, n in zip(thresholds, res):
                by_thr.setdefault(thr, set()).add(n)
            assert all(len(ns) == 1 for ns in by_thr.values())
            assert len(real_builds) == 1, (
                f"pair relation built {len(real_builds)}x by 8 concurrent "
                f"consumers at thresholds {sorted(set(thresholds))}"
            )
    finally:
        dedup.ngram_jaccard_pairs = orig


def test_memo_eviction_is_thread_safe():
    """r16 ADVICE: the memo's FIFO eviction was check-then-act — at
    capacity, two threads inserting DIFFERENT keys could both select the
    same oldest key and the second pop raised KeyError. Eviction +
    insert now run under the master lock. This hammers the exact
    scenario: the memo pinned at capacity, 16 threads building 2,000
    distinct keys — any KeyError propagates and fails the test — and
    the bound must hold throughout. Afterwards no evicted key may keep
    its build lock."""
    from amsterdam_map_data_wrangling_spark.plans import dedup

    dedup.clear_graph_memo()
    for i in range(dedup._GRAPH_MEMO_MAX):
        dedup.memo_get_or_build(("seed", i), lambda i=i: i)
    assert len(dedup._GRAPH_MEMO) == dedup._GRAPH_MEMO_MAX

    def put_many(worker):
        for i in range(125):
            dedup.memo_get_or_build(("w", worker, i), lambda i=i: i)
            assert len(dedup._GRAPH_MEMO) <= dedup._GRAPH_MEMO_MAX

    with ThreadPoolExecutor(16) as ex:
        list(ex.map(put_many, range(16)))  # re-raises any KeyError
    assert len(dedup._GRAPH_MEMO) == dedup._GRAPH_MEMO_MAX
    # an evicted key's build lock goes with it
    leaked = set(dedup._GRAPH_MEMO_LOCKS) - set(dedup._GRAPH_MEMO)
    assert not leaked, f"{len(leaked)} locks of evicted keys kept"
    dedup.clear_graph_memo()

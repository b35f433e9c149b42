"""Dedup operator semantics beyond the oracle gate: the rows-only MinHash
and SimHash paths are cross-checked against the exact n-gram Jaccard query
(their ground truth), so 'no DuckDB twin' never means 'unverified'."""

from __future__ import annotations

from pyspark.sql import functions as F

from amsterdam_map_data_wrangling_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    shingles,
    simhash,
)

from .conftest import SF_ORACLE, SF_SMALL


def _docs(spark):
    return spark.read.parquet(f"{SF_ORACLE}/documents.parquet")


def test_shingles_short_doc_guard(spark):
    df = spark.createDataFrame(
        [(1, "one two three four"), (2, "too short"), (3, "a b c")],
        ["doc_id", "text"],
    )
    sh = shingles(df, "doc_id", "text", w=3)
    got = {(r.id, r.shingle) for r in sh.collect()}
    # doc 2 has 2 tokens < w=3 → no shingles (not a descending-sequence blowup)
    assert got == {
        (1, "one two three"),
        (1, "two three four"),
        (3, "a b c"),
    }


def test_exact_dedup_finds_planted_duplicates(spark):
    docs = _docs(spark)
    copies = docs.limit(7).withColumn("doc_id", F.col("doc_id") + 10_000)
    groups = exact_dedup_groups(docs.unionByName(copies), "doc_id", "text")
    assert groups.filter(F.col("n_copies") >= 2).count() == 7
    # keeper is always the original (min id)
    assert groups.agg(F.max(F.col("keep_id") < 10_000).alias("ok")).first().ok


def test_minhash_agrees_with_exact_jaccard(spark):
    """MinHash estimate at threshold 0.5 must recover the exact-Jaccard
    pairs at 0.7 (high-sim pairs ⊂ candidates: the LSH S-curve at J=0.7
    with 4 bands × 4 rows gives P(candidate) ≈ 1-(1-0.7⁴)²… ≈ 0.97⁴ — and
    these synthetic near-dups are J ≥ 0.9 where recall is ~1), and every
    reported pair must be genuinely similar (precision vs exact J ≥ 0.3)."""
    docs = _docs(spark)
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.3).collect()
    }
    est = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_near_dup_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    high_sim = {p for p, j in exact.items() if j >= 0.7}
    assert high_sim, "corpus should contain true near-dups"
    recall = len(high_sim & set(est)) / len(high_sim)
    assert recall >= 0.9, f"minhash recall {recall} on J>=0.7 pairs"
    precision_ok = sum(1 for p in est if exact.get(p, 0.0) >= 0.3)
    assert precision_ok / len(est) >= 0.9, "minhash candidates not similar"


def test_simhash_identical_docs_collide(spark):
    docs = _docs(spark).limit(20)
    copies = docs.withColumn("doc_id", F.col("doc_id") + 10_000)
    codes = simhash(docs.unionByName(copies), "doc_id", "text")
    # identical token multisets → identical simhash → ≥ 20 collision groups
    groups = codes.groupBy("simhash").count().filter(F.col("count") >= 2)
    assert groups.count() >= 1
    joined = codes.alias("a").join(
        codes.alias("b"),
        (F.col("a.id") + 10_000 == F.col("b.id"))
        & (F.col("a.simhash") == F.col("b.simhash")),
    )
    assert joined.count() == 20


def test_connected_components_witness_survives_huge_id_domain(spark):
    """Cliff #8 (r13 200x soak): the convergence witness SUM(label) is
    internal, but summed in int64 it crosses 2^63 once (key domain x
    label count) is large — at 100 TB-representative surrogate ids that
    is ~1M labels, reproduced here with 5 near-int64-max ids (the
    key-domain harness class: tiny rows, shifted domain). The witness
    now sums in DECIMAL(38,0); clustering must succeed and stay exact."""
    from amsterdam_map_data_wrangling_spark.operators.dedup import (
        connected_components,
    )

    base = 5_000_000_000_000_000_000  # 5e18; sum of 5 labels > 2^63
    pairs = [
        (base + 1, base + 2),
        (base + 2, base + 3),
        (base + 10, base + 11),
    ]
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    got = {r.id: r.cluster_id for r in connected_components(df).collect()}
    assert got == {
        base + 1: base + 1,
        base + 2: base + 1,
        base + 3: base + 1,
        base + 10: base + 10,
        base + 11: base + 10,
    }


def test_connected_components_matches_union_find(spark):
    """Cluster assignment must equal a driver-side union-find ground truth
    over the same pair set (min-id as the canonical component label)."""
    from amsterdam_map_data_wrangling_spark.operators.dedup import (
        connected_components,
    )

    pairs = [
        (1, 2), (2, 3),          # chain → {1,2,3}
        (10, 11),                # pair
        (20, 21), (21, 22), (20, 23),  # star+chain → {20,21,22,23}
        (30, 31), (32, 33), (31, 32),  # merged late → {30..33}
    ]
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    got = {r.id: r.cluster_id for r in connected_components(df).collect()}

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    want = {x: find(x) for x in parent}
    assert got == want


def test_dedup_clusters_query_groups_near_dups(spark):
    from amsterdam_map_data_wrangling_spark.plans.catalog import QUERIES

    labels = QUERIES["dedup_clusters"].build(spark, SF_ORACLE)
    rows = labels.collect()
    assert rows, "near-dup corpus must yield clusters"
    from pyspark.sql import functions as F

    sizes = labels.groupBy("cluster_id").count()
    assert sizes.filter(F.col("count") >= 3).count() >= 1, (
        "the corpus plants at least one 3-doc near-dup group"
    )


def test_portable_twins_match_production_semantics(spark):
    """The md5-family twins must rank similarity the same way as the
    xxhash production paths: doc pairs with identical token streams get
    identical portable signatures, and the portable minhash estimate
    recovers the same high-similarity pairs as the xxhash estimate."""
    from amsterdam_map_data_wrangling_spark.operators.dedup import (
        minhash_signatures_portable,
        shingles,
        simhash_portable,
    )

    docs = _docs(spark)
    copies = docs.limit(10).withColumn("doc_id", F.col("doc_id") + 10_000)
    corpus = docs.unionByName(copies)

    sig = minhash_signatures_portable(shingles(corpus, "doc_id", "text", 3), 8)
    a = sig.alias("a").join(
        sig.alias("b"), F.col("a.id") + 10_000 == F.col("b.id")
    )
    same = a.filter(
        " AND ".join(f"a.h{i} = b.h{i}" for i in range(8))
    )
    assert same.count() == 10  # identical docs → identical signatures

    codes = simhash_portable(corpus, "doc_id", "text", 16)
    j = codes.alias("a").join(
        codes.alias("b"),
        (F.col("a.id") + 10_000 == F.col("b.id"))
        & (F.col("a.simhash") == F.col("b.simhash")),
    )
    assert j.count() == 10


def test_connected_components_random_graphs(spark):
    """Randomized cross-check vs union-find: seeded Erdős–Rényi-ish pair
    sets plus a deliberately long chain (diameter 19 — exercises multiple
    double-hop rounds and the max_iter bound), the structures the fixed
    example test can't cover."""
    import random

    from amsterdam_map_data_wrangling_spark.operators.dedup import (
        connected_components,
    )

    def union_find(pairs):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {x: find(x) for x in parent}

    for seed in [7, 42, 1031]:
        rng = random.Random(seed)
        nodes = list(range(100, 160))
        pairs = set()
        while len(pairs) < 45:
            a, b = rng.sample(nodes, 2)
            pairs.add((min(a, b), max(a, b)))
        pairs = sorted(pairs)
        # a 20-node chain: diameter 19
        chain = [(1000 + i, 1000 + i + 1) for i in range(19)]
        all_pairs = pairs + chain
        df = spark.createDataFrame(all_pairs, ["id_a", "id_b"])
        got = {r.id: r.cluster_id for r in connected_components(df).collect()}
        assert got == union_find(all_pairs), f"seed {seed}"


def test_portable_banding_recalls_injected_duplicates(spark):
    """dedup_minhash_portable_pairs runs the SAME banding/join/dedup code
    path as the production query (only the band hash differs). Identical
    texts have identical signatures, so every injected copy pair MUST
    surface with est_jaccard = 1.0 — banding recall on exact dups is a
    certainty, not a probability."""
    from amsterdam_map_data_wrangling_spark.plans.catalog import QUERIES
    from .conftest import SF_ORACLE

    rows = (
        QUERIES["dedup_minhash_portable_pairs"]
        .build(spark, SF_ORACLE)
        .collect()
    )
    exact = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in rows
        if r.id_b == r.id_a + 1_000_000
    }
    # 50 docs in the 1-in-10 subset at sf0.01, each with one injected copy
    assert len(exact) == 50
    assert all(v == 1.0 for v in exact.values())


def test_invariant_gates_survive_case_only_duplicates(spark):
    """Round-4 ADVICE (medium): the invariant 'identical normalized text
    => identical signatures' must hold when the corpus contains a
    CASE-ONLY duplicate. The production minhash/simhash paths hash raw
    case-sensitive tokens, so the invariant's exact-dup groups must come
    from the case-sensitive fingerprint: docs differing only in letter
    case share the lowercased fingerprint but NOT signatures — deriving
    groups from fingerprint_cs keeps the gate engine-true."""
    from amsterdam_map_data_wrangling_spark.functions.text import (
        fingerprint,
        fingerprint_cs,
    )
    from amsterdam_map_data_wrangling_spark.operators.dedup import (
        minhash_near_dup_pairs,
        simhash,
    )
    from pyspark.sql import functions as F

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("quick", "QUICK")),  # case-only variant
            (3, base),  # true exact duplicate of 1
            (4, "completely unrelated text about amsterdam map wrangling"),
        ],
        "doc_id bigint, text string",
    )
    fps = {r.doc_id: (r.f_cs, r.f_lo) for r in corpus.select(
        "doc_id",
        fingerprint_cs(F.col("text")).alias("f_cs"),
        fingerprint(F.col("text")).alias("f_lo"),
    ).collect()}
    # the trap: lowercased fingerprints collide for the case-only pair...
    assert fps[1][1] == fps[2][1] == fps[3][1]
    # ...but case-sensitive ones only for the true duplicate
    assert fps[1][0] == fps[3][0] and fps[1][0] != fps[2][0]

    cand = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_near_dup_pairs(
            corpus, "doc_id", "text", w=3, k=16, bands=4, threshold=0.0
        ).collect()
    }
    # cs-derived exact pair IS recalled at est exactly 1.0 (the invariant)
    assert cand.get((1, 3)) == 1.0
    # the case-only pair does NOT estimate 1.0 on the case-sensitive hash
    # path — exactly why it must not be in the invariant's exact set
    assert cand.get((1, 2), 0.0) < 1.0

    codes = {r.id: r.simhash for r in simhash(corpus, "doc_id", "text", 16).collect()}
    assert codes[1] == codes[3]
    assert codes[1] != codes[2]


def test_connected_components_warns_when_budget_exhausted(spark):
    """Round-6 ADVICE closure: loop exhaustion without the equal-sums
    certificate must be VISIBLE (a silent exit returns unconverged labels
    indistinguishable from success), and the restored ceil(2*max_iter/3)
    round budget must still converge a 40-edge path at the default
    max_iter=20 (the diameter the 2+1 restructure had silently lost)."""
    import warnings

    from amsterdam_map_data_wrangling_spark.operators.dedup import (
        connected_components,
    )

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a bigint, id_b bigint"
    )
    # max_iter=1 -> 1 round of 3 hops: cannot converge a 10-hop path
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        labels = connected_components(path, max_iter=1)
        labels.collect()
        assert any("convergence certificate" in str(x.message) for x in w)
    # ceil(2*max_iter/3) rounds: max_iter=5 -> 4 rounds = 12 hops >= 10,
    # i.e. the restored 2*max_iter hop contract reaches diameter-10
    # (the pre-restore budget (5+2)//3 = 2 rounds = 6 hops would NOT)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        done = connected_components(path, max_iter=5)
        rows = done.collect()
        assert not any("convergence certificate" in str(x.message) for x in w)
    assert {r["cluster_id"] for r in rows} == {0}


def test_sorted_neighborhood_pairs_match_sorted_reference(spark):
    """SN blocking: candidate set must be exactly each record paired
    with its next window-1 neighbors in (key, id) sort order, and a
    planted prefix-mangled near-dup (token sets diverge, prefix agrees)
    must land in-window with its original — the case hash blocking can
    miss."""
    from pyspark.sql import functions as F

    from amsterdam_map_data_wrangling_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )
    from amsterdam_map_data_wrangling_spark.sources.registry import load_tables

    from .conftest import SF_SMALL

    docs = (
        load_tables(spark, SF_SMALL, ["documents"])["documents"]
        .limit(40)
        .select("doc_id", "text")
    )
    # planted: same 12-char prefix, tail replaced (shingles/token sets
    # diverge almost completely)
    planted = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 7_000_000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 12), F.lit(" zz qq ww ee rr tt yy")
        ).alias("text"),
    )
    corpus = docs.unionByName(planted)
    key = F.substring(F.lower(F.trim(F.col("text"))), 1, 12)
    got = {
        (r["id_a"], r["id_b"])
        for r in sorted_neighborhood_pairs(
            corpus, "doc_id", key, window=4
        ).collect()
    }
    rows = corpus.select(
        "doc_id", key.alias("k")
    ).collect()
    order = [r["doc_id"] for r in sorted(rows, key=lambda r: (r["k"], r["doc_id"]))]
    want = {
        (order[i], order[i + off])
        for i in range(len(order))
        for off in (1, 2, 3)
        if i + off < len(order)
    }
    assert got == want
    # every planted doc must be paired with its original
    originals = {r["doc_id"] for r in rows if r["doc_id"] < 7_000_000}
    for d in sorted(originals):
        if d % 11 == 0:
            assert (d, d + 7_000_000) in got or (d + 7_000_000, d) in got


def test_triangle_stats_match_pure_python_on_random_graphs(spark):
    """Triangle counting vs a brute-force reference on seeded random
    graphs, plus the near-dup QA reading on the real pair set (the
    planted duplicate groups are cliques, so clustering must be high)."""
    import itertools
    import random

    from amsterdam_map_data_wrangling_spark.operators.dedup import (
        ngram_jaccard_pairs,
        triangle_stats,
    )

    def ref(edges):
        es = {tuple(sorted(e)) for e in edges}
        nodes = {n for e in es for n in e}
        adj = {n: set() for n in nodes}
        for a, b in es:
            adj[a].add(b)
            adj[b].add(a)
        tri = sum(
            1
            for a, b, c in itertools.combinations(sorted(nodes), 3)
            if b in adj[a] and c in adj[a] and c in adj[b]
        )
        triads = sum(len(v) * (len(v) - 1) // 2 for v in adj.values())
        return len(es), triads, tri

    for seed in [3, 77]:
        rng = random.Random(seed)
        edges = set()
        while len(edges) < 40:
            a, b = rng.sample(range(30), 2)
            edges.add((min(a, b), max(a, b)))
        df = spark.createDataFrame(sorted(edges), ["id_a", "id_b"])
        row = triangle_stats(df).collect()[0]
        ne, nt, ntri = ref(edges)
        assert (row["n_edges"], row["n_triads"], row["n_triangles"]) == (
            ne,
            nt,
            ntri,
        ), seed

    docs = _docs(spark)
    copies1 = docs.limit(6).withColumn("doc_id", F.col("doc_id") + 10_000)
    copies2 = docs.limit(6).withColumn("doc_id", F.col("doc_id") + 20_000)
    corpus = docs.unionByName(copies1).unionByName(copies2)
    pairs = ngram_jaccard_pairs(corpus, "doc_id", "text", w=5, threshold=0.5)
    row = triangle_stats(pairs.select("id_a", "id_b")).collect()[0]
    # six 3-cliques planted -> at least 6 triangles, clustering well
    # above an open-triad-dominated graph
    assert row["n_triangles"] >= 6
    assert row["clustering"] > 0.3


def test_pagerank_matches_pure_python_power_iteration(spark):
    """3-iteration PageRank on a hand-built graph vs an independent
    pure-Python power iteration (same teleport algebra)."""
    edges = [(1, 2), (2, 3), (3, 1), (3, 4)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    from amsterdam_map_data_wrangling_spark.operators.dedup import pagerank

    got = {
        r["id"]: (r["deg"], round(r["r"], 12))
        for r in pagerank(df, damping=0.85, iters=3).collect()
    }

    sym = edges + [(b, a) for a, b in edges]
    nodes = sorted({n for e in sym for n in e})
    deg = {n: sum(1 for s, _ in sym if s == n) for n in nodes}
    n = float(len(nodes))
    r = {v: 1.0 / n for v in nodes}
    for _ in range(3):
        mass = {v: 0.0 for v in nodes}
        for s, d in sym:
            mass[d] += r[s] / deg[s]
        r = {v: (1.0 - 0.85) / n + 0.85 * mass[v] for v in nodes}
    assert set(got) == set(nodes)
    for v in nodes:
        assert got[v][0] == deg[v]
        assert abs(got[v][1] - r[v]) < 1e-12, v
    # ranks are a probability distribution (no dangling mass leak)
    assert abs(sum(x[1] for x in got.values()) - 1.0) < 1e-9


def test_graph_memo_is_bounded(spark):
    """The session-shared graph memo must not pin an unbounded set of
    checkpointed relations: FIFO eviction holds the size at
    _GRAPH_MEMO_MAX regardless of how many (sf_dir, params) keys a
    long-lived session touches."""
    from amsterdam_map_data_wrangling_spark.plans import dedup as D

    D.clear_graph_memo()
    try:
        for i in range(D._GRAPH_MEMO_MAX + 5):
            # distinct cache keys via distinct df_cap values; the builds
            # are lazy apart from the eager pair checkpoint on tiny data
            D.shared_jaccard_pairs(
                spark, "/root/testdata/sf0.001", w=5, threshold=0.5,
                df_cap=50 + i,
            )
            assert len(D._GRAPH_MEMO) <= D._GRAPH_MEMO_MAX
        # most-recent key survives
        assert any(k[-1] == 50 + D._GRAPH_MEMO_MAX + 4 for k in D._GRAPH_MEMO)
    finally:
        D.clear_graph_memo()


def test_graph_memo_misses_when_data_rewritten(spark, tmp_path):
    """Rewriting the documents table under an sf_dir must MISS the memo
    (r10 verdict hygiene note): the key carries a driver-side
    (name, size, mtime) fingerprint of documents.parquet, so a stale
    checkpoint of the old bytes is never served."""
    import shutil

    from pyspark.sql import functions as F

    from amsterdam_map_data_wrangling_spark.plans import dedup as D
    from amsterdam_map_data_wrangling_spark.sources import registry

    sf_dir = str(tmp_path)
    src = "/root/testdata/sf0.001"
    shutil.copy(f"{src}/documents.parquet", f"{tmp_path}/documents.parquet")

    D.clear_graph_memo()
    try:
        first = D.shared_jaccard_pairs(spark, sf_dir, w=5, threshold=0.5)
        n_first = first.count()
        assert len(D._GRAPH_MEMO) == 1
        # the STORED build is the identity anchor: since the r18
        # threshold floor, a 0.5 request returns a fresh filter FRAME
        # over the one memoized floor-threshold build, so hit/miss is
        # observed on the memo entry, not the returned object
        stored_first = next(iter(D._GRAPH_MEMO.values()))
        # same data → HIT (no new entry, same stored build)
        D.shared_jaccard_pairs(spark, sf_dir, w=5, threshold=0.5)
        assert len(D._GRAPH_MEMO) == 1
        assert next(iter(D._GRAPH_MEMO.values())) is stored_first

        # rewrite: keep only half the docs — a correct consumer must see
        # the shrunken pair relation, not the checkpoint of the old one
        docs = spark.read.parquet(f"{src}/documents.parquet")
        half = docs.filter(F.col("doc_id") % 2 == 0)
        (tmp_path / "documents.parquet").unlink()
        half.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
        # the registry's DataFrame cache and Spark's file-status cache
        # have their own documented rewrite contracts (registry.clear_cache
        # / refreshByPath) — the layer under test here is the memo, which
        # previously had NO data-change detection at all.
        registry.clear_cache()
        spark.catalog.refreshByPath(f"{tmp_path}/documents.parquet")

        fresh = D.shared_jaccard_pairs(spark, sf_dir, w=5, threshold=0.5)
        assert len(D._GRAPH_MEMO) == 2, "memo served a stale checkpoint"
        assert next(iter(reversed(D._GRAPH_MEMO.values()))) is not (
            stored_first
        )  # the new fingerprint key built a NEW relation
        assert fresh.count() <= n_first
    finally:
        D.clear_graph_memo()


def test_minhash_collapse_exact_matches_intercluster_classes(spark):
    """collapse_exact=True (the boilerplate-proof composition) must
    emit exactly the inter-cluster CLASSES of the naive pair relation:
    one (rep_a, rep_b) pair per pair of distinct normalized texts the
    naive banding recalls, with the same est_jaccard (identical
    fingerprint => identical shingles => identical signature) and each
    side's true cluster size — while clone-internal pairs (the
    quadratic mass) never materialize."""
    from pyspark.sql import functions as F

    from amsterdam_map_data_wrangling_spark.functions.text import (
        fingerprint_cs,
    )
    from amsterdam_map_data_wrangling_spark.operators.dedup import (
        minhash_near_dup_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    near = "the quick brown fox jumps over the lazy dog near the river bend"
    rows = []
    rid = 0
    for _ in range(7):  # clone cluster A (7 copies, one with extra ws)
        rows.append((rid, base if rid % 3 else base.replace(" dog", "  dog")))
        rid += 1
    for _ in range(4):  # clone cluster B of a near-dup text
        rows.append((rid, near))
        rid += 1
    for i in range(10):  # unique background docs
        rows.append((rid, f"unrelated document number {i} with words {i*7} {i*13} entirely different content body"))
        rid += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    naive = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_near_dup_pairs(
            docs, "doc_id", "text", threshold=0.5, collapse_exact=False
        ).collect()
    }
    collapsed = {
        (r.id_a, r.id_b): (r.est_jaccard, r.n_a, r.n_b)
        for r in minhash_near_dup_pairs(
            docs,
            "doc_id",
            "text",
            threshold=0.5,
            collapse_exact=True,
            expand_pairs=False,
        ).collect()
    }

    # expected: map every naive pair to its (min-id-rep_a, min-id-rep_b)
    # class; intra-cluster pairs collapse away
    fps = {
        r.doc_id: r.f
        for r in docs.select(
            "doc_id", fingerprint_cs(F.col("text")).alias("f")
        ).collect()
    }
    rep = {}
    size = {}
    for d, f in fps.items():
        rep[f] = min(rep.get(f, d), d)
        size[f] = size.get(f, 0) + 1
    expected = {}
    for (a, b), est in naive.items():
        ra, rb = rep[fps[a]], rep[fps[b]]
        if ra == rb:
            continue  # clone-internal: must NOT appear collapsed
        key = (min(ra, rb), max(ra, rb))
        expected[key] = (est, size[fps[min(ra, rb)]], size[fps[max(ra, rb)]])
    assert collapsed == expected
    # the fixture must actually exercise both effects
    assert any(rep[fps[a]] == rep[fps[b]] for a, b in naive)  # clones seen
    assert expected, "no inter-cluster near-dup pair in fixture"


def test_ngram_jaccard_recall_stats_sees_the_clone_blindness(spark):
    """r14 verdict 'What's wrong #4': on a clone cluster larger than
    df_cap, ngram_jaccard_pairs emits ZERO pairs (every clone shingle's
    document frequency exceeds the cap) — fast and silently wrong for
    the dedup use-case. The companion stats relation must make that
    hole provably visible: nonzero dropped-shingle and
    zero-surviving-doc counts on exactly the corpus where the pair
    output is empty, and all-zero drop counters on a benign corpus."""
    from pyspark.sql import functions as F

    from amsterdam_map_data_wrangling_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_recall_stats,
    )

    boiler = (
        "please accept our cookie policy to continue browsing this "
        "website all rights reserved"
    )
    n_clones = 12
    rows = [(i, boiler) for i in range(n_clones)]
    rows += [
        (
            100 + i,
            f"unique document {i} body with words {i * 3} {i * 11} and "
            f"more distinct content here",
        )
        for i in range(5)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(w=3, df_cap=n_clones - 2)

    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.5, **kw
    ).collect()
    assert pairs == [], "fixture must reproduce the silent recall hole"

    s = ngram_jaccard_recall_stats(docs, "doc_id", "text", **kw).first()
    # every clone shingle has df == n_clones > cap: all dropped
    assert s.n_shingles_dropped > 0
    assert s.max_df == n_clones
    # the clones survive with zero shingles — the un-pairable docs
    assert s.n_docs_zero_surviving == n_clones
    assert s.n_docs_with_shingles == n_clones + 5
    assert s.n_shingles_distinct > s.n_shingles_dropped

    # benign corpus: counters read zero, so an alert on them is honest
    benign = docs.filter(F.col("doc_id") >= 100)
    b = ngram_jaccard_recall_stats(benign, "doc_id", "text", **kw).first()
    assert b.n_shingles_dropped == 0 and b.n_docs_zero_surviving == 0


def test_minhash_expanded_default_is_value_identical_to_naive(spark):
    """The r15 DEFAULT composition (collapse_exact=True,
    expand_pairs=True) must reproduce the naive pair-level output
    value-for-value on a corpus exercising every expansion branch:
    clone clusters of size 2 and 7 (clone-internal pairs at est exactly
    1.0), a near-dup cluster pair (cross-cluster expansion carries the
    representative est to every member pair), unique background docs,
    and sub-``w``-token docs — including an exact-duplicate PAIR of
    short docs, which the naive path never signs (no shingles ⇒ no
    signature ⇒ no pairs) and the expansion must likewise drop."""
    from amsterdam_map_data_wrangling_spark.operators.dedup import (
        minhash_near_dup_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    near = "the quick brown fox jumps over the lazy dog near the river bend"
    rows, rid = [], 0
    for _ in range(7):  # clone cluster A
        rows.append((rid, base))
        rid += 1
    for _ in range(2):  # clone cluster B of a near-dup text
        rows.append((rid, near))
        rid += 1
    for i in range(8):  # unique background docs
        rows.append(
            (
                rid,
                f"unrelated document number {i} with words {i * 7} "
                f"{i * 13} entirely different content body",
            )
        )
        rid += 1
    for _ in range(2):  # exact-dup SHORT docs (< w=3 tokens): no pairs
        rows.append((rid, "too short"))
        rid += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    kw = dict(w=3, k=16, bands=4, threshold=0.5)
    naive = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_near_dup_pairs(
            docs, "doc_id", "text", collapse_exact=False, **kw
        ).collect()
    }
    expanded_rows = minhash_near_dup_pairs(
        docs, "doc_id", "text", **kw
    ).collect()
    expanded = {(r.id_a, r.id_b): r.est_jaccard for r in expanded_rows}
    assert len(expanded_rows) == len(expanded), "duplicate expanded pairs"
    assert expanded == naive
    # the fixture must exercise the branches it claims to
    assert sum(1 for (a, b) in naive if a < 7 and b < 7) == 21  # C(7,2)
    assert (7, 8) in naive  # size-2 clone cluster
    assert any(a < 7 and b in (7, 8) for (a, b) in naive)  # cross pairs
    short_ids = {rid - 1, rid - 2}
    assert not any(
        a in short_ids or b in short_ids for (a, b) in naive
    ), "short docs must emit no pairs in the reference itself"


def test_shared_pairs_floor_derived_from_consumer_registry(spark):
    """r18 VERDICT #7: the memo's build floor must be DERIVED from the
    consumer threshold registry (min over registered consumers), so a
    future lower-threshold consumer lowers the floor instead of
    silently reintroducing the per-pass double build; and one build at
    the floor must serve every registered threshold."""
    from amsterdam_map_data_wrangling_spark.plans import dedup as D

    assert D._PAIRS_THRESHOLD_FLOOR == min(
        D.SHARED_PAIRS_CONSUMER_THRESHOLDS.values()
    )
    D.clear_graph_memo()
    try:
        sf = "/root/testdata/sf0.001"
        D.shared_jaccard_pairs(spark, sf, w=5, threshold=0.5, df_cap=50)
        assert len(D._GRAPH_MEMO) == 1
        # key = (app, sf_dir, table, fingerprint, "pairs", w, thr, df_cap)
        stored_key, stored = next(iter(D._GRAPH_MEMO.items()))
        assert stored_key[-2] == D._PAIRS_THRESHOLD_FLOOR
        # every registered threshold is served from the ONE stored build
        for thr in sorted(set(D.SHARED_PAIRS_CONSUMER_THRESHOLDS.values())):
            D.shared_jaccard_pairs(spark, sf, w=5, threshold=thr, df_cap=50)
            assert len(D._GRAPH_MEMO) == 1
            assert next(iter(D._GRAPH_MEMO.values())) is stored
    finally:
        D.clear_graph_memo()


def test_memo_reuse_and_reset(spark):
    from amsterdam_map_data_wrangling_spark.plans import dedup as D

    D.clear_graph_memo()
    a = D.shared_jaccard_components(spark, SF_SMALL)
    b = D.shared_jaccard_components(spark, SF_SMALL)
    assert a is b, "second call must return the memoized frame"
    assert len(D._GRAPH_MEMO) == 2  # the components and their pairs
    D.clear_graph_memo()
    assert not D._GRAPH_MEMO
    c = D.shared_jaccard_components(spark, SF_SMALL)
    assert c is not a, "reset must force a fresh build"


def test_leakage_free_split_reuses_graph_memo(spark):
    """leakage_free_split must READ the session-shared pair/component
    relations, never rebuild the blocking: after one build primes the
    memo, building the query again must add no new memo entries, and its
    leaked-pairs audit must consume the same cached pair relation (the
    plan shows checkpoint scans, not a fresh shingle aggregation)."""
    import __spark_entry__  # noqa: F401
    from amsterdam_map_data_wrangling_spark.plans import dedup as D
    from amsterdam_map_data_wrangling_spark.plans.queries import QUERIES

    D.clear_graph_memo()
    df = QUERIES["leakage_free_split"].build(spark, SF_SMALL)
    n_entries = len(D._GRAPH_MEMO)
    assert n_entries >= 2  # pairs + components primed by one build
    df2 = QUERIES["leakage_free_split"].build(spark, SF_SMALL)
    assert len(D._GRAPH_MEMO) == n_entries  # pure cache hits
    plan = df2._jdf.queryExecution().optimizedPlan().toString()
    # both graph inputs arrive as materialized scans; the only shingle
    # work in the plan would betray a rebuild
    assert "shingle" not in plan.lower()
    assert df.collect() == df2.collect()

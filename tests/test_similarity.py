"""Similarity operators: brute-force correctness on a hand-computable
fixture, and ANN-vs-brute-force recall on the real corpus."""

from __future__ import annotations

import math

from amsterdam_map_data_wrangling_spark.operators.similarity import (
    ann_sign_lsh_topk,
    cosine_topk,
)

from .conftest import SF_ORACLE


def test_cosine_topk_hand_computed(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),   # orthogonal
        (3, [0.7, 0.7, 0.0]),   # 45°
        (4, [-1.0, 0.0, 0.0]),  # opposite
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    got = {
        (r.qid, r.vec_id): r.sim
        for r in cosine_topk(df, "vec_id", "embedding", [0], k=3).collect()
    }
    assert set(got) == {(0, 1), (0, 3), (0, 2)}
    assert got[(0, 1)] == round(0.9 / math.hypot(0.9, 0.1), 4)
    assert got[(0, 3)] == round(0.7 / math.hypot(0.7, 0.7), 4)
    assert got[(0, 2)] == 0.0


def test_ann_results_subset_of_brute_force_scores(spark):
    """Every ANN hit must carry the same similarity the brute-force path
    computes, and per-query ANN top-1 should usually be the true top-1
    (sign-LSH keeps the bucket of the query itself)."""
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    brute = {
        (r.qid, r.vec_id): r.sim
        for r in cosine_topk(emb, "vec_id", "embedding", qids, k=50).collect()
    }
    ann = ann_sign_lsh_topk(emb, "vec_id", "embedding", qids, k=3, bits=8).collect()
    assert len(ann) > 0
    for r in ann:
        if (r.qid, r.vec_id) in brute:
            assert brute[(r.qid, r.vec_id)] == r.sim


def test_rand_lsh_spreads_biased_corpus_axis_code_cannot(spark):
    """The reason the seeded random-hyperplane family exists: on a corpus
    with positively-biased components (every real embedding family after a
    ReLU), the axis-aligned sign code collapses ALL rows into one bucket
    (every leading component ≥ 0 ⇒ code 0xFF), while sparse ternary
    random planes still split the space. Also pins the query path: every
    rand-LSH hit must carry the brute-force similarity."""
    import random

    from pyspark.sql import functions as F

    from amsterdam_map_data_wrangling_spark.operators.similarity import (
        ann_rand_lsh_topk,
        sign_lsh_code,
    )

    rnd = random.Random(7)
    rows = [
        (i, [rnd.uniform(0.05, 1.0) for _ in range(64)]) for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    v = F.col("embedding").cast("array<double>")
    axis_buckets = df.select(sign_lsh_code(v, 8).alias("c")).distinct().count()
    assert axis_buckets == 1  # axis code is blind to biased corpora

    from amsterdam_map_data_wrangling_spark.operators.similarity import (
        rand_lsh_code_sql,
    )

    coded = df.select(
        F.expr(
            "transform(CAST(embedding AS ARRAY<DOUBLE>),"
            " x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))"
        ).alias("qv")
    ).select(F.expr(rand_lsh_code_sql("qv", 8, 64)).alias("c"))
    sizes = [r["n"] for r in coded.groupBy("c").agg(F.count("*").alias("n")).collect()]
    assert len(sizes) >= 16  # random planes still split the biased corpus
    # uncentered data skews ternary projections too (planes with unequal
    # +/- counts lean one way), but the hot bucket stays well under the
    # axis code's 100%-in-one-bucket collapse
    assert max(sizes) / 300 < 0.7

    # query path: ANN sims must equal brute sims on the real corpus
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    brute = {
        (r.qid, r.vec_id): r.sim
        for r in cosine_topk(emb, "vec_id", "embedding", qids, k=50).collect()
    }
    ann = ann_rand_lsh_topk(emb, "vec_id", "embedding", qids, k=3).collect()
    assert len(ann) > 0
    for r in ann:
        if (r.qid, r.vec_id) in brute:
            assert brute[(r.qid, r.vec_id)] == r.sim


def test_ivf_learned_centroids_recall_at_least_seed_recall(spark):
    """The point of the Lloyd iterations: data-adapted cells must recall at
    least as much of the true (brute-force) top-3 as the raw id-stride
    seed cells, and every IVF hit must carry the brute-force similarity."""
    from amsterdam_map_data_wrangling_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    brute = {
        (r.qid, r.vec_id): r.sim
        for r in cosine_topk(emb, "vec_id", "embedding", qids, k=3).collect()
    }
    learned = {
        (r.qid, r.vec_id): r.sim
        for r in ivf_topk(emb, "vec_id", "embedding", qids, k=3).collect()
    }
    seed = {
        (r.qid, r.vec_id): r.sim
        for r in ivf_topk(
            emb, "vec_id", "embedding", qids, k=3, lloyd_iters=0
        ).collect()
    }
    assert len(set(learned) & set(brute)) >= len(set(seed) & set(brute))
    for key, sim in learned.items():
        if key in brute:
            assert brute[key] == sim


def test_ivf_nprobe_recall_is_monotone(spark):
    """nprobe is the IVF recall dial: probing more cells must never lose
    hits, every hit carries the brute-force similarity, and nprobe >=
    n_cells degenerates to exact brute-force recall."""
    from amsterdam_map_data_wrangling_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    brute = {
        (r.qid, r.vec_id): r.sim
        for r in cosine_topk(emb, "vec_id", "embedding", qids, k=3).collect()
    }
    prev_hits = -1
    for nprobe in (1, 4, 64):
        got = {
            (r.qid, r.vec_id): r.sim
            for r in ivf_topk(
                emb, "vec_id", "embedding", qids, k=3, nprobe=nprobe
            ).collect()
        }
        hits = len(set(got) & set(brute))
        assert hits >= prev_hits, (nprobe, hits, prev_hits)
        prev_hits = hits
        for key, sim in got.items():
            if key in brute:
                assert brute[key] == sim
    # probing every cell == brute force
    assert prev_hits == len(brute)


def test_top_cells_tie_break_is_sim_desc_then_cid_asc():
    """Adversarial equal-sim fixture pinning the nprobe cell-ordering
    tie-break (_top_cells: np.lexsort((qcids, -sims))): sims descend,
    exact ties resolve to the LOWEST c_id — the same total order the
    oracle's ORDER BY csim DESC, c_id window uses. Centroids that are
    exact scalar multiples produce bit-identical cosines, so the ties
    here are real, not approximate."""
    import numpy as np

    from amsterdam_map_data_wrangling_spark.operators.similarity import (
        _np_sims,
        _top_cells,
    )

    # centroids 7 and 2 are scalar multiples ([1,0] vs [3,0]) -> cosine
    # vs any query is IDENTICAL; 9 is orthogonal-ish, 4 ties with them on
    # the second query
    qcids = np.array([7, 2, 9, 4], dtype=np.int64)
    cmat = np.array([[1, 0], [3, 0], [0, 1], [2, 0]], dtype=np.int64)
    csn = np.sqrt((cmat * cmat).sum(axis=1).astype(np.float64))
    qmat = np.array([[5, 0], [0, 2]], dtype=np.int64)
    sims = _np_sims(qmat, cmat, csn)
    # query 0 aligns with cells 7/2/4 at sim exactly 1.0 (three-way tie)
    assert sims[0, 0] == sims[0, 1] == sims[0, 3] == 1.0
    assert _top_cells(qcids, sims[0], 1) == [2]
    assert _top_cells(qcids, sims[0], 2) == [2, 4]
    assert _top_cells(qcids, sims[0], 3) == [2, 4, 7]
    assert _top_cells(qcids, sims[0], 4) == [2, 4, 7, 9]
    # query 1 aligns with cell 9; the other three tie at exactly 0.0
    assert sims[1, 0] == sims[1, 1] == sims[1, 3] == 0.0
    assert _top_cells(qcids, sims[1], 1) == [9]
    assert _top_cells(qcids, sims[1], 3) == [9, 2, 4]
    # nprobe <= 0 clamps to 1 probe, never zero
    assert _top_cells(qcids, sims[0], 0) == [2]


def test_ivf_driver_seed_resort_matches_spark_order(spark):
    """Round-6 ADVICE closure: the IVF seed generation must not depend on
    row order surviving the fused Union + collect(). The driver re-sorts
    the collected sample by a recomputed portable md5 key — this pins
    that the Python key reproduces the exact Spark orderBy(seed_hash,
    vec_id) ranking, so the seed set is planner-independent."""
    import hashlib

    from pyspark.sql import functions as F

    from amsterdam_map_data_wrangling_spark.operators.similarity import (
        seed_hash_spark,
    )

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(50)], "vec_id bigint, v array<double>"
    )
    seed = "spark-graft"
    spark_order = [
        r["vec_id"]
        for r in df.orderBy(seed_hash_spark(seed), "vec_id").limit(20).collect()
    ]

    def py_key(vid: int):
        h = hashlib.md5(f"ivf|{seed}|{vid}".encode()).hexdigest()[:15]
        return (int(h, 16), vid)

    py_order = sorted(range(50), key=py_key)[:20]
    assert spark_order == py_order


def test_sq8_rerank_recall_vs_brute(spark):
    """SQ8 candidate generation + exact rerank must recover most of the
    true top-3 (the rerank pool is 4% of this corpus, so this is a real
    recall property, not a tautology), and every returned sim must
    equal the brute sim for that (query, neighbor) pair."""
    from amsterdam_map_data_wrangling_spark.operators.similarity import (
        cosine_topk,
        sq8_rerank_topk,
    )
    from amsterdam_map_data_wrangling_spark.sources.registry import load_tables

    sf = "/root/testdata/sf0.01"
    emb = load_tables(spark, sf, ["embeddings"])["embeddings"]
    qids = [0, 1, 2, 3, 4]
    brute = {
        (r["qid"], r["vec_id"]): r["sim"]
        for r in cosine_topk(emb, "vec_id", "embedding", qids, 3).collect()
    }
    sq8 = {
        (r["qid"], r["vec_id"]): r["sim"]
        for r in sq8_rerank_topk(
            emb, "vec_id", "embedding", qids, k=3, rerank_pool=20
        ).collect()
    }
    hits = set(brute) & set(sq8)
    assert len(hits) >= 0.6 * len(brute), (len(hits), len(brute))
    for key in hits:
        assert sq8[key] == brute[key]  # rerank uses the exact same cosine


def test_pq_adc_recall_vs_brute(spark):
    """PQ-ADC (16x32 learned codebooks, pool 20) must recover most of
    the true cosine top-3, with rerank sims equal to the brute sims
    (random unit vectors are PQ's hardest case — parameters were picked
    by a measured sweep: 4x16 recalled 5/15 here, 16x32 recalls 14/15).
    """
    from amsterdam_map_data_wrangling_spark.operators.similarity import (
        cosine_topk,
        pq_adc_topk,
    )
    from amsterdam_map_data_wrangling_spark.sources.registry import load_tables

    sf = "/root/testdata/sf0.01"
    emb = load_tables(spark, sf, ["embeddings"])["embeddings"]
    qids = [0, 1, 2, 3, 4]
    brute = {
        (r["qid"], r["vec_id"]): r["sim"]
        for r in cosine_topk(emb, "vec_id", "embedding", qids, 3).collect()
    }
    pq = {
        (r["qid"], r["vec_id"]): r["sim"]
        for r in pq_adc_topk(
            emb, "vec_id", "embedding", qids, k=3, m=16, n_cells=32,
            rerank_pool=20,
        ).collect()
    }
    hits = set(brute) & set(pq)
    assert len(hits) >= 0.8 * len(brute), (len(hits), len(brute))
    for key in hits:
        assert pq[key] == brute[key]


def test_nearest_centroid_classify_separable_and_tiebreak(spark):
    """Clearly-separable clusters classify to their own label; a vector
    equidistant from two identical centroids takes the LOWEST label
    (ascending centroid order + argmax-first-max)."""
    from amsterdam_map_data_wrangling_spark.operators.similarity import (
        nearest_centroid_classify,
    )

    rows = [
        # label 0 cluster: along +x
        (0, 0, [1.0, 0.0]),
        (1, 0, [0.9, 0.1]),
        # label 1 cluster: along +y
        (2, 1, [0.0, 1.0]),
        (3, 1, [0.1, 0.9]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    got = {
        r.vec_id: r.pred_label
        for r in nearest_centroid_classify(
            df, "vec_id", "embedding", "label"
        ).collect()
    }
    assert got == {0: 0, 1: 0, 2: 1, 3: 1}

    # tie: labels 5 and 7 have IDENTICAL centroids; every vector ties
    # and must take the lower label.
    tie_rows = [(0, 7, [1.0, 1.0]), (1, 5, [1.0, 1.0])]
    tie = spark.createDataFrame(tie_rows, ["vec_id", "label", "embedding"])
    preds = {
        r.vec_id: r.pred_label
        for r in nearest_centroid_classify(
            tie, "vec_id", "embedding", "label"
        ).collect()
    }
    assert preds == {0: 5, 1: 5}


def test_adaptive_sign_bits_pins_gate_widths():
    """The sf1 scale fix must NEVER change the gate: both shipped gate
    SFs (200 and 2,000 vectors) resolve to exactly the oracle's literal
    6-bit code; bigger corpora grow the hash space ~linearly with n;
    the cap bounds driver planning."""
    from amsterdam_map_data_wrangling_spark.plans.similarity import (
        _adaptive_sign_bits,
    )

    assert _adaptive_sign_bits(200) == 6
    assert _adaptive_sign_bits(2_000) == 6
    assert _adaptive_sign_bits(2_048) == 6
    assert _adaptive_sign_bits(2_049) == 7
    assert _adaptive_sign_bits(20_000) == 10
    assert _adaptive_sign_bits(2_000_000) == 16
    assert _adaptive_sign_bits(10**12) == 20  # cap
    assert _adaptive_sign_bits(0) == 6  # degenerate corpus


def _brute_pairs(vecs, threshold):
    """Sequential-fold cosine over all pairs — the dim-order reference."""
    out = {}
    for i, (ida, va) in enumerate(vecs):
        for idb, vb in vecs[i + 1:]:
            d = 0.0
            na = 0.0
            nb = 0.0
            for x, y in zip(va, vb):
                d += x * y
                na += x * x
                nb += y * y
            s = d / (math.sqrt(na) * math.sqrt(nb))
            if s >= threshold:
                out[(min(ida, idb), max(ida, idb))] = round(s, 4)
    return out


def _coded_df(spark, vecs, code=7):
    from amsterdam_map_data_wrangling_spark.operators.similarity import l2_norm
    from pyspark.sql import functions as F

    df = spark.createDataFrame(vecs, ["vec_id", "v"])
    v = F.col("v").cast("array<double>")
    return df.select(
        "vec_id", v.alias("v"), l2_norm(v).alias("nrm"), F.lit(code).cast("long").alias("code")
    )


def test_bucketed_pair_cosines_matches_brute_force_no_split(spark):
    """cap above the bucket size: the kernel is exact — every pair and
    every similarity equals the sequential-fold brute force."""
    import random

    from amsterdam_map_data_wrangling_spark.operators.similarity import (
        bucketed_pair_cosines,
    )
    from pyspark.sql import functions as F

    rng = random.Random(13)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    got = {
        (r.id_a, r.id_b): round(r.sim, 4)
        for r in bucketed_pair_cosines(_coded_df(spark, vecs), 0.35, cap=64)
        .select("id_a", "id_b", F.round("sim", 4).alias("sim"))
        .collect()
    }
    assert got == _brute_pairs(vecs, 0.35) and got


def test_bucketed_pair_cosines_hot_bucket_split_keeps_near_dup_recall(spark):
    """cap far below the bucket: the recursive sign-split must still
    pair every planted near-duplicate (near-identical vectors share all
    extended sign bits, so they land in the same sub-bucket — the LSH
    recall property the 200x skew fix relies on)."""
    import random

    from amsterdam_map_data_wrangling_spark.operators.similarity import (
        bucketed_pair_cosines,
    )

    rng = random.Random(31)
    vecs = []
    planted = []
    for i in range(60):
        base = [rng.uniform(-1, 1) for _ in range(8)]
        vecs.append((2 * i, base))
        # near-twin by SCALING (r13 ADVICE #4): x * (1 + 1e-6) provably
        # preserves every sign bit at any seed/dim (the additive
        # x + 1e-6 variant flips a bit whenever a component falls in
        # (-1e-6, 0), silently putting the pair in different
        # sub-buckets), and cosine(base, c·base) = 1 exactly
        vecs.append((2 * i + 1, [x * (1 + 1e-6) for x in base]))
        planted.append((2 * i, 2 * i + 1))
    got = {
        (r.id_a, r.id_b)
        for r in bucketed_pair_cosines(_coded_df(spark, vecs), 0.95, cap=8).collect()
    }
    missing = [p for p in planted if p not in got]
    assert not missing, f"split dropped planted near-dups: {missing[:5]}"


def test_bucketed_pair_cosines_sign_degenerate_tiled_is_exact(spark):
    """All-positive vectors cannot be sign-split at any depth: the
    kernel must fall through to the TILED path and stay exact vs brute
    force (tiling is lossless, unlike the split)."""
    import random

    from amsterdam_map_data_wrangling_spark.operators.similarity import (
        bucketed_pair_cosines,
    )
    from pyspark.sql import functions as F

    rng = random.Random(47)
    vecs = [
        (i, [rng.uniform(0.05, 1.0) for _ in range(6)]) for i in range(50)
    ]
    got = {
        (r.id_a, r.id_b): round(r.sim, 4)
        for r in bucketed_pair_cosines(_coded_df(spark, vecs), 0.35, cap=8)
        .select("id_a", "id_b", F.round("sim", 4).alias("sim"))
        .collect()
    }
    assert got == _brute_pairs(vecs, 0.35) and len(got) > 100


def test_bucketed_pair_cosines_split_stats_accumulators(spark):
    """r13 ADVICE #1: the recall trade of the recursive sign-split must
    be observable. split_stats registers two accumulators — zero on a
    run with no over-cap bucket (proving oracle-identical semantics),
    positive split count AND exact cross-child candidate bound once a
    bucket splits."""
    import random

    from amsterdam_map_data_wrangling_spark.operators.similarity import (
        bucketed_pair_cosines,
    )

    rng = random.Random(59)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]

    quiet: dict = {}
    bucketed_pair_cosines(
        _coded_df(spark, vecs), 0.35, cap=64, split_stats=quiet
    ).collect()
    assert quiet["split_buckets"].value == 0
    assert quiet["dropped_pair_bound"].value == 0

    hot: dict = {}
    got = {
        (r.id_a, r.id_b)
        for r in bucketed_pair_cosines(
            _coded_df(spark, vecs), 0.35, cap=8, split_stats=hot
        ).collect()
    }
    assert hot["split_buckets"].value > 0
    assert hot["dropped_pair_bound"].value > 0
    # the bound is exact accounting: scored pairs + dropped candidates
    # partition the full C(n,2) candidate set (leaves are pair-complete)
    n = len(vecs)
    full = bucketed_pair_cosines(_coded_df(spark, vecs), -1.0, cap=8).count()
    assert full + hot["dropped_pair_bound"].value == n * (n - 1) // 2


def test_bucketed_pair_cosines_presplit_hot_codes(spark):
    """r13 ADVICE #2: the JVM-side pre-split must bound group size
    before Arrow delivery without inventing pairs — output is a subset
    of the un-presplit result, sign-preserving near-twins survive, and
    a presplit threshold no code reaches is a no-op (bit-identical
    result, gate safety)."""
    import random

    from amsterdam_map_data_wrangling_spark.operators.similarity import (
        bucketed_pair_cosines,
    )

    rng = random.Random(61)
    vecs = []
    planted = []
    for i in range(40):
        base = [rng.uniform(-1, 1) for _ in range(8)]
        vecs.append((2 * i, base))
        vecs.append((2 * i + 1, [x * (1 + 1e-6) for x in base]))
        planted.append((2 * i, 2 * i + 1))

    def pairs(**kw):
        return {
            (r.id_a, r.id_b): round(r.sim, 4)
            for r in bucketed_pair_cosines(
                _coded_df(spark, vecs), 0.95, cap=1024, **kw
            ).collect()
        }

    base_pairs = pairs()
    # threshold no code reaches -> no-op
    assert pairs(presplit_bits=3, presplit_min_rows=10_000) == base_pairs
    # hot threshold of 1: every code pre-splits on 3 sign bits
    pre = pairs(presplit_bits=3, presplit_min_rows=1)
    assert set(pre) <= set(base_pairs)
    assert all(base_pairs[k] == v for k, v in pre.items())
    missing = [p for p in planted if p not in pre]
    assert not missing, f"pre-split dropped planted near-dups: {missing[:5]}"

"""Similarity-search queries over the embeddings table, fully oracle-gated
(the dot products are computed in double on both sides with identical
sequential fold order; ranking is on round(sim,4) + vec_id tie-break, so
Spark and DuckDB agree bit-for-bit — verified empirically)."""

from __future__ import annotations

from pyspark.sql import functions as F

from amsterdam_map_data_wrangling_spark.operators.similarity import (
    ann_sign_lsh_topk,
    cosine_topk,
    dot,
    ivf_topk,
    l2_norm,
)
from amsterdam_map_data_wrangling_spark.plans.catalog import _t, query

_QUERY_IDS = [0, 1, 2, 3, 4]

_E_CTE = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
               FROM embeddings)
"""

_COSINE_CTE = _E_CTE + """
    , q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5)
"""


def _corpus_count(spark, sf_dir, embeddings) -> int:
    """Memoized embeddings row count (drives the adaptive sign-LSH code
    width). Lives in the shared _GRAPH_MEMO so (a) plan re-builds don't
    re-pay the count action, (b) the key carries the data fingerprint
    (a rewritten corpus re-counts), and (c) bench.py's per-pass
    clear_graph_memo() keeps the bench honest — one count per pass."""
    from amsterdam_map_data_wrangling_spark.plans.dedup import (
        memo_get_or_build,
        memo_key,
    )

    key = memo_key(spark, sf_dir, "embeddings", "emb_count")
    return memo_get_or_build(key, embeddings.count)


def _hot_codes(
    spark, sf_dir, coded, bits: int, min_rows: int
) -> "list[int]":
    """Memoized list of sign-LSH codes holding >= min_rows vectors —
    the presplit trigger for embedding_near_dup_pairs. Same memo
    discipline as _corpus_count: one action per (session, sf_dir, data
    fingerprint, bits), cleared per bench pass by clear_graph_memo().
    Only ever called when the (already-memoized) corpus count says a
    hot code is POSSIBLE (n >= min_rows), so gate-SF builds never pay
    it."""
    from pyspark.sql import functions as F

    from amsterdam_map_data_wrangling_spark.plans.dedup import (
        memo_get_or_build,
        memo_key,
    )

    key = memo_key(spark, sf_dir, "embeddings", "hot_codes", bits, min_rows)
    return memo_get_or_build(
        key,
        lambda: [
            r["code"]
            for r in coded.groupBy("code")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") >= min_rows)
            .select("code")
            .collect()
        ],
    )


def _adaptive_sign_bits(n: int, target_bucket: int = 32) -> int:
    """Sign-LSH code width for an n-vector corpus: target ~target_bucket
    vectors per bucket, floor 6 (the gate SFs' literal oracle width —
    200 and 2,000 vectors both resolve to exactly 6), cap 20. See
    embedding_near_dup_pairs for the quadratic-in-bucket-load rationale
    (r10 sf1 soak: fixed 6 bits cost 54× at 10× vectors)."""
    import math

    return min(20, max(6, math.ceil(math.log2(max(n, 2) / target_bucket))))


@query(
    "knn_cosine_brute",
    _COSINE_CTE
    + """
    , scored AS (
      SELECT qid, vec_id,
             round(list_dot_product(v, qv)
                   / (sqrt(list_dot_product(v, v))
                      * sqrt(list_dot_product(qv, qv))), 4) AS sim
      FROM e, q WHERE vec_id <> qid
    ), ranked AS (
      SELECT qid, vec_id, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) rn
      FROM scored
    )
    SELECT qid, vec_id, sim FROM ranked WHERE rn <= 3
    """,
    "Brute-force cosine top-3 per query vector (5 broadcast queries × full "
    "corpus): zip_with/aggregate dot product in double, rank window per "
    "query. Scale: query side broadcast (zero shuffle for the score join); "
    "at 100 TB the rank becomes per-partition heap + tiny driver merge. "
    "The exactness baseline every ANN run is measured against.",
)
def knn_cosine_brute(spark, sf_dir):
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    return cosine_topk(embeddings, "vec_id", "embedding", _QUERY_IDS, 3)


@query(
    "ann_sign_lsh",
    _E_CTE
    + """
    , coded AS (
      SELECT vec_id, v,
             (CASE WHEN v[1] >= 0 THEN 1 ELSE 0 END)
             + (CASE WHEN v[2] >= 0 THEN 2 ELSE 0 END)
             + (CASE WHEN v[3] >= 0 THEN 4 ELSE 0 END)
             + (CASE WHEN v[4] >= 0 THEN 8 ELSE 0 END)
             + (CASE WHEN v[5] >= 0 THEN 16 ELSE 0 END)
             + (CASE WHEN v[6] >= 0 THEN 32 ELSE 0 END)
             + (CASE WHEN v[7] >= 0 THEN 64 ELSE 0 END)
             + (CASE WHEN v[8] >= 0 THEN 128 ELSE 0 END) AS code
      FROM e
    ), qc AS (
      SELECT vec_id AS qid, v AS qv, code AS qcode FROM coded WHERE vec_id < 5
    ), scored AS (
      SELECT qid, c.vec_id,
             round(list_dot_product(c.v, qv)
                   / (sqrt(list_dot_product(c.v, c.v))
                      * sqrt(list_dot_product(qv, qv))), 4) AS sim
      FROM coded c JOIN qc ON c.code = qc.qcode AND c.vec_id <> qc.qid
    ), ranked AS (
      SELECT qid, vec_id, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) rn
      FROM scored
    )
    SELECT qid, vec_id, sim FROM ranked WHERE rn <= 3
    """,
    "ANN via deterministic sign-LSH: 8-bit bucket code from component "
    "signs; candidates restricted to the query's bucket (expected 1/256 of "
    "the corpus), then exact cosine within. Scale: the corpus shuffles "
    "once on the code; queries broadcast. Deterministic planes → "
    "oracle-checkable, unlike random-hyperplane LSH.",
)
def ann_sign_lsh(spark, sf_dir):
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    return ann_sign_lsh_topk(embeddings, "vec_id", "embedding", _QUERY_IDS, 3, bits=8)


def _rand_lsh_sql(bits: int = 8, dim: int = 64, k: int = 3) -> str:
    """DuckDB twin of the random-hyperplane LSH search: identical inlined
    plane literals, identical exact-int code arithmetic (1-based list
    indexing), same bucket-join + rank tail as the sign-LSH oracle."""
    from amsterdam_map_data_wrangling_spark.operators.similarity import (
        rand_lsh_code_sql,
    )

    code = rand_lsh_code_sql("qv", bits, dim, one_based=True)
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    eq AS (
      SELECT vec_id, v,
             list_transform(v, x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS qv
      FROM e
    ), coded AS (
      SELECT vec_id, v, {code} AS code FROM eq
    ), qc AS (
      SELECT vec_id AS qid, v AS qv, code AS qcode FROM coded WHERE vec_id < 5
    ), scored AS (
      SELECT qid, c.vec_id,
             round(list_dot_product(c.v, qv)
                   / (sqrt(list_dot_product(c.v, c.v))
                      * sqrt(list_dot_product(qv, qv))), 4) AS sim
      FROM coded c JOIN qc ON c.code = qc.qcode AND c.vec_id <> qc.qid
    ), ranked AS (
      SELECT qid, vec_id, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) rn
      FROM scored
    )
    SELECT qid, vec_id, sim FROM ranked WHERE rn <= {k}
    """


#: RETIRED from the gate registry at r17 under the N=150 saturation
#: policy (its slot went to bound_doc_width_roundtrip — the r16 verdict
#: asked for a driver gate on the round's headline operator). Lowest-
#: marginal-evidence criterion: of the six gated ANN variants this was
#: the closest twin (ann_sign_lsh shares the identical bucket-join +
#: exact-cosine-within-bucket plan shape; only the hash family differs),
#: and the seeded-plane/quantized-projection semantics stay value-gated
#: against this same oracle in tests/test_retired.py.
ANN_RAND_LSH_ORACLE = _rand_lsh_sql(8, 64, 3)


def ann_rand_lsh(spark, sf_dir):
    """ANN via SEEDED random-hyperplane LSH: 8 planes with md5-derived
    integer coefficients (inlined literals, reproducible from the seed
    alone), signs taken over exact-int quantized projections so both
    engines compute identical buckets — the production LSH family, where
    axis-aligned sign codes skew on correlated embeddings. Scale:
    identical to ann_sign_lsh — corpus shuffles once on the code,
    queries broadcast, exact cosine only within the bucket."""
    from amsterdam_map_data_wrangling_spark.operators.similarity import (
        ann_rand_lsh_topk,
    )

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    return ann_rand_lsh_topk(embeddings, "vec_id", "embedding", _QUERY_IDS, 3, bits=8)


def _ivf_learned_sql(iters: int = 2, dim: int = 64, k: int = 3) -> str:
    """DuckDB twin of the learned-centroid IVF: the Lloyd CTE chain from
    operators/similarity.lloyd_assign_sql (the value-exact oracle twin of
    the Spark-side stepwise Lloyd), with the single-probe search/rank tail
    appended."""
    from amsterdam_map_data_wrangling_spark.operators.similarity import (
        lloyd_assign_sql,
    )

    lloyd = lloyd_assign_sql(iters=iters, dim=dim)
    head, final = lloyd.rsplit("SELECT", 1)
    return (
        head
        + f""", assign AS (SELECT{final.rstrip()})
    , q AS (
      SELECT vec_id AS qid, v AS qv, cell AS qcell FROM assign WHERE vec_id < 5
    )
    , scored AS (
      SELECT qid, a.vec_id,
             round(list_dot_product(a.v, qv)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(qv, qv))), 4) AS sim
      FROM assign a JOIN q ON a.cell = q.qcell AND a.vec_id <> q.qid
    ), ranked AS (
      SELECT qid, vec_id, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) rn
      FROM scored
    )
    SELECT qid, vec_id, sim FROM ranked WHERE rn <= {k}
    """
    )


@query(
    "ann_ivf",
    _ivf_learned_sql(2, 64, 3),
    "IVF ANN with LEARNED cells: 2 seeded Lloyd iterations refine a "
    "FIXED-SIZE seed set (64 centroids drawn by portable-md5 sample — "
    "cell count independent of corpus size, so the broadcast centroid "
    "array and per-vector argmax stay O(n_cells·dim) at any scale), then "
    "search restricted to the query's cell. Exact-integer "
    "quantized arithmetic makes the whole iteration bit-reproducible in "
    "DuckDB — centroids are int64 SUM vectors (cosine is scale-invariant), "
    "so no float aggregation ever diverges. Scale: assignment is a "
    "ZERO-shuffle narrow argmax against the broadcast centroid array; each "
    "update is one tiny map-side-combined aggregation; the search join "
    "shuffles the corpus once on the cell key.",
)
def ann_ivf(spark, sf_dir):
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    return ivf_topk(embeddings, "vec_id", "embedding", _QUERY_IDS, 3)


@query(
    "embedding_label_stats",
    """
    SELECT label,
           COUNT(*) AS n_vecs,
           round(avg(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])))), 4)
             AS avg_norm
    FROM embeddings GROUP BY label ORDER BY label
    """,
    "Per-cluster-label embedding stats (count, mean L2 norm) — the sanity "
    "profile of a vector corpus. Scale: narrow per-row norm, tiny agg "
    "shuffle on the label key.",
)
def embedding_label_stats(spark, sf_dir):
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    return (
        embeddings.select("label", l2_norm(v).alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
        )
        .orderBy("label")
    )


@query(
    "embedding_near_dup_pairs",
    _E_CTE
    + """
    , coded AS (
      SELECT vec_id, v,
             (CASE WHEN v[1] >= 0 THEN 1 ELSE 0 END)
             + (CASE WHEN v[2] >= 0 THEN 2 ELSE 0 END)
             + (CASE WHEN v[3] >= 0 THEN 4 ELSE 0 END)
             + (CASE WHEN v[4] >= 0 THEN 8 ELSE 0 END)
             + (CASE WHEN v[5] >= 0 THEN 16 ELSE 0 END)
             + (CASE WHEN v[6] >= 0 THEN 32 ELSE 0 END) AS code
      FROM e
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 4) AS sim
    FROM coded a JOIN coded b ON a.code = b.code AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))) >= 0.35
    """,
    "Embedding-cosine near-duplicate detection with 6-bit sign-LSH "
    "blocking — the embedding leg of the dedup family. Scale: the pair "
    "join is blocked on the code (64 buckets here; more bits at scale), "
    "never all-pairs across the corpus. Threshold 0.35 is tuned to this "
    "synthetic corpus (which contains no true duplicate embeddings; "
    "max in-bucket cosine ≈ 0.51) so the gate checks real pairs — a real "
    "dedup run would use ≥ 0.9.",
)
def embedding_near_dup_pairs(spark, sf_dir):
    from amsterdam_map_data_wrangling_spark.operators.similarity import (
        bucketed_pair_cosines,
        sign_lsh_code,
    )

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    # DATA-ADAPTIVE code width (r10 sf1 soak finding): with a fixed
    # 6-bit code the in-bucket pair expansion is Σ C(load, 2) —
    # quadratic in corpus size over a constant 64 buckets (measured
    # 54x cost at 10x vectors). Target ~32 vectors per bucket:
    # bits = max(6, ceil(log2(n/32))), capped at 20 — exactly 6 at the
    # gate SFs (200 and 2k vectors), so the DuckDB oracle's literal
    # 6-bit code stays value-identical where it gates; above that the
    # hash space grows with the corpus and cost stays ~linear. The
    # price is the documented sign-LSH recall curve (more bits = fewer
    # low-cosine collisions) — the operator is exact-at-gate,
    # approximate-blocking at scale, like every LSH method. The count
    # is one columnar metadata-cheap action, same class as the IVF
    # seed sample — and MEMOIZED per (session, sf_dir, data
    # fingerprint) so merely re-BUILDING the plan (plan-invariant
    # tests, catalog tooling) doesn't re-pay a Spark action (r10
    # ADVICE); clear_graph_memo() resets it with the other shared
    # relations, so bench passes each pay it exactly once.
    n = _corpus_count(spark, sf_dir, embeddings)
    bits = _adaptive_sign_bits(n)
    coded = embeddings.select(
        "vec_id",
        v.alias("v"),
        l2_norm(v).alias("nrm"),
        sign_lsh_code(v, bits).alias("code"),
    )
    # Within-bucket pairing via the numpy grouped-map kernel, not a
    # self-join (r13 200x soak, measured ladder in PLANS.md): the join
    # evaluated the interpreted HOF dot per candidate pair INSIDE the
    # SMJ condition (Catalyst collapses the staged sim projection into
    # the join predicate — the r6 "project before filter" staging no
    # longer protects here), measuring 37+ min at 40M in-bucket pairs;
    # an unrolled codegen chain measured 5x worse than the fold. The
    # kernel's dim-order Gram accumulation is bit-identical to the JVM
    # fold (hash gates prove it: 39.5 s -> 6.2 s at 100x), and its
    # recursive hot-bucket sign-split bounds the quadratic candidate
    # work under local code skew (the 200x dir put 10% of the corpus in
    # ONE bucket — real embedding spaces skew the same way, signs are
    # not centered). Same single code-key shuffle as the join had;
    # rounding stays JVM-side for engine portability.
    # r14: pathological codes additionally pre-split JVM-SIDE before
    # Arrow delivery (r13 ADVICE #2 matured into the plan): a code at
    # >= 32,768 rows (~1000x the ~32-target load) gets the group key
    # salted by 3 raw-dim signs past the code width, bounding the
    # per-thread pandas materialization AND measured 1.7x faster at the
    # sf20 sign-skew corpus (27.3 -> 16.4 s for the pair stage, 0.086%
    # fewer emitted pairs — the split-observability accumulators
    # quantify the trade; see PLANS.md "Split observability at the sf20
    # sign-skew corpus"). Gate safety is STRUCTURAL and free: a corpus
    # smaller than the threshold cannot contain a hot code, so the
    # (memoized) n gates the one extra action and the gate SFs take the
    # empty-list path — salt is a literal 0 and the plan is byte-for-
    # byte the r13 plan.
    hot = (
        [] if n < 32_768 else _hot_codes(spark, sf_dir, coded, bits, 32_768)
    )
    if hot:
        # r14 ADVICE: the presplit path emits measurably fewer pairs
        # (~0.086% at the sf20 skew corpus) and the gated plans run
        # without the accumulator harness — announce the divergence
        # from all-pairs semantics once per build so scale runs can
        # see it in the driver log without extra instrumentation
        print(
            f"[embedding_near_dup_pairs] hot-code presplit ACTIVE: "
            f"{len(hot)} hot code(s) at n={n} rows — pair output is the "
            f"documented presplit semantics (slightly fewer cross-sub-"
            f"bucket pairs), not all-within-bucket pairs",
            flush=True,
        )
    return bucketed_pair_cosines(
        coded,
        threshold=0.35,
        presplit_bits=3,
        presplit_skip_dims=bits,
        presplit_min_rows=32_768,
        presplit_hot_codes=hot,
    ).select("id_a", "id_b", F.round("sim", 4).alias("sim"))


@query(
    "embedding_norm_zscores",
    """
    WITH nrm AS (
      SELECT vec_id, label,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    )
    SELECT vec_id, label,
           round((nrm - avg(nrm) OVER (PARTITION BY label))
                 / stddev_samp(nrm) OVER (PARTITION BY label), 4) AS z
    FROM nrm
    """,
    "Per-label z-score of embedding norms computed through grouped "
    "applyInPandas (Arrow-batched pandas per label group) — the "
    "grouped-map UDF surface, gated against a pure-SQL window oracle. "
    "Scale: the JVM computes the norms; only (id, label, norm) crosses "
    "the Arrow boundary, one shuffle on the label key — the shape for "
    "any per-group Python-library step.",
)
def embedding_norm_zscores(spark, sf_dir):
    from amsterdam_map_data_wrangling_spark.operators.similarity import (
        label_norm_zscores,
    )

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    return label_norm_zscores(embeddings, "vec_id", "embedding", "label")


@query(
    "ann_sq8_rerank",
    _E_CTE
    + """
    , dims AS (
      SELECT vec_id, d.i, v[d.i] AS x FROM e, unnest(range(1, 65)) AS d(i)
    ), stats AS (
      SELECT i, max(abs(x)) AS s FROM dims GROUP BY i
    ), codes AS (
      SELECT vec_id, i,
             CASE WHEN s > 0
                  THEN CAST(floor(x / s * 127.0 + 0.5) AS BIGINT)
                  ELSE 0 END AS c
      FROM dims JOIN stats USING (i)
    ), adots AS (
      SELECT b.vec_id AS qid, a.vec_id, CAST(SUM(a.c * b.c) AS BIGINT) AS adot
      FROM codes a JOIN codes b ON a.i = b.i
      WHERE b.vec_id < 5 AND a.vec_id <> b.vec_id
      GROUP BY b.vec_id, a.vec_id
    ), pool AS (
      SELECT qid, vec_id,
             row_number() OVER (
               PARTITION BY qid ORDER BY adot DESC, vec_id) AS prnk
      FROM adots
    ), rr AS (
      SELECT p.qid, p.vec_id,
             round(list_dot_product(cv.v, qv.v)
                   / (sqrt(list_dot_product(cv.v, cv.v))
                      * sqrt(list_dot_product(qv.v, qv.v))), 4) AS sim
      FROM pool p
      JOIN e cv ON cv.vec_id = p.vec_id
      JOIN e qv ON qv.vec_id = p.qid
      WHERE p.prnk <= 20
    ), ranked AS (
      SELECT qid, vec_id, sim,
             row_number() OVER (
               PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
      FROM rr
    )
    SELECT qid, vec_id, sim, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
    "Scalar-quantization (int8) ANN with exact rerank — the embedding-"
    "COMPRESSION search path beside bucketing (LSH/IVF): per-dimension "
    "symmetric per-dimension scales (max |x|) train on the corpus, "
    "every vector compresses to a signed 8-bit code per dimension "
    "(symmetric, not affine: an affine code's bias cross-term swamps "
    "the dot signal — measured recall@20 2/15 vs 15/15), candidates "
    "are generated by INTEGER code dot products (bit-identical "
    "cross-engine: the chain floor(x/s*127+0.5) is correctly-rounded "
    "IEEE "
    "ops on float32-exact inputs, so the pool itself is engine-exact), "
    "and the top-20 pool per query reranks with the true double cosine "
    "(round-4, vec_id tie-break — the brute convention). At 100 TB the "
    "code column is the resident working set (16x smaller than "
    "float64) and original vectors are touched for only "
    "queries x pool rows. Scale: 64-row stats broadcast, one pack "
    "aggregation, broadcast query codes, zero corpus shuffle.",
)
def ann_sq8_rerank(spark, sf_dir):
    from amsterdam_map_data_wrangling_spark.operators.similarity import (
        sq8_rerank_topk,
    )

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    return sq8_rerank_topk(
        embeddings, "vec_id", "embedding", _QUERY_IDS, k=3, rerank_pool=20
    )


def _pq_adc_sql(
    m: int = 4,
    n_cells: int = 16,
    iters: int = 2,
    dim: int = 64,
    sample_n: int = 256,
    k: int = 3,
    pool: int = 20,
    seed: str = "spark-graft",
) -> str:
    """Generate the DuckDB replay of the whole PQ-ADC chain: seeded
    sample → per-subspace Lloyd (assignment by exact-int squared L2,
    centroid update by REQUANTIZED mean — floor(SUM/COUNT + 0.5), the
    same correctly-rounded IEEE division the driver numpy computes) →
    corpus encode → per-query distance tables → integer ADC pool →
    true-cosine rerank. Iterations are unrolled CTE pairs like
    lloyd_assign_sql; every quantity the pool depends on is an exact
    integer, so the candidate sets cannot drift between engines."""
    from amsterdam_map_data_wrangling_spark.operators.similarity import (
        _seed_hash_duckdb,
    )

    sub_d = dim // m
    d2 = (
        "(list_dot_product({a}, {a}) - 2*list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b}))"
    )
    parts = [
        f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    eq AS (
      SELECT vec_id, v,
             list_transform(v, x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))
               AS qv
      FROM e
    ), seedord AS (
      SELECT vec_id, qv,
             row_number() OVER (
               ORDER BY {_seed_hash_duckdb(seed)}, vec_id) AS rk
      FROM eq
    ), subs AS (SELECT unnest(range(0, {m})) AS sub),
    samp AS (
      SELECT vec_id, rk, s.sub,
             qv[1 + s.sub*{sub_d} : (s.sub+1)*{sub_d}] AS sv
      FROM seedord, subs s WHERE rk <= {sample_n}
    ), c0 AS (
      SELECT sub, rk AS cell, sv AS cv FROM samp WHERE rk <= {n_cells}
    )"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", a{i} AS (
      SELECT vec_id, sub, cell FROM (
        SELECT b.vec_id, b.sub, c.cell,
               row_number() OVER (PARTITION BY b.vec_id, b.sub
                 ORDER BY {d2.format(a="b.sv", b="c.cv")}, c.cell) AS rn
        FROM samp b JOIN c{i - 1} c ON c.sub = b.sub
      ) WHERE rn = 1
    ), comp{i} AS (
      SELECT a.sub, a.cell, d.j,
             CAST(SUM(b.sv[d.j]) AS DOUBLE) AS sx, COUNT(*) AS cnt
      FROM a{i} a JOIN samp b ON b.vec_id = a.vec_id AND b.sub = a.sub,
           unnest(range(1, {sub_d + 1})) AS d(j)
      GROUP BY a.sub, a.cell, d.j
    ), c{i} AS (
      SELECT sub, cell,
             list(CAST(floor(sx / cnt + 0.5) AS BIGINT) ORDER BY j) AS cv
      FROM comp{i} GROUP BY sub, cell
    )"""
        )
    parts.append(
        f""", allsub AS (
      SELECT vec_id, s.sub,
             qv[1 + s.sub*{sub_d} : (s.sub+1)*{sub_d}] AS sv
      FROM eq, subs s
    ), enc AS (
      SELECT vec_id, sub, cell FROM (
        SELECT b.vec_id, b.sub, c.cell,
               row_number() OVER (PARTITION BY b.vec_id, b.sub
                 ORDER BY {d2.format(a="b.sv", b="c.cv")}, c.cell) AS rn
        FROM allsub b JOIN c{iters} c ON c.sub = b.sub
      ) WHERE rn = 1
    ), qtab AS (
      SELECT qs.vec_id AS qid, qs.sub, c.cell,
             {d2.format(a="qs.sv", b="c.cv")} AS qd2
      FROM allsub qs JOIN c{iters} c ON c.sub = qs.sub
      WHERE qs.vec_id < 5
    ), adist AS (
      SELECT t.qid, x.vec_id, CAST(SUM(t.qd2) AS BIGINT) AS adist
      FROM enc x JOIN qtab t ON t.sub = x.sub AND t.cell = x.cell
      WHERE x.vec_id <> t.qid
      GROUP BY t.qid, x.vec_id
    ), pq_pool AS (
      SELECT qid, vec_id,
             row_number() OVER (
               PARTITION BY qid ORDER BY adist, vec_id) AS prnk
      FROM adist
    ), rr AS (
      SELECT p.qid, p.vec_id,
             round(list_dot_product(cv.v, qv.v)
                   / (sqrt(list_dot_product(cv.v, cv.v))
                      * sqrt(list_dot_product(qv.v, qv.v))), 4) AS sim
      FROM pq_pool p
      JOIN e cv ON cv.vec_id = p.vec_id
      JOIN e qv ON qv.vec_id = p.qid
      WHERE p.prnk <= {pool}
    ), ranked AS (
      SELECT qid, vec_id, sim,
             row_number() OVER (
               PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
      FROM rr
    )
    SELECT qid, vec_id, sim, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {k}
    """
    )
    return "".join(parts)


@query(
    "ann_pq_adc",
    _pq_adc_sql(m=16, n_cells=32),
    "Product-quantization ANN with asymmetric-distance scoring (ADC, "
    "Jegou et al. 2011) and exact rerank — the LEARNED compression "
    "path completing the ANN family (brute / LSH buckets / IVF cells / "
    "SQ8 scalar codes / PQ codebooks): 4 subspaces x 16 centroids "
    "trained by seeded Lloyd on a bounded hash-sample (the IVF sketch-"
    "and-solve shape — driver numpy, corpus-independent cost), corpus "
    "encoded to 4 cell ids per vector in one zero-shuffle Arrow pass, "
    "per-query distance TABLES broadcast, candidates scored by m table "
    "lookups + an integer sum, top-20 pool reranked with the true "
    "cosine. Engine-exact end to end: assignment compares exact-int "
    "squared L2; centroid updates REQUANTIZE the mean (floor(sum/count "
    "+ 0.5) — correctly-rounded IEEE division on exact-int doubles, "
    "bit-identical on any engine), so codebooks, codes, tables, and "
    "the ADC pool all match the unrolled DuckDB replay exactly; only "
    "the rerank cosine needs round-4. Parameters chosen by measured "
    "recall on this corpus (random unit vectors are PQ's hardest case "
    "— no cluster structure): 4x16 recalled 5/15 of the true top-3 at "
    "pool 20, 16x32 recalls 14/15. At 100 TB the resident set is "
    "codes (16 x 5 bits/vector vs 512 B of floats); raw vectors are "
    "touched for queries x pool rows only.",
)
def ann_pq_adc(spark, sf_dir):
    from amsterdam_map_data_wrangling_spark.operators.similarity import (
        pq_adc_topk,
    )

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    return pq_adc_topk(
        embeddings, "vec_id", "embedding", _QUERY_IDS,
        k=3, m=16, n_cells=32, lloyd_iters=2, sample_n=256, rerank_pool=20,
    )

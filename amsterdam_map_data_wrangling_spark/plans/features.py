"""Feature-engineering gates: winsorization, robust z-scores, the
unigram-LM quality score, and the two exact-k samplers — the
numeric/sampling half of the LLM-pipeline operator families (the text
half lives in plans/text.py). Registered at round 7 from the validated
r07 queue (hash-green at both SFs since round 6).

Float-gate conventions as the rest of the catalog (plans/catalog.py
module docstring): winsorized sums gated in exact integer cents,
medians/MADs and LM means gated rounded, samplers gated exactly (pure
integer/hash algebra).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from amsterdam_map_data_wrangling_spark.operators.features import (
    robust_zscores,
    unigram_logprob_scores,
    weighted_sample_per_group,
    winsorize,
)
from amsterdam_map_data_wrangling_spark.plans.catalog import _t, query


@query(
    "winsorize_price_stats",
    """
    WITH cuts AS (
      SELECT quantile_cont(o_totalprice, 0.05) AS lo,
             quantile_cont(o_totalprice, 0.95) AS hi
      FROM orders
    )
    SELECT CAST(SUM(CASE WHEN o_totalprice < lo THEN 1 ELSE 0 END)
                AS BIGINT) AS clipped_lo,
           CAST(SUM(CASE WHEN o_totalprice > hi THEN 1 ELSE 0 END)
                AS BIGINT) AS clipped_hi,
           CAST(SUM(CAST(round(least(greatest(o_totalprice, lo), hi) * 100)
                    AS BIGINT)) AS BIGINT) AS winsorized_cents
    FROM orders CROSS JOIN cuts
    """,
    "Winsorization — the robust-scaling prep step for numeric features "
    "feeding model training: clip a column at its [5th, 95th] "
    "percentiles and count the clipped tails. Cut points are an exact "
    "percentile aggregate (Spark percentile == DuckDB quantile_cont, "
    "the equivalence value_percentiles_by_type already gates) carried "
    "as a broadcast 1-row relation; the clamp is a narrow "
    "least(greatest(...)) map — the whole operator adds one tiny "
    "aggregate, no shuffle of the data column. The 100 TB variant swaps "
    "in approx_percentile (mergeable sketch, no full sort) via the "
    "operator's approx flag. Totals gated in exact integer cents; NULL "
    "inputs propagate as NULL rather than clamping to the lower cut "
    "(r6 ADVICE guard, exercised by tests/test_features.py).",
)
def winsorize_price_stats(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")
    w = winsorize(orders, "o_totalprice", 0.05, 0.95)
    return w.agg(
        F.sum(F.when(F.col("clip_flag") == -1, 1).otherwise(0)).alias(
            "clipped_lo"
        ),
        F.sum(F.when(F.col("clip_flag") == 1, 1).otherwise(0)).alias(
            "clipped_hi"
        ),
        F.sum(
            F.round(F.col("o_totalprice_w") * 100).cast("bigint")
        ).alias("winsorized_cents"),
    )


@query(
    "robust_z_by_priority",
    """
    WITH med AS (
      SELECT o_orderpriority AS g, quantile_cont(o_totalprice, 0.5) AS med
      FROM orders GROUP BY g
    ), mad AS (
      SELECT o.o_orderpriority AS g,
             quantile_cont(abs(o.o_totalprice - m.med), 0.5) AS mad
      FROM orders o JOIN med m ON o.o_orderpriority = m.g
      GROUP BY o.o_orderpriority
    )
    SELECT m.g, round(m.med, 4) AS med_r, round(d.mad, 4) AS mad_r,
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE o.o_orderpriority = m.g AND d.mad > 0
                   AND abs((o.o_totalprice - m.med) / (1.4826 * d.mad)) > 2)
                AS BIGINT) AS n_outliers
    FROM med m JOIN mad d ON m.g = d.g
    ORDER BY m.g
    """,
    "Median/MAD robust z-scores per group — the outlier-resistant "
    "standardization ((x - median) / (1.4826 * MAD)): per-priority "
    "medians, MADs, and the count of |z| > 2 outliers. Two aggregation "
    "passes by construction (MAD needs the median first), each a tiny "
    "per-group relation joined back broadcast; the data column never "
    "shuffles. Degenerate MAD = 0 groups yield NULL scores (not ±inf) "
    "and count zero outliers — the oracle mirrors the guard with "
    "d.mad > 0 in the outlier predicate (r6 ADVICE: an unguarded "
    "oracle would count every row of a zero-MAD group).",
)
def robust_z_by_priority(spark, sf_dir):
    # keep_stats=True: the operator's own per-group median/MAD relations
    # feed the report, so the query runs exactly TWO percentile passes
    # (an earlier build recomputed both outside the operator — four
    # passes, 1.7 s at sf0.1; this shape is ~2x cheaper)
    (orders,) = _t(spark, sf_dir, "orders")
    rz = robust_zscores(
        orders, "o_totalprice", by="o_orderpriority", keep_stats=True
    )
    return (
        rz.groupBy(F.col("o_orderpriority").alias("g"))
        .agg(
            F.first("o_totalprice_med").alias("med"),
            F.first("o_totalprice_mad").alias("mad"),
            F.sum(
                F.when(F.abs(F.col("o_totalprice_rz")) > 2, 1).otherwise(0)
            ).alias("n_outliers"),
        )
        .select(
            "g",
            F.round("med", 4).alias("med_r"),
            F.round("mad", 4).alias("mad_r"),
            "n_outliers",
        )
        .orderBy("g")
    )


@query(
    "unigram_lm_scores",
    r"""
    WITH th AS (
      SELECT doc_id AS id,
             ('0x' || substr(md5(unnest(
               string_split_regex(trim(text), '\s+'))), 1, 15))::BIGINT AS t
      FROM documents
    ), model AS (
      SELECT t, COUNT(*) AS c FROM th GROUP BY t
    ), totals AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n_total,
             CAST(COUNT(*) AS BIGINT) AS n_vocab
      FROM model
    )
    SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           round(AVG(ln(CAST(c + 1 AS DOUBLE)
                 / CAST(n_total + n_vocab AS DOUBLE))), 6) AS mean_lp_r
    FROM th JOIN model USING (t) CROSS JOIN totals
    GROUP BY id
    """,
    "Per-document mean unigram log-probability under the corpus's own "
    "add-one-smoothed unigram model — the CCNet/KenLM-style statistical-"
    "LM quality signal (perplexity filtering): rare/garbled vocabulary "
    "scores low, boilerplate scores high. Model and scoring in one "
    "pipeline, no driver round-trip: token counts aggregate once "
    "(md5-hashed terms — strings never shuffle), the vocabulary-sized "
    "model joins back on the term hash (broadcastable when the vocab "
    "is; left to AQE), one per-doc aggregation. At 100 TB: train on a "
    "sample, score the full corpus — same plan, smaller model side. "
    "ln on exact integer ratios → identical doubles per token; the "
    "float MEAN gated rounded to 6, per the tfidf family convention.",
)
def unigram_lm_scores(spark, sf_dir):
    from amsterdam_map_data_wrangling_spark.plans.text import (
        _parquet_col_max,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    # wide-row adaptive path (r15 soak: the axis's worst wall at 8.4x —
    # the split+md5 of a 48 MB doc is atomic in its reading task and
    # runs twice). Footer-metadata probe as in doc_rolling_fingerprint;
    # narrow corpora (every gate/bench SF) keep the registered plan
    # byte-identical, wide corpora token-segment the huge docs so the
    # hashing parallelizes (token multiset identical; the 6-decimal
    # rounding absorbs the partial-sum re-association, same error class
    # as any hash-agg order change).
    mx = _parquet_col_max(f"{sf_dir}/documents.parquet", "n_chars")
    if mx is None:
        mx = documents.agg(F.max("n_chars")).first()[0]
    wide = None if (mx is not None and mx <= 65_536) else 65_536
    return unigram_logprob_scores(
        documents, "doc_id", "text", wide_chars=wide
    ).select(
        "id",
        "n_tokens",
        F.round("mean_logprob", 6).alias("mean_lp_r"),
    )


@query(
    "weighted_sample_per_group",
    """
    WITH keyed AS (
      SELECT source, doc_id,
             ln((('0x' || substr(md5('wsamp|spark-graft|'
                 || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 1)
                / 4503599627370496.0) / n_chars AS k
      FROM documents WHERE n_chars > 0
    ), ranked AS (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source ORDER BY k DESC, doc_id) AS rnk
      FROM keyed
    )
    SELECT source, doc_id FROM ranked WHERE rnk <= 4
    """,
    "Weighted sampling without replacement, exactly min(k, |group|) "
    "rows per group — the A-ES scheme (Efraimidis & Spirakis 2006): "
    "u ~ U(0,1] from the portable hash, rank by ln(u)/w (the classic "
    "u^(1/w) key in overflow-free log space), keep the top 4 per "
    "source weighted by document length. Deterministic and retry-"
    "stable like its uniform sibling; ln/division are IEEE-identical "
    "cross-engine on the exact-integer hash inputs, so the SELECTED "
    "IDS are gated exactly (the float key never reaches the output). "
    "Scale: one shuffle on the group key for the window rank.",
)
def weighted_sample_per_group_gate(spark, sf_dir):
    # function named *_gate to avoid shadowing the imported operator
    (documents,) = _t(spark, sf_dir, "documents")
    return weighted_sample_per_group(
        documents, "source", "doc_id", "n_chars", k=4
    ).select("source", "doc_id")


@query(
    "ols_price_trend_by_priority",
    """
    WITH pts AS (
      SELECT o_orderpriority AS g,
             date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
               AS x,
             CAST(round(o_totalprice / 100) AS BIGINT) AS y
      FROM orders
    ), sums AS (
      SELECT g,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
      FROM pts GROUP BY g
    )
    SELECT g,
           CAST(n AS BIGINT) AS n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 8) AS slope_r,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                 / n, 6) AS intercept_r,
           round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 8) AS r2_r
    FROM sums ORDER BY g
    """,
    "Grouped closed-form OLS — per-priority linear trend of order value "
    "over time (slope, intercept, R²) from the five classical sufficient "
    "statistics (n, Σx, Σy, Σx², Σy², Σxy): THE distributed-regression "
    "shape — one aggregation pass produces mergeable exact-integer "
    "sums, the fit is driver-free arithmetic on five numbers per group. "
    "Determinism discipline: the sufficient statistics accumulate in "
    "DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — the r14 re-contract; "
    "the r13 key-domain harness showed the int64 y*y statistic "
    "overflows BOTH engines at 100 TB-representative cents domains — "
    "then each widened exact-integer sum takes ONE correctly-rounded "
    "cast to DOUBLE, so in-domain outputs (sums < 2^53, exact in both "
    "paths) are bit-identical to the int64 contract this replaces, and "
    "the formula is total at any value domain. Both engines evaluate "
    "the IDENTICAL formula over identical exact-valued doubles — each "
    "op correctly rounded, so slope/intercept/R² are bit-equal before "
    "the rounding (Spark's regr_slope/regr_* were deliberately NOT "
    "used: their streaming-covariance accumulation is engine-"
    "specific). Scale: one shuffle on the group key; the model side is "
    "6 numbers per group regardless of data size.",
)
def ols_price_trend_by_priority(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")
    x = F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
    y = F.round(F.col("o_totalprice") / 100).cast("long")
    pts = orders.select(
        F.col("o_orderpriority").alias("g"), x.alias("x"), y.alias("y")
    )
    # r14 re-contract: the sufficient statistics accumulate in
    # DECIMAL(38,0) (oracle: HUGEINT) so no sum can overflow at any
    # value domain; each widened sum then takes one correctly-rounded
    # cast to double (in-domain bit-identical to the int64 path it
    # replaced, since the sums stay < 2^53 there). Decimal MULTIPLY —
    # measurably ~1.5x the long multiply — is used only where the
    # per-row product itself can exceed int64: y*y (y ~ 4e9 at shifted
    # cents domains -> y*y ~ 1.6e19 > 2^63). x is epoch DAYS (dates are
    # never domain-shifted; |x| < 3e3), so x*x < 1e7 and x*y < ~1e13
    # stay exact in long and only their SUMS widen.
    xl = F.col("x").cast("long")
    yl = F.col("y")
    yd = yl.cast("decimal(38,0)")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    sums = pts.groupBy("g").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(dec(xl)).cast("double").alias("sx"),
        F.sum(dec(yl)).cast("double").alias("sy"),
        F.sum(dec(xl * xl)).cast("double").alias("sxx"),
        F.sum(yd * yl).cast("double").alias("syy"),
        F.sum(dec(xl * yl)).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    num = n * sxy - sx * sy
    denx = n * sxx - sx * sx
    slope = num / denx
    return sums.select(
        "g",
        n.cast("bigint").alias("n"),
        F.round(slope, 8).alias("slope_r"),
        F.round((sy - slope * sx) / n, 6).alias("intercept_r"),
        F.round((num * num) / (denx * (n * syy - sy * sy)), 8).alias("r2_r"),
    ).orderBy("g")

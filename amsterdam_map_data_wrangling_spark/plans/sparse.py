r"""Sparse-similarity and set-sketch gates: TF-IDF cosine pairs, Bloom
vocabulary overlap, and benchmark decontamination (the REMOVAL stage on
top of the detection gate in plans/text.py).
Registered at round 7 from the validated r07 queue.

Float-gate conventions: cosines rounded to 4 (the tfidf family's
convention); Bloom and decontamination outputs are exact integers.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from amsterdam_map_data_wrangling_spark.operators.sparse import (
    bloom_blocks,
    bloom_pairwise_overlap,
    decontaminate,
    gram_hashes,
    sparse_cosine_pairs,
)
from amsterdam_map_data_wrangling_spark.plans.catalog import _t, query

_SPARSE_COSINE_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id AS id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents
    ), th AS (
      SELECT id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS t FROM toks
    ), tf AS (
      SELECT id, t, COUNT(*) AS tf FROM th GROUP BY id, t
    ), dfreq AS (
      SELECT t, COUNT(*) AS df FROM tf GROUP BY t
    ), nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    w AS (
      SELECT id, tf.t,
             CAST(tf AS DOUBLE) * (ln(CAST(n_docs + 1 AS DOUBLE)
               / CAST(df + 1 AS DOUBLE)) + 1.0) AS w
      FROM tf JOIN dfreq ON tf.t = dfreq.t CROSS JOIN nd
      WHERE df <= 50
    ), norms AS (
      SELECT id, sqrt(SUM(w * w)) AS nrm FROM w GROUP BY id
    ), dots AS (
      SELECT a.id AS id_a, b.id AS id_b, SUM(a.w * b.w) AS dot
      FROM w a JOIN w b ON a.t = b.t AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 4) AS cosine_r
    FROM dots
    JOIN norms na ON na.id = id_a
    JOIN norms nb ON nb.id = id_b
    WHERE dot / (na.nrm * nb.nrm) >= 0.3
"""


@query(
    "sparse_cosine_pairs",
    _SPARSE_COSINE_ORACLE,
    "TF-IDF-weighted sparse cosine pairs (threshold 0.3, df-cap 50) — "
    "the lexical similarity family next to MinHash/Jaccard (near-"
    "identical boilerplate) and dense embeddings (semantic): topical/"
    "partial overlap that shingle methods miss. Never all-pairs: pairs "
    "exist ONLY through shared surviving terms (term-key self-join "
    "after the df-cap drops stop-terms), three shuffles on sound "
    "high-cardinality keys, term strings never move (md5-hashed to "
    "longs). At 100 TB the df-cap bounds per-term fan-out exactly like "
    "the stop-shingle bound in ngram_jaccard_pairs.",
)
def sparse_cosine_pairs_gate(spark, sf_dir):
    (documents,) = _t(spark, sf_dir, "documents")
    return sparse_cosine_pairs(
        documents.select("doc_id", "text"),
        "doc_id",
        "text",
        threshold=0.3,
        df_cap=50,
    ).select("id_a", "id_b", F.round("cosine", 4).alias("cosine_r"))


@query(
    "bloom_vocab_overlap",
    r"""
    WITH toks AS (
      SELECT source AS g,
             unnest(list_distinct(string_split_regex(trim(text), '\s+')))
               AS t
      FROM documents
    ), pos AS (
      SELECT g, unnest([
               ('0x' || substr(md5(t), 1, 8))::BIGINT % 4096,
               ('0x' || substr(md5(t), 9, 8))::BIGINT % 4096,
               ('0x' || substr(md5(t), 17, 8))::BIGINT % 4096
             ]) AS p
      FROM toks
    ), blocks AS (
      SELECT g, p // 64 AS block,
             bit_or(CASE WHEN p % 64 = 63 THEN -9223372036854775808
                         ELSE (1::BIGINT << CAST(p % 64 AS INT)) END)
               AS bits
      FROM pos GROUP BY g, p // 64
    )
    SELECT a.g AS g_a, b.g AS g_b,
           CAST(SUM(bit_count(a.bits)) AS BIGINT)
             AS bits_a_in_shared_blocks,
           CAST(SUM(bit_count(b.bits)) AS BIGINT)
             AS bits_b_in_shared_blocks,
           CAST(SUM(bit_count(a.bits & b.bits)) AS BIGINT) AS inter_bits
    FROM blocks a JOIN blocks b ON a.block = b.block AND a.g < b.g
    GROUP BY a.g, b.g
    """,
    "Bloom set-sketch vocabulary overlap between sources — the fourth "
    "sketch family (HLL = cardinality, quantiles, count-min = "
    "frequency, Bloom = MEMBERSHIP/overlap) as pure relational data: "
    "per-(group, 64-bit block) bitmap rows built with bit_or "
    "aggregates (no UDF, no driver state; 3 hash positions per token "
    "from disjoint md5 slices), pairwise overlap via one equi-join on "
    "the BLOCK INDEX (never on tokens) + bit_count sums. Mergeable by "
    "construction: union of groups = bit_or of their block rows. At "
    "100 TB the per-group bitmaps are KiB-scale regardless of corpus "
    "size. DuckDB dialect note: 1::BIGINT << 63 raises Out of Range "
    "there (Spark wraps), so bit 63 is the literal INT64_MIN in the "
    "oracle.",
)
def bloom_vocab_overlap_gate(spark, sf_dir):
    (documents,) = _t(spark, sf_dir, "documents")
    blocks = bloom_blocks(
        documents, "source", "text", m_bits=4096, n_hashes=3
    )
    return bloom_pairwise_overlap(blocks)


@query(
    "decontaminate_stats",
    r"""
    WITH toked AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2]
               || ' ' || l[i+3] || ' ' || l[i+4]), 1, 15))::BIGINT AS h
      FROM toked, unnest(range(1, len(l) - 3)) AS r(i)
      WHERE len(l) >= 5
    ), bench AS (
      SELECT DISTINCT h FROM sh WHERE doc_id % 13 = 0
    ), contaminated AS (
      SELECT DISTINCT doc_id FROM sh
      WHERE doc_id % 13 != 0 AND h IN (SELECT h FROM bench)
    )
    SELECT CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 13 != 0)
                AS BIGINT) AS corpus_docs,
           CAST((SELECT COUNT(*) FROM contaminated) AS BIGINT)
             AS removed_docs,
           CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 13 != 0)
                - (SELECT COUNT(*) FROM contaminated) AS BIGINT)
             AS clean_docs,
           CAST(0 AS BIGINT) AS residual_overlap_docs
    """,
    "Benchmark DECONTAMINATION — the removal stage on top of the "
    "detection gate (benchmark_contamination): LEFT ANTI join drops "
    "every training document sharing an exact 5-gram with the "
    "benchmark split (doc_id % 13 == 0 stands in for the eval suites), "
    "then detection RE-RUNS on the surviving docs over the SHARED "
    "checkpointed gram census and its count is gated against a LITERAL "
    "0 in the oracle (the pii_redaction_stats residual-0 contract) — "
    "an anti-join wiring bug flips the residual nonzero, a census bug "
    "flips the independently-recomputed DuckDB count hashes. Scale: "
    "one corpus gram census built once, bench grams broadcast (eval "
    "suites are small by nature), the anti join keeps never-matching "
    "ids — corpus text never moves for the decision.",
)
def decontaminate_stats(spark, sf_dir):
    (documents,) = _t(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % 13 == 0
    bench = documents.filter(is_bench).select("doc_id", "text")
    corpus = (
        documents.filter(~is_bench)
        .select("doc_id", "text")
        .localCheckpoint(eager=False)
    )
    # ONE corpus gram census feeds BOTH the removal decision and the
    # residual re-detection — the r11 plan re-grammed the surviving
    # text for the residual, a second full corpus-scale tokenize+hash
    # pass (the measured sf1 tail, r11 verdict #2). Since r19 the
    # SHARED, checkpointed relation is the distinct CONTAMINATED-id
    # set (bench-matching grams are rare, so this is tiny), not the
    # full token-proportional gram stream: the stream recomputes
    # faster under whole-stage codegen than it round-trips through a
    # row-based checkpoint (the PLANS.md round-10 rule this plan was
    # the documented exception to — the exception only paid while the
    # stream itself was the shared unit). The census is now computed
    # exactly once per pass, fused into the scan, and only ids are
    # ever materialized.
    # Independence accounting for the shared census/ids: a
    # gram-COMPUTATION bug can no longer flip the literal-0 residual
    # (both legs see the same census), but it cannot hide either — the
    # DuckDB oracle recomputes corpus/removed/clean counts from raw
    # text with its own census, so those hashes flip. What the
    # literal-0 still guards non-circularly is the REMOVAL WIRING: an
    # anti-join bug that keeps a contaminated doc leaves that doc's id
    # in the contaminated set, and the residual goes nonzero.
    bench_grams = (
        gram_hashes(bench, "doc_id", "text", n=5).select("h").distinct()
    )
    contaminated_ids = (
        gram_hashes(corpus, "doc_id", "text", n=5)
        .join(F.broadcast(bench_grams), "h")
        .select("id")
        .distinct()
        .localCheckpoint(eager=False)
    )
    clean_ids = (
        decontaminate(
            corpus,
            bench,
            "doc_id",
            "text",
            n=5,
            contaminated_ids=contaminated_ids,
        )
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    # the residual audit reads the ASSIGNMENT output (clean_ids), never
    # the unit construction: contaminated ids that SURVIVED removal
    residual = (
        contaminated_ids.join(
            clean_ids.withColumnRenamed("doc_id", "id"),
            "id",
            "left_semi",
        )
        .agg(F.count("*").alias("residual_overlap_docs"))
    )
    counts = (
        corpus.agg(F.count("*").alias("corpus_docs"))
        .crossJoin(clean_ids.agg(F.count("*").alias("clean_docs")))
        .crossJoin(residual)
    )
    return counts.select(
        F.col("corpus_docs").cast("bigint").alias("corpus_docs"),
        (F.col("corpus_docs") - F.col("clean_docs"))
        .cast("bigint")
        .alias("removed_docs"),
        F.col("clean_docs").cast("bigint").alias("clean_docs"),
        F.col("residual_overlap_docs")
        .cast("bigint")
        .alias("residual_overlap_docs"),
    )


#: the fixed query set for the BM25 gate (query_id -> terms); tiny by
#: nature, broadcast against the inverted index.
_BM25_QUERIES = {
    0: "spark window agg",
    1: "customer query join",
    2: "vector hash merge",
}


@query(
    "bm25_search",
    r"""
    WITH toks AS (
      SELECT doc_id AS id,
             ('0x' || substr(md5(unnest(
               string_split_regex(trim(text), '\s+'))), 1, 15))::BIGINT AS t
      FROM documents
    ), tf AS (
      SELECT id, t, COUNT(*) AS tf FROM toks GROUP BY id, t
    ), dl AS (
      SELECT id, COUNT(*) AS dl FROM toks GROUP BY id
    ), dfreq AS (
      SELECT t, COUNT(*) AS df FROM tf GROUP BY t
    ), stats AS (
      SELECT (SELECT COUNT(DISTINCT doc_id) FROM documents) AS n_docs,
             (SELECT COUNT(*) FROM toks) AS n_toks
    ), q AS (
      SELECT * FROM (VALUES
        (0, 'spark'), (0, 'window'), (0, 'agg'),
        (1, 'customer'), (1, 'query'), (1, 'join'),
        (2, 'vector'), (2, 'hash'), (2, 'merge')) AS v(q_id, term)
    ), qh AS (
      SELECT DISTINCT q_id,
             ('0x' || substr(md5(term), 1, 15))::BIGINT AS t
      FROM q
    ), scored AS (
      SELECT q_id, id,
             SUM(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                 * tf * 2.2
                 / (tf + 1.2 * (1.0 - 0.75
                    + 0.75 * dl / (CAST(n_toks AS DOUBLE) / n_docs))))
               AS score
      FROM tf JOIN qh USING (t) JOIN dfreq USING (t) JOIN dl USING (id)
      CROSS JOIN stats
      GROUP BY q_id, id
    ), ranked AS (
      SELECT q_id, id, score,
             row_number() OVER (
               PARTITION BY q_id ORDER BY score DESC, id) AS rnk
      FROM scored
    )
    SELECT CAST(q_id AS BIGINT) AS q_id, id,
           round(score, 6) AS score_r, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 10
    """,
    "Okapi BM25 ranked retrieval — the search primitive over the same "
    "hashed-term inverted index the TF-IDF family builds: three fixed "
    "queries score every matching document with the standard "
    "idf · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) formula (k1=1.2, "
    "b=0.75) and return the top-10 per query (doc-id tie-break). All "
    "formula inputs are exact integers (tf, df, dl, N, Σdl), so both "
    "engines compute identical per-term doubles; only the ≤3-term SUM "
    "is association-sensitive — gated rounded to 6 per the catalog "
    "convention. Scale: the query relation broadcasts against the tf "
    "stream (map-side), document text is read once, term strings never "
    "shuffle, and the only wide operations are the tf/df aggregations "
    "and one per-query top-k window.",
)
def bm25_search(spark, sf_dir):
    from amsterdam_map_data_wrangling_spark.operators.sparse import bm25_topk

    (documents,) = _t(spark, sf_dir, "documents")
    return bm25_topk(
        documents, "doc_id", "text", _BM25_QUERIES, k=10
    ).select(
        "q_id",
        "id",
        F.round("score", 6).alias("score_r"),
        F.col("rnk").cast("bigint").alias("rnk"),
    )

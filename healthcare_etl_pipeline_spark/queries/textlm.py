"""Round-3 text/LM wave: fastText-style classifier inference, CCNet
perplexity tiers, bigram language modelling, within-document segment
dedup, and content-defined chunking.

All five are value-oracled. Cross-engine float discipline follows the
house rules (registry.py): identical integer arithmetic wherever possible
(the classifier's weight table is integer-derived; the LM smoothing is
integer-ratio), 6-dp rounding on every float output, discrete
rank-selected cutoffs instead of interpolated percentiles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_etl_pipeline_spark.operators.scoring import (
    FEATURE_DIM,
    SCORE_SCALE,
    feature_index_sql,
    weight_sql,
)
from healthcare_etl_pipeline_spark.operators.text import portable_char_hash_sql
from healthcare_etl_pipeline_spark.queries.helpers import t, td
from healthcare_etl_pipeline_spark.queries.registry import query

_DUCK_TOKS = """
toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
  FROM documents
)
"""


@query(
    "classifier_score_docs",
    oracle=f"""
    WITH {_DUCK_TOKS.strip()}
    , s AS (
      SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
             CASE WHEN len(tk) > 0 THEN
               list_aggregate(
                 list_transform(tk, t -> {weight_sql(feature_index_sql("t"))}),
                 'sum') / len(tk)
             ELSE 0.0 END AS mw
      FROM toks
    )
    SELECT doc_id, n_tokens,
           round(1.0 / (1.0 + exp(-({SCORE_SCALE} * mw))), 6) AS quality_score,
           1.0 / (1.0 + exp(-({SCORE_SCALE} * mw))) >= 0.5 AS keep
    FROM s
    """,
    description="fastText-style linear quality-classifier inference: "
    f"tokens hash into a {FEATURE_DIM}-dim feature space whose weights are "
    "an arithmetic function of the index (stand-in for a broadcast trained "
    "vector), mean-pooled through a sigmoid — a map-only stage that adds "
    "zero shuffles to a corpus scan.",
    tags=("llm", "scoring", "classifier"),
)
def classifier_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.scoring import hashed_linear_score

    return hashed_linear_score(td(spark, sf_dir, "documents"))


@query(
    "perplexity_bucket_docs",
    oracle=f"""
    WITH {_DUCK_TOKS.strip()}
    , tok AS (SELECT doc_id, unnest(tk) AS tok FROM toks)
    , vocab AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok)
    , tot AS (SELECT sum(cnt) AS total FROM vocab)
    , lp AS (SELECT tok, ln(cnt / total) AS logp FROM vocab, tot)
    , scored AS (
      SELECT doc_id, count(*) AS n_tokens, round(avg(logp), 6) AS avg_token_logprob
      FROM tok JOIN lp USING (tok) GROUP BY doc_id
    )
    , ranked AS (
      SELECT avg_token_logprob,
             row_number() OVER (ORDER BY avg_token_logprob, doc_id) AS rn,
             count(*) OVER () AS n
      FROM scored
    )
    , cuts AS (
      SELECT max(CASE WHEN rn = CAST(floor((n - 1) / 3) AS BIGINT) + 1
                      THEN avg_token_logprob END) AS c1,
             max(CASE WHEN rn = CAST(floor((n - 1) * 2 / 3) AS BIGINT) + 1
                      THEN avg_token_logprob END) AS c2
      FROM ranked
    )
    SELECT doc_id, n_tokens, avg_token_logprob,
           CASE WHEN avg_token_logprob > c2 THEN 'head'
                WHEN avg_token_logprob > c1 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored, cuts
    """,
    description="CCNet-style head/middle/tail quality tiers: corpus-unigram "
    "LM score per doc, discrete rank-selected tercile cutoffs computed with "
    "the two-phase distributed rank (range partition + offset broadcast), "
    "map-only labeling.",
    tags=("llm", "scoring", "percentile"),
)
def perplexity_bucket_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.scoring import perplexity_buckets

    return perplexity_buckets(td(spark, sf_dir, "documents"))


@query(
    "bigram_lm_docs",
    oracle=f"""
    WITH {_DUCK_TOKS.strip()}
    , pg AS (
      SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])) AS g
      FROM toks
    )
    , bgc AS (SELECT g, count(*) AS c12 FROM pg GROUP BY g)
    , uni AS (
      SELECT unnest(tk) AS w FROM toks
    )
    , uc AS (SELECT w, count(*) AS c1 FROM uni GROUP BY w)
    , v AS (SELECT count(*) AS vsize FROM uc)
    SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2,
           c12, c1 AS c_prefix,
           round((c12 + 1) / (c1 + vsize), 6) AS p_smoothed
    FROM bgc JOIN uc ON split_part(g, ' ', 1) = w
    CROSS JOIN v
    WHERE c12 >= 20
    """,
    description="Bigram language model with add-1 (Laplace) smoothing: "
    "bigram and unigram counts are two map-side-combined groupBys over one "
    "tokenized scan; conditional probabilities are integer-ratio exact; "
    "output bounded to bigrams seen >= 20 times (the vocabulary-squared "
    "ceiling, not the corpus, bounds this at scale).",
    tags=("llm", "lm", "ngram"),
)
def bigram_lm_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.corpus import _grams, _token_arrays

    tk = _token_arrays(td(spark, sf_dir, "documents"), "doc_id", "text")
    bg = tk.select(F.explode(_grams(F.col("tk"), 2)).alias("g"))
    bgc = bg.groupBy("g").agg(F.count(F.lit(1)).alias("c12"))
    uni = tk.select(F.explode("tk").alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    v = uc.agg(F.count(F.lit(1)).alias("vsize"))
    return (
        bgc.filter(F.col("c12") >= 20)
        .withColumn("w1", F.split_part(F.col("g"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("g"), F.lit(" "), F.lit(2)))
        .join(uc.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "w1",
            "w2",
            "c12",
            F.col("c1").alias("c_prefix"),
            F.round((F.col("c12") + 1) / (F.col("c1") + F.col("vsize")), 6).alias(
                "p_smoothed"
            ),
        )
    )


@query(
    "intra_doc_dedup_docs",
    oracle=f"""
    WITH {_DUCK_TOKS.strip()}
    , segs AS (
      SELECT doc_id,
             CASE WHEN len(tk) > 0 THEN
               list_transform(range(0, CAST(ceil(len(tk) / 4.0) AS BIGINT)),
                              j -> array_to_string(tk[j*4+1 : j*4+4], ' '))
             ELSE [] END AS segs
      FROM toks
    )
    , kept AS (
      SELECT doc_id, segs,
             list_filter(segs, (s, i) -> list_position(segs, s) = i) AS kept
      FROM segs
    )
    SELECT doc_id,
           CAST(len(segs) AS BIGINT) AS n_segments,
           CAST(len(kept) AS BIGINT) AS n_unique_segments,
           CASE WHEN len(segs) > 0
                THEN round((len(segs) - len(kept)) / len(segs), 6)
                ELSE 0.0 END AS intra_dup_ratio,
           array_to_string(kept, ' ') AS dedup_text
    FROM kept
    """,
    description="Within-document segment dedup (self-repetition removal): "
    "aligned 4-token segments, first occurrence kept in order, text "
    "reassembled — a pure map-only stage (zero shuffles) complementing the "
    "cross-document segment_dedup_docs.",
    tags=("llm", "dedup", "intra-doc"),
)
def intra_doc_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.dedup import intra_doc_segment_dedup

    return intra_doc_segment_dedup(td(spark, sf_dir, "documents"))


@query(
    "cdc_chunk_docs",
    oracle=f"""
    WITH ch AS (
      SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
             CASE WHEN length(text) >= 8 THEN
               list_filter(range(8, CAST(length(text) AS BIGINT) + 1),
                 i -> i < length(text)
                      AND ({portable_char_hash_sql("substr(text, CAST(i - 7 AS INTEGER), 8)")}) % 31 = 0)
             ELSE [] END AS bps
      FROM documents
    )
    , bd AS (
      SELECT doc_id, text, list_concat(list_concat([0], bps), [n]) AS bounds
      FROM ch
    )
    , chunks AS (
      SELECT doc_id,
             unnest(list_transform(range(2, len(bounds) + 1),
               j -> substr(text, CAST(bounds[j-1] + 1 AS INTEGER),
                           CAST(bounds[j] - bounds[j-1] AS INTEGER)))) AS chunk
      FROM bd
    )
    SELECT {portable_char_hash_sql("chunk")} AS chunk_hash,
           CAST(length(chunk) AS BIGINT) AS chunk_len,
           count(*) AS n_occurrences,
           count(DISTINCT doc_id) AS n_docs
    FROM chunks
    WHERE length(chunk) > 0
    GROUP BY 1, 2
    HAVING count(*) > 1
    """,
    description="Content-defined chunking (rsync/FastCDC family) + "
    "duplicate-chunk census: boundaries where the rolling 8-char window "
    "hash divides 31, so shifted copies re-align; chunking is map-only and "
    "the census is one groupBy on 8-byte chunk fingerprints.",
    tags=("llm", "dedup", "cdc"),
)
def cdc_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.dedup import cdc_chunk_census

    return cdc_chunk_census(td(spark, sf_dir, "documents"))


_RRF_K = 60  # standard reciprocal-rank-fusion damping constant
_RRF_TERMS = ("hash", "join", "scan")
_DUCK_COS_QC = (
    "list_reduce(list_concat([CAST(0.0 AS DOUBLE)], "
    "list_transform(range(1, 65), i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))), (a, b) -> a + b) / "
    "(sqrt(list_reduce(list_concat([CAST(0.0 AS DOUBLE)], "
    "list_transform(range(1, 65), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))), (a, b) -> a + b)) * "
    "sqrt(list_reduce(list_concat([CAST(0.0 AS DOUBLE)], "
    "list_transform(range(1, 65), i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))), (a, b) -> a + b)))"
)


@query(
    "rrf_hybrid_retrieval",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
      FROM documents
    ),
    lens AS (SELECT doc_id, len(tk) AS dl FROM toks),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)
      WHERE tok IN {_RRF_TERMS!r}
      GROUP BY doc_id, tok
    ),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    bm AS (
      SELECT doc_id,
             round(sum(
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * tf * (1.2 + 1)
               / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
             ), 6) AS bm25
      FROM tf JOIN dfreq USING (tok) JOIN lens USING (doc_id) CROSS JOIN stats
      GROUP BY doc_id
      ORDER BY bm25 DESC, doc_id ASC
      LIMIT 20
    ),
    lex AS (
      SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
      FROM bm
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id <> 0),
    cos AS (
      SELECT vec_id AS doc_id, {_DUCK_COS_QC} AS cos FROM q, c
      ORDER BY cos DESC, vec_id LIMIT 20
    ),
    dense AS (
      SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS dense_rank
      FROM cos
    ),
    fused AS (
      SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
             lex.lex_rank, dense.dense_rank,
             round(coalesce(1.0 / ({_RRF_K} + lex.lex_rank), 0.0)
                   + coalesce(1.0 / ({_RRF_K} + dense.dense_rank), 0.0), 6)
               AS rrf_score
      FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
    )
    SELECT doc_id, lex_rank, dense_rank, rrf_score
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10
    """,
    description="Hybrid retrieval via reciprocal rank fusion (Cormack et "
    "al. 2009): BM25 lexical top-20 and dense cosine top-20 (both via "
    "TakeOrderedAndProject — per-partition heads, no global sort), ranks "
    "fused as 1/(60+r) over a full outer join of two 20-row lists. The "
    "fusion stage is constant-size regardless of corpus scale; the "
    "standard first stage of a RAG retrieval stack.",
    tags=("retrieval", "llm", "hybrid", "rrf"),
)
def rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from healthcare_etl_pipeline_spark.operators import similarity as S
    from healthcare_etl_pipeline_spark.operators.corpus import bm25_topk

    docs = td(spark, sf_dir, "documents")
    bm = bm25_topk(docs, list(_RRF_TERMS), k=20)
    lex = bm.withColumn(
        "lex_rank",
        F.row_number().over(Window.orderBy(F.desc("bm25"), F.asc("doc_id"))),
    ).select("doc_id", "lex_rank")

    emb = td(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") == 0)
    corpus = emb.filter(F.col("vec_id") != 0)
    dense = (
        S.brute_force_topk(queries, corpus, k=20, dim=64)
        .select(F.col("vec_id").alias("doc_id"), F.col("rank").alias("dense_rank"))
    )
    fused = (
        lex.join(dense, "doc_id", "full_outer")
        .select(
            "doc_id",
            "lex_rank",
            "dense_rank",
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("dense_rank")), F.lit(0.0)),
                6,
            ).alias("rrf_score"),
        )
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(10)


@query(
    "unicode_nfc_parts",
    oracle="""
    WITH x AS (
      SELECT right(trim(p_name), 1) AS last_letter,
             length(trim(p_name) || chr(769)) AS len_raw,
             length(nfc_normalize(trim(p_name) || chr(769))) AS len_nfc
      FROM part
    )
    SELECT last_letter,
           count(*) AS n_names,
           count(*) FILTER (WHERE len_nfc < len_raw) AS n_composed,
           count(*) FILTER (WHERE len_nfc = len_raw) AS n_not_composed
    FROM x GROUP BY last_letter
    """,
    description="Unicode NFC normalization (canonical composition): each "
    "part name gets a decomposed combining acute (U+0301) appended — the "
    "byte-level mess real crawled text arrives in — then normalizes "
    "through the Arrow-batched unicodedata UDF. Names ending in a "
    "composable base letter (e, a, n, ...) shrink by one codepoint as "
    "base+combining fuse into the precomposed char; non-composable "
    "finals (d, k, ...) stay decomposed. Grouped by final letter so the "
    "composition table itself is what's checked — against DuckDB's "
    "utf8proc-backed nfc_normalize, a fully independent implementation "
    "(canonical composition is frozen by the Unicode stability policy, "
    "so conformant engines must agree). Map-only UDF + one aggregation.",
    tags=("text", "unicode", "normalization", "udf"),
)
def unicode_nfc_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.text import (
        unicode_normalize_col,
    )

    part = t(spark, sf_dir, "part")
    raw = F.concat(F.trim(F.col("p_name")), F.lit("́"))
    x = part.select(
        F.expr("right(trim(p_name), 1)").alias("last_letter"),
        F.length(raw).alias("len_raw"),
        F.length(unicode_normalize_col(raw, "NFC")).alias("len_nfc"),
    )
    return x.groupBy("last_letter").agg(
        F.count(F.lit(1)).alias("n_names"),
        F.count_if(F.col("len_nfc") < F.col("len_raw")).alias("n_composed"),
        F.count_if(F.col("len_nfc") == F.col("len_raw")).alias(
            "n_not_composed"
        ),
    )


@query(
    "phrase_search_docs",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS p
      FROM documents
    ),
    p2 AS (
      SELECT 'window fast' AS phrase, a.doc_id,
             count(*) AS n_occurrences, min(a.p) AS first_pos
      FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.p = a.p + 1
      WHERE a.w = 'window' AND b.w = 'fast'
      GROUP BY a.doc_id
    ),
    p3 AS (
      SELECT 'slow hash batch' AS phrase, a.doc_id,
             count(*) AS n_occurrences, min(a.p) AS first_pos
      FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.p = a.p + 1
                 JOIN tok c ON a.doc_id = c.doc_id AND c.p = a.p + 2
      WHERE a.w = 'slow' AND b.w = 'hash' AND c.w = 'batch'
      GROUP BY a.doc_id
    )
    SELECT * FROM p2 UNION ALL SELECT * FROM p3
    """,
    description="Exact-phrase search over a POSITIONAL inverted index "
    "(document-level presence is inverted_index_docs; phrase queries "
    "need WHERE in the document): the i-th phrase word's postings shift "
    "to their candidate start position (p - i) and the lists intersect "
    "by equi-join on (doc, start) — the standard positional-index "
    "algorithm. Each term's postings filter BEFORE the join, so join "
    "input is the phrase terms' selectivity, never the corpus; at scale "
    "the postings table is written once, term-bucketed, and each query "
    "touches only its terms' buckets. Two phrases (a bigram and a "
    "trigram) verified against the oracle's direct positional self-join.",
    tags=("text", "retrieval", "phrase", "index"),
)
def phrase_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.cache import bounded_persist
    from healthcare_etl_pipeline_spark.operators.text import (
        phrase_match,
        positional_index,
    )

    idx = bounded_persist(
        positional_index(t(spark, sf_dir, "documents"), "doc_id", "text")
    )
    out = None
    for phrase in (["window", "fast"], ["slow", "hash", "batch"]):
        m = phrase_match(idx, "doc_id", phrase).select(
            F.lit(" ".join(phrase)).alias("phrase"),
            "doc_id",
            "n_occurrences",
            "first_pos",
        )
        out = m if out is None else out.unionByName(m)
    return out

"""LLM-data-pipeline queries: dedup family, similarity search, text analysis,
multimodal plumbing (driver north-star, SURVEY.md §2.8) — each a `queries()`
entry with a DuckDB oracle wherever cross-engine determinism is achievable.

Oracle strategy: the dedup/fingerprint/minhash/simhash queries use the
PORTABLE md5-derived hash (operators/text.py) that is bit-identical in
DuckDB SQL, so even MinHash signatures carry full value oracles. The
LSH-bucketed ANN and mapInPandas feature extraction are engine-specific →
rows-only checks (documented in their specs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from healthcare_etl_pipeline_spark.operators import dedup as D
from healthcare_etl_pipeline_spark.operators import similarity as S
from healthcare_etl_pipeline_spark.operators import text as X
from healthcare_etl_pipeline_spark.operators.sampling import (
    hash_bucket_sql,
    shuffle_key_sql,
)
from healthcare_etl_pipeline_spark.queries.helpers import t, td, scratch_dir
from healthcare_etl_pipeline_spark.queries.registry import query

MOD = X.MOD

# ---------------------------------------------------------------------------
# Shared DuckDB CTE fragments (mirror operators/text.py exactly)
# ---------------------------------------------------------------------------

# portable md5-derived hash of expression `E` (same bits as the Spark side)
def _duck_hash(expr: str) -> str:
    return X.portable_char_hash_sql(expr)


_DUCK_TOKENS_CTE = """
toks AS (
  SELECT *, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
  FROM documents
)
"""

_DUCK_SHINGLE_HASHES_CTE = f"""
, sh AS (
  SELECT doc_id, CASE WHEN len(tk) >= 3 THEN
      list_distinct(list_transform(range(1, len(tk) - 1),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
    ELSE [] END AS shingles
  FROM toks
), hs AS (
  SELECT doc_id, list_distinct(list_transform(shingles, s -> {_duck_hash('s')})) AS hs
  FROM sh
)
"""


@query(
    "dedup_exact_docs",
    oracle="""
    SELECT min(doc_id) AS keep_id, count(*) AS n_copies, min(n_chars) AS n_chars
    FROM documents GROUP BY text
    """,
    description="Exact dedup (hash-groupBy on content): canonical doc per "
    "distinct text + group size.",
    tags=("dedup", "llm"),
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("n_chars").alias("n_chars"),
    ).drop("text")


@query(
    "dedup_exact_lineitem",
    oracle="""
    SELECT l_partkey, l_suppkey,
           min(l_orderkey * 100 + l_linenumber) AS keep_key,
           count(*) AS n_dups
    FROM lineitem GROUP BY l_partkey, l_suppkey
    """,
    description="Exact dedup with deterministic keeper on a real-duplicate "
    "key space (part,supp pairs recur across orders).",
    tags=("dedup",),
)
def dedup_exact_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_orderkey") * 100 + F.col("l_linenumber")).alias("keep_key"),
        F.count(F.lit(1)).alias("n_dups"),
    )


@query(
    "text_stats_docs",
    oracle=f"""
    WITH {_DUCK_TOKENS_CTE.strip()}
    SELECT doc_id,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct_tokens,
           round(len(list_distinct(tk)) / len(tk), 6) AS ttr,
           round(len(list_filter(tk, x -> list_contains(['the','a','of','and','to','in','is'], x))) / len(tk), 6) AS stopword_ratio,
           round(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) / length(text), 6) AS punct_ratio,
           round(0.4 * (CASE WHEN len(tk) >= 10 AND len(tk) <= 1000 THEN 1.0 ELSE 0.0 END)
                 + 0.3 * (len(list_distinct(tk)) / len(tk))
                 + 0.3 * (1.0 - length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) / length(text)), 6) AS quality
    FROM toks
    """,
    description="Text analysis: token counts, lexical diversity, stopword/"
    "punctuation ratios, composite quality score — all codegen'd expressions.",
    tags=("text", "llm"),
)
def text_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td(spark, sf_dir, "documents")
    return X.annotate_text_stats(docs).select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        "ttr",
        "stopword_ratio",
        "punct_ratio",
        "quality",
    )


@query(
    "lang_id_docs",
    oracle="""
    WITH toks AS (
      SELECT *, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
      FROM documents
    ), scores AS (
      SELECT doc_id, lang,
        CAST(len(list_filter(tk, x -> list_contains(['der','die','das','und','ist','ein'], x))) AS BIGINT) AS s_de,
        CAST(len(list_filter(tk, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS BIGINT) AS s_en,
        CAST(len(list_filter(tk, x -> list_contains(['el','la','de','y','que','un'], x))) AS BIGINT) AS s_es,
        CAST(len(list_filter(tk, x -> list_contains(['le','la','et','les','des','un'], x))) AS BIGINT) AS s_fr,
        CAST(len(list_filter(tk, x -> list_contains(['的','是','了','在','和','有'], x))) AS BIGINT) AS s_zh
      FROM toks
    )
    SELECT doc_id, lang,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                ELSE 'zh' END AS lang_pred
    FROM scores
    """,
    description="Language ID heuristic: per-language stopword hits, argmax "
    "with alphabetical tie-break ('und' when no evidence).",
    tags=("text", "llm"),
)
def lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", X.lang_id("text").alias("lang_pred"))


_DUCK_NORM_TEXT = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


@query(
    "fingerprint_docs",
    oracle="SELECT doc_id, "
    + _duck_hash(_DUCK_NORM_TEXT)
    + " AS fp FROM documents",
    description="Document fingerprint: portable rolling hash over normalized "
    "text (cross-engine bit-identical).",
    tags=("text", "dedup", "llm"),
)
def fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td(spark, sf_dir, "documents")
    return docs.select("doc_id", X.fingerprint("text").alias("fp"))


def _duck_minhash_sig_select() -> str:
    cols = []
    for j in range(8):
        a, b = D.MINHASH_PARAMS[j]
        cols.append(
            f"coalesce(list_min(list_transform(hs, h -> (h * {a} + {b}) % {MOD})), {MOD}) AS sig_{j}"
        )
    return ",\n           ".join(cols)


@query(
    "minhash_signatures",
    oracle=f"""
    WITH {_DUCK_TOKENS_CTE.strip()}
    {_DUCK_SHINGLE_HASHES_CTE}
    SELECT doc_id,
           {_duck_minhash_sig_select()}
    FROM hs
    """,
    description="MinHash signatures (k=8) over 3-word shingles with the "
    "portable universal-hash family — value-oracled against DuckDB.",
    tags=("dedup", "minhash", "llm"),
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td(spark, sf_dir, "documents")
    return D.minhash_signatures_df(docs, "doc_id", "text", k=8, n=3)


@query(
    "minhash_lsh_pairs",
    oracle=f"""
    WITH {_DUCK_TOKENS_CTE.strip()}
    {_DUCK_SHINGLE_HASHES_CTE}
    , sigs AS (
      SELECT doc_id,
           {_duck_minhash_sig_select()}
      FROM hs
    ), buckets AS (
      SELECT doc_id, unnest([
        'b0:' || sig_0 || ':' || sig_1,
        'b1:' || sig_2 || ':' || sig_3,
        'b2:' || sig_4 || ':' || sig_5,
        'b3:' || sig_6 || ':' || sig_7]) AS bucket
      FROM sigs WHERE sig_0 <> {MOD}
    )
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM buckets l JOIN buckets r
      ON l.bucket = r.bucket AND l.doc_id < r.doc_id
    """,
    description="MinHash-LSH candidate pairs: 4 bands × 2 rows; equi-join on "
    "band buckets (the O(n²)-free near-dup path).",
    tags=("dedup", "minhash", "lsh", "llm"),
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td(spark, sf_dir, "documents")
    return D.lsh_candidate_pairs(docs, "doc_id", "text", k=8, bands=4, n=3)


@query(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH {_DUCK_TOKENS_CTE.strip()}
    {_DUCK_SHINGLE_HASHES_CTE}
    , ex AS (
      SELECT doc_id, len(hs) AS set_size, unnest(hs) AS h FROM hs
    ), hot AS (
      SELECT h FROM ex GROUP BY h HAVING count(*) > 100
    ), kept AS (
      SELECT * FROM ex WHERE h NOT IN (SELECT h FROM hot)
    ), overlap AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             any_value(a.set_size) AS size_a, any_value(b.set_size) AS size_b,
             count(*) AS n_shared
      FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, n_shared,
           round(n_shared / (size_a + size_b - n_shared), 6) AS jaccard
    FROM overlap
    WHERE round(n_shared / (size_a + size_b - n_shared), 6) >= 0.02
    """,
    description="n-gram Jaccard for pairs sharing ≥1 non-hot shingle "
    "(shared-shingle self-join; no O(n²) pair space; document-frequency "
    "cap drops stop-phrase shingles whose m² join fanout AQE can spread "
    "but never shrink).",
    tags=("dedup", "jaccard", "llm"),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.02, max_df=100
    )


def _duck_sig_eq_sum() -> str:
    return " + ".join(
        f"CASE WHEN l.sig_{j} = r.sig_{j} THEN 1 ELSE 0 END" for j in range(8)
    )


@query(
    "minhash_jaccard_estimates",
    oracle=f"""
    WITH {_DUCK_TOKENS_CTE.strip()}
    {_DUCK_SHINGLE_HASHES_CTE}
    , sigs AS (
      SELECT doc_id,
           {_duck_minhash_sig_select()}
      FROM hs
    ), buckets AS (
      SELECT doc_id, unnest([
        'b0:' || sig_0 || ':' || sig_1,
        'b1:' || sig_2 || ':' || sig_3,
        'b2:' || sig_4 || ':' || sig_5,
        'b3:' || sig_6 || ':' || sig_7]) AS bucket
      FROM sigs WHERE sig_0 <> {MOD}
    ), pairs AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM buckets l JOIN buckets r
        ON l.bucket = r.bucket AND l.doc_id < r.doc_id
    )
    SELECT p.id_a, p.id_b,
           round(({_duck_sig_eq_sum()}) / 8.0, 6) AS est_jaccard
    FROM pairs p
    JOIN sigs l ON l.doc_id = p.id_a
    JOIN sigs r ON r.doc_id = p.id_b
    """,
    description="MinHash Jaccard ESTIMATE per LSH candidate pair (fraction "
    "of agreeing signature rows; unbiased estimator). The cheap middle "
    "verification tier at scale: joins 8-long signatures, never re-touches "
    "shingle sets or documents.",
    tags=("dedup", "minhash", "estimate", "llm"),
)
def minhash_jaccard_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td(spark, sf_dir, "documents")
    return D.minhash_jaccard_estimates(docs, "doc_id", "text", k=8, bands=4, n=3)


@query(
    "ngram_containment_pairs",
    oracle=f"""
    WITH {_DUCK_TOKENS_CTE.strip()}
    {_DUCK_SHINGLE_HASHES_CTE}
    , ex AS (
      SELECT doc_id, len(hs) AS set_size, unnest(hs) AS h FROM hs
    ), hot AS (
      SELECT h FROM ex GROUP BY h HAVING count(*) > 100
    ), kept AS (
      SELECT * FROM ex WHERE h NOT IN (SELECT h FROM hot)
    ), overlap AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             any_value(a.set_size) AS size_a, any_value(b.set_size) AS size_b,
             count(*) AS n_shared
      FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, n_shared,
           round(n_shared / size_a, 6) AS containment_a,
           round(n_shared / size_b, 6) AS containment_b
    FROM overlap
    WHERE round(n_shared / size_a, 6) >= 0.05
       OR round(n_shared / size_b, 6) >= 0.05
    """,
    description="Asymmetric shingle containment |A∩B|/|A|: catches "
    "near-SUBSET duplication (quotes, boilerplate wrappers, excerpts) that "
    "Jaccard misses when document sizes differ. Same shared-shingle "
    "equi-join shape and df cap as the Jaccard pass.",
    tags=("dedup", "containment", "llm"),
)
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td(spark, sf_dir, "documents")
    return D.ngram_containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.05, max_df=100
    )


@query(
    "heavy_hitter_tokens",
    oracle=r"""
    WITH tk AS (
      SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
      FROM documents
    ), counts AS (
      SELECT token, count(*) AS n FROM tk GROUP BY token
    ), ranked AS (
      SELECT token, n,
             CAST(row_number() OVER (ORDER BY n DESC, token) AS INTEGER) AS rank
      FROM counts
    )
    SELECT token, n, rank FROM ranked WHERE rank <= 50
    """,
    description="Corpus heavy hitters: top-50 tokens by frequency. "
    "Map-side-combined groupBy then TakeOrderedAndProject (distributed "
    "top-k — no single-task full-vocab sort); ties broken by token for "
    "determinism.",
    tags=("text", "frequency", "llm"),
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = td(spark, sf_dir, "documents")
    # explode over plain split (codegen) then filter — never explode over a
    # higher-order filter() child (Generate re-evaluates it per output row)
    toks = docs.select(F.explode(F.split("text", r"\s+")).alias("token")).filter(
        F.col("token") != ""
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(50)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return top.withColumn("rank", F.row_number().over(w))


@query(
    "quantize_embeddings_int8",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), s AS (
      SELECT vec_id, v,
             CASE WHEN m > 0 THEN m / 127.0 ELSE 1.0 END AS scale
      FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m FROM v)
    )
    SELECT vec_id,
           round(scale, 9) AS scale,
           list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INTEGER)) AS qvec,
           round(list_max(list_transform(range(1, len(v) + 1),
                 i -> abs(CAST(floor(v[i] / scale + 0.5) AS INTEGER) * scale - v[i]))), 9)
             AS max_abs_err
    FROM s
    """,
    description="Symmetric per-vector int8 quantization (scale = max|v|/127, "
    "round-half-up pinned to floor(x+0.5) for cross-engine determinism) "
    "with a certified reconstruction-error column. The 4x storage form for "
    "embedding corpora; expression-only, zero shuffle.",
    tags=("similarity", "quantization", "llm"),
)
def quantize_embeddings_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td(spark, sf_dir, "embeddings")
    return S.quantize_int8(emb)


@query(
    "simhash_docs",
    oracle=f"""
    WITH toks AS (
      SELECT *, list_distinct(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS tk
      FROM documents
    ), th AS (
      SELECT doc_id, list_transform(tk, s -> {_duck_hash('s')}) AS hashes
      FROM toks
    )
    SELECT doc_id,
      list_reduce(list_concat([CAST(0 AS BIGINT)], list_transform(range(0, 16), i ->
        CASE WHEN list_reduce(list_concat([CAST(0 AS BIGINT)],
               list_transform(hashes, h -> CASE WHEN (h >> i) & 1 = 1 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
               (a, b) -> a + b) >= 0
        THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)),
        (a, b) -> a + b) AS simhash16
    FROM th
    """,
    description="SimHash (16-bit) from distinct-token hashes: per-bit vote "
    "sum — expression-only in both engines.",
    tags=("dedup", "simhash", "llm"),
)
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return D.simhash_df(docs, "doc_id", "text", bits=16, out_col="simhash16")


_DUCK_COS = (
    "list_reduce(list_concat([CAST(0.0 AS DOUBLE)], "
    "list_transform(range(1, 65), i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))), (a, b) -> a + b) / "
    "(sqrt(list_reduce(list_concat([CAST(0.0 AS DOUBLE)], "
    "list_transform(range(1, 65), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))), (a, b) -> a + b)) * "
    "sqrt(list_reduce(list_concat([CAST(0.0 AS DOUBLE)], "
    "list_transform(range(1, 65), i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))), (a, b) -> a + b)))"
)


@query(
    "cosine_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 10),
         scored AS (
           SELECT q_id, vec_id, {_DUCK_COS} AS cos FROM q, c
         ), ranked AS (
           SELECT q_id, vec_id, cos,
                  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
           FROM scored
         )
    SELECT q_id, vec_id, round(cos, 6) AS cos_sim, rank
    FROM ranked WHERE rank <= 5
    """,
    description="Brute-force cosine top-5 (exact ANN baseline): broadcast "
    "query set × corpus scan, sequential-fold dot product, window top-k.",
    tags=("similarity", "llm"),
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    return S.brute_force_topk(queries, corpus, k=5, dim=64)


def _ann_recall_contract(
    spark: SparkSession, sf_dir: str, approx_topk, floor: float, prepare=None
) -> DataFrame:
    """Value-checkable ANN accuracy contract (see ann_lsh_cosine docstring).

    Emits per query: the EXACT top-5 neighbor set (hash-matched against the
    oracle's identical brute-force fold) + an aggregate recall boolean the
    oracle mirrors as TRUE. 10 queries × k=5 ⇒ 50 exact pairs at every sf,
    so the floor translates to a literal hit threshold.

    ``prepare`` runs on the shared embeddings frame BEFORE the query/corpus
    split — the hook that lets the LSH path compute+persist signatures in
    ONE Python stage for both sides instead of one per side.

    The shared frame is deliberately NOT persisted here (measured, sf10
    rung): Spark's in-memory columnar cache stores ARRAY columns through
    generic row serialization (no vectorized cache read/write for nested
    types), so materializing the 64-wide vectors costs more than the
    vectorized parquet re-scans it would save — ann_ivf_cosine 15.7 s →
    21.7 s cold, ann_ivf_persisted 37.8 s → 81.8 s with the persist.
    Guide §5's "persist only when recomputing is more expensive than the
    memory pressure" cuts the other way for vector payloads.
    """
    from healthcare_etl_pipeline_spark.operators.cache import bounded_persist

    emb = td(spark, sf_dir, "embeddings")
    if prepare is not None:
        emb = prepare(emb)
    queries = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    exact = S.brute_force_topk(queries, corpus, k=5, dim=64).transform(
        bounded_persist
    )  # feeds the per-q arrays AND the hit count
    approx = approx_topk(queries, corpus)
    hits = exact.select("q_id", "vec_id").join(
        approx.select("q_id", "vec_id"), ["q_id", "vec_id"], "left_semi"
    )
    import math

    flag = hits.agg(
        (F.count(F.lit(1)) >= F.lit(int(math.ceil(floor * 50)))).alias(
            "recall_floor_met"
        )
    )
    per_q = exact.groupBy("q_id").agg(
        F.sort_array(F.collect_list("vec_id")).alias("exact_top5")
    )
    return per_q.crossJoin(F.broadcast(flag))


@query(
    "ann_lsh_recall_contract",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 10),
         scored AS (
           SELECT q_id, vec_id, {_DUCK_COS} AS cos FROM q, c
         ), ranked AS (
           SELECT q_id, vec_id,
                  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
           FROM scored
         )
    SELECT q_id, list_sort(list(vec_id)) AS exact_top5, TRUE AS recall_floor_met
    FROM ranked WHERE rank <= 5 GROUP BY q_id
    """,
    description="LSH ANN accuracy CONTRACT (correctness-only; the headline "
    "bench times ann_lsh_cosine, the production retrieval alone): runs "
    "brute-force exact top-5 AND the LSH path AND the recall join, emitting "
    "the exact neighbor sets (hash-matched against the oracle's identical "
    "fold) plus an aggregate recall@5 boolean that must clear 0.5 (observed "
    "0.58–0.66 across sf0.001–0.1) or the hash flips red.",
    tags=("similarity", "lsh", "llm", "contract"),
)
def ann_lsh_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.cache import bounded_persist

    sig_udf = S.make_lsh_signatures_udf(planes=4, tables=6, dim=64, seed=42)
    return _ann_recall_contract(
        spark,
        sf_dir,
        lambda q, c: S.ann_lsh_topk(
            q, c, k=5, dim=64, planes=4, tables=6, sig_col="sigs"
        ),
        floor=0.5,
        # one signature stage for both join sides (see _ann_recall_contract)
        prepare=lambda emb: emb.withColumn(
            "sigs", sig_udf(F.col("embedding"))
        ).transform(bounded_persist),
    )


# --- production LSH retrieval: value-checked end to end -------------------
#
# The plane-sign matrix is derived from md5 at PLAN-BUILD time
# (operators/similarity.py:portable_plane_signs), so the identical ±1
# constants are inlined into both the Spark kernel and the oracle SQL; the
# sign decision runs on integer-quantized vectors (floor(v*1e6 + 0.5)) so
# no float-summation-order difference can flip a bucket. The oracle below
# therefore mirrors the WHOLE approximate path — buckets, candidate join,
# exact re-rank — not just an exact baseline.
# 8 planes × 6 tables: 256 buckets/table keeps the candidate set (and the
# Arrow transfer into the re-rank kernel) ~1/16 of the 4-plane setting at
# equal table count — the production recall/latency operating point; the
# 4-plane/high-recall configuration lives in ann_lsh_recall_contract.
_ANN_PLANES, _ANN_TABLES, _ANN_DIM, _ANN_SCALE = 8, 6, 64, 1_000_000


def _ann_signs_sql() -> str:
    rows = S.portable_plane_signs(
        planes=_ANN_PLANES, tables=_ANN_TABLES, dim=_ANN_DIM
    )
    return (
        "["
        + ", ".join(
            "[" + ", ".join(str(v) for v in row) + "]" for row in rows
        )
        + "]"
    )


def _ann_quantized_cos_sql() -> str:
    """Cosine over integer-quantized components: BIGINT folds (exact, order
    independent) + one exactly-rounded double divide — mirrors
    make_cosine_quantized_udf bit for bit."""

    def isum(vec_a: str, vec_b: str) -> str:
        # CAST ... AS DOUBLE before the multiply: float32 * int would run
        # in float32 and quantize differently than the Spark kernel
        return (
            f"list_reduce(list_concat([CAST(0 AS BIGINT)], "
            f"list_transform(range(1, {_ANN_DIM + 1}), i -> "
            f"CAST(floor(CAST({vec_a}[CAST(i AS INT)] AS DOUBLE) * {_ANN_SCALE} + 0.5) AS BIGINT) * "
            f"CAST(floor(CAST({vec_b}[CAST(i AS INT)] AS DOUBLE) * {_ANN_SCALE} + 0.5) AS BIGINT))), "
            f"(a, b) -> a + b)"
        )

    return (
        f"(CAST({isum('qv', 'cv')} AS DOUBLE) / "
        f"(sqrt(CAST({isum('qv', 'qv')} AS DOUBLE)) * "
        f"sqrt(CAST({isum('cv', 'cv')} AS DOUBLE))))"
    )


def _ann_bucket_sql(vec: str) -> str:
    """DuckDB bucket expression for one (row, tbl): pack plane sign bits."""
    qdot = (
        f"list_reduce(list_concat([CAST(0 AS BIGINT)], "
        f"list_transform(range(1, {_ANN_DIM + 1}), i -> "
        f"CAST(floor(CAST({vec}[CAST(i AS INT)] AS DOUBLE) * {_ANN_SCALE} + 0.5) AS BIGINT) * "
        f"s[CAST(tbl * {_ANN_PLANES} + p + 1 AS INT)][CAST(i AS INT)])), "
        f"(a, b) -> a + b)"
    )
    return (
        f"list_reduce(list_concat([CAST(0 AS BIGINT)], "
        f"list_transform(range(0, {_ANN_PLANES}), p -> "
        f"CASE WHEN {qdot} >= 0 THEN CAST(1 AS BIGINT) << p "
        f"ELSE CAST(0 AS BIGINT) END)), (a, b) -> a + b)"
    )


@query(
    "ann_lsh_cosine",
    oracle=f"""
    WITH signs AS (SELECT {{signs}} AS s),
         tbs AS (SELECT unnest(range(0, {_ANN_TABLES})) AS tbl),
         q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 10),
         qs AS (
           SELECT q_id, tbl, {{qbucket}} AS bucket FROM q, signs, tbs
         ),
         cs AS (
           SELECT vec_id, tbl, {{cbucket}} AS bucket FROM c, signs, tbs
         ),
         cand AS (
           SELECT DISTINCT q_id, vec_id FROM qs JOIN cs USING (tbl, bucket)
         ),
         scored AS (
           SELECT q_id, cand.vec_id AS vec_id, {{qcos}} AS cos
           FROM cand JOIN q USING (q_id) JOIN c ON cand.vec_id = c.vec_id
         ),
         ranked AS (
           SELECT q_id, vec_id, cos,
                  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
           FROM scored
         )
    SELECT q_id, vec_id,
           CAST(floor(cos * 1e6 + 0.5) AS BIGINT) AS cos_sim_e6, rank
    FROM ranked WHERE rank <= 5
    """.replace("{signs}", _ann_signs_sql())
    .replace("{qbucket}", _ann_bucket_sql("qv"))
    .replace("{cbucket}", _ann_bucket_sql("cv"))
    .replace("{qcos}", _ann_quantized_cos_sql()),
    description="Production LSH ANN retrieval, value-checked END TO END: "
    "md5-derived (engine-portable) hyperplane signs inlined as plan "
    "constants, integer-quantized arithmetic end to end (integer sums are "
    "order-independent, so numpy einsum and a sequential SQL fold agree bit "
    "for bit — no FP order sensitivity in buckets OR scores), banded bucket "
    "join, vectorized re-rank of candidates only. The oracle replays the "
    "identical approximate path, so the hash match covers bucketing and "
    "candidate generation, not just the re-rank. This is the headline-bench "
    "entry; recall accounting lives in ann_lsh_recall_contract.",
    tags=("similarity", "lsh", "llm"),
)
def ann_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.cache import bounded_persist

    sig_udf = S.make_portable_lsh_signatures_udf(
        planes=_ANN_PLANES, tables=_ANN_TABLES, dim=_ANN_DIM, scale=_ANN_SCALE
    )
    emb = td(spark, sf_dir, "embeddings").withColumn(
        "sigs", sig_udf(F.col("embedding"))
    ).transform(bounded_persist)  # one signature stage feeds BOTH join sides
    queries = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    return S.ann_lsh_topk(
        queries,
        corpus,
        k=5,
        dim=_ANN_DIM,
        planes=_ANN_PLANES,
        tables=_ANN_TABLES,
        sig_col="sigs",
        quantized_scale=_ANN_SCALE,
    )


@query(
    "embedding_label_centroid_norm",
    oracle="""
    WITH sums AS (
      SELECT label, count(*) AS n,
             round(sum(list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
               list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
               (a, b) -> a + b)), 4) AS sum_sq_norm
      FROM embeddings GROUP BY label
    )
    SELECT label, n, sum_sq_norm FROM sums
    """,
    description="Per-label embedding statistics: row count + summed squared "
    "norms (vector agg over array column).",
    tags=("similarity", "agg", "llm"),
)
def embedding_label_centroid_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td(spark, sf_dir, "embeddings")
    sq_norm = S.dot_fold(F.col("embedding"), F.col("embedding"), 64)
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(sq_norm), 4).alias("sum_sq_norm"),
    )


@query(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id, 'text/plain' AS media_type,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           sha256(text) AS checksum
    FROM documents
    """,
    description="Multimodal binary-column plumbing: payload as opaque bytes "
    "+ typed metadata (octet length, sha-256) computed JVM-side.",
    tags=("multimodal", "llm"),
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.multimodal import (
        attach_binary_metadata,
    )

    docs = td(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("text/plain").alias("media_type"),
    )
    return attach_binary_metadata(media).select(
        "doc_id", "media_type", "n_bytes", "checksum"
    )


_STUB_FEATS = ", ".join(
    f"CAST((bsum + {i} * 31) % 256 AS BIGINT) AS f{i}" for i in range(8)
)


@query(
    "multimodal_feature_extract",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             CAST(coalesce(list_sum(list_transform(
                 range(1, length(text) + 1), i -> ord(text[i]))), 0)
               AS BIGINT) AS bsum
      FROM documents
    )
    SELECT doc_id AS media_id, 'text/plain' AS media_type, n_bytes,
           {_STUB_FEATS},
           'stub_decoded' AS decode_status
    FROM s
    """,
    description="mapInPandas feature extraction over NON-image binary "
    "payloads, VALUE-checked end-to-end: text/plain payloads take the "
    "deterministic stub branch ((byte_sum + i*31) mod 256, scaled to "
    "[0,1]); re-scaled back to exact integers, every feature must equal "
    "the oracle's closed-form byte arithmetic (documents are ASCII, so "
    "ord(char) == UTF-8 byte), and decode_status must be 'stub_decoded' "
    "for every row. The REAL decode path is value-oracled by "
    "multimodal_decode_ppm.",
    tags=("multimodal", "llm", "pandas-udf"),
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.multimodal import extract_features

    docs = td(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("text/plain").alias("media_type"),
    )
    feats = extract_features(media, dim=8)
    return feats.select(
        "media_id",
        "media_type",
        "n_bytes",
        *[
            F.round(F.element_at("feature", i + 1) * 255)
            .cast("long")
            .alias(f"f{i}")
            for i in range(8)
        ],
        "decode_status",
    )


_DECODE_FSUM = ", ".join(
    "CAST(list_sum(list_transform(range({lo}, {hi}), g -> (doc_id * 7 + g) % 256)) "
    "AS BIGINT) AS f{i}".format(lo=i * 32, hi=i * 32 + 32, i=i)
    for i in range(8)
)


@query(
    "multimodal_decode_ppm",
    oracle=f"""
    SELECT doc_id, {_DECODE_FSUM}, 'decoded' AS decode_status
    FROM documents
    """,
    description="REAL image decode, value-checked end-to-end: each doc_id "
    "becomes a 16×16 binary-PPM gradient (pixel g = (doc_id·7+g) mod 256, "
    "equal channels) encoded to real PPM bytes in an Arrow batch; "
    "extract_features decodes those bytes through the vendored pure-Python "
    "codec (functions/imagecodec.py) and profiles 8 intensity chunks. "
    "Re-scaled to exact integer chunk sums (profile·255·32), the features "
    "must equal the oracle's closed-form integer arithmetic — any pixel "
    "the decoder misplaces flips the hash. decode_status must be 'decoded' "
    "(the REAL path) for every row.",
    tags=("multimodal", "llm", "pandas-udf"),
)
def multimodal_decode_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.multimodal import (
        extract_features,
        ppm_gradient_payload,
    )

    docs = td(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        ppm_gradient_payload(F.col("doc_id")).alias("payload"),
        F.lit("image/x-portable-pixmap").alias("media_type"),
    )
    feats = extract_features(media, dim=8)
    # profile_i = mean of 32 gray values k/255 → ·(255·32) recovers the
    # exact integer chunk sum (float32 storage error ≤ ~5e-4 ≪ 0.5)
    return feats.select(
        F.col("media_id").alias("doc_id"),
        *[
            F.round(F.element_at("feature", i + 1).cast("double") * F.lit(8160.0))
            .cast("long")
            .alias(f"f{i}")
            for i in range(8)
        ],
        "decode_status",
    )


@query(
    "token_count_bpe",
    oracle=r"""
    SELECT doc_id,
           len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
             AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
             AS bpe_tokens,
           CASE WHEN len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) > 0
                THEN round(CAST(length(text) AS DOUBLE)
                     / len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')), 4)
                ELSE 0.0 END AS chars_per_token
    FROM documents
    """,
    description="Token counting two ways: whitespace split + BPE-ish regex "
    "(letter runs / digit runs / single punctuation) with chars-per-token.",
    tags=("text", "tokens", "llm"),
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all(F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
    n_bpe = F.size(bpe).cast("long")
    return docs.select(
        "doc_id",
        X.token_count("text").alias("ws_tokens"),
        n_bpe.alias("bpe_tokens"),
        F.when(
            n_bpe > 0,
            F.round(F.length("text").cast("double") / n_bpe, 4),
        ).otherwise(F.lit(0.0)).alias("chars_per_token"),
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH a AS (SELECT vec_id AS keep_id, embedding AS qv FROM embeddings),
         b AS (SELECT vec_id AS dup_id, embedding AS cv FROM embeddings)
    SELECT keep_id, dup_id, round({_DUCK_COS}, 6) AS cos_sim
    FROM a, b
    WHERE keep_id < dup_id AND {_DUCK_COS} >= 0.35
    """,
    description="Embedding-cosine near-dup pairs (exact self-join form; the "
    "scale path runs the same re-rank behind the banded-LSH prefilter).",
    tags=("dedup", "similarity", "llm"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td(spark, sf_dir, "embeddings")
    return S.cosine_near_dup_pairs(emb, dim=64, threshold=0.35)


@query(
    "dedup_embedding_lsh",
    oracle=f"""
    WITH a AS (SELECT vec_id AS keep_id, embedding AS qv FROM embeddings),
         b AS (SELECT vec_id AS dup_id, embedding AS cv FROM embeddings)
    SELECT keep_id, dup_id, round({_DUCK_COS}, 6) AS cos_sim
    FROM a, b
    WHERE keep_id < dup_id AND {_DUCK_COS} >= 0.35
    """,
    description="Embedding near-dup pairs behind a banded-LSH prefilter "
    "(seeded hyperplane signatures, 16 tables x 2 planes, bucket equi-join, "
    "exact-fold re-rank) — the production form: the O(n^2) self-join never "
    "materializes. Value oracle is the EXACT pair set: at this corpus/"
    "threshold the prefilter's recall is exhaustively 1.0 (asserted in "
    "tests), so LSH output == exact output.",
    tags=("dedup", "similarity", "lsh", "llm"),
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td(spark, sf_dir, "embeddings")
    return S.embedding_dedup_lsh(
        emb, dim=64, threshold=0.35, planes=2, tables=16, seed=42
    )


@query(
    "ann_ivf_cosine",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 10),
         scored AS (
           SELECT q_id, vec_id, {_DUCK_COS} AS cos FROM q, c
         ), ranked AS (
           SELECT q_id, vec_id,
                  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
           FROM scored
         )
    SELECT q_id, list_sort(list(vec_id)) AS exact_top5, TRUE AS recall_floor_met
    FROM ranked WHERE rank <= 5 GROUP BY q_id
    """,
    description="IVF-style ANN as a value-checked ACCURACY CONTRACT: "
    "label-seeded centroid cells (map-only Arrow-batched argmax assignment "
    "— no shuffle), nprobe=3 of 10 cells probed, exact re-rank inside probed "
    "cells, compared in-plan against brute-force exact top-5. Exact sets "
    "hash-match the oracle; aggregate recall@5 must clear 0.3 (observed "
    "0.44–0.54 across sf0.001–0.1; 3/10 cells probed) or the boolean flips "
    "red.",
    tags=("similarity", "ivf", "llm"),
)
def ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_recall_contract(
        spark,
        sf_dir,
        lambda q, c: S.ann_ivf_topk(q, c, k=5, dim=64, nprobe=3),
        floor=0.3,
    )


@query(
    "quality_filter_docs",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
      FROM documents
    ), stats AS (
      SELECT doc_id,
             len(tk) AS n_tokens,
             CASE WHEN len(tk) BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.0 END AS length_ok,
             CASE WHEN len(tk) > 0
                  THEN CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)
                  ELSE 0.0 END AS ttr,
             CASE WHEN length(text) > 0
                  THEN 1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / length(text)
                  ELSE 1.0 END AS low_punct
      FROM toks
    )
    SELECT doc_id, n_tokens,
           round(0.4 * length_ok + 0.3 * ttr + 0.3 * low_punct, 6) AS quality
    FROM stats
    WHERE round(0.4 * length_ok + 0.3 * ttr + 0.3 * low_punct, 6) >= 0.85
    """,
    description="Quality-score gate: keep documents whose composite heuristic "
    "(length band + lexical diversity + low punctuation) clears 0.85.",
    tags=("text", "quality", "llm"),
)
def quality_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td(spark, sf_dir, "documents")
    annotated = docs.select(
        "doc_id",
        X.token_count("text").alias("n_tokens"),
        X.quality_score("text").alias("quality"),
    )
    return annotated.filter(F.col("quality") >= 0.85)


@query(
    "lang_id_ngram_docs",
    oracle="""
    WITH s AS (SELECT doc_id, lang, lower(text) AS lt FROM documents),
    sc AS (
      SELECT doc_id, lang,
        len(list_filter(['der','sch','ein','ich','und','die'], g -> contains(lt, g))) AS de_s,
        len(list_filter(['the','ing','ion','and',' of',' to'], g -> contains(lt, g))) AS en_s,
        len(list_filter(['ión','los',' el','que',' la','ado'], g -> contains(lt, g))) AS es_s,
        len(list_filter([' le','les','ait',' un','des','eur'], g -> contains(lt, g))) AS fr_s,
        len(list_filter(['的','是','了','在','和','有'], g -> contains(lt, g))) AS zh_s
      FROM s
    )
    SELECT doc_id, lang,
           CASE WHEN greatest(de_s, en_s, es_s, fr_s, zh_s) = 0 THEN 'und'
                WHEN de_s = greatest(de_s, en_s, es_s, fr_s, zh_s) THEN 'de'
                WHEN en_s = greatest(de_s, en_s, es_s, fr_s, zh_s) THEN 'en'
                WHEN es_s = greatest(de_s, en_s, es_s, fr_s, zh_s) THEN 'es'
                WHEN fr_s = greatest(de_s, en_s, es_s, fr_s, zh_s) THEN 'fr'
                ELSE 'zh' END AS pred_lang
    FROM sc
    """,
    description="Character-n-gram language ID (profile-gram presence, argmax "
    "with alphabetical tie-break) — the n-gram flavor complementing the "
    "stopword-based lang_id_docs; prediction emitted next to the labeled "
    "lang column.",
    tags=("text", "langid", "llm"),
)
def lang_id_ngram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", X.lang_id_ngram("text").alias("pred_lang")
    )


def _duck_simhash_cte(bits: int) -> str:
    """Portable SimHash signature CTE at the given width. Widths above 16
    exist because band selectivity is what keeps the pigeonhole candidate
    join sub-quadratic: at 16 bits / 2 bands there are only 256 bucket
    values, and a 50 k-doc corpus (sf1) piles thousands of docs into hot
    buckets — the candidate join OOM'd the sf1 scale rung. 30 bits keeps
    every bit honest under the < 2^30 portable-hash reduction and gives
    2^15 values per band."""
    return f"""
    WITH toks AS (
      SELECT *, list_distinct(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS tk
      FROM documents
    ), th AS (
      SELECT doc_id, list_transform(tk, s -> {_duck_hash('s')}) AS hashes
      FROM toks
    ), sigs AS (
      SELECT doc_id,
        list_reduce(list_concat([CAST(0 AS BIGINT)], list_transform(range(0, {bits}), i ->
          CASE WHEN list_reduce(list_concat([CAST(0 AS BIGINT)],
                 list_transform(hashes, h -> CASE WHEN (h >> i) & 1 = 1 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
                 (a, b) -> a + b) >= 0
          THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)),
          (a, b) -> a + b) AS sig
      FROM th WHERE len(hashes) > 0
    )
"""


_DUCK_SIMHASH_CTE = _duck_simhash_cte(30)


@query(
    "simhash_near_pairs",
    oracle=_DUCK_SIMHASH_CTE
    + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(CAST(xor(a.sig, b.sig) AS BIGINT)) AS INTEGER) AS hamming
    FROM sigs a, sigs b
    WHERE a.doc_id < b.doc_id
      AND bit_count(CAST(xor(a.sig, b.sig) AS BIGINT)) <= 1
    """,
    description="SimHash Hamming-ball near-dup pairs (distance <= 1): "
    "pigeonhole band bucketing for candidates (two sigs within d agree on "
    "one of d+1 bands), exact popcount verify — never O(n^2). Oracle "
    "recomputes the exact pair set from the portable signatures. 30-bit "
    "signatures (2 bands x 15 bits = 32 k bucket values): the sf1 scale "
    "rung caught the 16-bit form OOMing — 256 bucket values put "
    "thousands of a 50 k-doc corpus into hot buckets and the candidate "
    "join went quadratic; width, not a cap, is the lossless fix.",
    tags=("dedup", "simhash", "llm"),
)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return D.simhash_near_pairs(docs, "doc_id", "text", bits=30, max_hamming=1)


@query(
    "minhash_dedup_survivors",
    oracle=f"""
    WITH {_DUCK_TOKENS_CTE.strip()}
    {_DUCK_SHINGLE_HASHES_CTE}
    , sigs AS (
      SELECT doc_id,
           {_duck_minhash_sig_select()}
      FROM hs
    ), buckets AS (
      SELECT doc_id, unnest([
        'b0:' || sig_0 || ':' || sig_1,
        'b1:' || sig_2 || ':' || sig_3,
        'b2:' || sig_4 || ':' || sig_5,
        'b3:' || sig_6 || ':' || sig_7]) AS bucket
      FROM sigs WHERE sig_0 <> {MOD}
    ), pairs AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM buckets l JOIN buckets r
        ON l.bucket = r.bucket AND l.doc_id < r.doc_id
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT id_b FROM pairs)
    """,
    description="End-to-end near-dedup: MinHash-LSH pair evidence feeding the "
    "greedy survivor filter (smaller id of each pair survives; exact for "
    "cliques, see operators/dedup.py:dedup_survivors).",
    tags=("dedup", "minhash", "lsh", "llm"),
)
def minhash_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td(spark, sf_dir, "documents")
    pairs = D.lsh_candidate_pairs(docs, "doc_id", "text", k=8, bands=4, n=3)
    return D.dedup_survivors(
        docs.select("doc_id", "lang", "source"), pairs, id_col="doc_id"
    )


_DUCK_NORM_TEXT = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
_DUCK_FINGERPRINT = _duck_hash(_DUCK_NORM_TEXT)


@query(
    "dedup_docs_by_fingerprint",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, lang, source,
             {_DUCK_FINGERPRINT} AS fingerprint
      FROM documents
    )
    SELECT doc_id, lang, source, fingerprint
    FROM fp
    WHERE doc_id = (SELECT min(doc_id) FROM fp f2 WHERE f2.fingerprint = fp.fingerprint)
    """,
    description="Exact dedup on a content digest: normalize (lowercase, "
    "collapse whitespace) -> rolling-hash fingerprint -> keep min doc_id "
    "per digest. At 100 TB the shuffle ships 8-byte digests, never the "
    "documents themselves.",
    tags=("dedup", "fingerprint", "llm"),
)
def dedup_docs_by_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.dedup import dedup_exact

    docs = td(spark, sf_dir, "documents")
    with_fp = docs.select(
        "doc_id", "lang", "source", X.fingerprint("text").alias("fingerprint")
    )
    return dedup_exact(with_fp, ["fingerprint"], tie_break="doc_id")


@query(
    "pii_redact_docs",
    oracle=r"""
    WITH seeded AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 7 = 0
               THEN ' Contact: jane.doe@example.com 555-123-4567 ssn 123-45-6789 MRN-42'
               ELSE '' END AS text
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
                 '\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b', '[EMAIL]', 'g'),
               '\b(?:\+?1[-. ])?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b', '[PHONE]', 'g'),
             '\bMRN-\d+\b', '[MRN]', 'g') AS redacted,
           len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn,
           len(regexp_extract_all(text, '\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b')) AS n_email
    FROM seeded
    """,
    description="PII redaction for training corpora: chained regexp_replace "
    "scrub of SSN/email/phone/MRN tokens (codegen, no Python) with per-"
    "category hit counts; deterministic PII injected on doc_id % 7 so the "
    "oracle exercises real replacements.",
    tags=("text", "pii", "etl", "llm"),
)
def pii_redact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit(
                    " Contact: jane.doe@example.com 555-123-4567 ssn 123-45-6789 MRN-42"
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    counts = X.pii_counts("text")
    return seeded.select(
        "doc_id",
        X.redact_pii("text").alias("redacted"),
        counts["ssn"].alias("n_ssn"),
        counts["email"].alias("n_email"),
    )


@query(
    "contamination_check_docs",
    oracle=r"""
    SELECT doc_id,
           list_filter(['the batch value', 'hash scan join', 'spark group query'],
                       p -> contains(regexp_replace(lower(text), '\s+', ' ', 'g'), p))
             AS matched_probes,
           len(list_filter(['the batch value', 'hash scan join', 'spark group query'],
                           p -> contains(regexp_replace(lower(text), '\s+', ' ', 'g'), p))) > 0
             AS is_contaminated
    FROM documents
    """,
    description="Benchmark decontamination first pass: verbatim probe-n-gram "
    "containment on normalized text (probe set broadcast as a literal "
    "array); flagged docs would go to fuzzy verification.",
    tags=("text", "contamination", "llm"),
)
def contamination_check_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    probes = ["the batch value", "hash scan join", "spark group query"]
    docs = td(spark, sf_dir, "documents")
    matched = X.contamination_flags("text", probes)
    return docs.select(
        "doc_id",
        matched.alias("matched_probes"),
        (F.size(matched) > 0).alias("is_contaminated"),
    )


@query(
    "hash_split_docs",
    oracle=f"""
    SELECT doc_id, lang, source,
           CASE WHEN {hash_bucket_sql("doc_id")} < 9800 THEN 'train'
                WHEN {hash_bucket_sql("doc_id")} < 9900 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    description="Deterministic train/val/test split assignment: bucket = "
    "multiplicative-hash(doc_id) mod 10k, cumulative ranges 98/1/1. Pure "
    "projection — zero shuffle, reproducible across reruns/cluster sizes/"
    "engines; df.sample's per-partition RNG is NOT stable like this.",
    tags=("sampling", "split", "llm"),
)
def hash_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.sampling import hash_split

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return hash_split(docs, "doc_id")


@query(
    "shuffle_shards_docs",
    oracle=f"""
    SELECT doc_id, lang,
           CAST({{k}} % 16 AS INTEGER) AS shard,
           CAST(row_number() OVER (PARTITION BY {{k}} % 16
                                   ORDER BY {{k}}, doc_id) AS BIGINT) AS pos
    FROM documents
    """.replace("{k}", shuffle_key_sql("doc_id", seed=7)),
    description="Deterministic global shuffle into 16 training shards: "
    "shard = cubed-mixer(doc_id, seed) % 16, pos = position within the "
    "shard under the seeded permutation (the mixer is a bijection of "
    "Z_p, so the order is a true permutation, not a sample). The plan is "
    "exactly the shard-write shape — ONE hash shuffle on shard + an "
    "in-partition sort, no global sort, no single reducer — so at 100 TB "
    "each shard streams through one task in final order; a new seed is a "
    "new epoch order, reproducible across engines/reruns/partitionings "
    "(df.sample/rand() are neither).",
    tags=("sampling", "shuffle", "shards", "llm"),
)
def shuffle_shards_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.sampling import (
        shuffle_shards,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    return shuffle_shards(docs, "doc_id", n_shards=16, seed=7)


@query(
    "hash_sample_docs",
    oracle=f"""
    SELECT doc_id, n_chars FROM documents
    WHERE {hash_bucket_sql("doc_id", salt=7)} < 1000
    """,
    description="Deterministic 10% corpus sample (bucket < 1000): nested "
    "across fractions at the same salt (the 1% sample ⊂ the 10% sample) — "
    "the reproducible scaling-law subcorpus primitive.",
    tags=("sampling", "llm"),
)
def hash_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.sampling import hash_sample

    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return hash_sample(docs, "doc_id", fraction=0.10, salt=7)


@query(
    "chunk_docs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
      FROM documents
    ), ex AS (
      SELECT doc_id, tk, len(tk) AS n, unnest(range(1, len(tk) + 1, 48)) AS s
      FROM toks WHERE len(tk) > 0
    )
    SELECT doc_id,
           CAST((s - 1) // 48 AS INTEGER) AS chunk_index,
           CAST(s AS INTEGER) AS chunk_start,
           array_to_string(list_slice(tk, s, s + 63), ' ') AS chunk_text,
           CAST(least(64, n - s + 1) AS BIGINT) AS chunk_tokens
    FROM ex
    """,
    description="Context-window chunking: overlapping 64-token windows at "
    "stride 48. Generate explodes only the cheap start positions; slice+"
    "join runs per OUTPUT row after the explode (never hand Generate a "
    "CodegenFallback HOF child). Zero shuffle.",
    tags=("text", "chunking", "llm"),
)
def chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td(spark, sf_dir, "documents")
    return X.chunk_documents(docs, window=64, stride=48)


@query(
    "bpe_merges_docs",
    oracle="""
    WITH w AS (
      SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                x -> x <> '')) AS word
      FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_corpus_words,
           TRUE AS n_merges_le_requested,
           TRUE AS well_founded,
           TRUE AS counts_ge_min
    FROM w
    """,
    description="BPE tokenizer training (10 merges) as an INVARIANT "
    "CONTRACT: corpus collapsed ONCE to a word-frequency table, each round "
    "one pair-count shuffle + one Arrow-batched merge pass, vocabulary "
    "localCheckpoint-ed per round (flat lineage). The oracle can't replay "
    "the iteration, so the query hashes what it CAN check: the exact "
    "corpus word count (anchors the hash to the data the trainer saw) "
    "plus merge-table invariants — ≤ requested merges, every merge "
    "well-founded (parts are single chars, the end marker, or earlier "
    "merge outputs), every pair count over the frequency floor. Exact "
    "merge-sequence semantics are pinned by the pure-Python differential "
    "test in tests/test_bpe.py.",
    tags=("text", "bpe", "iterative", "llm"),
)
def bpe_merges_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.bpe import (
        bpe_train,
        merge_table_invariants,
    )
    from healthcare_etl_pipeline_spark.operators.text import tokens

    docs = td(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=10)
    inv = merge_table_invariants(merges, min_pair_count=2)
    return docs.select(F.explode(tokens(F.col("text"))).alias("w")).agg(
        F.count(F.lit(1)).alias("n_corpus_words"),
        F.lit(len(merges) <= 10).alias("n_merges_le_requested"),
        F.lit(inv["well_founded"]).alias("well_founded"),
        F.lit(inv["counts_ge_min"]).alias("counts_ge_min"),
    )


@query(
    "script_detect_docs",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 13 = 0 THEN ' привет мир как дела'
                          WHEN doc_id % 17 = 0 THEN ' 你好世界测试文本'
                          ELSE '' END AS text
      FROM documents
    ), counts AS (
      SELECT doc_id,
             length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_latin,
             length(regexp_replace(text, '[^Ѐ-ӿ]', '', 'g')) AS n_cyrillic,
             length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS n_han,
             length(regexp_replace(text, '[^؀-ۿ]', '', 'g')) AS n_arabic
      FROM seeded
    )
    SELECT doc_id, n_latin, n_cyrillic, n_han, n_arabic,
           CASE WHEN greatest(n_latin, n_cyrillic, n_han, n_arabic) = 0 THEN 'und'
                WHEN n_arabic > greatest(n_latin, n_cyrillic, n_han) THEN 'arabic'
                WHEN n_han > greatest(n_latin, n_cyrillic) THEN 'han'
                WHEN n_cyrillic > n_latin THEN 'cyrillic'
                ELSE 'latin' END AS script
    FROM counts
    """,
    description="Unicode script profiling: per-script character counts over "
    "explicit codepoint ranges (identical pattern semantics in Java regex "
    "and RE2) + dominant-script argmax with fixed tie precedence. "
    "Deterministic Cyrillic/Han seeds exercise the non-Latin counters.",
    tags=("text", "script", "llm"),
)
def script_detect_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 13 == 0, F.lit(" привет мир как дела"))
            .when(F.col("doc_id") % 17 == 0, F.lit(" 你好世界测试文本"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    counts = X.script_counts("text")
    return seeded.select(
        "doc_id",
        *[counts[name].alias(f"n_{name}") for name in X.SCRIPT_RANGES],
        X.dominant_script("text").alias("script"),
    )


@query(
    "url_domains_docs",
    oracle=r"""
    WITH seeded AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 7 = 0
               THEN ' see https://example.org/a/b and http://data.example.com/x?q=1 now'
               ELSE '' END AS text
      FROM documents
    ), urls AS (
      SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url
      FROM seeded
    )
    SELECT regexp_extract(url, 'https?://([^/\s]+)', 1) AS domain,
           count(*) AS n_urls,
           count(DISTINCT doc_id) AS n_docs
    FROM urls GROUP BY domain
    """,
    description="URL extraction + per-domain stats (the provenance/"
    "source-mix census of a web corpus): regexp_extract_all -> explode -> "
    "domain groupBy. Deterministic URL seeds on doc_id % 7 exercise real "
    "extractions.",
    tags=("text", "url", "llm"),
)
def url_domains_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit(
                    " see https://example.org/a/b and http://data.example.com/x?q=1 now"
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    urls = seeded.select(
        "doc_id", F.explode(X.extract_urls("text")).alias("url")
    )
    return urls.groupBy(X.url_domain("url").alias("domain")).agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


@query(
    "dedup_components_docs",
    oracle=f"""
    WITH RECURSIVE {_DUCK_TOKENS_CTE.strip()}
    {_DUCK_SHINGLE_HASHES_CTE}
    , sigs AS (
      SELECT doc_id,
           {_duck_minhash_sig_select()}
      FROM hs
    ), buckets AS (
      SELECT doc_id, unnest([
        'b0:' || sig_0 || ':' || sig_1,
        'b1:' || sig_2 || ':' || sig_3,
        'b2:' || sig_4 || ':' || sig_5,
        'b3:' || sig_6 || ':' || sig_7]) AS bucket
      FROM sigs WHERE sig_0 <> {MOD}
    ), pairs AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM buckets l JOIN buckets r
        ON l.bucket = r.bucket AND l.doc_id < r.doc_id
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), prop AS (
      SELECT DISTINCT src AS id, src AS label FROM edges
      UNION
      SELECT e.dst AS id, p.label
      FROM prop p JOIN edges e ON p.id = e.src
      WHERE p.label < e.dst
    )
    SELECT id, min(label) AS component FROM prop GROUP BY id
    """,
    description="Transitive duplicate clusters: iterative min-label "
    "propagation (one shuffle per round, checkpointed lineage) over "
    "MinHash-LSH pair evidence — the exact canonicalization the greedy "
    "survivor filter approximates. Oracle: recursive CTE reachability.",
    tags=("dedup", "minhash", "iterative", "llm"),
)
def dedup_components_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td(spark, sf_dir, "documents")
    pairs = D.lsh_candidate_pairs(docs, "doc_id", "text", k=8, bands=4, n=3)
    return D.connected_components(pairs)


@query(
    "corpus_prep_pipeline",
    oracle=fr"""
    WITH RECURSIVE {_DUCK_TOKENS_CTE.strip()}
    {_DUCK_SHINGLE_HASHES_CTE}
    , sigs AS (
      SELECT doc_id,
           {_duck_minhash_sig_select()}
      FROM hs
    ), buckets AS (
      SELECT doc_id, unnest([
        'b0:' || sig_0 || ':' || sig_1,
        'b1:' || sig_2 || ':' || sig_3,
        'b2:' || sig_4 || ':' || sig_5,
        'b3:' || sig_6 || ':' || sig_7]) AS bucket
      FROM sigs WHERE sig_0 <> {MOD}
    ), pairs AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM buckets l JOIN buckets r
        ON l.bucket = r.bucket AND l.doc_id < r.doc_id
    ), quality AS (
      SELECT t.doc_id,
             CASE WHEN len(tk) BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.0 END * 0.4
             + CASE WHEN len(tk) > 0
                    THEN 0.3 * CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)
                    ELSE 0.0 END
             + 0.3 * (CASE WHEN length(text) > 0
                      THEN 1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / length(text)
                      ELSE 1.0 END) AS q
      FROM toks t
    )
    SELECT d.doc_id, d.source,
           regexp_replace(
             regexp_replace(d.text, '\b\d{{3}}-\d{{2}}-\d{{4}}\b', '[SSN]', 'g'),
             '\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}\b', '[EMAIL]', 'g')
             AS clean_text,
           round(q.q, 6) AS quality
    FROM documents d
    JOIN quality q ON d.doc_id = q.doc_id
    WHERE round(q.q, 6) >= 0.8
      AND d.doc_id NOT IN (SELECT id_b FROM pairs)
    """,
    description="End-to-end training-corpus preparation in ONE plan: quality "
    "gate (>= 0.8) -> near-dedup survivor filter (MinHash-LSH pair "
    "evidence) -> PII scrub of the surviving text. The composition the "
    "driver brief describes, oracle-checked as a whole.",
    tags=("llm", "pipeline", "dedup", "quality", "pii"),
)
def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.dedup import dedup_survivors

    docs = td(spark, sf_dir, "documents")
    pairs = D.lsh_candidate_pairs(docs, "doc_id", "text", k=8, bands=4, n=3)
    scored = docs.select(
        "doc_id", "source", "text", X.quality_score("text").alias("quality")
    ).filter(F.col("quality") >= 0.8)
    surviving = dedup_survivors(scored, pairs, id_col="doc_id")
    # scrub only SSN + email here (the two patterns the oracle mirrors)
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), X.PII_PATTERNS[0][1], "[SSN]"),
        X.PII_PATTERNS[1][1],
        "[EMAIL]",
    )
    return surviving.select(
        "doc_id", "source", clean.alias("clean_text"), "quality"
    )


# ---------------------------------------------------------------------------
# Corpus-level statistics (operators/corpus.py): repetition rules, unigram
# LM scoring, sequence packing, TF-IDF, inverted index
# ---------------------------------------------------------------------------


@query(
    "repetition_stats_docs",
    oracle=f"""
    WITH {_DUCK_TOKENS_CTE.strip()},
    uni AS (
      SELECT doc_id, g, count(*) AS cnt
      FROM (SELECT doc_id, unnest(tk) AS g FROM toks) GROUP BY doc_id, g
    ),
    unid AS (
      SELECT doc_id, round(max(cnt) / sum(cnt), 6) AS top_unigram_frac
      FROM uni GROUP BY doc_id
    ),
    bi AS (
      SELECT doc_id, g, count(*) AS cnt FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS g
        FROM toks
      ) GROUP BY doc_id, g
    ),
    bid AS (
      SELECT doc_id, round(max(cnt) / sum(cnt), 6) AS top_bigram_frac
      FROM bi GROUP BY doc_id
    ),
    tri AS (
      SELECT doc_id, g, count(*) AS cnt FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tk) - 1),
                      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
        FROM toks
      ) GROUP BY doc_id, g
    ),
    trid AS (
      SELECT doc_id,
             round(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) / sum(cnt), 6)
               AS dup_trigram_frac
      FROM tri GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.tk) AS INTEGER) AS n_tokens,
           coalesce(u.top_unigram_frac, 0.0) AS top_unigram_frac,
           coalesce(b.top_bigram_frac, 0.0) AS top_bigram_frac,
           coalesce(d.dup_trigram_frac, 0.0) AS dup_trigram_frac,
           (coalesce(u.top_unigram_frac, 0.0) <= 0.20
            AND coalesce(b.top_bigram_frac, 0.0) <= 0.18
            AND coalesce(d.dup_trigram_frac, 0.0) <= 0.30) AS keep
    FROM toks t
    LEFT JOIN unid u USING (doc_id)
    LEFT JOIN bid b USING (doc_id)
    LEFT JOIN trid d USING (doc_id)
    """,
    description="Gopher-style repetition quality rules per document: top "
    "unigram/bigram occupancy and duplicated-trigram occurrence fraction, "
    "with a keep gate at the (0.20, 0.18, 0.30) thresholds. One explode per "
    "gram order over checkpointed token arrays, map-side combined.",
    tags=("text", "quality", "repetition", "llm"),
)
def repetition_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.corpus import repetition_stats

    return repetition_stats(t(spark, sf_dir, "documents"))


@query(
    "unigram_logprob_docs",
    oracle=f"""
    WITH {_DUCK_TOKENS_CTE.strip()},
    tok AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
    vocab AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
    tot AS (SELECT sum(cnt) AS total FROM vocab)
    SELECT doc_id,
           count(*) AS n_tokens,
           round(avg(ln(cnt / total)), 6) AS avg_token_logprob
    FROM tok JOIN vocab USING (tok), tot
    GROUP BY doc_id
    """,
    description="Per-document mean unigram log-probability under the corpus "
    "unigram distribution — the cheapest KenLM-style perplexity proxy for "
    "quality scoring. Vocabulary built in one map-side-combined pass; total "
    "attached as a broadcast scalar.",
    tags=("text", "quality", "logprob", "llm"),
)
def unigram_logprob_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.corpus import unigram_logprob

    return unigram_logprob(t(spark, sf_dir, "documents"))


@query(
    "pack_sequences_docs",
    oracle=f"""
    WITH {_DUCK_TOKENS_CTE.strip()},
    base AS (
      SELECT doc_id,
             CAST(len(tk) AS INTEGER) AS n_tokens,
             ({hash_bucket_sql("doc_id")} % 8) AS shard
      FROM toks
    ),
    cum AS (
      SELECT *,
             CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_offset
      FROM base
    )
    SELECT doc_id, shard, n_tokens, start_offset,
           CAST(shard AS BIGINT) * 1099511627776 + (start_offset // 512) AS pack_id,
           start_offset % 512 AS offset_in_pack,
           CAST(((start_offset + greatest(n_tokens, 1) - 1) // 512)
                - (start_offset // 512) + 1 AS INTEGER) AS n_packs_spanned
    FROM cum
    """,
    description="GPT-style concat-then-chunk sequence packing assignment "
    "(context=512): each document's shard, token offset in the shard "
    "stream, pack id and span — computed with a PER-SHARD running sum "
    "(deterministic multiplicative-hash sharding), so no global window "
    "partition exists at 100 TB.",
    tags=("llm", "packing", "window"),
)
def pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.corpus import pack_sequences

    return pack_sequences(
        t(spark, sf_dir, "documents"), context=512, shards=8
    )


@query(
    "tfidf_top_terms_docs",
    oracle=f"""
    WITH {_DUCK_TOKENS_CTE.strip()},
    tok AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
    dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    nd AS (SELECT count(*) AS n_docs FROM toks),
    scored AS (
      SELECT doc_id, tok, tf, df,
             round(tf * ln(n_docs / df), 6) AS tfidf
      FROM tf JOIN dfq USING (tok), nd
    ),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS rank
      FROM scored
    )
    SELECT doc_id, CAST(rank AS INTEGER) AS rank, tok, tf, df, tfidf
    FROM r WHERE rank <= 3
    """,
    description="Top-3 salient terms per document by TF-IDF (idf = "
    "ln(N/df)): document frequencies aggregated FROM the tf table (no "
    "second corpus scan), N broadcast, per-doc top-k via a window whose "
    "partitions are bounded by doc length. Ties broken by token string.",
    tags=("text", "tfidf", "llm"),
)
def tfidf_top_terms_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.corpus import tfidf_top_terms

    return tfidf_top_terms(t(spark, sf_dir, "documents"), k=3)


@query(
    "inverted_index_docs",
    oracle=f"""
    WITH {_DUCK_TOKENS_CTE.strip()},
    pairs AS (
      SELECT DISTINCT tok, doc_id
      FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)
    ),
    g AS (
      SELECT tok, count(*) AS df, list_sort(list(doc_id)) AS all_postings
      FROM pairs GROUP BY tok
    )
    SELECT tok, df, all_postings[1:20] AS postings
    FROM g WHERE df >= 5
    """,
    description="Bounded inverted index: tokens with df >= 5 mapped to "
    "their df and first-20 posting ids. The cap is enforced BEFORE any "
    "list aggregation (window row_number then collect), so per-token "
    "aggregation state never exceeds 20 entries even for stop-words.",
    tags=("text", "index", "llm"),
)
def inverted_index_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.corpus import inverted_index

    return inverted_index(
        t(spark, sf_dir, "documents"), min_df=5, max_postings=20
    )


@query(
    "random_projection_embeddings",
    oracle=S.random_projection_oracle_sql(out_dim=16, in_dim=64),
    description="Johnson-Lindenstrauss signed random projection 64d -> 16d: "
    "the ±1 matrix is derived arithmetically from (row, col) at plan-build "
    "time and inlined as literal coefficients — per-row projection, zero "
    "shuffle, whole-stage codegen, no stored model; the oracle inlines the "
    "identical constants.",
    tags=("similarity", "projection", "llm"),
)
def random_projection_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return S.random_projection(emb, out_dim=16, in_dim=64)


@query(
    "kmeans_embeddings",
    oracle="""
    WITH init AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, embedding AS cv
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
    ), scored AS (
      SELECT e.vec_id, i.cluster,
             list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
               list_transform(range(1, 65), j ->
                 (CAST(e.embedding[j] AS DOUBLE) - CAST(i.cv[j] AS DOUBLE))
                 * (CAST(e.embedding[j] AS DOUBLE) - CAST(i.cv[j] AS DOUBLE)))),
               (a, b) -> a + b) AS d
      FROM embeddings e, init i
    ), best AS (
      SELECT vec_id, cluster,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
      FROM scored
    )
    SELECT vec_id, cluster AS cluster_r1, TRUE AS inertia_improved
    FROM best WHERE rn = 1
    """,
    description="Lloyd's k-means over embeddings (k=8, 5 rounds, "
    "deterministic seed = smallest ids) as a value-checked CONTRACT: the "
    "round-1 assignment (nearest seed centroid — pure left-to-right "
    "distance fold, SQL-expressible) hash-matches the oracle's identical "
    "fold per point, and the boolean asserts 5 Lloyd rounds did not "
    "increase total inertia (the algorithm's monotonic-descent invariant; "
    "iterated float centroids themselves are engine-specific so only the "
    "invariant is hashed). Per round ONE corpus scan + one map-side-"
    "combined per-cluster average; only the k centroids visit the driver "
    "and return as inlined literal arithmetic — assignment is whole-stage "
    "codegen, no UDF, no shuffle on the assignment side.",
    tags=("similarity", "clustering", "iterative", "llm"),
)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.cache import bounded_persist
    from healthcare_etl_pipeline_spark.operators.clustering import kmeans_assign

    emb = t(spark, sf_dir, "embeddings")
    r1 = kmeans_assign(emb, k=8, dim=64, iters=0).transform(bounded_persist)
    final = kmeans_assign(emb, k=8, dim=64, iters=5)
    flag = (
        final.agg(F.sum("dist_sq").alias("__f"))
        .crossJoin(r1.agg(F.sum("dist_sq").alias("__r")))
        .select(
            (F.col("__f") <= F.col("__r") * F.lit(1.000001) + F.lit(1e-6)).alias(
                "inertia_improved"
            )
        )
    )
    return r1.select(
        "vec_id", F.col("cluster").alias("cluster_r1")
    ).crossJoin(F.broadcast(flag))


@query(
    "pq_adc_topk_embeddings",
    oracle="""
    WITH seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, embedding AS cv
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
    ), subs AS (SELECT unnest(range(0, 8)) AS sub_m),
    dists AS (
      SELECT e.vec_id, s.code, b.sub_m,
             list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
               list_transform(range(1, 9), j ->
                 (CAST(e.embedding[b.sub_m * 8 + j] AS DOUBLE)
                  - CAST(s.cv[b.sub_m * 8 + j] AS DOUBLE))
                 * (CAST(e.embedding[b.sub_m * 8 + j] AS DOUBLE)
                    - CAST(s.cv[b.sub_m * 8 + j] AS DOUBLE)))),
               (a, b2) -> a + b2) AS d
      FROM embeddings e, seeds s, subs b
    ), codes AS (
      SELECT vec_id, sub_m, code FROM (
        SELECT vec_id, sub_m, code,
               row_number() OVER (PARTITION BY vec_id, sub_m
                                  ORDER BY d, code) AS rn
        FROM dists) WHERE rn = 1
    ), q AS (
      SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1
    ), lut AS (
      SELECT s.code, b.sub_m,
             list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
               list_transform(range(1, 9), j ->
                 (CAST(q.qv[b.sub_m * 8 + j] AS DOUBLE)
                  - CAST(s.cv[b.sub_m * 8 + j] AS DOUBLE))
                 * (CAST(q.qv[b.sub_m * 8 + j] AS DOUBLE)
                    - CAST(s.cv[b.sub_m * 8 + j] AS DOUBLE)))),
               (a, b2) -> a + b2) AS qd
      FROM seeds s, subs b, q
    ), adc AS (
      SELECT c.vec_id, SUM(l.qd) AS dist
      FROM codes c JOIN lut l USING (sub_m, code)
      GROUP BY c.vec_id
    )
    SELECT vec_id, round(dist, 6) AS adc_dist,
           row_number() OVER (ORDER BY round(dist, 6), vec_id) AS rank,
           TRUE AS distortion_improved
    FROM adc ORDER BY round(dist, 6), vec_id LIMIT 10
    """,
    description="Product quantization (IVF-PQ's memory half, the "
    "FAISS-style 100 TB ANN design): 64d float vectors become m=8 "
    "one-byte codes (nearest codeword per 8d subspace, ks=16 — a 32x "
    "index-size cut), and the query scan is asymmetric-distance "
    "computation — the driver precomputes the 8x16 query-to-codeword "
    "LUT, so the corpus pass is pure whole-stage codegen over the codes "
    "(m element_at lookups + a sum per row) and NEVER touches the "
    "original vectors. Value-checked contract per the k-means "
    "convention: encode + ADC top-10 against the deterministic "
    "smallest-ids SEED codebooks hash-matches the oracle's identical "
    "argmin/LUT math, and the boolean asserts 2 Lloyd refinement rounds "
    "did not increase total quantization distortion (trained codebooks "
    "are float-iteration engine-specific, so only the invariant is "
    "hashed). Encode is a map-only Arrow einsum kernel; codebooks are "
    "the only driver traffic (dim*ks doubles).",
    tags=("similarity", "ann", "pq", "quantization", "llm"),
)
def pq_adc_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators import similarity as S2

    # NOT persisted: array columns cache through generic row serialization
    # (see _ann_recall_contract) — the 6 vectorized parquet scans are
    # cheaper than one cache materialization of the vectors (measured)
    emb = t(spark, sf_dir, "embeddings")
    books0 = S2.pq_seed_codebooks(emb, dim=64, m=8, ks=16)
    q_vec = list(
        emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]
    )
    enc = S2.pq_encode(emb, books0)
    top = S2.pq_adc_topk(enc, q_vec, books0, k=10)

    books_trained = S2.pq_train_codebooks(emb, dim=64, m=8, ks=16, iters=2)
    flag = (
        S2.pq_distortion(emb, books_trained)
        .crossJoin(
            S2.pq_distortion(emb, books0).withColumnRenamed(
                "distortion", "seed_distortion"
            )
        )
        .select(
            (
                F.col("distortion")
                <= F.col("seed_distortion") * F.lit(1.000001) + F.lit(1e-6)
            ).alias("distortion_improved")
        )
    )
    return top.crossJoin(F.broadcast(flag))


from healthcare_etl_pipeline_spark.operators.sketch import row_hash_sql as _cms_rh


def _cms_coords_sql(expr: str, depth: int = 4, width: int = 512) -> str:
    return " UNION ALL ".join(
        f"SELECT {r} AS r, {_cms_rh(expr, r, width)} AS bucket, {expr} AS tok FROM tok"
        for r in range(depth)
    )


_CMS_BASE_SQL = f"""
    WITH {_DUCK_TOKENS_CTE.strip()},
    tok AS (SELECT unnest(tk) AS tok FROM toks),
    coords AS ({_cms_coords_sql("tok")}),
    sketch AS (SELECT r, bucket, count(*) AS cnt FROM coords GROUP BY r, bucket)
    """


@query(
    "cms_sketch_tokens",
    oracle=_CMS_BASE_SQL + "SELECT r, bucket, cnt FROM sketch",
    description="Count-Min sketch grid (d=4, w=512) over the corpus token "
    "stream: one explode to d (row, bucket) coordinates per occurrence, "
    "one map-side-combined groupBy — the shuffle carries at most d*w rows "
    "per map partition regardless of corpus size, and two partial sketches "
    "merge by cell-wise addition (the mergeable-sketch contract that "
    "replaces exact counting at 100 TB). Portable md5 row hashes -> full "
    "value oracle.",
    tags=("sketch", "cms", "approx", "llm"),
)
def cms_sketch_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.sketch import cms_build

    docs = td(spark, sf_dir, "documents")
    items = docs.select(F.explode(X.tokens(F.col("text"))).alias("tok"))
    return cms_build(items, "tok", depth=4, width=512)


@query(
    "cms_estimate_heavy_tokens",
    oracle=_CMS_BASE_SQL
    + """
    , true_cnt AS (
      SELECT tok, count(*) AS true_cnt FROM tok GROUP BY tok HAVING count(*) >= 100
    )
    SELECT t.tok, t.true_cnt, min(coalesce(s.cnt, 0)) AS cms_est
    FROM true_cnt t
    JOIN coords c ON c.tok = t.tok
    LEFT JOIN sketch s ON s.r = c.r AND s.bucket = c.bucket
    GROUP BY t.tok, t.true_cnt
    """,
    description="Count-Min point estimates vs exact counts for every token "
    "with true frequency >= 100: estimate = min over the d sketch cells "
    "(always >= truth; tight for heavy hitters). The d*w-row sketch "
    "broadcasts to the lookup join.",
    tags=("sketch", "cms", "approx", "frequency", "llm"),
)
def cms_estimate_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )

    docs = td(spark, sf_dir, "documents")
    items = docs.select(F.explode(X.tokens(F.col("text"))).alias("tok"))
    sketch = cms_build(items, "tok", depth=4, width=512)
    heavy = (
        items.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .filter(F.col("true_cnt") >= 100)
    )
    est = cms_estimate(sketch, heavy.select("tok"), "tok", depth=4, width=512)
    return heavy.join(est, "tok").select("tok", "true_cnt", "cms_est")


@query(
    "balance_sources_docs",
    oracle=f"""
    WITH counts AS (
      SELECT source, count(*) AS n FROM documents GROUP BY source
    ),
    floor_n AS (SELECT min(n) AS min_n FROM counts),
    rates AS (
      SELECT source, CAST(floor(min_n * {10_000} / n) AS BIGINT) AS bound
      FROM counts CROSS JOIN floor_n
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN rates r USING (source)
    WHERE {hash_bucket_sql("d.doc_id", salt=9)} < r.bound
    """,
    description="Corpus mixing: downsample every source toward the smallest "
    "source's size (uniform mix, no upsampling) — stratum counts, the "
    "minimum, and per-stratum keep-rates all computed IN the plan (one agg "
    "+ two broadcasts), applied as the zero-shuffle deterministic "
    "hash-bucket filter. No driver round-trip; same plan at any scale.",
    tags=("sampling", "mixing", "llm"),
)
def balance_sources_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.sampling import balance_strata

    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    return balance_strata(docs, "doc_id", "source", salt=9)


from healthcare_etl_pipeline_spark.operators.sketch import (  # noqa: E402
    hll_coords_sql as _hll_coords_sql,
    hll_estimate_sql as _hll_est_sql,
)

_HLL_B, _HLL_R = _hll_coords_sql("CAST(l_orderkey AS VARCHAR)")
_HLL_REG_SQL = f"""
    SELECT l_returnflag, {_HLL_B} AS bucket, max({_HLL_R}) AS rho
    FROM lineitem GROUP BY l_returnflag, bucket
"""


@query(
    "hll_registers_orderkeys",
    oracle=_HLL_REG_SQL,
    description="HyperLogLog register sets (p=10, 1024 registers) for "
    "distinct l_orderkey per l_returnflag: bucket = 16 md5 bits, rho = "
    "1 + leading zeros of a disjoint 60-bit md5 chunk computed on the "
    "exact integer path (61 - bitlength via bin()). Map-side max means "
    "the shuffle carries <= 2^p rows per group per partition whatever "
    "the input cardinality; two register sets merge by bucket-wise max "
    "(tests/test_sketch.py). Portable hash -> exact value oracle on the "
    "full register table.",
    tags=("sketch", "hll", "approx", "llm"),
)
def hll_registers_orderkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.sketch import hll_build

    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_orderkey")
    return hll_build(li, "l_orderkey", ["l_returnflag"])


@query(
    "hll_distinct_orderkeys",
    oracle=f"""
    WITH est AS ({_hll_est_sql(_HLL_REG_SQL, "l_returnflag")}),
    exact AS (
      SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_cnt
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, hll_est, exact_cnt FROM est JOIN exact USING (l_returnflag)
    """,
    description="HLL cardinality estimates vs exact distinct counts per "
    "l_returnflag (raw harmonic-mean regime at this scale; the "
    "linear-counting small-range branch is exercised by "
    "hll_distinct_users). At 100 TB the exact side is a full shuffle of "
    "the key space while the HLL side moves <= 1024 longs per group — "
    "this query IS the accuracy audit you run once at small scale before "
    "trusting the sketch at large.",
    tags=("sketch", "hll", "approx", "llm"),
)
def hll_distinct_orderkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.sketch import (
        hll_build,
        hll_estimate,
    )

    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_orderkey")
    est = hll_estimate(hll_build(li, "l_orderkey", ["l_returnflag"]), ["l_returnflag"])
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").alias("exact_cnt")
    )
    return est.join(exact, "l_returnflag").select(
        "l_returnflag", "hll_est", "exact_cnt"
    )


_HLL_UB, _HLL_UR = _hll_coords_sql("CAST(user_id AS VARCHAR)")
_HLL_UREG_SQL = f"""
    SELECT event_type, {_HLL_UB} AS bucket, max({_HLL_UR}) AS rho
    FROM events GROUP BY event_type, bucket
"""


@query(
    "hll_distinct_users",
    oracle=f"""
    WITH est AS ({_hll_est_sql(_HLL_UREG_SQL, "event_type")}),
    exact AS (
      SELECT event_type, count(DISTINCT user_id) AS exact_cnt
      FROM events GROUP BY event_type
    )
    SELECT event_type, hll_est, exact_cnt FROM est JOIN exact USING (event_type)
    """,
    description="HLL distinct users per event type — cardinality is far "
    "below 2.5m here, so this takes the small-range linear-counting "
    "branch (m*ln(m/V) over empty-register count V): together with "
    "hll_distinct_orderkeys both estimator regimes are value-oracled.",
    tags=("sketch", "hll", "approx", "llm"),
)
def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.sketch import (
        hll_build,
        hll_estimate,
    )

    ev = t(spark, sf_dir, "events").select("event_type", "user_id")
    est = hll_estimate(hll_build(ev, "user_id", ["event_type"]), ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_cnt")
    )
    return est.join(exact, "event_type").select("event_type", "hll_est", "exact_cnt")


_BM25_TERMS = ("hash", "join", "scan")
_BM25_K1, _BM25_B = 1.2, 0.75


@query(
    "bm25_topk_docs",
    oracle=f"""
    WITH {_DUCK_TOKENS_CTE.strip()},
    lens AS (SELECT doc_id, len(tk) AS dl FROM toks),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)
      WHERE tok IN {_BM25_TERMS!r}
      GROUP BY doc_id, tok
    ),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok)
    SELECT doc_id,
           round(sum(
             ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
             * tf * ({_BM25_K1} + 1)
             / (tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))
           ), 6) AS bm25,
           count(*) AS terms_matched
    FROM tf JOIN dfreq USING (tok) JOIN lens USING (doc_id) CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT 10
    """,
    description="BM25 ranked retrieval (Okapi, Lucene idf) for a "
    "bag-of-words query over the corpus: token stream cut to the query's "
    "terms BEFORE any aggregation, df/N as broadcast scalars, top-10 via "
    "TakeOrderedAndProject — per-partition heads, no global sort. The "
    "lexical half of every retrieval/RAG stack; deterministic doc_id "
    "tiebreak makes the LIMIT oracle-stable.",
    tags=("retrieval", "bm25", "text", "llm"),
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.corpus import bm25_topk

    docs = td(spark, sf_dir, "documents")
    return bm25_topk(
        docs, list(_BM25_TERMS), k1=_BM25_K1, b=_BM25_B, k=10
    )


@query(
    "bm25_incremental_update",
    oracle=f"""
    WITH toks AS (
      SELECT *, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
      FROM documents WHERE doc_id % 3 <> 1
    ),
    lens AS (SELECT doc_id, len(tk) AS dl FROM toks),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)
      WHERE tok IN {_BM25_TERMS!r}
      GROUP BY doc_id, tok
    ),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok)
    SELECT doc_id,
           round(sum(
             ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
             * tf * ({_BM25_K1} + 1)
             / (tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))
           ), 6) AS bm25,
           count(*) AS terms_matched
    FROM tf JOIN dfreq USING (tok) JOIN lens USING (doc_id) CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT 10
    """,
    description="INCREMENTALLY maintained BM25 stats (VERDICT r7 #7): the "
    "per-token df view and global (N, Σdl) build from three corpus "
    "increments (doc_id mod 3) through the mergeable-agg signed-partial "
    "machinery, then increment 1 is RETRACTED (sign=-1, the CDC delete "
    "form — df-to-zero tokens drop from the view). Top-k then serves "
    "df/N/avgdl from the maintained view — per-query work is only the "
    "tf scan of matching docs. Oracle: from-scratch BM25 over the "
    "surviving corpus; equality proves N adds + 1 retraction of the "
    "view equal a full recompute.",
    tags=("retrieval", "bm25", "incremental", "cdc", "text", "llm"),
)
def bm25_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.corpus import (
        Bm25CorpusStats,
        bm25_topk_from_stats,
    )

    docs = td(spark, sf_dir, "documents")
    stats = Bm25CorpusStats()
    for i in (0, 1, 2):
        stats.apply_batch(docs.filter(F.col("doc_id") % 3 == i))
    stats.apply_batch(docs.filter(F.col("doc_id") % 3 == 1), sign=-1)
    corpus = docs.filter(F.col("doc_id") % 3 != 1)
    return bm25_topk_from_stats(
        corpus, stats, list(_BM25_TERMS), k1=_BM25_K1, b=_BM25_B, k=10
    )


@query(
    "hashed_features_docs",
    oracle=f"""
    WITH {_DUCK_TOKENS_CTE.strip()},
    tks AS (SELECT doc_id, unnest(tk) AS tok FROM toks)
    SELECT doc_id,
           ({_duck_hash("tok")} % 256) AS idx,
           CAST(sum(({_duck_hash("(tok || '#s')")} % 2) * 2 - 1) AS BIGINT) AS val
    FROM tks
    GROUP BY doc_id, idx
    """,
    description="Hashing-trick feature vectors (signed token counts into "
    "256 buckets, Weinberger et al. 2009), sparse (doc, idx, val) rows: "
    "fixed-dimension text features with NO vocabulary build — no global "
    "dictionary shuffle, unseen tokens at scale hash into the same space. "
    "One explode + one map-side-combined groupBy; portable hashes -> "
    "exact value oracle.",
    tags=("features", "hashing", "text", "llm"),
)
def hashed_features_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.corpus import hashed_features

    docs = td(spark, sf_dir, "documents")
    return hashed_features(docs, dim=256)


@query(
    "ngram_jaccard_prefix_pairs",
    oracle=f"""
    WITH {_DUCK_TOKENS_CTE.strip()}
    {_DUCK_SHINGLE_HASHES_CTE}
    , ex AS (
      SELECT doc_id, len(hs) AS set_size, unnest(hs) AS h FROM hs
      WHERE len(hs) > 0
    ), overlap AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             any_value(a.set_size) AS size_a, any_value(b.set_size) AS size_b,
             count(*) AS n_shared
      FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, n_shared,
           round(n_shared / (size_a + size_b - n_shared), 6) AS jaccard
    FROM overlap
    WHERE round(n_shared / (size_a + size_b - n_shared), 6) >= 0.5
    """,
    description="EXACT thresholded Jaccard pairs via PPJoin-style prefix "
    "filtering: shingles globally ranked by rarity (df asc), candidates "
    "join only on each doc's first |s|-ceil(t|s|)+1 rarest shingles — "
    "lossless (unlike the max_df lower-bound cap), hot stop-phrase "
    "shingles never enter prefixes, and verification re-ranks candidates "
    "on the stored arrays JVM-side. The oracle is the uncapped "
    "all-shared-shingle form at the same threshold: identical rows "
    "proves candidate completeness.",
    tags=("dedup", "jaccard", "prefix-filter", "llm"),
)
def ngram_jaccard_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td(spark, sf_dir, "documents")
    return D.ngram_jaccard_prefix_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5
    )


def _cms_coords_expr(expr: str, depth: int, width: int) -> str:
    return " UNION ALL ".join(
        f"SELECT {r} AS r, {_cms_rh(expr, r, width)} AS bucket FROM items"
        for r in range(depth)
    )


@query(
    "cms_join_size_lineitem",
    oracle=f"""
    WITH items AS (SELECT CAST(l_partkey AS VARCHAR) AS item FROM lineitem),
    coords AS ({_cms_coords_expr("item", 4, 8192)}),
    sketch AS (SELECT r, bucket, count(*) AS cnt FROM coords GROUP BY r, bucket),
    est AS (
      SELECT min(ip) AS join_size_est FROM (
        SELECT r, sum(cnt * cnt) AS ip FROM sketch GROUP BY r
      )
    ),
    truth AS (
      SELECT sum(n * n) AS true_join_size FROM (
        SELECT count(*) AS n FROM lineitem GROUP BY l_partkey
      )
    )
    SELECT CAST(join_size_est AS BIGINT) AS join_size_est,
           CAST(true_join_size AS BIGINT) AS true_join_size
    FROM est CROSS JOIN truth
    """,
    description="Join-size estimation WITHOUT executing the join (AMS/CMS "
    "inner product, Cormode & Muthukrishnan 2005): the lineitem self-join "
    "cardinality on l_partkey — sum over keys of n(k)^2 — estimated as "
    "min over sketch rows of the bucket-wise inner product of two CMS "
    "grids (d=4, w=8192). The planner's 'will this join blow up' probe: "
    "cost is a <= d*w-row grid join + a d-row min, never touching the "
    "pair space; always an over-estimate (collision cross terms only "
    "add). True size computed alongside as the accuracy audit.",
    tags=("sketch", "cms", "join", "approx", "llm"),
)
def cms_join_size_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.sketch import (
        cms_build,
        cms_inner_product,
    )

    items = t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("string").alias("item")
    )
    sketch = cms_build(items, "item", depth=4, width=8192).localCheckpoint(
        eager=False
    )
    est = cms_inner_product(sketch, sketch)
    truth = (
        items.groupBy("item")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") * F.col("n")).alias("true_join_size"))
    )
    return est.crossJoin(truth).select(
        F.col("join_size_est").cast("long").alias("join_size_est"),
        F.col("true_join_size").cast("long").alias("true_join_size"),
    )


@query(
    "weighted_sample_docs",
    oracle=f"""
    SELECT doc_id, n_chars,
           round(-ln(({_duck_hash("(CAST(doc_id AS VARCHAR) || '|ws7')")} + 1)
                     / 1000000007.0) / n_chars, 9) AS sample_key
    FROM documents
    WHERE n_chars IS NOT NULL AND n_chars > 0
    ORDER BY sample_key ASC, doc_id ASC
    LIMIT 50
    """,
    description="Weighted sample without replacement (Efraimidis-Spirakis "
    "exponential sort): 50 documents with probability proportional to "
    "n_chars — key = -ln(u)/w, k smallest win; u derives from the "
    "portable id hash, so the draw is deterministic, re-runnable, and "
    "identical in the oracle. Top-k is TakeOrderedAndProject "
    "(per-partition heads, no global sort); the length-biased sampling "
    "used for corpus audits and loss-weighted data selection.",
    tags=("sampling", "weighted", "llm"),
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.sampling import (
        weighted_sample,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample(docs, "doc_id", "n_chars", k=50, salt=7)


@query(
    "segment_dedup_docs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
      FROM documents
    ), ex AS (
      SELECT doc_id, tk, unnest(range(1, len(tk) + 1, 4)) AS s
      FROM toks WHERE len(tk) > 0
    ), segs AS (
      SELECT doc_id, CAST((s - 1) // 4 AS INTEGER) AS seg_index,
             array_to_string(list_slice(tk, s, s + 3), ' ') AS seg
      FROM ex
    ), sdf AS (
      SELECT seg, count(DISTINCT doc_id) AS df FROM segs GROUP BY seg
    ), kept AS (
      SELECT segs.doc_id, segs.seg_index, segs.seg
      FROM segs JOIN sdf USING (seg) WHERE sdf.df < 2
    ), totals AS (
      SELECT doc_id, count(*) AS n_segments FROM segs GROUP BY doc_id
    )
    SELECT k.doc_id, t.n_segments, count(*) AS n_kept,
           string_agg(k.seg, ' ' ORDER BY k.seg_index) AS clean_text
    FROM kept k JOIN totals t USING (doc_id)
    GROUP BY k.doc_id, t.n_segments
    """,
    description="Boilerplate-segment removal (CCNet/RefinedWeb line dedup "
    "over 4-token segments): segments repeated across >=2 documents are "
    "stripped corpus-wide and the survivors reassembled in order — one "
    "cheap-int explode, one map-side-combined df groupBy, one equi-join "
    "back, one per-doc ordered reassembly. Boilerplate-only documents "
    "drop out, matching C4's discard rule.",
    tags=("dedup", "text", "llm"),
)
def segment_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.corpus import segment_dedup

    docs = td(spark, sf_dir, "documents")
    return segment_dedup(docs, seg_tokens=4, min_df=2)


@query(
    "semantic_dedup_embeddings",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_input,
           TRUE AS flags_complete,
           TRUE AS dropped_justified,
           TRUE AS kept_clean
    FROM embeddings
    """,
    description="SemDeDup semantic dedup as a SOUNDNESS CONTRACT: k-means "
    "partitions the embedding space, exact cosine pruning runs per cluster "
    "behind a cluster-keyed equi-join (n² → Σ|cluster|²; the key gives AQE "
    "a skew handle). The clustering itself is iterative/float and not "
    "SQL-expressible, so the query re-derives the survivor rule's full "
    "characterization IN-PLAN and hashes it: given the clustering, a row "
    "is dropped IFF a smaller-id same-cluster partner sits at cosine ≥ "
    "threshold — dropped_justified (every dropped row has one) and "
    "kept_clean (no kept row does) jointly pin is_kept exactly; "
    "n_input anchors the hash to the corpus. Cluster-quality recall is "
    "measured against the exact O(n²) form in tests/test_clustering.py.",
    tags=("dedup", "similarity", "clustering", "llm"),
)
def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.cache import bounded_persist
    from healthcare_etl_pipeline_spark.operators.clustering import semantic_dedup
    from healthcare_etl_pipeline_spark.operators.similarity import (
        dot_fold,
        norm_fold,
    )

    emb = t(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, k=8, dim=64, iters=5, threshold=0.35)
    # norm folded once per row into the persisted frame (identical double to
    # the inline fold) — the Σ|cluster|² pair stage does 1 fold, not 3
    labeled = (
        out.join(emb.select("vec_id", "embedding"), "vec_id")
        .withColumn("__norm", norm_fold(F.col("embedding"), 64))
        .transform(bounded_persist)
    )
    a = labeled.select(
        "cluster",
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        F.col("__norm").alias("__na"),
    )
    b = labeled.select(
        "cluster",
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        F.col("__norm").alias("__nb"),
    )
    partnered = (
        a.join(b, "cluster")
        .where(F.col("id_b") < F.col("id_a"))
        .withColumn(
            "cs",
            dot_fold(F.col("va"), F.col("vb"), 64)
            / (F.col("__na") * F.col("__nb")),
        )
        .where(F.col("cs") >= 0.35)
        .select(F.col("id_a").alias("vec_id"))
        .distinct()
        .withColumn("__partnered", F.lit(True))
    )
    flagged = labeled.join(partnered, "vec_id", "left")
    return flagged.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.coalesce(F.bool_and(F.col("is_kept").isNotNull()), F.lit(True)).alias(
            "flags_complete"
        ),
        F.coalesce(
            F.bool_and(F.col("is_kept") | F.col("__partnered").isNotNull()),
            F.lit(True),
        ).alias("dropped_justified"),
        F.coalesce(
            F.bool_and(~F.col("is_kept") | F.col("__partnered").isNull()),
            F.lit(True),
        ).alias("kept_clean"),
    )


@query(
    "bpe_encode_docs",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_words,
             CAST(length(regexp_replace(text, '\\s+', '', 'g'))
               AS BIGINT) AS n_chars
      FROM documents
    )
    SELECT doc_id, n_words, n_chars,
           TRUE AS roundtrip_ok, TRUE AS tokens_ge_words,
           TRUE AS tokens_le_syms
    FROM w WHERE n_words > 0
    """,
    description="BPE tokenizer APPLY as a per-doc VALUE CONTRACT: encode "
    "every document with the merge table trained on the same corpus (10 "
    "merges) — greedy rank-priority encode in one Arrow-batched pass over "
    "the exploded word stream, merge table in the UDF closure (no join). "
    "The oracle hash-matches the exact per-doc word and character counts "
    "and three encoder invariants: token concatenation reproduces "
    "word+marker exactly (roundtrip), ≥1 token per word, ≤ chars+1 tokens "
    "per word. A corrupted encode flips the hash red; exact merge "
    "semantics are additionally pinned by tests/test_bpe.py.",
    tags=("text", "bpe", "llm"),
)
def bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.bpe import (
        bpe_encode_contract,
        bpe_train,
    )

    docs = td(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=10)
    return bpe_encode_contract(docs, merges)


@query(
    "temperature_mix_docs",
    oracle=f"""
    WITH counts AS (
      SELECT source, count(*) AS n FROM documents GROUP BY source
    ),
    mn AS (SELECT min(n) AS min_n FROM counts),
    rates AS (
      SELECT source,
             CAST(floor(sqrt(CAST(min_n AS DOUBLE) / CAST(n AS DOUBLE))
                        * {10_000}) AS BIGINT) AS bound
      FROM counts CROSS JOIN mn
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN rates r USING (source)
    WHERE {hash_bucket_sql("d.doc_id", salt=11)} < r.bound
    """,
    description="Temperature-based source re-mixing (XLM-R/mT5 alpha=0.5 "
    "sampling): stratum sizes damped toward n^0.5 via downsample-only "
    "keep-rates (min_n/n)^0.5, computed in-plan and applied as the "
    "deterministic hash-bucket filter — sqrt is correctly rounded IEEE, "
    "so the floor boundary is bit-identical cross-engine. Zero shuffle "
    "on the data path.",
    tags=("sampling", "mixing", "llm"),
)
def temperature_mix_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.sampling import temperature_mix

    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    return temperature_mix(docs, "doc_id", "source", alpha=0.5, salt=11)


@query(
    "lsh_eval_pr_docs",
    oracle=f"""
    WITH {_DUCK_TOKENS_CTE.strip()}
    {_DUCK_SHINGLE_HASHES_CTE}
    , ex AS (
      SELECT doc_id, len(hs) AS set_size, unnest(hs) AS h FROM hs
    ), overlap AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             any_value(a.set_size) AS size_a, any_value(b.set_size) AS size_b,
             count(*) AS n_shared
      FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), exact AS (
      SELECT id_a, id_b, TRUE AS in_e FROM overlap
      WHERE round(n_shared / (size_a + size_b - n_shared), 6) >= 0.02
    ), sigs AS (
      SELECT doc_id,
           {_duck_minhash_sig_select()}
      FROM hs
    ), buckets AS (
      SELECT doc_id, unnest([
        'b0:' || sig_0 || ':' || sig_1,
        'b1:' || sig_2 || ':' || sig_3,
        'b2:' || sig_4 || ':' || sig_5,
        'b3:' || sig_6 || ':' || sig_7]) AS bucket
      FROM sigs WHERE sig_0 <> {MOD}
    ), pairs AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM buckets l JOIN buckets r
        ON l.bucket = r.bucket AND l.doc_id < r.doc_id
    ), cand AS (
      SELECT p.id_a, p.id_b, TRUE AS in_c
      FROM pairs p
      JOIN sigs l ON l.doc_id = p.id_a
      JOIN sigs r ON r.doc_id = p.id_b
      WHERE round(({_duck_sig_eq_sum()}) / 8.0, 6) >= 0.125
    ), j AS (
      SELECT coalesce(in_e, FALSE) AS in_e, coalesce(in_c, FALSE) AS in_c
      FROM exact e FULL OUTER JOIN cand c USING (id_a, id_b)
    )
    SELECT CAST(sum(CASE WHEN in_e AND in_c THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN in_c AND NOT in_e THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(sum(CASE WHEN in_e AND NOT in_c THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           round(sum(CASE WHEN in_e AND in_c THEN 1 ELSE 0 END) * 1.0 /
                 nullif(sum(CASE WHEN in_c THEN 1 ELSE 0 END), 0), 6) AS precision,
           round(sum(CASE WHEN in_e AND in_c THEN 1 ELSE 0 END) * 1.0 /
                 nullif(sum(CASE WHEN in_e THEN 1 ELSE 0 END), 0), 6) AS recall
    FROM j
    """,
    description="Candidate-quality evaluation of the MinHash-LSH path: "
    "precision/recall of band candidates (est Jaccard >= 1/8) against the "
    "exact shared-shingle Jaccard pairs (>= 0.02) — the dedup-pipeline "
    "tuning harness (pick bands/rows against a measured PR point) as a "
    "first-class operator. One full-outer join of the two pair sets, "
    "counts folded map-side; both branches reuse the engine's own "
    "oracle-checked operators.",
    tags=("dedup", "minhash", "eval", "llm"),
)
def lsh_eval_pr_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td(spark, sf_dir, "documents")
    exact = (
        D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.02, max_df=None)
        .select("id_a", "id_b")
        .withColumn("in_e", F.lit(True))
    )
    cand = (
        D.minhash_jaccard_estimates(docs, "doc_id", "text", k=8, bands=4, n=3)
        .filter(F.col("est_jaccard") >= 0.125)
        .select("id_a", "id_b")
        .withColumn("in_c", F.lit(True))
    )
    j = exact.join(cand, ["id_a", "id_b"], "full").select(
        F.coalesce("in_e", F.lit(False)).alias("in_e"),
        F.coalesce("in_c", F.lit(False)).alias("in_c"),
    )
    tp = F.sum(F.when(F.col("in_e") & F.col("in_c"), 1).otherwise(0))
    fp = F.sum(F.when(F.col("in_c") & ~F.col("in_e"), 1).otherwise(0))
    fn = F.sum(F.when(F.col("in_e") & ~F.col("in_c"), 1).otherwise(0))
    return j.agg(
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        F.round(tp * 1.0 / F.nullif(tp + fp, F.lit(0)), 6).alias("precision"),
        F.round(tp * 1.0 / F.nullif(tp + fn, F.lit(0)), 6).alias("recall"),
    )


@query(
    "decontamination_lsh_docs",
    oracle=f"""
    WITH {_DUCK_TOKENS_CTE.strip()}
    {_DUCK_SHINGLE_HASHES_CTE}
    , sigs AS (
      SELECT doc_id,
           {_duck_minhash_sig_select()}
      FROM hs
    ), lb AS (
      SELECT doc_id AS left_id, unnest([
        'b0:' || sig_0 || ':' || sig_1,
        'b1:' || sig_2 || ':' || sig_3,
        'b2:' || sig_4 || ':' || sig_5,
        'b3:' || sig_6 || ':' || sig_7]) AS bucket
      FROM sigs WHERE sig_0 <> {MOD} AND doc_id % 17 <> 0
    ), rb AS (
      SELECT doc_id AS right_id, unnest([
        'b0:' || sig_0 || ':' || sig_1,
        'b1:' || sig_2 || ':' || sig_3,
        'b2:' || sig_4 || ':' || sig_5,
        'b3:' || sig_6 || ':' || sig_7]) AS bucket
      FROM sigs WHERE sig_0 <> {MOD} AND doc_id % 17 = 0
    )
    SELECT DISTINCT l.left_id, r.right_id
    FROM lb l JOIN rb r ON l.bucket = r.bucket
    """,
    description="Bipartite MinHash-LSH decontamination: band-bucket "
    "candidates BETWEEN a training corpus (doc_id % 17 <> 0) and a held-"
    "out eval set (doc_id % 17 = 0) — no id<id canonicalization, every "
    "cross collision is a candidate. The |train| x |eval| cross product "
    "becomes one bucket-keyed equi-join; the fuzzy complement to the "
    "exact n-gram contamination_check.",
    tags=("dedup", "minhash", "decontamination", "llm"),
)
def decontamination_lsh_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 17 != 0)
    eval_set = docs.filter(F.col("doc_id") % 17 == 0)
    return D.lsh_cross_candidates(train, eval_set, "doc_id", "text", k=8, bands=4, n=3)


@query(
    "hll_merge_events",
    oracle=f"""
    SELECT event_type, {_HLL_UB} AS bucket, max({_HLL_UR}) AS rho
    FROM events GROUP BY event_type, bucket
    """,
    description="HLL MERGEABILITY (the property that makes sketches work "
    "on a cluster): the events stream is split into two halves by "
    "event_id parity, each half builds its own register set, and the "
    "merge (union + max per register) must equal the registers built "
    "directly over the whole table — which is exactly what the oracle "
    "computes. Partial sketches per partition/day/executor then one tiny "
    "merge is the 100 TB pattern; this query proves the algebra end-to-"
    "end against DuckDB.",
    tags=("sketch", "hll", "merge", "llm"),
)
def hll_merge_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.sketch import hll_build, hll_merge

    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    half_a = ev.filter(F.col("event_id") % 2 == 0)
    half_b = ev.filter(F.col("event_id") % 2 == 1)
    sk_a = hll_build(half_a, "user_id", ["event_type"])
    sk_b = hll_build(half_b, "user_id", ["event_type"])
    return hll_merge(sk_a, sk_b)


@query(
    "cms_merge_tokens",
    oracle=_CMS_BASE_SQL + "SELECT r, bucket, cnt FROM sketch",
    description="CMS MERGEABILITY: the corpus splits into two halves by "
    "doc_id parity, each half builds its own d x w grid, and the cell-wise "
    "sum must equal the grid built directly over the whole corpus (the "
    "oracle). Counters ADD where HLL registers MAX — together the two "
    "merge queries prove both sketch algebras the partial-sketch pattern "
    "relies on at scale.",
    tags=("sketch", "cms", "merge", "llm"),
)
def cms_merge_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.sketch import cms_build, cms_merge

    docs = td(spark, sf_dir, "documents")
    half_a = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.explode(X.tokens(F.col("text"))).alias("tok")
    )
    half_b = docs.filter(F.col("doc_id") % 2 == 1).select(
        F.explode(X.tokens(F.col("text"))).alias("tok")
    )
    return cms_merge(
        cms_build(half_a, "tok", depth=4, width=512),
        cms_build(half_b, "tok", depth=4, width=512),
    )


@query(
    "select_budget_docs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
      FROM documents
    ), stats AS (
      SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS n_tokens,
             CASE WHEN len(tk) BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.0 END AS length_ok,
             CASE WHEN len(tk) > 0
                  THEN CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)
                  ELSE 0.0 END AS ttr,
             CASE WHEN length(text) > 0
                  THEN 1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)
                  ELSE 1.0 END AS low_punct
      FROM toks
    ), scored AS (
      SELECT doc_id, n_tokens,
             round(0.4 * length_ok + 0.3 * ttr + 0.3 * low_punct, 6) AS quality
      FROM stats
    ), summed AS (
      SELECT doc_id, quality, n_tokens,
             sum(n_tokens) OVER (ORDER BY quality DESC, doc_id ASC
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM scored
    )
    SELECT doc_id, quality, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM summed WHERE cum_tokens - n_tokens < 5000
    """,
    description="Budget-constrained data selection: documents taken in "
    "quality order (composite heuristic, id tie-break) until a 5k-token "
    "budget fills — 'best B tokens', the selection step between scoring "
    "and tokenization. Range-partitioned global sort + one running-sum "
    "window pass; the straddling boundary doc is kept, so the result is "
    "a deterministic prefix of the quality ordering.",
    tags=("sampling", "selection", "llm"),
)
def select_budget_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.corpus import select_until_budget
    from healthcare_etl_pipeline_spark.operators.text import quality_score, token_count

    docs = td(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        quality_score("text").alias("quality"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return select_until_budget(
        scored, "doc_id", "quality", "n_tokens", budget=5000
    )


@query(
    "novelty_score_docs",
    oracle=f"""
    WITH {_DUCK_TOKENS_CTE.strip()}
    {_DUCK_SHINGLE_HASHES_CTE}
    , ex AS (
      SELECT doc_id, unnest(hs) AS h FROM hs
    ), dfreq AS (
      SELECT h, count(*) AS df FROM ex GROUP BY h
    )
    SELECT e.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           round(avg(CASE WHEN d.df = 1 THEN 1.0 ELSE 0.0 END), 6) AS novelty
    FROM ex e JOIN dfreq d USING (h)
    GROUP BY e.doc_id
    """,
    description="Cross-document novelty score: the fraction of a doc's "
    "distinct shingles that appear NOWHERE else in the corpus — the soft "
    "complement to hard near-dedup (low novelty flags heavy cross-corpus "
    "duplication that never crosses a pair threshold). One explode, one "
    "map-side-combined df groupBy, one equi-join back, one per-doc avg.",
    tags=("dedup", "text", "quality", "llm"),
)
def novelty_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    from healthcare_etl_pipeline_spark.operators.cache import bounded_persist
    from healthcare_etl_pipeline_spark.operators.dedup import shingle_hashes

    hashes = (
        docs.repartition(par, "doc_id")
        .select("doc_id", shingle_hashes(F.col("text"), 3, "portable").alias("hs"))
        .transform(bounded_persist)
    )
    ex = hashes.select("doc_id", F.explode("hs").alias("h"))
    dfreq = ex.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    return (
        ex.join(dfreq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.round(
                F.avg(F.when(F.col("df") == 1, 1.0).otherwise(0.0)), 6
            ).alias("novelty"),
        )
    )


_DSIR_TARGET = "('src0','src1','src2','src3','src4')"


@query(
    "importance_weight_docs",
    oracle=f"""
    WITH {_DUCK_TOKENS_CTE.strip()},
    tb AS (
      SELECT doc_id, source, ({_duck_hash('t.tok')} % 512) AS bucket
      FROM (SELECT doc_id, source, unnest(tk) AS tok FROM toks) t
    ),
    stats AS (
      SELECT bucket,
             sum(CASE WHEN source IN {_DSIR_TARGET} THEN 1 ELSE 0 END) AS t_cnt,
             sum(CASE WHEN source IN {_DSIR_TARGET} THEN 0 ELSE 1 END) AS r_cnt
      FROM tb GROUP BY bucket
    ),
    tot AS (SELECT sum(t_cnt) AS t_total, sum(r_cnt) AS r_total FROM stats),
    lr AS (
      SELECT bucket,
             ln((t_cnt + 1.0) / (t_total + 512)) - ln((r_cnt + 1.0) / (r_total + 512)) AS lr
      FROM stats, tot
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           round(avg(lr), 6) AS importance
    FROM tb JOIN lr USING (bucket)
    GROUP BY doc_id
    """,
    description="DSIR-style data selection: hashed-unigram importance "
    "weights (target = sources src0-src4, raw = the rest; 512 hash "
    "buckets, add-1 smoothing). One bucket-key shuffle builds both domain "
    "LMs; the 512-row log-ratio table broadcasts back onto the token "
    "stream. Per-doc mean log-likelihood ratio, value-checked end-to-end "
    "including the portable token hash.",
    tags=("llm", "selection", "quality", "dsir"),
)
def importance_weight_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.corpus import importance_weights

    docs = t(spark, sf_dir, "documents")
    return importance_weights(
        docs,
        F.col("source").isin("src0", "src1", "src2", "src3", "src4"),
        buckets=512,
    )


@query(
    "export_jsonl_roundtrip",
    oracle=f"""
    SELECT doc_id,
           CAST({hash_bucket_sql("doc_id")} % 8 AS INTEGER) AS shard,
           md5(text) AS text_md5,
           n_chars
    FROM documents
    """,
    description="Training-data export, value-checked through the FULL "
    "write->read roundtrip: documents shard deterministically (portable "
    "hash-bucket of doc_id mod 8), write as gzipped JSONL partitioned by "
    "shard with a post-write manifest, then read BACK through Spark's JSON "
    "reader. Returned ids, hive-derived shard assignments, and text md5s "
    "must match the oracle's direct recomputation - a broken JSON escape, "
    "a misplaced row, or a manifest/row-count mismatch (asserted in-query) "
    "flips the check red.",
    tags=("export", "sink", "llm"),
)
def export_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import types as TY

    from healthcare_etl_pipeline_spark.sources.export import (
        export_jsonl_shards,
        read_jsonl_shards,
        read_manifest,
    )

    out = scratch_dir("export", sf_dir)
    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    manifest = export_jsonl_shards(docs, out, n_shards=8)

    schema = TY.StructType(
        [
            TY.StructField("doc_id", TY.LongType()),
            TY.StructField("text", TY.StringType()),
            TY.StructField("n_chars", TY.LongType()),
        ]
    )
    back = read_jsonl_shards(spark, out, schema)
    n_back = back.count()
    assert manifest["row_count"] == n_back, "manifest must account for every row"
    assert sum(manifest["shard_counts"].values()) == n_back
    return back.select(
        "doc_id",
        F.col("shard").cast("int").alias("shard"),
        F.md5("text").alias("text_md5"),
        "n_chars",
    )


@query(
    "ann_ivf_persisted",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 10),
         scored AS (
           SELECT q_id, vec_id, {_DUCK_COS} AS cos FROM q, c
         ), ranked AS (
           SELECT q_id, vec_id,
                  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
           FROM scored
         )
    SELECT q_id, list_sort(list(vec_id)) AS exact_top5, TRUE AS recall_floor_met
    FROM ranked WHERE rank <= 5 GROUP BY q_id
    """,
    description="IVF ANN served FROM A PERSISTED INDEX, as the same "
    "value-checked accuracy contract as ann_ivf_cosine: the corpus is "
    "written partitioned by assigned cell (+ centroid table alongside), "
    "queries probe nprobe=3 cells via a partition-pruning isin filter — "
    "the scan lists only the probed cells' files — and the exact re-rank "
    "runs inside. Exact top-5 sets hash-match the oracle; aggregate "
    "recall@5 must clear 0.3 or the boolean flips red. Proves the "
    "'assignment is write-time work' scale story end-to-end through real "
    "parquet layout.",
    tags=("similarity", "ivf", "index", "llm"),
)
def ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    index_dir = scratch_dir("ivf_index", sf_dir)

    def approx(q, c):
        shutil.rmtree(index_dir, ignore_errors=True)
        shutil.rmtree(index_dir + ".centroids", ignore_errors=True)
        S.build_ivf_index(c, index_dir, dim=64)
        return S.ann_ivf_from_index(
            spark, index_dir, q, k=5, dim=64, nprobe=3
        )

    return _ann_recall_contract(spark, sf_dir, approx, floor=0.3)


@query(
    "ann_ivfpq_persisted",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 10),
         scored AS (
           SELECT q_id, vec_id, {_DUCK_COS} AS cos FROM q, c
         ), ranked AS (
           SELECT q_id, vec_id,
                  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
           FROM scored
         )
    SELECT q_id, list_sort(list(vec_id)) AS exact_top5, TRUE AS recall_floor_met
    FROM ranked WHERE rank <= 5 GROUP BY q_id
    """,
    description="Full IVF-PQ serving path from a PERSISTED index, same "
    "value-checked accuracy contract as ann_ivf_persisted: the index "
    "stores m=8 one-byte codes of the unit-normalized RESIDUAL "
    "x - centroid(cell) partitioned by coarse cell (~1/32 the corpus "
    "bytes), queries probe nprobe=5 cells via partition-pruning isin, "
    "the lossy scan is one Arrow codeword-gather ADC kernel over codes "
    "only, and the top 5*16 ADC candidates are re-ranked by exact "
    "cosine against their true vectors — the standard two-stage "
    "quantized-ANN shape where the exact pass touches only "
    "k*refine_factor vectors per query. Exact top-5 sets hash-match the "
    "oracle; aggregate recall@5 must clear 0.35 (measured 0.50-0.66 "
    "across sf0.001/sf0.01/sf0.1 on these adversarially uniform "
    "embeddings — max pairwise cosine ~0.51) or the boolean flips red. "
    "KNOWN LIMIT, measured at the sf1 rung (ORACLE_SF01.md round 5): on "
    "UNIFORM-random 64d data the PQ estimator's quantization noise "
    "exceeds the true-neighbor signal once the corpus passes ~10k "
    "(in-cell ADC rank of the cos-0.41 true neighbor: 1300/2120), so "
    "the contract floor is scoped to the gate scales; distributions "
    "without intrinsic structure are PQ's literature worst case — use "
    "ann_ivf_* (exact re-rank) or dedup_embedding_lsh there, both "
    "value-green at sf1.",
    tags=("similarity", "ivf", "pq", "index", "llm"),
)
def ann_ivfpq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    index_dir = scratch_dir("ivfpq_index", sf_dir)

    def approx(q, c):
        for d in (index_dir, index_dir + ".centroids", index_dir + ".codebooks"):
            shutil.rmtree(d, ignore_errors=True)
        S.build_ivfpq_index(c, index_dir, dim=64, m=8, ks=16, iters=1)
        return S.ann_ivfpq_from_index(
            spark, index_dir, q, k=5, dim=64, nprobe=5,
            refine_corpus=c, refine_factor=16,
        )

    return _ann_recall_contract(spark, sf_dir, approx, floor=0.35)


@query(
    "ann_ivfpq_recall_contract",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 10),
         scored AS (
           SELECT q_id, vec_id, {_DUCK_COS} AS cos FROM q, c
         ), ranked AS (
           SELECT q_id, vec_id,
                  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
           FROM scored
         )
    SELECT q_id, list_sort(list(vec_id)) AS exact_top5,
           TRUE AS retrain_triggered, TRUE AS recall_after_floor_met
    FROM ranked WHERE rank <= 5 GROUP BY q_id
    """,
    description="IVF-PQ index-health lifecycle as a value contract "
    "(round-6 verdict #4): the index is bootstrapped on a 50-vector "
    "unstructured sample (ONE coarse cell, codebooks Lloyd-trained on "
    "50 residuals), then outgrown ~10x by frozen appends — the classic "
    "quantizer-obsolescence drift that ivfpq_index_append defers to a "
    "rebuild decision. ivfpq_retrain_if_drifted measures sampled "
    "recall@5 under bounded refine (factor 4 — the regime where an "
    "obsolete quantizer actually hurts; measured 0.22-0.24 across "
    "sf0.001-0.1), detects it below the 0.35 floor, rebuilds over the "
    "full corpus (real cell labels + retrained books), and re-measures "
    "(0.44 at sf0.001/0.01; 0.18 at sf0.1 where in-cell PQ ranking on "
    "uniform data decays past ~10k per the ann_ivfpq_persisted known "
    "limit — still above the 0.15 catastrophic-breakage floor hashed "
    "here). Emits the exact top-5 sets (hash-matched against the "
    "oracle's brute-force fold) + retrain_triggered + the post-retrain "
    "floor boolean; recall IMPROVEMENT is asserted in "
    "tests/test_similarity.py where the margin is deterministic. "
    "Geometric drift needs NO retrain (isometries keep neighbors "
    "co-located under frozen assignment) — also under test.",
    tags=("similarity", "ivf", "pq", "index", "maintenance", "llm"),
)
def ann_ivfpq_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    index_dir = scratch_dir("ivfpq_drift_idx", sf_dir)
    emb = td(spark, sf_dir, "embeddings")
    boot = (
        emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 60))
        .withColumn("label", F.lit(0))
    )
    S.build_ivfpq_index(boot, index_dir, dim=64, m=8, ks=16, iters=1)
    S.ivfpq_index_append(
        spark, index_dir, emb.filter(F.col("vec_id") >= 60), dim=64
    )
    probes = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    rep = S.ivfpq_retrain_if_drifted(
        spark, index_dir, corpus, probes, floor=0.35, refine_factor=4
    )
    assert rep["retrained"], rep  # the drift trigger must fire
    exact = S.brute_force_topk(probes, corpus, k=5, dim=64)
    return exact.groupBy("q_id").agg(
        F.sort_array(F.collect_list("vec_id")).alias("exact_top5"),
        F.lit(bool(rep["retrained"])).alias("retrain_triggered"),
        F.lit(bool(rep["recall_after"] >= 0.15)).alias(
            "recall_after_floor_met"
        ),
    )


@query(
    "leakage_safe_split_docs",
    oracle=f"""
    WITH RECURSIVE {_DUCK_TOKENS_CTE.strip()}
    {_DUCK_SHINGLE_HASHES_CTE}
    , sigs AS (
      SELECT doc_id,
           {_duck_minhash_sig_select()}
      FROM hs
    ), buckets AS (
      SELECT doc_id, unnest([
        'b0:' || sig_0 || ':' || sig_1,
        'b1:' || sig_2 || ':' || sig_3,
        'b2:' || sig_4 || ':' || sig_5,
        'b3:' || sig_6 || ':' || sig_7]) AS bucket
      FROM sigs WHERE sig_0 <> {MOD}
    ), pairs AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM buckets l JOIN buckets r
        ON l.bucket = r.bucket AND l.doc_id < r.doc_id
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), prop AS (
      SELECT DISTINCT src AS id, src AS label FROM edges
      UNION
      SELECT e.dst AS id, p.label
      FROM prop p JOIN edges e ON p.id = e.src
      WHERE p.label < e.dst
    ), comp AS (
      SELECT id, min(label) AS component FROM prop GROUP BY id
    ), assigned AS (
      SELECT d.doc_id,
             coalesce(c.component, d.doc_id) AS group_id,
             CASE WHEN {hash_bucket_sql("coalesce(c.component, d.doc_id)")} < 9000
                    THEN 'train'
                  WHEN {hash_bucket_sql("coalesce(c.component, d.doc_id)")} < 9500
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    ), summary AS (
      SELECT split, count(*) AS n_docs,
             count(DISTINCT group_id) AS n_groups
      FROM assigned GROUP BY split
    ), leak AS (
      SELECT count(*) AS leaked_pairs
      FROM pairs p
      JOIN assigned a ON p.id_a = a.doc_id
      JOIN assigned b ON p.id_b = b.doc_id
      WHERE a.split <> b.split
    )
    SELECT s.split, s.n_docs, s.n_groups, l.leaked_pairs
    FROM summary s CROSS JOIN leak l
    """,
    description="Leakage-safe train/val/test split: documents are split on "
    "their near-dup CLUSTER id (connected components over MinHash-LSH pair "
    "evidence; singletons are their own group), so rephrasings of one "
    "document can never straddle train and eval — the contamination a "
    "row-keyed split bakes into benchmarks. Same zero-shuffle deterministic "
    "bucket arithmetic as hash_split, applied to the group id; the result "
    "carries per-split doc/group counts plus the crossing-pair count, which "
    "must be ZERO by construction (one group -> one bucket -> one split). "
    "The final 1-row leak frame is a broadcast crossJoin (whitelisted).",
    tags=("llm", "split", "dedup", "leakage"),
)
def leakage_safe_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.sampling import (
        grouped_hash_split,
    )

    docs = td(spark, sf_dir, "documents")
    pairs = D.lsh_candidate_pairs(docs, "doc_id", "text", k=8, bands=4, n=3)
    pairs = pairs.transform(
        lambda df: df.localCheckpoint(eager=True)
    )  # reused by assignment AND the leak audit: cut the LSH lineage once
    comp = D.connected_components(pairs)
    assigned = (
        docs.join(comp, docs["doc_id"] == comp["id"], "left")
        .select(
            docs["doc_id"],
            F.coalesce(comp["component"], docs["doc_id"]).alias("group_id"),
        )
        .transform(
            lambda df: grouped_hash_split(
                df,
                "group_id",
                fractions={"train": 0.90, "val": 0.05, "test": 0.05},
            )
        )
    )
    summary = assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("group_id").alias("n_groups"),
    )
    a = assigned.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
    )
    b = assigned.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
    )
    leak = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .agg(F.count(F.lit(1)).alias("leaked_pairs"))
    )
    return summary.crossJoin(F.broadcast(leak)).select(
        "split", "n_docs", "n_groups", "leaked_pairs"
    )


@query(
    "minhash_index_dedup_increment",
    oracle=f"""
    WITH {_DUCK_TOKENS_CTE.strip()}
    {_DUCK_SHINGLE_HASHES_CTE}
    , sigs AS (
      SELECT doc_id,
           {_duck_minhash_sig_select()}
      FROM hs
    ), buckets AS (
      SELECT doc_id, unnest([
        'b0:' || sig_0 || ':' || sig_1,
        'b1:' || sig_2 || ':' || sig_3,
        'b2:' || sig_4 || ':' || sig_5,
        'b3:' || sig_6 || ':' || sig_7]) AS bucket
      FROM sigs WHERE sig_0 <> {MOD}
    ),
    corpus AS (SELECT doc_id FROM documents WHERE doc_id % 5 <> 0),
    inc1 AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
    inc2 AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 5),
    idx0 AS (SELECT b.doc_id, b.bucket FROM buckets b JOIN corpus USING (doc_id)),
    b1 AS (SELECT b.doc_id, b.bucket FROM buckets b JOIN inc1 USING (doc_id)),
    hit1 AS (SELECT DISTINCT b1.doc_id FROM b1 JOIN idx0 ON b1.bucket = idx0.bucket),
    dom1 AS (SELECT DISTINCT r.doc_id
             FROM b1 l JOIN b1 r ON l.bucket = r.bucket AND l.doc_id < r.doc_id),
    s1 AS (SELECT doc_id FROM inc1
           WHERE doc_id NOT IN (SELECT doc_id FROM hit1)
             AND doc_id NOT IN (SELECT doc_id FROM dom1)),
    idx1 AS (SELECT * FROM idx0
             UNION ALL
             SELECT b.doc_id, b.bucket FROM buckets b JOIN s1 USING (doc_id)),
    b2 AS (SELECT b.doc_id, b.bucket FROM buckets b JOIN inc2 USING (doc_id)),
    hit2 AS (SELECT DISTINCT b2.doc_id FROM b2 JOIN idx1 ON b2.bucket = idx1.bucket),
    dom2 AS (SELECT DISTINCT r.doc_id
             FROM b2 l JOIN b2 r ON l.bucket = r.bucket AND l.doc_id < r.doc_id),
    s2 AS (SELECT doc_id FROM inc2
           WHERE doc_id NOT IN (SELECT doc_id FROM hit2)
             AND doc_id NOT IN (SELECT doc_id FROM dom2))
    SELECT d.doc_id, d.lang, d.source, 'corpus' AS phase
    FROM documents d JOIN corpus USING (doc_id)
    UNION ALL
    SELECT d.doc_id, d.lang, d.source, 'inc1' AS phase
    FROM documents d JOIN s1 USING (doc_id)
    UNION ALL
    SELECT d.doc_id, d.lang, d.source, 'inc2' AS phase
    FROM documents d JOIN s2 USING (doc_id)
    """,
    description="Persisted incremental MinHash-LSH dedup index "
    "(operators/dedup_index.py): bootstrap the band-bucket index over a "
    "corpus (docs with doc_id%5!=0), then dedup TWO successive increments "
    "against it — each increment signs only ITS OWN docs (O(increment) "
    "CPU, the corpus text is never re-read), probes the index via a "
    "stats-gated broadcast join, and commits survivors + their index rows "
    "in one atomic warehouse txn, so increment 2 is deduped against "
    "increment 1's survivors through the UPDATED index. Returns the final "
    "committed corpus membership with its arrival phase.",
    tags=("dedup", "minhash", "lsh", "txn", "llm"),
)
def minhash_index_dedup_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators import dedup_index as DI
    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )

    docs = td(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    root = scratch_dir("minhash_idx_wh", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.create_all()
    wh.register_table(
        "corpus_docs",
        T.StructType(
            [
                T.StructField("doc_id", docs.schema["doc_id"].dataType, True),
                T.StructField("lang", T.StringType(), True),
                T.StructField("source", T.StringType(), True),
                T.StructField("phase", T.StringType(), True),
            ]
        ),
    )
    DI.register_minhash_index(
        wh, "minhash_index", docs, "doc_id", docs_table="corpus_docs"
    )

    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    boot = wh.begin("bootstrap", operation="minhash-index-build")
    DI.build_minhash_index(wh, corpus, index_table="minhash_index", txn=boot)
    boot.stage(
        corpus.select("doc_id", "lang", "source", F.lit("corpus").alias("phase")),
        "corpus_docs",
    )
    boot.commit()

    for phase, rem in (("inc1", 0), ("inc2", 5)):
        inc = docs.filter(F.col("doc_id") % 10 == rem).withColumn(
            "phase", F.lit(phase)
        )
        DI.dedup_increment(
            wh,
            inc,
            index_table="minhash_index",
            docs_table="corpus_docs",
            docs_projection=["doc_id", "lang", "source", "phase"],
            batch_id=phase,
        )
    return wh.read("corpus_docs").select("doc_id", "lang", "source", "phase")


@query(
    "minhash_index_forget_dedup",
    oracle=f"""
    WITH {_DUCK_TOKENS_CTE.strip()}
    {_DUCK_SHINGLE_HASHES_CTE}
    , sigs AS (
      SELECT doc_id,
           {_duck_minhash_sig_select()}
      FROM hs
    ), buckets AS (
      SELECT doc_id, unnest([
        'b0:' || sig_0 || ':' || sig_1,
        'b1:' || sig_2 || ':' || sig_3,
        'b2:' || sig_4 || ':' || sig_5,
        'b3:' || sig_6 || ':' || sig_7]) AS bucket
      FROM sigs WHERE sig_0 <> {MOD}
    ),
    corpus0 AS (SELECT doc_id FROM documents WHERE doc_id % 5 <> 0),
    forgotten AS (SELECT doc_id FROM corpus0 WHERE doc_id % 15 = 1),
    live AS (SELECT doc_id FROM corpus0
             WHERE doc_id NOT IN (SELECT doc_id FROM forgotten)),
    idx AS (SELECT b.doc_id, b.bucket FROM buckets b JOIN live USING (doc_id)),
    binc AS (SELECT b.doc_id + 1000000 AS doc_id, b.bucket
             FROM buckets b JOIN forgotten USING (doc_id)),
    hit AS (SELECT DISTINCT binc.doc_id FROM binc JOIN idx USING (bucket)),
    dom AS (SELECT DISTINCT r.doc_id
            FROM binc l JOIN binc r ON l.bucket = r.bucket AND l.doc_id < r.doc_id),
    s AS (SELECT f.doc_id + 1000000 AS doc_id, f.doc_id AS orig
          FROM forgotten f
          WHERE f.doc_id + 1000000 NOT IN (SELECT doc_id FROM hit)
            AND f.doc_id + 1000000 NOT IN (SELECT doc_id FROM dom))
    SELECT d.doc_id, d.lang, d.source, 'corpus' AS phase
    FROM documents d JOIN live USING (doc_id)
    UNION ALL
    SELECT s.doc_id, d.lang, d.source, 'reingest' AS phase
    FROM s JOIN documents d ON d.doc_id = s.orig
    """,
    description="GDPR forget -> derived-index consistency, end to end: "
    "bootstrap the persisted MinHash index over a corpus, FORGET a "
    "subset (wh.forget rewrites corpus AND its band buckets in ONE "
    "transaction — register_derived_index), then re-ingest the forgotten "
    "docs' text under new ids. Without index propagation every "
    "re-ingested doc would be suppressed by its own ghost's stale "
    "buckets; with it, a re-ingested doc is dropped only if it near-dups "
    "a LIVE corpus doc (or an earlier re-ingest). Returns the final "
    "corpus membership with phases.",
    tags=("dedup", "minhash", "lsh", "txn", "gdpr", "llm"),
)
def minhash_index_forget_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators import dedup_index as DI
    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )

    docs = td(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    root = scratch_dir("minhash_forget_wh", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.create_all()
    wh.register_table(
        "corpus_docs",
        T.StructType(
            [
                T.StructField("doc_id", docs.schema["doc_id"].dataType, True),
                T.StructField("lang", T.StringType(), True),
                T.StructField("source", T.StringType(), True),
                T.StructField("phase", T.StringType(), True),
            ]
        ),
    )
    DI.register_minhash_index(
        wh, "minhash_index", docs, "doc_id", docs_table="corpus_docs"
    )

    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    boot = wh.begin("bootstrap", operation="minhash-index-build")
    DI.build_minhash_index(wh, corpus, index_table="minhash_index", txn=boot)
    boot.stage(
        corpus.select("doc_id", "lang", "source", F.lit("corpus").alias("phase")),
        "corpus_docs",
    )
    boot.commit()

    wh.forget({"corpus_docs": F.col("doc_id") % 15 == 1})

    reingest = (
        docs.filter(F.col("doc_id") % 5 != 0)
        .filter(F.col("doc_id") % 15 == 1)
        .withColumn("doc_id", F.col("doc_id") + F.lit(1000000))
        .withColumn("phase", F.lit("reingest"))
    )
    DI.dedup_increment(
        wh,
        reingest,
        index_table="minhash_index",
        docs_table="corpus_docs",
        docs_projection=["doc_id", "lang", "source", "phase"],
        batch_id="reingest",
    )
    return wh.read("corpus_docs").select("doc_id", "lang", "source", "phase")


@query(
    "embedding_index_dedup_increment",
    oracle=f"""
    WITH corpus0 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0),
    inc1 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
    inc2 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 5),
    hit1 AS (
      SELECT DISTINCT i.vec_id
      FROM (SELECT vec_id, embedding AS qv FROM inc1) i
      JOIN (SELECT embedding AS cv FROM corpus0) c ON {_DUCK_COS} >= 0.35
    ),
    dom1 AS (
      SELECT DISTINCT b.vec_id
      FROM (SELECT vec_id, embedding AS qv FROM inc1) a
      JOIN (SELECT vec_id, embedding AS cv FROM inc1) b
        ON a.vec_id < b.vec_id AND {_DUCK_COS} >= 0.35
    ),
    s1 AS (SELECT vec_id, embedding FROM inc1
           WHERE vec_id NOT IN (SELECT vec_id FROM hit1)
             AND vec_id NOT IN (SELECT vec_id FROM dom1)),
    live1 AS (SELECT * FROM corpus0 UNION ALL SELECT * FROM s1),
    hit2 AS (
      SELECT DISTINCT i.vec_id
      FROM (SELECT vec_id, embedding AS qv FROM inc2) i
      JOIN (SELECT embedding AS cv FROM live1) c ON {_DUCK_COS} >= 0.35
    ),
    dom2 AS (
      SELECT DISTINCT b.vec_id
      FROM (SELECT vec_id, embedding AS qv FROM inc2) a
      JOIN (SELECT vec_id, embedding AS cv FROM inc2) b
        ON a.vec_id < b.vec_id AND {_DUCK_COS} >= 0.35
    ),
    s2 AS (SELECT vec_id FROM inc2
           WHERE vec_id NOT IN (SELECT vec_id FROM hit2)
             AND vec_id NOT IN (SELECT vec_id FROM dom2))
    SELECT vec_id, 'corpus' AS phase FROM corpus0
    UNION ALL
    SELECT vec_id, 'inc1' AS phase FROM s1
    UNION ALL
    SELECT vec_id, 'inc2' AS phase FROM s2
    """,
    description="Persisted incremental embedding-LSH dedup index "
    "(operators/embedding_index.py): bootstrap hyperplane band buckets "
    "over a vector corpus, then dedup TWO successive increments — each "
    "signs only ITS OWN vectors (O(increment)), probes the index via a "
    "broadcast (tbl,bucket) equi-join, verifies candidates with EXACT "
    "cosine against ONLY the candidates' corpus vectors, and commits "
    "survivors + index rows in one atomic txn. Oracle is the exact "
    "cosine dup rule (no LSH simulation needed): verification makes the "
    "output exact wherever recall holds, and at gate scales recall is "
    "exhaustively 1.0 (auto planes = lo-bound 2, seeded-deterministic). "
    "The increment result also carries the OCCUPANCY TRIGGER "
    "(needs_rebucket) — the persisted-index twin of IVF-PQ drift "
    "retrain; rebucket_embedding_index re-signs at the grown corpus's "
    "plane count with probe-identical decisions (tests).",
    tags=("dedup", "similarity", "lsh", "txn", "scale", "llm"),
)
def embedding_index_dedup_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators import embedding_index as EI
    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )

    emb = td(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    root = scratch_dir("embedding_idx_wh", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.create_all()
    wh.register_table(
        "corpus_vecs",
        T.StructType(
            [
                T.StructField("vec_id", emb.schema["vec_id"].dataType, True),
                T.StructField("embedding", emb.schema["embedding"].dataType, True),
                T.StructField("phase", T.StringType(), True),
            ]
        ),
    )
    EI.register_embedding_index(
        wh, "emb_idx", emb, "vec_id", vectors_table="corpus_vecs"
    )

    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    boot = wh.begin("bootstrap", operation="embedding-index-build")
    EI.build_embedding_index(
        wh, corpus, index_table="emb_idx", dim=64, threshold=0.35, txn=boot
    )
    boot.stage(
        corpus.withColumn("phase", F.lit("corpus")), "corpus_vecs"
    )
    boot.commit()

    for phase, rem in (("inc1", 0), ("inc2", 5)):
        inc = emb.filter(F.col("vec_id") % 10 == rem).withColumn(
            "phase", F.lit(phase)
        )
        EI.embedding_dedup_increment(
            wh,
            inc,
            index_table="emb_idx",
            corpus_table="corpus_vecs",
            vectors_projection=["vec_id", "embedding", "phase"],
            batch_id=phase,
        )
    return wh.read("corpus_vecs").select("vec_id", "phase")


@query(
    "dedup_embedding_lsh_auto",
    oracle=f"""
    WITH a AS (SELECT vec_id AS keep_id, embedding AS qv FROM embeddings),
         b AS (SELECT vec_id AS dup_id, embedding AS cv FROM embeddings)
    SELECT keep_id, dup_id, round({_DUCK_COS}, 6) AS cos_sim
    FROM a, b
    WHERE keep_id < dup_id AND {_DUCK_COS} >= 0.35
    """,
    description="Scale-posture variant of dedup_embedding_lsh: "
    "planes='auto' sizes the per-table bucket count from the measured "
    "corpus (expected occupancy ~1k rows/bucket) so the band join's "
    "candidate volume stays LINEAR in corpus size — the sf10 rung caught "
    "fixed planes=2 (4 buckets/table) going quadratic (~80B candidates). "
    "Value oracle is the exact pair set: at every oracle gate scale "
    "(sf0.001/0.01/0.1 embeddings = 500/500/2000 rows, all at or near the "
    "1k-row occupancy target) auto_planes resolves to the lo-bound 2, "
    "where recall is exhaustively 1.0 on the seeded-deterministic "
    "signatures — asserted by tests/test_similarity.py's auto-vs-pinned "
    "equivalence. At rung scales (sf1+: 20k+ vectors, planes 5+) the "
    "exact set is quadratic for any oracle engine and boundary-cosine "
    "recall is <1 by design; there the sampled evaluator "
    "(lsh_eval_pr_sample_docs pattern) carries the quality check instead.",
    tags=("dedup", "similarity", "lsh", "scale", "llm"),
)
def dedup_embedding_lsh_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td(spark, sf_dir, "embeddings")
    return S.embedding_dedup_lsh(
        emb, dim=64, threshold=0.35, planes="auto", tables=16, seed=42
    )


def _duck_pair_sample_pred(mod: int) -> str:
    from healthcare_etl_pipeline_spark.operators.sampling import pair_bucket_sql

    return f"{pair_bucket_sql('keep_id', 'dup_id')} % {mod} = 0"


@query(
    "dedup_embedding_pair_sample",
    oracle=f"""
    WITH a AS (SELECT vec_id AS keep_id, embedding AS qv FROM embeddings),
         b AS (SELECT vec_id AS dup_id, embedding AS cv FROM embeddings)
    SELECT keep_id, dup_id, round({_DUCK_COS}, 6) AS cos_sim
    FROM a, b
    WHERE keep_id < dup_id AND {_DUCK_COS} >= 0.35
      AND {_duck_pair_sample_pred(5)}
    """,
    description="BOUNDED near-dup pair listing: dedup_embedding_lsh_auto "
    "plus a portable pair-bucket sample (keep ≡0 mod 5). Pair "
    "enumeration is Θ(true pairs) — quadratic in duplicate density by "
    "definition; the sf100 rung measured ~1e9 true pairs at 1000-way "
    "copy clusters exhausting shuffle-spill space. The sampled listing "
    "is the production diagnostic at that density: a pure function of "
    "the two ids (engine-reproducible; exact 1/mod marginal rate with "
    "both ids multiplicatively mixed) filtered "
    "in the expansion stage BEFORE the pair-dedup exchange, so shuffle "
    "and output shrink by the sample factor while the dedup DECISION "
    "stays with the linear survivors/index forms.",
    tags=("dedup", "similarity", "lsh", "sample", "scale", "llm"),
)
def dedup_embedding_pair_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td(spark, sf_dir, "embeddings")
    return S.embedding_dedup_lsh(
        emb,
        dim=64,
        threshold=0.35,
        planes="auto",
        tables=16,
        seed=42,
        pair_sample_mod=5,
    )


_DUCK_TOKENS_SAMPLE_CTE = """
toks AS (
  SELECT *, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
  FROM documents WHERE doc_id % 25 = 0
)
"""


@query(
    "lsh_eval_pr_sample_docs",
    oracle=f"""
    WITH {_DUCK_TOKENS_SAMPLE_CTE.strip()}
    {_DUCK_SHINGLE_HASHES_CTE}
    , ex AS (
      SELECT doc_id, len(hs) AS set_size, unnest(hs) AS h FROM hs
    ), overlap AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             any_value(a.set_size) AS size_a, any_value(b.set_size) AS size_b,
             count(*) AS n_shared
      FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), exact AS (
      SELECT id_a, id_b, TRUE AS in_e FROM overlap
      WHERE round(n_shared / (size_a + size_b - n_shared), 6) >= 0.02
    ), sigs AS (
      SELECT doc_id,
           {_duck_minhash_sig_select()}
      FROM hs
    ), buckets AS (
      SELECT doc_id, unnest([
        'b0:' || sig_0 || ':' || sig_1,
        'b1:' || sig_2 || ':' || sig_3,
        'b2:' || sig_4 || ':' || sig_5,
        'b3:' || sig_6 || ':' || sig_7]) AS bucket
      FROM sigs WHERE sig_0 <> {MOD}
    ), pairs AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM buckets l JOIN buckets r
        ON l.bucket = r.bucket AND l.doc_id < r.doc_id
    ), cand AS (
      SELECT p.id_a, p.id_b, TRUE AS in_c
      FROM pairs p
      JOIN sigs l ON l.doc_id = p.id_a
      JOIN sigs r ON r.doc_id = p.id_b
      WHERE round(({_duck_sig_eq_sum()}) / 8.0, 6) >= 0.125
    ), j AS (
      SELECT coalesce(in_e, FALSE) AS in_e, coalesce(in_c, FALSE) AS in_c
      FROM exact e FULL OUTER JOIN cand c USING (id_a, id_b)
    )
    SELECT CAST(sum(CASE WHEN in_e AND in_c THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN in_c AND NOT in_e THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(sum(CASE WHEN in_e AND NOT in_c THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           round(sum(CASE WHEN in_e AND in_c THEN 1 ELSE 0 END) * 1.0 /
                 nullif(sum(CASE WHEN in_c THEN 1 ELSE 0 END), 0), 6) AS precision,
           round(sum(CASE WHEN in_e AND in_c THEN 1 ELSE 0 END) * 1.0 /
                 nullif(sum(CASE WHEN in_e THEN 1 ELSE 0 END), 0), 6) AS recall
    FROM j
    """,
    description="Sampled candidate-quality evaluation of the MinHash-LSH "
    "path: the same precision/recall harness as lsh_eval_pr_docs, over a "
    "deterministic 1-in-25 id-modulus sample of the corpus. Exact ground "
    "truth (uncapped shared-shingle Jaccard at a 0.02 threshold) is "
    "inherently quadratic in near-dup density — at 100 TB you CANNOT "
    "enumerate it corpus-wide, and the sf10 rung measured the full-corpus "
    "form exhausting spill space; PR estimated on a fixed sample is the "
    "production tuning loop. Value-oracled end-to-end on the sample.",
    tags=("dedup", "minhash", "eval", "sample", "scale", "llm"),
)
def lsh_eval_pr_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    exact = (
        D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.02, max_df=None)
        .select("id_a", "id_b")
        .withColumn("in_e", F.lit(True))
    )
    cand = (
        D.minhash_jaccard_estimates(docs, "doc_id", "text", k=8, bands=4, n=3)
        .filter(F.col("est_jaccard") >= 0.125)
        .select("id_a", "id_b")
        .withColumn("in_c", F.lit(True))
    )
    j = exact.join(cand, ["id_a", "id_b"], "full").select(
        F.coalesce("in_e", F.lit(False)).alias("in_e"),
        F.coalesce("in_c", F.lit(False)).alias("in_c"),
    )
    tp = F.sum(F.when(F.col("in_e") & F.col("in_c"), 1).otherwise(0))
    fp = F.sum(F.when(F.col("in_c") & ~F.col("in_e"), 1).otherwise(0))
    fn = F.sum(F.when(F.col("in_e") & ~F.col("in_c"), 1).otherwise(0))
    return j.agg(
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        F.round(tp * 1.0 / F.nullif(tp + fp, F.lit(0)), 6).alias("precision"),
        F.round(tp * 1.0 / F.nullif(tp + fn, F.lit(0)), 6).alias("recall"),
    )


@query(
    "warc_export_roundtrip",
    oracle=f"""
    SELECT doc_id,
           CAST({hash_bucket_sql("doc_id")} % 8 AS INTEGER) AS shard,
           lang,
           'https://example.org/' || source || '/' || doc_id AS target_uri,
           md5(text) AS text_md5,
           CAST(octet_length(encode(text)) AS BIGINT) AS content_length
    FROM documents
    """,
    description="Web-archive interchange, value-checked through the FULL "
    "write->read roundtrip: documents shard deterministically, export as "
    "Common-Crawl-layout .warc.gz (WARC 1.0 records, one gzip member per "
    "record, deterministic bytes — sorted within shard, fixed WARC-Date, "
    "mtime=0), then parse BACK via the binaryFile source (one task per "
    "archive, the honest parallelism unit for gzip'd WARC). Returned ids, "
    "filename-derived shard assignments, language headers, target URIs, "
    "payload md5s and byte lengths must match the oracle's direct "
    "recomputation — a framing bug, a broken utf-8 roundtrip, or a "
    "manifest/row-count mismatch (asserted in-query) flips the check red. "
    "Format implemented from the public ISO 28500 spec "
    "(sources/warc.py); no WARC library involved.",
    tags=("export", "source", "sink", "llm"),
)
def warc_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.sources.warc import (
        adaptive_parts_per_shard,
        export_warc_shards,
        read_warc,
        shard_of_file,
    )

    out = scratch_dir("warc_export", sf_dir)
    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "lang", "text")
    # 8 shards is the declared placement contract; parts split each shard's
    # file so encode + re-parse parallelize across all task slots (the
    # returned rows are invariant to the part split — shard_of_file strips
    # the part suffix and content is per-record).
    manifest = export_warc_shards(
        docs, out, n_shards=8, parts_per_shard=adaptive_parts_per_shard(spark, 8)
    )

    back = read_warc(spark, out + "/shard-*.warc.gz")
    n_back = back.count()
    assert manifest["row_count"] == n_back, "manifest must account for every row"
    assert sum(manifest["shard_counts"].values()) == n_back
    return back.select(
        "doc_id",
        shard_of_file(F.col("source_file")).alias("shard"),
        "lang",
        "target_uri",
        F.md5("text").alias("text_md5"),
        "content_length",
    )


from healthcare_etl_pipeline_spark.operators.sampling import (  # noqa: E402
    contrastive_negatives_sql as _cn_sql,
)


@query(
    "contrastive_negatives_docs",
    oracle=_cn_sql("doc_id", k=3, salt=0)
    + """
    SELECT c.anchor_id, c.neg_rank, c.neg_id,
           md5(x.text) AS neg_md5, x.source AS neg_source
    FROM _cand c JOIN documents x ON x.doc_id = c.neg_id
    WHERE c.neg_id <> c.anchor_id
    """,
    description="Deterministic negative sampling for contrastive/embedding "
    "training: k=3 pseudo-random negatives per anchor derived purely from "
    "(anchor_id, rank) by the portable multiplicative mixer mod the "
    "id-space size (a 1-row scalar broadcast, not a driver constant), "
    "then ONE equi-join fetches negative payloads. No RNG state — resuming "
    "an epoch or re-running on a different partitioning yields identical "
    "pairs, and the DuckDB oracle recomputes the exact same candidate set. "
    "Self-collisions drop (deterministic samplers can't redraw), so the "
    "contract is up-to-k negatives with collision rate k/n.",
    tags=("sampling", "training", "llm"),
)
def contrastive_negatives_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.sampling import contrastive_negatives

    docs = t(spark, sf_dir, "documents")
    cand = contrastive_negatives(docs, "doc_id", k=3, salt=0)
    neg = docs.select(
        F.col("doc_id").alias("neg_id"),
        F.md5("text").alias("neg_md5"),
        F.col("source").alias("neg_source"),
    )
    return cand.join(neg, "neg_id").select(
        "anchor_id", "neg_rank", "neg_id", "neg_md5", "neg_source"
    )


@query(
    "data_card_sources",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source, text, n_chars,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
      FROM documents
    ), q AS (
      SELECT doc_id, source, text, n_chars,
             len(tk) AS n_tokens,
             round(0.4 * (CASE WHEN len(tk) BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.0 END)
                 + 0.3 * (CASE WHEN len(tk) > 0
                               THEN CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)
                               ELSE 0.0 END)
                 + 0.3 * (CASE WHEN length(text) > 0
                               THEN 1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / length(text)
                               ELSE 1.0 END), 6) AS quality
      FROM toks
    )
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_unique_texts,
           CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE) / count(*) AS dup_rate,
           sum(n_tokens) AS total_tokens,
           sum(n_chars) AS total_chars,
           max(n_chars) AS max_chars,
           CAST(sum(CAST(floor(quality * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / (count(*) * 1000000) AS avg_quality,
           CAST(sum(CASE WHEN quality >= 0.85 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS hq_share
    FROM q
    GROUP BY source
    """,
    description="Per-source corpus data card — the governance summary a "
    "training-data release ships with: volume (docs/tokens/chars), exact-"
    "duplicate rate (distinct text md5), composite quality (mean + share "
    "clearing the 0.85 gate). One scan, one partial-aggregated groupBy on "
    "a low-cardinality key. Float determinism: the mean is an EXACT "
    "integer sum of per-row micro-units (6dp quality x 1e6) divided once "
    "at the end (IEEE division is correctly rounded), and rates are exact "
    "integer ratios — no cross-partition summation-order drift at any "
    "scale.",
    tags=("text", "quality", "reporting", "llm"),
)
def data_card_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        "n_chars",
        X.token_count("text").alias("n_tokens"),
        X.quality_score("text").alias("quality"),
        F.md5("text").alias("text_md5"),
    )
    n = F.count(F.lit(1))
    uniq = F.count_distinct(F.col("text_md5"))
    micro = F.sum(F.floor(F.col("quality") * 1000000 + F.lit(0.5)).cast("long"))
    hq = F.sum(F.when(F.col("quality") >= 0.85, 1).otherwise(0))
    return per_doc.groupBy("source").agg(
        n.cast("long").alias("n_docs"),
        uniq.cast("long").alias("n_unique_texts"),
        ((n - uniq).cast("double") / n).alias("dup_rate"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        (micro.cast("double") / (n * 1000000)).alias("avg_quality"),
        (hq.cast("double") / n).alias("hq_share"),
    )

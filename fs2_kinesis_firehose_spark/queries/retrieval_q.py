"""Ranked-retrieval queries: BM25 over the ``documents`` table.

The oracle restates Okapi BM25 (Lucene-default idf) in DuckDB over the same
whitespace tokenization the Spark side uses.  Constants are formatted with
``repr`` so both engines parse the identical double; ``dl`` is integer-valued
so ``avg(dl)`` is bit-exact cross-engine; the final score is rounded to 4
decimals to absorb last-ulp ``ln`` differences between libm and the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from fs2_kinesis_firehose_spark.operators import retrieval
from fs2_kinesis_firehose_spark.queries import query
from fs2_kinesis_firehose_spark.tables import load_table

# Fixed bag-of-words query over the fixture vocabulary.
_QUERY_TERMS = ["hash", "join", "filter", "vector"]
_K = 20
_K1 = 1.2
_B = 0.75

_terms_sql = ", ".join(f"'{t}'" for t in _QUERY_TERMS)

# string_split_regex('\\s+') matches functions/text.tokens exactly (split
# on any whitespace run), not just single spaces — r4 ADVICE.
_TOKS = """toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    )"""
_TOKS_STATS = f"""{_TOKS},
    stats AS (
        SELECT COUNT(*) AS n_docs, AVG(len(t)) AS avgdl FROM toks
    )"""


def _postings(where: str) -> str:
    """Term frequency per (doc, doc length, term) of ``toks``, for the
    rows ``where`` keeps."""
    return f"""
        SELECT doc_id, dl, term, COUNT(*) AS tf
        FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks)
        {where}
        GROUP BY doc_id, dl, term
    """


# per doc, the BM25 sum over the posting rows p with term df f and corpus
# stats s
_BM25 = f"""ROUND(SUM(
               LN(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
               * (p.tf * {_K1 + 1.0!r})
               / (p.tf + {_K1!r} * ({1.0 - _B!r} + {_B!r} * p.dl / s.avgdl))
           ), 4) AS bm25"""

# the top _K docs by BM25 over ``posts``
_BM25_TOPK = f"""
    dfs AS (SELECT term, COUNT(*) AS df FROM posts GROUP BY term)
    SELECT p.doc_id,
           {_BM25}
    FROM posts p
    JOIN dfs f USING (term)
    CROSS JOIN stats s
    GROUP BY p.doc_id
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT {_K}
    """


@query(
    "bm25_topk",
    oracle=f"""
    WITH {_TOKS_STATS},
    posts AS ({_postings(f"WHERE term IN ({_terms_sql})")}),{_BM25_TOPK}""",
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents for a fixed 4-term query: postings filtered to the
    query terms before the first shuffle, df/stats broadcast back, ranking
    via TakeOrderedAndProject with (score DESC, doc_id ASC) tie-break."""
    docs = load_table(spark, sf_dir, "documents")
    return retrieval.bm25_topk(
        docs, _QUERY_TERMS, k=_K, k1=_K1, b=_B, round_to=4
    )


# Second fixed query for the materialized-postings path — different terms so
# the two BM25 rows exercise different postings.
_PQUERY_TERMS = ["sort", "merge", "shuffle"]


@query(
    "bm25_postings_topk",
    oracle=f"""
    WITH {_TOKS_STATS},
    postings AS ({_postings("")}),
    posts AS (
        SELECT * FROM postings WHERE term IN ({", ".join(f"'{t}'" for t in _PQUERY_TERMS)})
    ),{_BM25_TOPK}""",
)
def bm25_postings_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The repeated-query path end-to-end under the driver: ``posting_lists``
    is materialized once (localCheckpoint — the stand-in for the bucketed
    parquet write), corpus stats (N, avgdl) are computed at index build as a
    bounded 1-row collect, and the query itself runs purely against the index
    via ``bm25_scores_from_postings`` (filter → broadcast-join → aggregate;
    the corpus text is never re-scanned)."""
    from pyspark.sql import functions as F

    from fs2_kinesis_firehose_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    index = retrieval.posting_lists(docs).localCheckpoint(eager=False)
    n_docs, avgdl = docs.agg(
        F.count(F.lit(1)), F.avg(F.size(T.tokens("text")))
    ).collect()[0]
    scores = retrieval.bm25_scores_from_postings(
        index, _PQUERY_TERMS, n_docs, avgdl, k1=_K1, b=_B, round_to=4
    )
    return scores.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(_K)


# --- hybrid retrieval: BM25 + dense cosine fused with RRF -------------------
#
# The two candidate lists reuse the exact building blocks their own green
# rows verify (bm25_topk's scorer, cosine_topk_bruteforce's scorer); both
# engines rank the ROUNDED scores, so ranks agree cross-engine even at ties.
_RRF_CAND = 50  # per-ranker candidate depth
_RRF_K = 60
_RRF_TOP = 15


@query(
    "hybrid_rrf_topk",
    oracle=f"""
    WITH {_TOKS},
    stats AS (SELECT COUNT(*) AS n_docs, AVG(len(t)) AS avgdl FROM toks),
    posts AS ({_postings(f"WHERE term IN ({_terms_sql})")}),
    dfs AS (SELECT term, COUNT(*) AS df FROM posts GROUP BY term),
    lex AS (
        SELECT p.doc_id,
               {_BM25}
        FROM posts p JOIN dfs f USING (term) CROSS JOIN stats s
        GROUP BY p.doc_id
        ORDER BY bm25 DESC, doc_id ASC LIMIT {_RRF_CAND}
    ),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    dense AS (
        SELECT e.vec_id AS doc_id,
               ROUND(
                   list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                   / (SQRT(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
                      * SQRT(list_inner_product(q.qv, q.qv))), 6) AS cos_sim
        FROM embeddings e, q
        ORDER BY cos_sim DESC, doc_id ASC LIMIT {_RRF_CAND}
    ),
    contribs AS (
        SELECT doc_id,
               1.0 / ({_RRF_K} + ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC)) AS c
        FROM lex
        UNION ALL
        SELECT doc_id,
               1.0 / ({_RRF_K} + ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id ASC)) AS c
        FROM dense
    )
    SELECT doc_id, ROUND(SUM(c), 6) AS rrf_score
    FROM contribs
    GROUP BY doc_id
    ORDER BY rrf_score DESC, doc_id ASC
    LIMIT {_RRF_TOP}
    """,
)
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: top-{_RRF_CAND} BM25 candidates + top-{_RRF_CAND}
    dense-cosine candidates (vec_id=0 probe; doc_id ≡ vec_id in the fixture),
    fused by reciprocal-rank fusion (k=60) into a top-{_RRF_TOP} list.  Each
    ranker is its own TakeOrderedAndProject; the fusion windows run over ≤50
    pre-truncated rows each (the documented rrf_fuse contract)."""
    from pyspark.sql import functions as F

    from fs2_kinesis_firehose_spark.operators import similarity as S
    from fs2_kinesis_firehose_spark.queries.llm import _query_vector

    docs = load_table(spark, sf_dir, "documents")
    lex = retrieval.bm25_topk(docs, _QUERY_TERMS, k=_RRF_CAND, k1=_K1, b=_B, round_to=4)
    emb = load_table(spark, sf_dir, "embeddings")
    dense = S.brute_force_topk(emb, _query_vector(spark, sf_dir), k=_RRF_CAND).select(
        F.col("vec_id").alias("doc_id"), "cos_sim"
    )
    return retrieval.rrf_fuse(
        [lex, dense], key_col="doc_id", rrf_k=_RRF_K, top_n=_RRF_TOP, round_to=6
    )

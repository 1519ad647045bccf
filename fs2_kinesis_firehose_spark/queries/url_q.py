"""URL canonicalization / registered-domain queries (operators/urls.py) —
the CCNet/RefinedWeb first stage: canonicalize, group by registered domain,
apply per-domain dedup policy.

The fixture has no URL column, so both sides DERIVE the same deterministic
messy URL per document from (doc_id, source) — mixed-case schemes and
hosts, www/cdn subdomains, default and explicit ports, duplicate/trailing
slashes, shuffled query params with utm_/fbclid tracking noise, fragments,
and a ``.co.uk`` multi-level-suffix arm.  The Spark side then runs the
GENERIC ``canonicalize_url`` operator; the oracle restates the canonical
form in CLOSED FORM (each rule collapses algebraically on this
construction), so a value-hash match proves every canonicalization rule —
case, www, ports, slashes, param sort, tracking strip, fragment, eTLD+1 —
lands exactly where it should for every row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.operators.urls import canonicalize_url
from fs2_kinesis_firehose_spark.queries import query
from fs2_kinesis_firehose_spark.tables import load_table


def _canonical_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents with their messy URLs run through ``canonicalize_url``."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return canonicalize_url(_with_messy_url(docs), "url")


def _with_messy_url(docs: DataFrame) -> DataFrame:
    """Deterministic messy URL per document (see module docstring; the
    oracle's ``u`` CTE is the SQL restatement of this construction)."""
    d = F.col("doc_id")
    scheme0 = F.when(d % 2 == 0, F.lit("http")).otherwise(F.lit("https"))
    scheme = F.when(d % 5 == 0, F.upper(scheme0)).otherwise(scheme0)
    sub = (
        F.when(d % 4 == 0, F.lit("www."))
        .when(d % 4 == 1, F.lit("cdn."))
        .otherwise(F.lit(""))
    )
    tld = F.when(d % 7 == 0, F.lit(".co.uk")).otherwise(F.lit(".com"))
    host0 = F.concat(sub, F.col("source"), tld)
    host = F.when(d % 5 == 0, F.upper(host0)).otherwise(host0)
    port = (
        F.when(d % 11 == 0, F.lit(":8080"))
        .when(d % 2 == 0, F.lit(":80"))
        .otherwise(F.lit(""))
    )
    path = (
        F.when(d % 13 == 0, F.lit("//a//b"))
        .when(d % 3 == 0, F.lit("/a/b/"))
        .when(d % 3 == 1, F.lit("/a/b"))
        .otherwise(F.lit(""))
    )
    qs = (
        F.when(d % 6 == 0, F.lit("?utm_source=x&b=2&a=1"))
        .when(d % 6 == 1, F.lit("?b=2&a=1"))
        .when(d % 6 == 2, F.lit("?a=1&b=2&fbclid=zz"))
        .when(d % 6 == 3, F.lit("?a=1&b=2"))
        .otherwise(F.lit(""))
    )
    frag = F.when(d % 4 == 1, F.lit("#frag")).otherwise(F.lit(""))
    return docs.withColumn(
        "url", F.concat(scheme, F.lit("://"), host, port, path, qs, frag)
    )


# the oracle's closed-form canonicalization of the derived URL: scheme case
# collapses under lower(); www. strips (only the d%4=0 arm had it); ':80'
# is the http default (dropped), ':8080' survives; '//a//b' and '/a/b/'
# both collapse to '/a/b', empty path becomes '/'; tracking params drop and
# the rest sort to 'a=1&b=2'; the fragment disappears; eTLD+1 keeps three
# labels on the co.uk arm and two otherwise.
_URL_CTE = """
    u AS (
        SELECT doc_id, text, source,
               (CASE WHEN doc_id % 5 = 0
                     THEN upper(CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END)
                     ELSE CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END END)
               || '://'
               || (CASE WHEN doc_id % 5 = 0
                        THEN upper(CASE WHEN doc_id % 4 = 0 THEN 'www.'
                                        WHEN doc_id % 4 = 1 THEN 'cdn.' ELSE '' END
                             || source
                             || CASE WHEN doc_id % 7 = 0 THEN '.co.uk' ELSE '.com' END)
                        ELSE CASE WHEN doc_id % 4 = 0 THEN 'www.'
                                  WHEN doc_id % 4 = 1 THEN 'cdn.' ELSE '' END
                             || source
                             || CASE WHEN doc_id % 7 = 0 THEN '.co.uk' ELSE '.com' END END)
               || (CASE WHEN doc_id % 11 = 0 THEN ':8080'
                        WHEN doc_id % 2 = 0 THEN ':80' ELSE '' END)
               || (CASE WHEN doc_id % 13 = 0 THEN '//a//b'
                        WHEN doc_id % 3 = 0 THEN '/a/b/'
                        WHEN doc_id % 3 = 1 THEN '/a/b' ELSE '' END)
               || (CASE WHEN doc_id % 6 = 0 THEN '?utm_source=x&b=2&a=1'
                        WHEN doc_id % 6 = 1 THEN '?b=2&a=1'
                        WHEN doc_id % 6 = 2 THEN '?a=1&b=2&fbclid=zz'
                        WHEN doc_id % 6 = 3 THEN '?a=1&b=2' ELSE '' END)
               || (CASE WHEN doc_id % 4 = 1 THEN '#frag' ELSE '' END) AS url,
               (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END)
               || '://'
               || (CASE WHEN doc_id % 4 = 1 THEN 'cdn.' ELSE '' END)
               || source
               || (CASE WHEN doc_id % 7 = 0 THEN '.co.uk' ELSE '.com' END)
               || (CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END)
               || (CASE WHEN doc_id % 13 = 0 THEN '/a/b'
                        WHEN doc_id % 3 = 2 THEN '/' ELSE '/a/b' END)
               || (CASE WHEN doc_id % 6 < 4 THEN '?a=1&b=2' ELSE '' END)
               AS canon_url,
               source || (CASE WHEN doc_id % 7 = 0 THEN '.co.uk' ELSE '.com' END)
               AS registered_domain
        FROM documents
    )
"""


@query(
    "domain_dedup_stats",
    oracle=f"""
    WITH {_URL_CTE}
    SELECT registered_domain,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT url) AS n_urls_raw,
           COUNT(DISTINCT canon_url) AS n_urls_canon,
           COUNT(DISTINCT text) AS n_texts_distinct,
           COUNT(*) - COUNT(DISTINCT text) AS dup_docs
    FROM u
    GROUP BY registered_domain
    ORDER BY registered_domain
    """,
)
def domain_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain dedup/url-collapse report: doc count, raw vs
    canonical distinct URL counts (the collapse the canonicalizer buys),
    distinct text count and exact-dup mass.  The domain grouping key
    comes from the GENERIC eTLD+1 extraction, oracle-checked against the
    closed form — including the multi-level ``co.uk`` arm.

    100 TB shape: one scan, the canonicalization fused into it as codegen
    string expressions, one hash aggregate on the domain key (domains are
    the natural partition key of a web corpus — this is the groupBy every
    downstream per-domain policy reuses)."""
    canon = _canonical_urls(spark, sf_dir)
    return (
        canon.groupBy("registered_domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("url").alias("n_urls_raw"),
            F.countDistinct("canon_url").alias("n_urls_canon"),
            F.countDistinct("text").alias("n_texts_distinct"),
            (F.count(F.lit(1)) - F.countDistinct("text")).alias("dup_docs"),
        )
        .orderBy("registered_domain")
    )


@query(
    "canon_url_dedup_accounting",
    oracle=f"""
    WITH {_URL_CTE},
    survivors AS (
        SELECT registered_domain, canon_url, MIN(doc_id) AS keep_id,
               COUNT(*) AS n_dup
        FROM u
        GROUP BY registered_domain, canon_url
    )
    SELECT registered_domain,
           CAST(SUM(n_dup) AS BIGINT) AS n_docs,
           COUNT(*) AS n_kept,
           CAST(SUM(n_dup) - COUNT(*) AS BIGINT) AS n_dropped,
           CAST(SUM(keep_id) AS BIGINT) AS survivor_id_sum
    FROM survivors
    GROUP BY registered_domain
    ORDER BY registered_domain
    """,
)
def canon_url_dedup_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup via canonicalization, per domain: all docs sharing a
    canonical URL collapse to the lowest doc_id (the deterministic survivor
    rule the exact-dedup operator uses).  ``survivor_id_sum`` pins WHICH
    doc survives each group, not just how many — a wrong canonical form
    that merges or splits any URL group breaks the hash.

    Plan: one scan + one (domain, canon_url) aggregate + one domain
    rollup — the first aggregate's partitioning feeds the second (domain
    is a prefix of the first key), so the rollup reshuffle is narrow
    pre-aggregated rows."""
    canon = _canonical_urls(spark, sf_dir)
    survivors = canon.groupBy("registered_domain", "canon_url").agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dup")
    )
    return (
        survivors.groupBy("registered_domain")
        .agg(
            F.sum("n_dup").alias("n_docs"),
            F.count(F.lit(1)).alias("n_kept"),
            (F.sum("n_dup") - F.count(F.lit(1))).alias("n_dropped"),
            F.sum("keep_id").alias("survivor_id_sum"),
        )
        .orderBy("registered_domain")
    )


@query(
    "domain_cap_sample_counts",
    oracle=f"""
    WITH {_URL_CTE},
    ranked AS (
        SELECT registered_domain, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY registered_domain
                   ORDER BY md5(COALESCE('1' || CAST(doc_id AS VARCHAR), '0')
                                || 'cap'),
                            COALESCE('1' || CAST(doc_id AS VARCHAR), '0')
               ) AS rn
        FROM u
    )
    SELECT registered_domain,
           COUNT(*) AS docs_total,
           CAST(SUM(CASE WHEN rn <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
           CAST(SUM(CASE WHEN rn <= 10 THEN doc_id ELSE 0 END) AS BIGINT)
               AS kept_id_sum
    FROM ranked
    GROUP BY registered_domain
    ORDER BY registered_domain
    """,
)
def domain_cap_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap sampling (the RefinedWeb/CCNet anti-boilerplate
    policy: no single registered domain may contribute more than N docs to
    the corpus — hub domains otherwise dominate the token budget): keep at
    most 10 docs per domain, chosen by a DETERMINISTIC uniform order
    (md5 of the doc id — the repo\'s seeded-sampling idiom, so the kept
    set is reproducible and restatable).  ``kept_id_sum`` pins WHICH docs
    survive, not just how many.

    Plan: the canonicalization scan + ONE window over (domain, hash order)
    + one domain aggregate — the same shuffle the per-domain stats already
    pay; at 100 TB the cap is the first shuffle after the scan and
    everything downstream sees bounded per-domain cardinality."""
    from fs2_kinesis_firehose_spark.operators.curation import group_cap_sample

    canon = _canonical_urls(spark, sf_dir)
    flagged = group_cap_sample(
        canon, "registered_domain", "doc_id", cap=10, salt="cap", keep_col="_keep"
    )
    return (
        flagged.groupBy("registered_domain")
        .agg(
            F.count(F.lit(1)).alias("docs_total"),
            F.sum(F.col("_keep").cast("long")).alias("docs_kept"),
            F.sum(F.when(F.col("_keep"), F.col("doc_id")).otherwise(0)).alias(
                "kept_id_sum"
            ),
        )
        .orderBy("registered_domain")
    )

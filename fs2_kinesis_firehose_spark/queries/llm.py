"""Tier C — LLM-data-pipeline queries (SURVEY.md §2 Tier C).

Oracle-checked where the semantics are engine-portable SQL (exact dedup,
n-gram Jaccard, embedding cosine, text analysis, multimodal metadata);
rows-only where they depend on Spark-side hashing (xxhash64 MinHash) or
driver-side RNG (LSH hyperplanes, IVF centroids) — those get ground-truth
pytest coverage instead (tests/test_dedup.py, tests/test_similarity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.operators import dedup as D
from fs2_kinesis_firehose_spark.operators import multimodal as M
from fs2_kinesis_firehose_spark.operators import similarity as S
from fs2_kinesis_firehose_spark.operators import textstats as TS
from fs2_kinesis_firehose_spark.queries import query
from fs2_kinesis_firehose_spark.queries._sql import (
    JACCARD,
    NEAR_DUP_PAIRS,
    PAIR_CTES,
    SHINGLES,
    SIZED_PAIRS,
    cell_pos,
    probe_cells,
    vector_sql,
)
from fs2_kinesis_firehose_spark.tables import load_table, scratch_dir

# The exact J >= 0.7 pair set: the oracle of every path that must find it
_JACCARD_PAIRS = f"""
    SELECT key1, key2,
           ROUND({JACCARD}, 6) AS jaccard
    {SIZED_PAIRS}
    WHERE {JACCARD} >= 0.7
"""
_JACCARD_ORACLE = f"WITH {PAIR_CTES}{_JACCARD_PAIRS}"


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------
@query(
    "dedup_exact",
    oracle="""
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    JOIN (
        SELECT MIN(doc_id) AS doc_id
        FROM documents
        GROUP BY sha256(text)
    ) keep USING (doc_id)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs, "text", "doc_id").select("doc_id", "lang", "source")


@query(
    "ngram_jaccard_pairs",
    oracle=_JACCARD_ORACLE,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (inverted-index self-join)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, "text", "doc_id", shingle_n=3, threshold=0.7)


@query(
    "ngram_containment_pairs",
    oracle=f"""
    WITH {PAIR_CTES}
    SELECT key1, key2,
           ROUND(common * 1.0 / LEAST(s1.sz, s2.sz), 6) AS containment
    {SIZED_PAIRS}
    WHERE common * 1.0 / LEAST(s1.sz, s2.sz) >= 0.9
    """,
)
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram max-containment pairs (operators/dedup.py:
    ngram_containment_pairs) — the quote-inclusion dedup predicate Jaccard
    misses; same inverted-index plan, different ratio."""
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_containment_pairs(
        docs, "text", "doc_id", shingle_n=3, threshold=0.9
    )


@query(
    "ngram_jaccard_filtered",
    oracle=f"""
    WITH sh AS ({SHINGLES}),
    toks AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    stop AS (
        SELECT shingle FROM toks GROUP BY shingle
        HAVING COUNT(*) > 0.05 * (SELECT COUNT(*) FROM documents)
    ),
    ftoks AS (SELECT * FROM toks WHERE shingle NOT IN (SELECT shingle FROM stop)),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ftoks GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS key1, b.doc_id AS key2, COUNT(*) AS common
        FROM ftoks a JOIN ftoks b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    {_JACCARD_PAIRS}
    """,
)
def ngram_jaccard_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop-shingle-filtered exact Jaccard pairs: shingles in > 5% of docs are
    dropped before the inverted-index self-join — the mitigation for the one
    quadratic skew risk in the exact path (a shingle in k docs makes a k²
    bucket).  J is computed over the filtered shingle space on both engines.

    On the NON-skewed fixture the filter costs more than it saves (one count
    action + a broadcast anti-join, ~+2s at sf0.1) — it pays for itself only
    when document-frequency skew exists, which is exactly the web-scale case
    it guards against."""
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(
        docs, "text", "doc_id", shingle_n=3, threshold=0.7, max_df_fraction=0.05
    )


def _lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs verified by exact Jaccard >= 0.7."""
    docs = load_table(spark, sf_dir, "documents")
    # doc→shingles computed ONCE and shared by the signature and verify
    # stages.  localCheckpoint (lazy) instead of persist: blocks are freed
    # when the DataFrame is garbage-collected, so repeated invocations in a
    # long session don't pin corpus-sized cache entries forever (persist
    # would need an unpersist hook the lazy query contract doesn't have)
    shingled = D.shingle_projection(docs, "text", "doc_id", shingle_n=3).localCheckpoint(
        eager=False
    )
    # 32 hashes / 16 bands (2 rows/band): per-pair miss probability at J≥0.7
    # is (1-J²)^16 ≤ 2.1e-5, so recall 1.0 vs the exact pair set holds by
    # margin on any fixture; extra candidates die in exact-Jaccard verify
    cands = D.minhash_lsh_candidates(
        docs, "text", "doc_id", shingle_n=3, num_hashes=32, bands=16, shingled=shingled
    )
    return D.verify_jaccard(
        cands, docs, "text", "doc_id", shingle_n=3, threshold=0.7, shingled=shingled
    )


def _cluster_size_histogram(comp: DataFrame) -> DataFrame:
    """Number of components per component size, from (node, component)."""
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


@query(
    "minhash_lsh_pairs",
    # The PIPELINE OUTPUT is oracle-able even though the xxhash64 signatures
    # aren't: exact-Jaccard verification filters the LSH candidates, so with
    # recall 1.0 (held at sf0.001/0.01/0.1, pytest-asserted) the result IS the
    # exact J≥0.7 pair set.  A mismatch on this row means the LSH pruning
    # dropped a true pair — a real quality regression, which SHOULD fail.
    oracle=_JACCARD_ORACLE,
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates verified by exact Jaccard ≥ 0.7 (the scale path:
    LSH prunes the O(n²) space; verification touches only candidates).
    Ground truth recall vs ngram_jaccard_pairs is asserted in pytest."""
    return _lsh_verified_pairs(spark, sf_dir)


# near_dedup_survivors oracle: survivors are "min doc_id per connected
# component of the exact-Jaccard≥0.7 graph" — LSH recall vs that graph is 100%
# on the fixtures (pytest-asserted), so the SQL closure IS the ground truth.
# WITH RECURSIVE computes reachability, then component = min reachable id.
_COMPONENTS = f"""
    WITH RECURSIVE {PAIR_CTES},
    edges AS ({NEAR_DUP_PAIRS}),
    sym AS (
        SELECT key1 AS a, key2 AS b FROM edges
        UNION
        SELECT key2, key1 FROM edges
    ),
    reach AS (
        SELECT a AS node, b AS reach FROM sym
        UNION
        SELECT r.node, e.b FROM reach r JOIN sym e ON r.reach = e.a
    ),
    comp AS (
        SELECT node, LEAST(node, MIN(reach)) AS component
        FROM reach GROUP BY node
    )
"""
_SURVIVORS_ORACLE = f"""{_COMPONENTS}
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT node FROM comp WHERE component < node)
"""


@query("near_dedup_survivors", oracle=_SURVIVORS_ORACLE)
def near_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents surviving MinHash near-dedup (one min-id doc per cluster,
    clusters from connected components over exact-Jaccard≥0.7 verified
    pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.near_dedup_minhash(docs, "text", "doc_id", threshold=0.7).select(
        "doc_id", "lang", "source"
    )


# Portable-SimHash oracle: DuckDB recomputes the IDENTICAL md5-based
# fingerprints (hex→bigint, per-bit votes, sign bits) and then the exhaustive
# O(n²) Hamming join; the Spark side prunes via 4×15-bit banding, which is
# recall-1.0 by pigeonhole for Hamming ≤ 3 — so the two results must match
# exactly, verifying fingerprinting + banding + Hamming verify end-to-end.
_SIMHASH_ORACLE = """
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(trim(text), ' '))) AS tok
        FROM documents
    ),
    th AS (
        SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
        FROM toks
    ),
    votes AS (
        SELECT doc_id, i, SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM th, range(60) t(i)
        GROUP BY doc_id, i
    ),
    fp AS (
        SELECT doc_id, SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END) AS f
        FROM votes GROUP BY doc_id
    )
    SELECT a.doc_id AS key1, b.doc_id AS key2,
           CAST(bit_count(xor(a.f, b.f)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.f, b.f)) <= 3
"""


@query("simhash_neardup_pairs", oracle=_SIMHASH_ORACLE)
def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, oracle-checked END-TO-END: md5-based 60-bit
    fingerprints are bit-identical across engines, and banding (4×15 bits)
    has guaranteed recall 1.0 for the Hamming ≤ 3 contract (pigeonhole), so
    the banded+verified Spark output equals DuckDB's exhaustive Hamming join."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_neardup_pairs(docs, "text", "doc_id", bits=60, bands=4, max_hamming=3)


@query(
    "benchmark_contamination",
    oracle=f"""
    WITH sh AS ({SHINGLES}),
    bench AS (
        SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id < 10
    ),
    corpus AS (
        SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE doc_id >= 10
    )
    SELECT doc_id, COUNT(*) AS n_overlap
    FROM corpus JOIN bench USING (shingle)
    GROUP BY doc_id
    HAVING COUNT(*) >= 3
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: training docs sharing ≥3 distinct 3-gram
    shingles with the held-out 'benchmark' slice (docs 0-9).  The benchmark
    shingle set broadcasts, so the corpus is scanned once with a map-side
    join — one aggregate, no corpus shuffle before it."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 10)
    corpus = docs.filter(F.col("doc_id") >= 10)
    return D.contamination_overlap(
        corpus, bench, shingle_n=3, min_overlap=3
    )


# every vector pair with cosine >= 0.4: the exact and blocked paths' oracle
_COSINE_PAIRS_ORACLE = """
    SELECT key1, key2, cos_sim
    FROM (
        SELECT a.vec_id AS key1, b.vec_id AS key2,
               ROUND(
                   list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                   / (SQRT(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                      * SQRT(list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))),
                   6) AS cos_sim
        FROM embeddings a
        JOIN embeddings b ON a.vec_id < b.vec_id
    )
    WHERE cos_sim >= 0.4
"""


@query(
    "embedding_neardup_pairs",
    oracle=_COSINE_PAIRS_ORACLE,
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicates (exact O(n²) baseline; the blocked
    GEMM scale path is ``embedding_neardup_blocked`` — identical output)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return D.embedding_neardup_pairs(emb, "embedding", "vec_id", threshold=0.4, dim=64)


@query(
    "embedding_neardup_blocked",
    oracle=_COSINE_PAIRS_ORACLE,
)
def embedding_neardup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked-GEMM exact near-dup pairs — same semantics and oracle as
    ``embedding_neardup_pairs`` but evaluated as one BLAS matmul per
    block-pair group (applyInPandas): ~25× the per-pair codegen fold at
    sf0.1, no BroadcastNestedLoopJoin, parallelism = B(B+1)/2 tasks.
    Pair-set equality vs the exact path is also pytest-asserted."""
    emb = load_table(spark, sf_dir, "embeddings")
    return D.embedding_neardup_pairs_blocked(
        emb, "embedding", "vec_id", threshold=0.4, num_blocks=8
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------
def _query_vector(spark: SparkSession, sf_dir: str) -> list[float]:
    emb = load_table(spark, sf_dir, "embeddings")
    row = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    return [float(x) for x in row[0]]


@query(
    "cosine_topk_bruteforce",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, cos_sim
    FROM (
        SELECT e.vec_id,
               ROUND(
                   list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                   / (SQRT(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                      * SQRT(list_inner_product(q.qv, q.qv))),
                   6) AS cos_sim
        FROM embeddings e, q
    )
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT 10
    """,
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 vs the vec_id=0 probe vector.  Plan:
    TakeOrderedAndProject (per-partition top-k + driver merge) — no global
    sort; the correct exact plan at any scale."""
    return S.brute_force_topk(
        load_table(spark, sf_dir, "embeddings"), _query_vector(spark, sf_dir), k=10
    )


@query(
    "binary_quant_rescored_topk",
    oracle="""
    WITH pts AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT v AS qv FROM pts WHERE vec_id = 0),
    ham AS (
        SELECT p.vec_id,
               list_sum(list_transform(range(1, 65),
                   i -> CASE WHEN (p.v[i] > 0) <> (q.qv[i] > 0)
                        THEN 1 ELSE 0 END)) AS hamming
        FROM pts p, q
    ),
    cand AS (SELECT vec_id FROM ham ORDER BY hamming, vec_id LIMIT 50)
    SELECT vec_id, cos_sim
    FROM (
        SELECT p.vec_id,
               ROUND(list_inner_product(p.v, q.qv)
                     / (SQRT(list_inner_product(p.v, p.v))
                        * SQRT(list_inner_product(q.qv, q.qv))), 6) AS cos_sim
        FROM cand c JOIN pts p USING (vec_id), q
    )
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT 10
    """,
)
def binary_quant_rescored_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization ANN (operators/similarity.py:
    binary_quant_rescored_topk): 1-bit sign codes → Hamming pre-rank of 50
    candidates → exact cosine rescore.  The oracle restates Hamming as the
    count of sign-differing dimensions (≡ bit_count of the packed XOR) and
    replays the identical rescore, so the whole two-stage path value-hashes.
    The training-free companion to the PQ/IVFADC query family."""
    return S.binary_quant_rescored_topk(
        load_table(spark, sf_dir, "embeddings"),
        _query_vector(spark, sf_dir),
        k=10,
        candidates=50,
    )


# The LSH hyperplanes are seeded driver-side constants, so the oracle can
# embed the IDENTICAL literals and recompute buckets in SQL; the multi-probe
# set is "xor(bucket, query_bucket) has ≤2 bits", i.e. membership of the xor
# in the static ≤2-bit mask list.  This makes the full ANN pipeline
# (bucketing + probe pruning + exact re-rank) value-hash-checkable.
_PLANES_SQL = [vector_sql(p) for p in S._hyperplanes(64, 6)]


def _lsh_bucket(vec: str) -> str:
    """``vec``'s 6-plane sign-LSH bucket, random_hyperplane_lsh's bit order."""
    return " + ".join(
        f"{1 << i} * (CASE WHEN list_inner_product({vec}, {plane}) > 0 "
        f"THEN 1 ELSE 0 END)"
        for i, plane in enumerate(_PLANES_SQL)
    )


# every corpus vector with its LSH bucket
_LSH_BUCKETED = f"""b AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               ({_lsh_bucket('CAST(embedding AS DOUBLE[])')}) AS bucket
        FROM embeddings
    )"""


def _ann_oracle() -> str:
    masks = [0] + [1 << i for i in range(6)] + [
        (1 << i) | (1 << j) for i in range(6) for j in range(i + 1, 6)
    ]
    return f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    qb AS (SELECT ({_lsh_bucket('qv')}) AS qbucket FROM q),
    {_LSH_BUCKETED}
    SELECT vec_id, cos_sim
    FROM (
        SELECT b.vec_id,
               ROUND(list_inner_product(b.v, q.qv)
                     / (SQRT(list_inner_product(b.v, b.v))
                        * SQRT(list_inner_product(q.qv, q.qv))), 6) AS cos_sim,
               xor(b.bucket, qb.qbucket) AS d
        FROM b, q, qb
    )
    WHERE d IN ({", ".join(str(m) for m in sorted(masks))})
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT 10
    """


@query("ann_lsh_topk", oracle=_ann_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via sign-LSH + 2-bit multi-probe.

    6 planes → 64 buckets, sized so buckets hold ~n/64 vectors at fixture
    scale; multiprobe recovers boundary losses.  (Fixture embeddings are
    near-uniform — the hardest case for sign-LSH; real embedding corpora
    cluster and bucket much more cleanly.)  Recall vs brute force asserted in
    pytest; the oracle replays bucketing + probing with the identical literal
    hyperplanes in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    bucketed = S.random_hyperplane_lsh(emb, dim=64, n_planes=6)
    return S.ann_topk(
        bucketed, _query_vector(spark, sf_dir), dim=64, k=10, n_planes=6, multiprobe_hamming=2
    )


# The registered IVF query uses data-independent seeded centroids (pure
# constants), so the oracle can restate cell assignment, probe ranking, and
# re-rank with the IDENTICAL literals; k-means training
# (ivf_train_centroids) remains the production path, pytest-covered.
def _ivf_oracle() -> str:
    v = "CAST(embedding AS DOUBLE[])"
    return f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    probe AS (SELECT {probe_cells('qv', 4)} AS cells FROM q),
    b AS (
        SELECT vec_id, {v} AS vv,
               {cell_pos(v)} AS cellpos
        FROM embeddings
    )
    SELECT vec_id, cos_sim
    FROM (
        SELECT b.vec_id,
               ROUND(list_inner_product(b.vv, q.qv)
                     / (SQRT(list_inner_product(b.vv, b.vv))
                        * SQRT(list_inner_product(q.qv, q.qv))), 6) AS cos_sim,
               b.cellpos, probe.cells
        FROM b, q, probe
    )
    WHERE list_contains(cells, cellpos)
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT 10
    """


@query("ivf_topk", oracle=_ivf_oracle())
def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantized top-10 (nprobe=4 of 16 seeded Voronoi cells);
    assignment, probe ranking and exact re-rank all replayed by the oracle
    with identical literal centroids and fold order."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = S.seeded_centroids(64, 16, seed=7, scale=0.125)
    assigned = S.ivf_assign_blas(emb, cents)
    return S.ivf_topk(assigned, cents, _query_vector(spark, sf_dir), k=10, nprobe=4)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
_MARKER_SQL = {
    lang: "[" + ", ".join(f"'{w}'" for w in words) + "]"
    for lang, words in TS.LANG_MARKERS.items()
}

_SCORES_SQL = ",\n           ".join(
    f"len(list_intersect(toks, {_MARKER_SQL[lang]})) AS s_{lang}"
    for lang in sorted(TS.LANG_MARKERS)
)


@query(
    "lang_id_counts",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
           {_SCORES_SQL}
        FROM (SELECT doc_id, list_distinct(string_split(trim(text), ' ')) AS toks FROM documents)
    )
    SELECT lang_pred, COUNT(*) AS n_docs
    FROM (
        SELECT CASE
                 WHEN GREATEST(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                 WHEN s_de = GREATEST(s_de, s_en, s_es, s_fr) THEN 'de'
                 WHEN s_en = GREATEST(s_de, s_en, s_es, s_fr) THEN 'en'
                 WHEN s_es = GREATEST(s_de, s_en, s_es, s_fr) THEN 'es'
                 ELSE 'fr'
               END AS lang_pred
        FROM scored
    )
    GROUP BY lang_pred
    """,
)
def lang_id_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language guesser (argmax, alphabetical tie-break)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(TS.lang_id("text").alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# TRAINED language ID (operators/langid.py) — the CCNet/fastText role:
# one-vs-rest logistic regression over hashed char TRIGRAMS, trained with the
# deterministic integer-quantized gradient loop and replayed end-to-end by
# the oracle (all 5 classes × 4 iterations of gradient integers).
#
# HONESTY NOTE on the fixture: the documents.lang column is synthetic and
# carries no textual signal (all languages share one vocabulary; max
# per-word rate ratio across langs ≈ 1.3 — noise).  The measured accuracy
# therefore sits at the majority-class floor BY CONSTRUCTION, and that is
# exactly what this eval harness exists to surface: labels that a text
# model cannot learn.  The same trainer reaches 16/16 on text with real
# language signal (tests/test_langid.py) — the machinery, not the fixture,
# is what the oracle certifies bit-for-bit.
# ---------------------------------------------------------------------------
_LID_DIM = 64
_LID_ITERS = 4
_LID_LR = 4.0
_LID_SCALE = 4096.0  # 2^12, the trainer/eval quantization grid
_LID_CLASSES = ["de", "en", "es", "fr", "zh"]


def _lid_oracle() -> str:
    """DuckDB replay of the ENTIRE one-vs-rest training + argmax predict:
    identical char-trigram hashed features, the full 5×4 quantized-gradient
    weight trajectory (every CTE MATERIALIZED — the _qc_oracle lesson), and
    the same 2^12-quantized-margin argmax with alphabetical tie-break."""
    d1 = _LID_DIM + 1
    xlist = ", ".join(
        f"(COUNT(*) FILTER (bk = {j})) / 10.0" for j in range(_LID_DIM)
    )
    ctes = [
        # range(1, L-1) is exclusive of the upper bound = positions 1..L-2,
        # exactly Spark's sequence(1, length-2) for trigrams
        """g AS MATERIALIZED (SELECT doc_id, lang,
             unnest(list_transform(range(1, length(text) - 1), i -> substr(text, i, 3))) AS gr
           FROM documents WHERE length(text) >= 3)""",
        f"""b AS MATERIALIZED (SELECT doc_id, lang,
             CAST(CONCAT('0x', SUBSTRING(md5(gr || '|lid'), 1, 8)) AS BIGINT) % {_LID_DIM} AS bk
           FROM g)""",
        f"""f AS MATERIALIZED (SELECT doc_id, lang, [1.0, {xlist}] AS x
           FROM b GROUP BY doc_id, lang)""",
        "nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM f)",
    ]
    for cls in _LID_CLASSES:
        ctes.append(
            f"w_{cls}_0 AS MATERIALIZED (SELECT [{', '.join(['0.0'] * d1)}] AS w)"
        )
        for i in range(_LID_ITERS):
            p = f"1.0 / (1.0 + EXP(-list_inner_product(w_{cls}_{i}.w, f.x)))"
            y = f"(CASE WHEN f.lang = '{cls}' THEN 1 ELSE 0 END)"
            sums = ", ".join(
                f"CAST(SUM(ROUND(({p} - {y}) * f.x[{j + 1}] * {_LID_SCALE})) AS BIGINT)"
                for j in range(d1)
            )
            ctes.append(
                f"g_{cls}_{i + 1} AS MATERIALIZED (SELECT [{sums}] AS g FROM f, w_{cls}_{i})"
            )
            ctes.append(
                f"""w_{cls}_{i + 1} AS MATERIALIZED (SELECT list_transform(range(1, {d1 + 1}),
                     j -> w_{cls}_{i}.w[j] - {_LID_LR} * g_{cls}_{i + 1}.g[j] / ({_LID_SCALE} * nn.n)) AS w
                   FROM w_{cls}_{i}, g_{cls}_{i + 1}, nn)"""
            )
    margin_cols = ", ".join(
        f"ROUND(list_inner_product(w_{cls}_{_LID_ITERS}.w, f.x) * {_LID_SCALE}) AS m_{cls}"
        for cls in _LID_CLASSES
    )
    from_w = ", ".join(f"w_{cls}_{_LID_ITERS}" for cls in _LID_CLASSES)
    ctes.append(
        f"scored AS MATERIALIZED (SELECT f.lang, {margin_cols} FROM f, {from_w})"
    )
    m_all = ", ".join(f"m_{cls}" for cls in _LID_CLASSES)
    # first alphabetical match at the max = predict_lang's tie-break
    pred_case = "CASE " + " ".join(
        f"WHEN m_{cls} = GREATEST({m_all}) THEN '{cls}'"
        for cls in sorted(_LID_CLASSES)
    ) + " END"
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (pred = lang) AS BIGINT) AS n_correct
    FROM (SELECT lang, {pred_case} AS pred FROM scored)
    GROUP BY lang
    """


@query("lang_id_trained_accuracy", oracle=_lid_oracle())
def lang_id_trained_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the char-trigram one-vs-rest language classifier end-to-end
    (operators/langid.py: featurize → 5 binary quantized-GD models →
    quantized-margin argmax) and return the per-true-label accounting
    ``(lang, n_docs, n_correct)``.  The oracle replays ALL of it in SQL —
    a hash match certifies the features, the 20 gradient-integer vectors,
    the weight trajectories, and every argmax decision agree across
    engines.  EAGER by necessity: training runs at construction (the
    kmeans/PQ/quality-classifier precedent)."""
    from fs2_kinesis_firehose_spark.operators import langid as L

    docs = load_table(spark, sf_dir, "documents")
    feat = L.char_ngram_features(
        docs, "text", "doc_id", n=3, dim=_LID_DIM, label_col="lang"
    ).localCheckpoint(eager=True)
    n = feat.count()
    models = L.train_lang_id(
        feat,
        _LID_CLASSES,
        label_col="lang",
        dim=_LID_DIM,
        iterations=_LID_ITERS,
        lr=_LID_LR,
        scale_bits=12,
        n=n,
    )
    pred = L.predict_lang(feat, models, scale_bits=12)
    return pred.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_if(F.col("lang_pred") == F.col("lang")).cast("long").alias("n_correct"),
    )


@query(
    "token_stats",
    oracle=r"""
    SELECT doc_id,
           len(string_split(trim(text), ' '))                                  AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+'))    AS n_bpe_tokens,
           length(text)                                                        AS n_chars
    FROM documents
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish regex sub-word segmentation."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TS.token_count("text").alias("n_tokens"),
        TS.bpe_ish_token_count("text").alias("n_bpe_tokens"),
        F.length("text").alias("n_chars"),
    )


# TS.quality_features: the three features of every non-empty document
# (diversity, stop_r, mwl) and the composite score over them
_QUALITY_FEATURES = f"""len(list_distinct(toks)) * 1.0 / len(toks) AS diversity,
               len(list_intersect(list_distinct(toks), {_MARKER_SQL["en"]})) * 1.0
                   / len(list_distinct(toks)) AS stop_r,
               list_sum(list_transform(toks, t -> length(t))) * 1.0 / len(toks) AS mwl
        FROM (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents)
        WHERE len(toks) > 0"""
_QUALITY_SCORE = """ROUND(LEAST(1.0, GREATEST(0.0,
                 0.4 * diversity
               + 0.3 * LEAST(1.0, stop_r * 5)
               + 0.3 * LEAST(1.0, mwl / 8))), 6)"""


@query(
    "quality_scores",
    oracle=f"""
    SELECT doc_id,
           n_tokens,
           n_distinct_tokens,
           ROUND(diversity, 6) AS lexical_diversity,
           ROUND(stop_r, 6)    AS stopword_ratio,
           ROUND(mwl, 6)       AS mean_word_len,
           {_QUALITY_SCORE} AS quality_score
    FROM (
        SELECT doc_id,
               len(toks) AS n_tokens,
               len(list_distinct(toks)) AS n_distinct_tokens,
               {_QUALITY_FEATURES}
    )
    """,
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation quality features + composite score."""
    docs = load_table(spark, sf_dir, "documents")
    return TS.quality_features(docs, "text").select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        "lexical_diversity",
        "stopword_ratio",
        "mean_word_len",
        "quality_score",
    )


@query(
    "gopher_quality_flags",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
    base AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               ROUND(CASE WHEN len(toks) > 0
                     THEN 1.0 - len(list_distinct(toks)) * 1.0 / len(toks)
                     ELSE 0 END, 6) AS dup_word_fraction,
               ROUND(CASE WHEN len(toks) > 0
                     THEN len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) * 1.0 / len(toks)
                     ELSE 0 END, 6) AS alpha_word_fraction,
               ROUND(CASE WHEN len(toks) > 0
                     THEN list_sum(list_transform(toks, t -> length(t))) * 1.0 / len(toks)
                     ELSE 0 END, 6) AS mean_word_len
        FROM w
    ),
    bg AS (
        SELECT doc_id,
               unnest([array_to_string(toks[i:i+1], ' ') FOR i IN range(1, len(toks))]) AS b
        FROM w
    ),
    counts AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
    top AS (
        SELECT doc_id, ROUND(MAX(c) * 1.0 / SUM(c), 6) AS top_bigram_fraction
        FROM counts GROUP BY doc_id
    )
    SELECT base.doc_id, dup_word_fraction, alpha_word_fraction, mean_word_len,
           n_tokens,
           COALESCE(top_bigram_fraction, 0.0) AS top_bigram_fraction,
           (dup_word_fraction <= 0.3
            AND COALESCE(top_bigram_fraction, 0.0) <= 0.18
            AND alpha_word_fraction >= 0.8
            AND mean_word_len BETWEEN 3.0 AND 10.0
            AND n_tokens >= 50) AS keep
    FROM base LEFT JOIN top ON base.doc_id = top.doc_id
    """,
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule repetition/well-formedness filters (Rae et al. 2021):
    duplicate-word fraction, top-bigram share, alpha-word fraction, mean word
    length, and the conjunction `keep` flag — the published web-corpus
    curation thresholds as one scan + one bigram aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    return TS.gopher_quality(docs, "text", "doc_id")


@query(
    "bpe_learned_token_counts",
    # The global merge loop is not SQL-expressible, but hard invariants of its
    # OUTPUT are, and they make the tokenization driver-checkable end-to-end:
    # (1) the learned segmentation is lossless — stripping the </w> markers
    # and concatenating the emitted subwords reconstructs the whitespace-
    # normalized document byte-for-byte (sha-compared); (2) exactly one
    # </w>-terminated subword per source word; (3) the subword count lies in
    # [n_words, char_mass + n_words].  A dropped/duplicated/reordered token,
    # a corrupted merge application, or a word-boundary bug each break one of
    # these; the oracle computes all three from the raw text alone.
    oracle=r"""
    WITH w AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN []
                    ELSE string_split_regex(trim(text), '\s+') END AS words
        FROM documents
    )
    SELECT doc_id,
           len(words) AS n_words,
           length(array_to_string(words, ' ')) AS recon_chars,
           sha256(array_to_string(words, ' ')) AS recon_sha,
           TRUE AS token_bounds_ok
    FROM w
    """,
)
def bpe_learned_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer trained on the corpus (one distributed word-count scan +
    vocab-sized driver merge loop — the production trainer architecture),
    then applied; the output restates the segmentation as its SQL-checkable
    invariants (see oracle).  Merge selection is deterministic (freq desc,
    lexicographic tie-break); hand-computed merge ground truth is
    pytest-covered (tests/test_bpe.py)."""
    from fs2_kinesis_firehose_spark.operators import bpe as B

    docs = load_table(spark, sf_dir, "documents")
    merges = B.bpe_train(docs, "text", num_merges=200, min_count=2)
    segged = B.bpe_segment(docs, merges, "text")
    recon = F.rtrim(F.expr("replace(array_join(bpe_tokens, ''), '</w>', ' ')"))
    n_words = F.expr("size(filter(bpe_tokens, t -> t like '%</w>'))")
    char_mass = F.length(recon) - F.greatest(n_words - 1, F.lit(0))
    return segged.select(
        "doc_id",
        n_words.alias("n_words"),
        F.length(recon).alias("recon_chars"),
        F.sha2(recon, 256).alias("recon_sha"),
        (
            (F.size("bpe_tokens") >= n_words)
            & (F.size("bpe_tokens") <= char_mass + n_words)
        ).alias("token_bounds_ok"),
    )


@query(
    "doc_fingerprints",
    oracle=r"""
    SELECT doc_id,
           sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized content fingerprint (formatting-robust dedup key)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", TS.fingerprint("text").alias("fingerprint"))


# ---------------------------------------------------------------------------
# Multimodal (mapInPandas plumbing vs SQL oracle on the derivable metadata)
# ---------------------------------------------------------------------------
@query(
    "multimodal_image_features",
    oracle="""
    SELECT doc_id,
           'image/fake' AS media_type,
           8 + (ascii(text[-1]) % 8) AS width,
           8 + (ascii(text[1]) % 8)  AS height,
           3 AS n_channels,
           sha256(text) AS payload_sha
    FROM documents
    """,
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media contract + Arrow-batched mapInPandas decode stage.

    Payloads are the UTF-8 document bytes treated as opaque media; the fake
    decoder derives dimensions from the first/last payload byte, which the
    oracle reproduces in SQL — verifying the full Spark-side plumbing
    (binary column, metadata struct, mapInPandas batch flow, 1:1 schema)."""
    media = _text_media(spark, sf_dir)
    feats = M.extract_image_features(media, fake=True)
    return feats.select(
        "doc_id", "media_type", "width", "height", "n_channels", "payload_sha"
    )


def _text_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each document's UTF-8 text as a binary media payload (``attach_media``)."""
    docs = load_table(spark, sf_dir, "documents")
    return M.attach_media(
        docs.select("doc_id", F.encode("text", "UTF-8").alias("payload")), "payload"
    )


@query(
    "multimodal_frame_sample_stats",
    oracle="""
    SELECT doc_id,
           CAST(CEIL((8 + (ascii(text[1]) % 8)) / 4.0) AS BIGINT) AS n_frames,
           CAST((8 + (ascii(text[-1]) % 8)) * 3 AS BIGINT) AS frame_bytes
    FROM documents
    """,
)
def multimodal_frame_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style 1:N frame sampling through the Arrow mapInPandas expansion
    stage: every media row explodes to ceil(height/4) frame rows of
    width×3 bytes each.  The fake decoder derives height/width from the
    first/last payload byte, so the oracle reproduces the frame count and
    frame size in SQL — verifying the 1-to-many batch shape end-to-end."""
    media = _text_media(spark, sf_dir)
    frames = M.sample_frames(media, every_n=4, fake=True)
    return frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.max(F.length("frame_payload")).cast("bigint").alias("frame_bytes"),
    )


@query(
    "udtf_bigram_counts",
    oracle="""
    SELECT ngram, COUNT(*) AS n
    FROM (
        SELECT unnest([array_to_string(words[i:i+1], ' ')
                       FOR i IN range(1, len(words))]) AS ngram
        FROM (SELECT string_split(text, ' ') AS words FROM documents)
    )
    GROUP BY ngram
    HAVING COUNT(*) >= 30
    """,
)
def udtf_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) surface: one doc row → many bigram rows
    via a LATERAL correlated call, then aggregated.  ``spark.sql`` resolves
    ``ngrams`` while it analyzes the text, so the function is dropped again
    right after, unless the session held it before."""
    from fs2_kinesis_firehose_spark.operators.udtf_ops import register_udtfs

    held = spark.catalog.functionExists("ngrams")
    register_udtfs(spark)
    try:
        return spark.sql(
            """
            SELECT t.ngram, COUNT(*) AS n
            FROM {documents} d, LATERAL ngrams(d.text, 2) t
            GROUP BY t.ngram
            HAVING COUNT(*) >= 30
            """,
            documents=load_table(spark, sf_dir, "documents"),
        )
    finally:
        if not held:
            spark.sql("DROP TEMPORARY FUNCTION ngrams")


@query(
    "doc_length_histogram",
    oracle="""
    SELECT CAST(FLOOR(n_chars / 100) AS BIGINT) AS bucket_100chars,
           COUNT(*) AS n_docs,
           ROUND(AVG(CAST(n_chars AS DOUBLE)), 2) AS avg_chars
    FROM documents
    GROUP BY 1
    """,
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-distribution histogram (100-char buckets) — the curation
    dashboard primitive for spotting truncation/degenerate docs."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(
        F.floor(F.col("n_chars") / 100).cast("bigint").alias("bucket_100chars")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.col("n_chars").cast("double")), 2).alias("avg_chars"),
    )


@query(
    "order_price_percentiles",
    oracle="""
    SELECT o_orderpriority,
           ROUND(QUANTILE_CONT(o_totalprice, 0.5), 2) AS p50,
           ROUND(QUANTILE_CONT(o_totalprice, 0.9), 2) AS p90,
           ROUND(QUANTILE_CONT(o_totalprice, 0.99), 2) AS p99
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def order_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` == SQL-standard
    PERCENTILE_CONT == DuckDB QUANTILE_CONT)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 2).alias("p99"),
    )


@query(
    "approx_distinct_users",
    # HLL sketch VALUES differ across engines, so the contract is verified
    # instead: the exact side is recomputed by the oracle and the estimate is
    # reduced to its accuracy guarantee (|err| <= 5% = the default rsd Spark
    # promises for approx_count_distinct), which the oracle states as TRUE.
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users_exact,
           COUNT(*) AS n_events,
           TRUE AS hll_within_5pct
    FROM events
    GROUP BY event_type
    """,
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) paired with the exact distinct
    count in one aggregate; the emitted ``hll_within_5pct`` makes the sketch's
    accuracy contract driver-checkable (the raw estimate itself is
    engine-specific, so it stays out of the hashed output)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("_approx"),
            F.count_distinct("user_id").alias("n_users_exact"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            "n_users_exact",
            "n_events",
            (
                F.abs(F.col("_approx") - F.col("n_users_exact"))
                <= 0.05 * F.col("n_users_exact")
            ).alias("hll_within_5pct"),
        )
    )


# ---------------------------------------------------------------------------
# CCNet-style n-gram LM perplexity + C4-style span dedup (round 3)
# ---------------------------------------------------------------------------
# operators/lm.py's add-one bigram LM over space-split words: bigram rows
# (big), bigram and unigram counts (bi, uni) and the vocabulary size (v)
_BIGRAM_LM = """words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    big AS (
        SELECT doc_id, w[CAST(t.i AS INT)] AS w1, w[CAST(t.i AS INT) + 1] AS w2
        FROM words, UNNEST(range(1, len(w))) AS t(i)
    ),
    bi AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2),
    uni AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY 1),
    v AS (
        SELECT COUNT(DISTINCT tok) AS v
        FROM (SELECT w1 AS tok FROM big UNION ALL SELECT w2 FROM big)
    )"""


@query(
    "lm_perplexity_scores",
    oracle=f"""
    WITH {_BIGRAM_LM},
    scored AS (
        SELECT b.doc_id,
               ln(COALESCE(bi.c12, 0) + 1) - ln(u.c1 + (SELECT v FROM v)) AS logp,
               CASE WHEN bi.c12 IS NULL THEN 1 END AS oov
        FROM big b
        LEFT JOIN bi ON b.w1 = bi.w1 AND b.w2 = bi.w2
        JOIN uni u ON b.w1 = u.w1
    ),
    agg AS (
        SELECT doc_id, COUNT(*) AS n_bigrams, COUNT(oov) AS oov_bigrams,
               ROUND(-SUM(logp) / COUNT(*), 4) AS cross_entropy
        FROM scored GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.n_bigrams, 0) AS n_bigrams,
           COALESCE(a.oov_bigrams, 0) AS oov_bigrams,
           a.cross_entropy
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def lm_perplexity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality signal (Wenzek et al. 2019): per-document bigram
    cross-entropy under a Laplace-smoothed LM trained on the corpus itself.
    Train = one scan + two groupBy aggs (pruned distributively at scale);
    score = explode + broadcast LM joins + per-doc agg.  The 4-decimal round
    absorbs float-sum reassociation between engines (error ~1e-13 against a
    5e-5 boundary)."""
    from fs2_kinesis_firehose_spark.operators import lm as LM

    docs = load_table(spark, sf_dir, "documents")
    model = LM.train_bigram_lm(docs, "text", "doc_id")
    return LM.score_cross_entropy(docs, model, "text", "doc_id")


@query(
    "exact_substring_dedup_stats",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
    ),
    g AS (
        SELECT doc_id, CAST(r.i AS BIGINT) AS pos,
               array_to_string(w[CAST(r.i AS INT):CAST(r.i + 7 AS INT)], ' ') AS gram
        FROM t, UNNEST(range(1, len(w) - 8 + 2)) AS r(i)
    ),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
    starts AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
    isl AS (
        SELECT doc_id, pos,
               CASE WHEN MAX(pos + 7) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) IS NULL
                    OR pos > MAX(pos + 7) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS new_island
        FROM starts
    ),
    isl2 AS (
        SELECT doc_id, pos,
               SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM isl
    ),
    per_island AS (
        SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + 7 AS e,
               COUNT(*) AS n_starts
        FROM isl2 GROUP BY doc_id, island
    ),
    per_doc AS (
        SELECT doc_id,
               CAST(SUM(e - s + 1) AS BIGINT) AS covered_tokens,
               CAST(SUM(n_starts) AS BIGINT) AS dup_grams
        FROM per_island GROUP BY doc_id
    )
    SELECT p.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens, p.dup_grams,
           p.covered_tokens,
           ROUND(p.covered_tokens * 1.0 / len(t.w), 6) AS coverage
    FROM per_doc p JOIN t ON p.doc_id = t.doc_id
    """,
)
def exact_substring_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication accounting (operators/dedup.py
    ``exact_substring_spans``; Lee et al. 2022 ExactSubstr at k=8 tokens):
    every 8-token gram occurring >=2 times corpus-wide marks a duplicated
    span; per doc the report carries the duplicated-gram count and the
    UNION length of the covered spans (gaps-and-islands merge — the exact
    token mass a splice-out pass would delete; exact-dup docs show
    coverage 1.0).  The oracle restates gram extraction, the corpus-wide
    frequency floor, and the island merge verbatim, so a position
    off-by-one or a bad interval merge on either side breaks the hash."""
    from fs2_kinesis_firehose_spark.operators.dedup import exact_substring_spans

    docs = load_table(spark, sf_dir, "documents")
    return exact_substring_spans(docs, "text", "doc_id", k=8, min_occurrences=2)


@query(
    "span_dedup_stats",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    spans AS (
        SELECT doc_id, CAST(t.i AS BIGINT) AS span_idx,
               array_to_string(w[CAST(t.i*10+1 AS INT):CAST(t.i*10+10 AS INT)], ' ') AS span_text
        FROM words, UNNEST(range(CAST(ceil(len(w) / 10.0) AS BIGINT))) AS t(i)
    ),
    kept AS (
        SELECT doc_id, span_idx, span_text,
               ROW_NUMBER() OVER (PARTITION BY span_text ORDER BY doc_id, span_idx) AS rk
        FROM spans
    ),
    agg AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(span_text, ' ' ORDER BY span_idx) AS text_kept
        FROM kept WHERE rk = 1 GROUP BY doc_id
    )
    SELECT w.doc_id,
           CAST(ceil(len(w.w) / 10.0) AS INT) AS n_spans,
           COALESCE(a.n_kept, 0) AS n_kept,
           COALESCE(a.text_kept, '') AS text_kept
    FROM words w LEFT JOIN agg a USING (doc_id)
    """,
)
def span_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span dedup (Raffel et al. 2020): drop every repeated
    10-token span corpus-wide (first occurrence by (doc_id, span_idx) wins)
    and reassemble documents.  One shuffle on span text + one back on the doc
    key — the same two-shuffle shape as exact dedup + reassembly."""
    docs = load_table(spark, sf_dir, "documents")
    return D.span_dedup(docs, "text", "doc_id", span_tokens=10)


def _top10(scored: str) -> str:
    """Each query's top 10 rows of ``scored`` by (cos_sim desc, vec_id)."""
    return f"""(
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, vec_id ASC) AS rn
            FROM {scored}
        ) WHERE rn <= 10"""


# 8 corpus vectors as queries, every (query, vector) cosine and bucket
# Hamming distance, and the exact top 10 per query
_ANN_SCORED = f"""
    WITH {_LSH_BUCKETED},
    q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qbucket FROM b WHERE vec_id < 8),
    scored AS (
        SELECT q.query_id, b.vec_id,
               ROUND(list_inner_product(b.v, q.qv)
                     / (SQRT(list_inner_product(b.v, b.v))
                        * SQRT(list_inner_product(q.qv, q.qv))), 6) AS cos_sim,
               bit_count(xor(b.bucket, q.qbucket)) AS ham
        FROM b, q
    ),
    exact AS (
        SELECT query_id, vec_id FROM {_top10("scored")}
    )"""


# Recall evaluation of the ANN path vs exact ground truth, 8 queries in one
# plan.  Same literal-hyperplane restatement as _ann_oracle; query vectors
# are corpus rows, so their buckets come from the same bucket expression.
def _ann_recall_oracle() -> str:
    return f"""{_ANN_SCORED},
    ann AS (
        SELECT query_id, vec_id FROM {_top10("scored WHERE ham <= 2")}
    ),
    annc AS (SELECT query_id, COUNT(*) AS n_ann FROM ann GROUP BY query_id),
    common AS (
        SELECT e.query_id, COUNT(*) AS n_common
        FROM exact e JOIN ann a ON e.query_id = a.query_id AND e.vec_id = a.vec_id
        GROUP BY e.query_id
    )
    SELECT annc.query_id, annc.n_ann,
           COALESCE(common.n_common, 0) AS n_common,
           ROUND(COALESCE(common.n_common, 0) / 10.0, 2) AS recall_at_k
    FROM annc LEFT JOIN common USING (query_id)
    """


@query("ann_recall_at_k", oracle=_ann_recall_oracle())
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of sign-LSH multi-probe ANN vs exact brute force over 8
    query vectors in one plan (broadcast query set, windowed top-k per
    query) — the offline quality harness for tuning n_planes/probe width.
    Oracle replays bucketing, probing, both rankings, and the recall join
    with identical literal hyperplanes."""
    emb = load_table(spark, sf_dir, "embeddings")
    bucketed = S.random_hyperplane_lsh(emb, dim=64, n_planes=6)
    return S.ann_recall_eval(bucketed, dim=64, n_queries=8, k=10, multiprobe_hamming=2)


def _ann_ranking_oracle() -> str:
    """MRR@10 / binary-NDCG@10 of the LSH probe ranking vs the exact top-10
    relevance set — the graded companions to _ann_recall_oracle, sharing
    its literal-hyperplane scored CTE.  IDCG is the shared repr literal
    Σ 1/log2(i+1), i=1..10 (identical constant on both engines)."""
    return f"""{_ANN_SCORED},
    ann AS (
        SELECT query_id, vec_id, rn AS rank FROM {_top10("scored WHERE ham <= 2")}
    ),
    hits AS (
        SELECT a.query_id, a.rank
        FROM ann a JOIN exact e ON e.query_id = a.query_id AND e.vec_id = a.vec_id
    ),
    m AS (
        SELECT query_id,
               1.0 / MIN(rank) AS mrr,
               SUM(1.0 / log2(rank + 1)) / 4.543559338088346 AS ndcg
        FROM hits GROUP BY query_id
    ),
    annc AS (SELECT query_id, COUNT(*) AS n_ann FROM ann GROUP BY query_id)
    SELECT annc.query_id, annc.n_ann,
           ROUND(COALESCE(m.mrr, 0.0), 6) AS mrr_at_k,
           ROUND(COALESCE(m.ndcg, 0.0), 6) AS ndcg_at_k
    FROM annc LEFT JOIN m USING (query_id)
    """


@query("ann_ranking_metrics_at_k", oracle=_ann_ranking_oracle())
def ann_ranking_metrics_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@10 and binary-relevance NDCG@10 of the sign-LSH probe ranking
    vs exact cosine ground truth, 8 queries in one plan — the graded
    quality pair beside ann_recall_at_k (recall says WHETHER the truth
    was found; MRR/NDCG say WHERE it ranked).  Same broadcast-query /
    windowed-top-k harness; oracle replays bucketing, both rankings, the
    hit join, and the metric folds with the identical IDCG literal."""
    emb = load_table(spark, sf_dir, "embeddings")
    bucketed = S.random_hyperplane_lsh(emb, dim=64, n_planes=6)
    return S.ann_ranking_metrics(bucketed, dim=64, n_queries=8, k=10, multiprobe_hamming=2)


@query(
    "gopher_repetition_flags",
    oracle=r"""
    WITH words AS (
        SELECT doc_id,
               string_split_regex(trim(text), '\s+') AS w,
               length(regexp_replace(trim(text), '\s+', '', 'g')) AS total_chars
        FROM documents
    ),
    grams AS (
        SELECT doc_id, n.n AS n,
               array_to_string(w[CAST(t.i AS INT) : CAST(t.i + n.n - 1 AS INT)], ' ') AS g
        FROM words,
             (VALUES (2),(3),(4),(5),(6),(7),(8),(9),(10)) AS n(n),
             UNNEST(range(1, len(w) - n.n + 2)) AS t(i)
        WHERE len(w) >= n.n
    ),
    counts AS (
        SELECT doc_id, n, g, COUNT(*) AS c, length(g) - (n - 1) AS chars
        FROM grams GROUP BY doc_id, n, g
    ),
    -- top_* = char mass of the MOST FREQUENT gram (argmax count, tie-break
    -- max chars), matching operators/textstats.py's struct-max exactly
    ranked AS (
        SELECT doc_id, n, c, chars,
               ROW_NUMBER() OVER (PARTITION BY doc_id, n
                                  ORDER BY c DESC, chars DESC) AS rn
        FROM counts
    ),
    tops AS (SELECT doc_id, n, c * chars AS topc FROM ranked WHERE rn = 1),
    dups AS (
        SELECT doc_id, n,
               SUM(CASE WHEN c >= 2 THEN c * chars ELSE 0 END) AS dupc
        FROM counts GROUP BY doc_id, n
    ),
    stats AS (
        SELECT d.doc_id, d.n, t.topc, d.dupc
        FROM dups d JOIN tops t USING (doc_id, n)
    ),
    wide AS (
        SELECT doc_id,
               MAX(CASE WHEN n = 2 THEN topc END) AS t2,
               MAX(CASE WHEN n = 3 THEN topc END) AS t3,
               MAX(CASE WHEN n = 4 THEN topc END) AS t4,
               MAX(CASE WHEN n = 5 THEN dupc END) AS d5,
               MAX(CASE WHEN n = 6 THEN dupc END) AS d6,
               MAX(CASE WHEN n = 7 THEN dupc END) AS d7,
               MAX(CASE WHEN n = 8 THEN dupc END) AS d8,
               MAX(CASE WHEN n = 9 THEN dupc END) AS d9,
               MAX(CASE WHEN n = 10 THEN dupc END) AS d10
        FROM stats GROUP BY doc_id
    ),
    fr AS (
        SELECT w.doc_id, w.total_chars,
               CASE WHEN total_chars > 0 THEN COALESCE(t2, 0) / CAST(total_chars AS DOUBLE) ELSE 0.0 END AS top_2gram_char_frac,
               CASE WHEN total_chars > 0 THEN COALESCE(t3, 0) / CAST(total_chars AS DOUBLE) ELSE 0.0 END AS top_3gram_char_frac,
               CASE WHEN total_chars > 0 THEN COALESCE(t4, 0) / CAST(total_chars AS DOUBLE) ELSE 0.0 END AS top_4gram_char_frac,
               CASE WHEN total_chars > 0 THEN COALESCE(d5, 0) / CAST(total_chars AS DOUBLE) ELSE 0.0 END AS dup_5gram_char_frac,
               CASE WHEN total_chars > 0 THEN COALESCE(d6, 0) / CAST(total_chars AS DOUBLE) ELSE 0.0 END AS dup_6gram_char_frac,
               CASE WHEN total_chars > 0 THEN COALESCE(d7, 0) / CAST(total_chars AS DOUBLE) ELSE 0.0 END AS dup_7gram_char_frac,
               CASE WHEN total_chars > 0 THEN COALESCE(d8, 0) / CAST(total_chars AS DOUBLE) ELSE 0.0 END AS dup_8gram_char_frac,
               CASE WHEN total_chars > 0 THEN COALESCE(d9, 0) / CAST(total_chars AS DOUBLE) ELSE 0.0 END AS dup_9gram_char_frac,
               CASE WHEN total_chars > 0 THEN COALESCE(d10, 0) / CAST(total_chars AS DOUBLE) ELSE 0.0 END AS dup_10gram_char_frac
        FROM words w LEFT JOIN wide ON w.doc_id = wide.doc_id
    )
    SELECT *,
           (top_2gram_char_frac <= 0.20 AND top_3gram_char_frac <= 0.18
            AND top_4gram_char_frac <= 0.16 AND dup_5gram_char_frac <= 0.15
            AND dup_6gram_char_frac <= 0.14 AND dup_7gram_char_frac <= 0.13
            AND dup_8gram_char_frac <= 0.12 AND dup_9gram_char_frac <= 0.11
            AND dup_10gram_char_frac <= 0.10) AS keep_repetition
    FROM fr
    """,
)
def gopher_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All nine published Gopher repetition bounds (Rae et al. 2021 Table A1):
    top-{2,3,4}-gram char fraction and duplicated-{5..10}-gram char fraction,
    one explode pass + two doc-key shuffles (operators/textstats.py:
    gopher_repetition).  Fractions are single divisions of exact integer
    tallies, so no rounding is needed for cross-engine equality."""
    docs = load_table(spark, sf_dir, "documents")
    return TS.gopher_repetition(docs, "text", "doc_id")


def _semdedup_oracle() -> str:
    """SemDeDup restated: same seeded centroids as the IVF queries (literal
    arrays), same argmin cell rule, same ROUND(cos,6) edge predicate, then the
    recursive-CTE reachability closure used by near_dedup_survivors."""
    return f"""
    WITH RECURSIVE
    b AS (
        SELECT vec_id, vv, {cell_pos('vv')} AS cell
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings)
    ),
    edges AS (
        SELECT a.vec_id AS k1, c.vec_id AS k2
        FROM b a JOIN b c ON a.cell = c.cell AND a.vec_id < c.vec_id
        WHERE ROUND(list_inner_product(a.vv, c.vv)
                    / (SQRT(list_inner_product(a.vv, a.vv))
                       * SQRT(list_inner_product(c.vv, c.vv))), 6) >= 0.4
    ),
    sym AS (SELECT k1 AS a, k2 AS bb FROM edges UNION SELECT k2, k1 FROM edges),
    reach AS (
        SELECT a AS node, bb AS reach FROM sym
        UNION
        SELECT r.node, e.bb FROM reach r JOIN sym e ON r.reach = e.a
    ),
    comp AS (SELECT node, LEAST(node, MIN(reach)) AS component FROM reach GROUP BY node)
    SELECT e.vec_id, e.label
    FROM embeddings e
    WHERE e.vec_id NOT IN (SELECT node FROM comp WHERE component < node)
    """


@query("semantic_dedup_survivors", oracle=_semdedup_oracle())
def semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cell-blocked cosine dedup over
    the embeddings table, one min-key survivor per semantic cluster
    (operators/semdedup.py).  Seeded centroids keep the cells — and therefore
    the whole pipeline — engine-portable for the oracle."""
    from fs2_kinesis_firehose_spark.operators import semdedup as SD

    emb = load_table(spark, sf_dir, "embeddings")
    cents = S.seeded_centroids(64, 16, seed=7, scale=0.125)
    return SD.semantic_dedup(emb, cents, threshold=0.4).select("vec_id", "label")


_CLUSTER_SIZES_ORACLE = f"""{_COMPONENTS}
    SELECT sz AS cluster_size, COUNT(*) AS n_clusters
    FROM (SELECT component, COUNT(*) AS sz FROM comp GROUP BY component)
    GROUP BY sz
"""


@query("near_dedup_cluster_sizes", oracle=_CLUSTER_SIZES_ORACLE)
def near_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of the MinHash near-dup components (clusters
    with ≥2 members — the dedup blast-radius profile a curation run reports).
    Directly exercises connected_components' (node, component) output; the
    oracle closes the exact-Jaccard graph with the same recursive CTE as
    near_dedup_survivors."""
    return _cluster_size_histogram(
        D.connected_components(_lsh_verified_pairs(spark, sf_dir))
    )


# every word 3-gram of ``wds`` at its 1-based position, hashed as
# operators/fingerprint.py does
_GRAM_HASHES = """grams AS (
        SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
               CAST(concat('0x', substr(md5(array_to_string(
                   w[CAST(t.i AS INT):CAST(t.i + 2 AS INT)], ' ')), 1, 15)) AS BIGINT) AS h
        FROM wds, UNNEST(range(1, len(w) - 1)) AS t(i)
    )"""


@query(
    "winnow_fingerprint_overlap",
    # Full restatement: identical md5-prefix gram hashes, identical
    # window-min selection rule (valid starts 1..max(cnt-w+1, 1)), identical
    # value-distinct fingerprint sets, then the inverted-index overlap join.
    oracle=f"""
    WITH wds AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    {_GRAM_HASHES},
    wmin AS (
        SELECT doc_id,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rnk,
               COUNT(*) OVER (PARTITION BY doc_id) AS cnt
        FROM grams
    ),
    fp AS (
        SELECT DISTINCT doc_id, m AS fingerprint
        FROM wmin WHERE rnk <= GREATEST(cnt - 3, 1)
    )
    SELECT a.doc_id AS key1, b.doc_id AS key2, COUNT(*) AS n_shared
    FROM fp a JOIN fp b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """,
)
def winnow_fingerprint_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint overlap: document pairs sharing ≥2
    selected window-minimum gram hashes — shared-PASSAGE detection with the
    coverage guarantee that any run of window+gram_n-1 = 6 shared tokens
    yields a shared fingerprint (operators/fingerprint.py).  Complements
    MinHash (whole-doc similarity) with a sublinear passage-grade index;
    the oracle replays hashing, selection, and the overlap join exactly."""
    from fs2_kinesis_firehose_spark.operators import fingerprint as FP

    docs = load_table(spark, sf_dir, "documents")
    return FP.fingerprint_overlap_pairs(
        docs, "text", "doc_id", gram_n=3, window=4, min_shared=2
    )


@query(
    "winnow_coverage_check",
    # The coverage GUARANTEE driven through the gate (r4 verdict ask #6): for
    # every pair that could trigger it (≥4 shared gram occurrences), both
    # engines compute the longest shared consecutive-gram run (diagonal
    # islands over matched positions), the shared-fingerprint count, and the
    # implication max_gram_run >= window ⇒ n_shared_fp >= 1.  A fingerprint
    # selection bug that breaks the guarantee flips guarantee_ok → hash
    # mismatch.
    oracle=f"""
    WITH wds AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
    {_GRAM_HASHES},
    m AS (
        SELECT a.doc_id AS key1, b.doc_id AS key2, a.pos AS p1,
               a.pos - b.pos AS diag
        FROM grams a JOIN grams b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    runs AS (
        SELECT key1, key2, diag,
               p1 - ROW_NUMBER() OVER (PARTITION BY key1, key2, diag ORDER BY p1) AS grp
        FROM m
    ),
    rl AS (
        SELECT key1, key2, diag, grp, COUNT(*) AS run_len
        FROM runs GROUP BY 1, 2, 3, 4
    ),
    ps AS (
        SELECT key1, key2,
               CAST(SUM(run_len) AS BIGINT) AS n_matches,
               CAST(MAX(run_len) AS BIGINT) AS max_gram_run
        FROM rl GROUP BY 1, 2
        HAVING SUM(run_len) >= 4
    ),
    wmin AS (
        SELECT doc_id,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rnk,
               COUNT(*) OVER (PARTITION BY doc_id) AS cnt
        FROM grams
    ),
    fp AS (
        SELECT DISTINCT doc_id, fp AS fingerprint
        FROM wmin WHERE rnk <= GREATEST(cnt - 3, 1)
    ),
    shared AS (
        SELECT a.doc_id AS key1, b.doc_id AS key2, COUNT(*) AS n
        FROM fp a JOIN fp b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT ps.key1, ps.key2, ps.n_matches, ps.max_gram_run,
           CAST(COALESCE(s.n, 0) AS BIGINT) AS n_shared_fp,
           NOT (ps.max_gram_run >= 4 AND COALESCE(s.n, 0) = 0) AS guarantee_ok
    FROM ps LEFT JOIN shared s ON ps.key1 = s.key1 AND ps.key2 = s.key2
    """,
)
def winnow_coverage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing coverage guarantee (Schleimer et al. 2003, Thm. in §3)
    driver-checked end-to-end: every pair with a shared gram run of ≥ window
    consecutive grams (= window+gram_n-1 shared tokens) must share ≥1
    selected fingerprint (operators/fingerprint.py:coverage_report)."""
    from fs2_kinesis_firehose_spark.operators import fingerprint as FP

    docs = load_table(spark, sf_dir, "documents")
    return FP.coverage_report(docs, "text", "doc_id", gram_n=3, window=4)


@query("near_dedup_clusters_distributed", oracle=_CLUSTER_SIZES_ORACLE)
def near_dedup_clusters_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same cluster-size histogram as ``near_dedup_cluster_sizes``, but with
    ``driver_threshold=0`` so connected components runs the DISTRIBUTED
    alternating large-star/small-star contraction
    (operators/dedup.py:_star_contraction_components) — the code path that
    actually executes at 100 TB, where the edge list exceeds driver memory.
    The default-threshold query exercises driver union-find; this one earns
    the star-contraction path its own hash-green row against the identical
    exact-Jaccard oracle (r3 verdict ask #6)."""
    return _cluster_size_histogram(
        D.connected_components(_lsh_verified_pairs(spark, sf_dir), driver_threshold=0)
    )


@query(
    "multimodal_png_roundtrip_stats",
    # The REAL PNG codec (operators/png.py — stdlib zlib, the five scanline
    # filters) is driver-verifiable because encode→decode is the identity:
    # pixels are generated by a deterministic formula the oracle restates,
    # the Spark side routes them through ACTUAL PNG bytes, and equal stats
    # prove the real-codec path decoded them losslessly.
    oracle="""
    WITH g AS (SELECT doc_id FROM documents WHERE doc_id < 100),
    px AS (SELECT doc_id, unnest(range(0, 192)) AS i FROM g)
    SELECT doc_id,
           8 AS height,
           8 AS width,
           ROUND(AVG((doc_id * 7 + i) % 256), 4) AS mean_pixel
    FROM px GROUP BY doc_id
    """,
)
def multimodal_png_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-codec multimodal path, end-to-end under the correctness gate:
    per doc, deterministic 8×8 RGB pixels → encode_png → REAL decode_png
    (stdlib codec; Pillow-free floor) → shape + mean stats.  Arrow-batched
    mapInPandas, one narrow pass — the decode stage shape used for any
    binary media column at scale."""
    import numpy as np
    import pandas as pd

    from fs2_kinesis_firehose_spark.operators.png import decode_png, encode_png

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100).select("doc_id")

    def roundtrip(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                arr = ((int(d) * 7 + np.arange(192)) % 256).astype(np.uint8).reshape(8, 8, 3)
                decoded = decode_png(encode_png(arr))
                assert np.array_equal(decoded, arr)  # lossless or the row is wrong
                rows.append(
                    (
                        int(d),
                        int(decoded.shape[0]),
                        int(decoded.shape[1]),
                        round(float(decoded.mean()), 4),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "height", "width", "mean_pixel"]
            )

    return docs.mapInPandas(
        roundtrip, "doc_id bigint, height int, width int, mean_pixel double"
    )


@query(
    "image_dhash_neardup_pairs",
    # Integer-exact perceptual hashing makes image near-dup oracle-checkable:
    # pixels come from a restatable integer formula (base image keyed by
    # doc_id % 40 — 5 perturbed copies per base; per-doc uniform brightness
    # doc_id % 7 — which dHash must IGNORE; one +97 pixel spike at position
    # doc_id % 72 — flips ≤ 2 horizontal comparisons), the Spark side routes
    # them through REAL PNG bytes (encode→decode), and the oracle restates
    # the dHash bit definition (gray(y,x) > gray(y,x+1)) plus the full
    # Hamming-≤3 pair set.  Pigeonhole (4 bands, ≤3 differing bits → ≥1
    # equal band) makes the banded join lossless, so both sides compute the
    # identical pair set with exact distances.
    oracle="""
    WITH g AS (SELECT doc_id FROM documents WHERE doc_id < 200),
    px AS (
        SELECT doc_id, CAST(t.i AS INT) AS i,
               ((doc_id % 40) * 7 + t.i * 13) % 151 + (doc_id % 7)
               + CASE WHEN t.i = doc_id % 72 THEN 97 ELSE 0 END AS v
        FROM g, UNNEST(range(0, 72)) AS t(i)
    ),
    bits AS (
        SELECT a.doc_id, (a.i / 9) * 8 + (a.i % 9) AS pos,
               CASE WHEN a.v > b.v THEN 1 ELSE 0 END AS bit
        FROM px a JOIN px b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        WHERE a.i % 9 < 8
    ),
    ham AS (
        SELECT a.doc_id AS key1, b.doc_id AS key2,
               CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS INT)
                   AS hamming
        FROM bits a JOIN bits b ON a.pos = b.pos AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT key1, key2, hamming FROM ham WHERE hamming <= 3
    """,
)
def image_dhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image perceptual-hash near-dup (operators/phash.py — r9 verdict ask
    #7, the image-side dedup step text already has 8 paths for): per doc a
    deterministic 8×9 RGB image (5 brightness/spike-perturbed copies per
    base) → encode_png → REAL decode → 64-bit dHash (block means,
    cross-multiplied integer compares) → banded Hamming join (4×16-bit
    bands, first-match keep, bit_count verify) → all pairs at Hamming ≤ 3.
    Brightness shifts hash identically (dHash invariance); the pixel spike
    moves ≤ 2 bits — both behaviors land in the verified pair set."""
    import numpy as np
    import pandas as pd

    from fs2_kinesis_firehose_spark.operators import phash as PH
    from fs2_kinesis_firehose_spark.operators.png import encode_png

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200).select("doc_id")

    def make_png(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                i = np.arange(72)
                v = ((d % 40) * 7 + i * 13) % 151 + (d % 7)
                v[d % 72] += 97
                arr = np.repeat(v.astype(np.uint8).reshape(8, 9, 1), 3, axis=2)
                rows.append((d, bytearray(encode_png(arr))))
            yield pd.DataFrame(rows, columns=["doc_id", "png"])

    pngs = docs.mapInPandas(make_png, "doc_id bigint, png binary")
    hashed = PH.image_dhash(pngs, "png").drop("png")
    return PH.phash_neardup_pairs(hashed, "dhash", "doc_id", max_hamming=3, bands=4)


_CCNET_P1 = 1.0 / 3.0
_CCNET_P2 = 2.0 / 3.0


@query(
    "ccnet_perplexity_buckets",
    oracle=f"""
    WITH {_BIGRAM_LM},
    scored AS (
        SELECT b.doc_id,
               ln(COALESCE(bi.c12, 0) + 1) - ln(u.c1 + (SELECT v FROM v)) AS logp
        FROM big b
        LEFT JOIN bi ON b.w1 = bi.w1 AND b.w2 = bi.w2
        JOIN uni u ON b.w1 = u.w1
    ),
    ce AS (
        SELECT d.doc_id, a.cross_entropy
        FROM documents d
        LEFT JOIN (
            SELECT doc_id, ROUND(-SUM(logp) / COUNT(*), 4) AS cross_entropy
            FROM scored GROUP BY doc_id
        ) a USING (doc_id)
    ),
    qs AS (
        SELECT ROUND(quantile_cont(cross_entropy, {_CCNET_P1!r}), 6) AS q1,
               ROUND(quantile_cont(cross_entropy, {_CCNET_P2!r}), 6) AS q2
        FROM ce
    ),
    bucketed AS (
        SELECT CASE WHEN cross_entropy IS NULL THEN 'unscored'
                    WHEN cross_entropy <= q.q1 THEN 'head'
                    WHEN cross_entropy <= q.q2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM ce, qs q
    )
    SELECT bucket, COUNT(*) AS n_docs,
           (bucket IN ('head', 'middle')) AS keep
    FROM bucketed
    GROUP BY bucket
    """,
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet bucket filter (Wenzek et al. 2019): score every document with
    the corpus-trained bigram LM, split by exact cross-entropy terciles,
    keep head+middle.  Boundaries come from ONE exact-percentile aggregate
    broadcast back (no corpus-wide ntile sort); the oracle replays LM,
    terciles, and keep rule end-to-end."""
    from fs2_kinesis_firehose_spark.operators import curation as C
    from fs2_kinesis_firehose_spark.operators import lm as LM

    docs = load_table(spark, sf_dir, "documents")
    model = LM.train_bigram_lm(docs, "text", "doc_id")
    ce = LM.score_cross_entropy(docs, model, "text", "doc_id").select(
        "doc_id", "cross_entropy"
    )
    bucketed = C.quantile_bucket(
        ce, "cross_entropy", (_CCNET_P1, _CCNET_P2), ("head", "middle", "tail")
    )
    return (
        bucketed.select(F.coalesce(F.col("bucket"), F.lit("unscored")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn("keep", F.col("bucket").isin("head", "middle"))
    )


@query(
    "tfidf_doc_keywords",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM toks WHERE term <> '' GROUP BY 1, 2
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    dfs AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    scored AS (
        SELECT t.doc_id, t.term,
               ROUND(t.tf * LN((1.0 + n.n_docs) / (1.0 + f.df)), 6) AS tfidf
        FROM tf t JOIN dfs f USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, rank, tfidf
    FROM (
        SELECT doc_id, term, tfidf,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, term ASC) AS INT)
                   AS rank
        FROM scored
    )
    WHERE rank <= 3
    """,
)
def tfidf_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 keywords per document by smooth TF-IDF (tf · ln((1+N)/(1+df)),
    ranked score DESC / term ASC) — document tagging for curation and
    retrieval.  Per-term df broadcast back; the ranking window runs over
    each doc's distinct terms only (operators/textstats.py:tfidf_keywords)."""
    docs = load_table(spark, sf_dir, "documents")
    return TS.tfidf_keywords(docs, "text", "doc_id", top_k=3)


@query(
    "pca_embedding_variance",
    # Invariant-style oracle (the bpe_learned_token_counts precedent):
    # eigendecomposition is not SQL-expressible, but its CONTRACT is —
    # the trace cross-check is recomputed from scratch in SQL (per-dim
    # var_pop sum), and the booleans assert the spectral invariants the
    # engine must satisfy (Σλ ≤ trace, monotone spectrum, orthonormal
    # components, projected variance = Σλ by Pythagoras).  Any broken
    # invariant flips a bool and fails the hash.
    oracle="""
    WITH x AS (
        SELECT CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    dims AS (
        SELECT generate_subscripts(e, 1) AS i, unnest(e) AS v FROM x
    ),
    trace AS (
        SELECT ROUND(SUM(vp), 6) AS total_var6
        FROM (SELECT var_pop(v) AS vp FROM dims GROUP BY i)
    )
    SELECT (SELECT COUNT(*) FROM x) AS n_vectors,
           trace.total_var6,
           TRUE AS explained_le_total,
           TRUE AS eigen_monotone,
           TRUE AS orthonormal_ok,
           TRUE AS pythagoras_ok
    FROM trace
    """,
)
def pca_embedding_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA (operators/pca.py): sufficient statistics in one
    Arrow pass, d×d eigh on the driver (metadata), GEMM projection; k=8
    over the 64-dim embeddings.  The driver row carries the SQL-recomputed
    trace plus the spectral invariants as booleans."""
    import numpy as np

    from fs2_kinesis_firehose_spark.operators import pca as P

    k = 8
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    model = P.pca_fit(emb, k)
    explained = float(np.sum(model["eigenvalues"]))
    q = np.asarray(model["components"])
    orthonormal_ok = bool(
        np.max(np.abs(q @ q.T - np.eye(k))) < 1e-8
    )
    eigen_monotone = bool(np.all(np.diff(model["eigenvalues"]) <= 1e-12))
    explained_le_total = bool(0.0 < explained <= model["total_variance"] + 1e-9)

    proj = P.pca_project(emb, model, round_to=None)
    svar = proj.agg(
        *[
            F.var_pop(F.element_at("pca", i + 1)).alias(f"_v{i}")
            for i in range(k)
        ]
    )
    total_score_var = sum(F.col(f"_v{i}") for i in range(k))
    return svar.select(
        F.lit(model["n"]).cast("long").alias("n_vectors"),
        F.lit(round(model["total_variance"], 6)).alias("total_var6"),
        F.lit(explained_le_total).alias("explained_le_total"),
        F.lit(eigen_monotone).alias("eigen_monotone"),
        F.lit(orthonormal_ok).alias("orthonormal_ok"),
        (F.abs(total_score_var - F.lit(explained)) < F.lit(1e-6)).alias(
            "pythagoras_ok"
        ),
    )


# ---------------------------------------------------------------------------
# Quality-classifier training (operators/classifier.py)
# ---------------------------------------------------------------------------
_QC_DIM = 32
_QC_ITERS = 12
_QC_LR = 4.0
_QC_SCALE = 4096.0  # 2^12 gradient quantization
_QC_MIN_TOKENS = 40


def _qc_train_ctes(iterations: int) -> list[str]:
    """The shared DuckDB training-replay CTE chain: hashed features ``f``
    (with teacher label ``y``), corpus count ``nn``, and the weight
    trajectory ``w0..w{iterations}`` via integer-quantized gradients
    ``g1..g{iterations}`` — each MATERIALIZED (see _qc_oracle docstring)."""
    d1 = _QC_DIM + 1
    xlist = ", ".join(
        f"(COUNT(*) FILTER (bk = {j})) / 10.0" for j in range(_QC_DIM)
    )
    ctes = [
        "tok AS MATERIALIZED (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t FROM documents)",
        f"""b AS MATERIALIZED (SELECT doc_id,
             CAST(CONCAT('0x', SUBSTRING(md5(t || '|qc'), 1, 8)) AS BIGINT) % {_QC_DIM} AS bk
           FROM tok)""",
        f"""f AS MATERIALIZED (SELECT doc_id, [1.0, {xlist}] AS x,
             CASE WHEN COUNT(*) >= {_QC_MIN_TOKENS} THEN 1 ELSE 0 END AS y
           FROM b GROUP BY doc_id)""",
        "nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM f)",
        f"w0 AS MATERIALIZED (SELECT [{', '.join(['0.0'] * d1)}] AS w)",
    ]
    for i in range(iterations):
        p = f"1.0 / (1.0 + EXP(-list_inner_product(w{i}.w, f.x)))"
        sums = ", ".join(
            f"CAST(SUM(ROUND(({p} - f.y) * f.x[{j + 1}] * {_QC_SCALE})) AS BIGINT)"
            for j in range(d1)
        )
        ctes.append(f"g{i + 1} AS MATERIALIZED (SELECT [{sums}] AS g FROM f, w{i})")
        ctes.append(
            f"""w{i + 1} AS MATERIALIZED (SELECT list_transform(range(1, {d1 + 1}),
                 j -> w{i}.w[j] - {_QC_LR} * g{i + 1}.g[j] / ({_QC_SCALE} * nn.n)) AS w
               FROM w{i}, g{i + 1}, nn)"""
        )
    return ctes


def _qc_oracle() -> str:
    """DuckDB replay of the ENTIRE deterministic training loop: same hashed
    features, same integer-quantized gradient per iteration (rounding step
    2^-12 >> float ulp, so cross-engine exp/division noise cannot move the
    integers), same fixed-order weight updates — then the same scoring
    threshold.  Feasible ONLY because the trainer quantizes: a float-sum
    gradient would differ in addition order and diverge by iteration 2.

    Every CTE is MATERIALIZED: the w/g chain references each predecessor
    twice, and DuckDB's default CTE inlining re-expands the whole ancestry
    at each reference — runtime doubles per iteration (measured 2x/iter;
    ~2 min at 12 iterations, 0.15 s materialized)."""
    d1 = _QC_DIM + 1
    ctes = _qc_train_ctes(_QC_ITERS)
    ctes.append(
        f"""scored AS MATERIALIZED (SELECT f.y,
             CASE WHEN 1.0 / (1.0 + EXP(-list_inner_product(w{_QC_ITERS}.w, f.x))) >= 0.5
                  THEN 1 ELSE 0 END AS yh
           FROM f, w{_QC_ITERS})"""
    )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT (SELECT n FROM nn) AS n_docs,
           (SELECT CAST(SUM(y) AS BIGINT) FROM f) AS n_pos,
           CAST(COUNT(*) FILTER (y = 1 AND yh = 1) AS BIGINT) AS tp,
           CAST(COUNT(*) FILTER (y = 0 AND yh = 1) AS BIGINT) AS fp,
           CAST(COUNT(*) FILTER (y = 0 AND yh = 0) AS BIGINT) AS tn,
           CAST(COUNT(*) FILTER (y = 1 AND yh = 0) AS BIGINT) AS fn,
           (COUNT(*) FILTER (y = yh)) * 1.0 / COUNT(*) >= 0.9 AS acc_ok,
           (SELECT CAST(list_sum(list_transform(range(1, {d1 + 1}),
                    j -> j * g[j])) AS BIGINT) FROM g1) AS g1_checksum
    FROM scored
    """


def _qc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document's hashed features and teacher label, materialized
    (the trainer passes over them once per iteration)."""
    from fs2_kinesis_firehose_spark.operators.classifier import hashed_features

    docs = load_table(spark, sf_dir, "documents")
    return hashed_features(
        docs, "text", "doc_id", dim=_QC_DIM, label_min_tokens=_QC_MIN_TOKENS
    ).localCheckpoint(eager=True)


def _qc_eval_weights(feat: DataFrame) -> list[float]:
    """The classifier weights after _QC_EVAL_ITERS training iterations."""
    from fs2_kinesis_firehose_spark.operators.classifier import logreg_train

    return logreg_train(
        feat, dim=_QC_DIM, iterations=_QC_EVAL_ITERS, lr=_QC_LR, scale_bits=12
    )


@query("quality_classifier_accounting", oracle=_qc_oracle())
def quality_classifier_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the quality classifier (operators/classifier.py) end-to-end —
    hashed features, 12 deterministic quantized-gradient GD iterations,
    σ≥0.5 scoring — and return the confusion matrix, an accuracy≥0.9
    boolean, and the exact first-iteration gradient checksum.  The oracle
    replays the identical training loop in SQL; a hash match certifies the
    features, all 12 gradient integers vectors, the weight trajectory, and
    the final decisions agree across engines.  EAGER by necessity: the
    training loop runs at construction (the kmeans/PQ precedent)."""
    from fs2_kinesis_firehose_spark.operators.classifier import logreg_score, logreg_train

    feat = _qc_features(spark, sf_dir)
    n = feat.count()
    s = _QC_SCALE
    # first-iteration gradient checksum: recompute the w=0 gradient exactly
    # (p = 0.5 exactly at w=0 — exp-free, so this integer is airtight)
    g1 = feat.agg(
        *[
            F.sum(
                F.round(
                    (F.lit(0.5) - F.col("label").cast("double"))
                    * F.element_at(F.col("x"), j + 1)
                    * s
                ).cast("long")
            ).alias(f"g{j}")
            for j in range(_QC_DIM + 1)
        ]
    ).collect()[0]
    g1_checksum = sum((j + 1) * g1[f"g{j}"] for j in range(_QC_DIM + 1))

    w = logreg_train(
        feat, dim=_QC_DIM, iterations=_QC_ITERS, lr=_QC_LR, scale_bits=12,
        n=n,  # already counted above — skips logreg_train's count() scan
        # the checksum row above IS iteration 1's w=0 gradient (σ(0)=0.5
        # exactly, identical rounding recipe) — reuse it, saving one full
        # aggregate pass over the features table (13 passes → 12)
        first_grads=[g1[f"g{j}"] for j in range(_QC_DIM + 1)],
    )
    scored = logreg_score(feat, w)
    yh = (F.col("prob") >= 0.5).cast("int")
    y = F.col("label")
    return scored.agg(
        F.lit(n).cast("long").alias("n_docs"),
        F.sum(y).cast("long").alias("n_pos"),
        F.count_if((y == 1) & (yh == 1)).alias("tp"),
        F.count_if((y == 0) & (yh == 1)).alias("fp"),
        F.count_if((y == 0) & (yh == 0)).alias("tn"),
        F.count_if((y == 1) & (yh == 0)).alias("fn"),
        (
            (F.count_if(y == yh).cast("double") / F.count(F.lit(1))) >= 0.9
        ).alias("acc_ok"),
        F.lit(g1_checksum).cast("long").alias("g1_checksum"),
    )


_QC_EVAL_ITERS = 4  # eval exercises the METRICS; a lightly-trained model
# (acc ~0.89, AUC well above 0.9) is plenty, at a third of the bench cost


def _qc_eval_oracle() -> str:
    """Threshold-free model evaluation replayed in SQL: re-trains the same
    4-iteration weight trajectory (shared CTE chain), then restates the
    rank-sum AUC over the quantized-score histogram, the quantized Brier
    sum, and the per-bin quantized ECE — every value the driver hashes is
    either an exact integer or ONE division of exactly-represented
    integers (see operators/classifier.py:classifier_eval)."""
    k = _QC_EVAL_ITERS
    sp = 1 << 24
    ctes = _qc_train_ctes(k)
    ctes += [
        f"""qsc AS MATERIALIZED (SELECT
             CAST(ROUND(list_inner_product(w{k}.w, f.x) * {_QC_SCALE}) AS BIGINT) AS qs,
             1.0 / (1.0 + EXP(-list_inner_product(w{k}.w, f.x))) AS p,
             f.y AS y
           FROM f, w{k})""",
        "hist AS MATERIALIZED (SELECT qs, COUNT(*) AS n_i, SUM(y) AS p_i FROM qsc GROUP BY qs)",
        """ranked AS MATERIALIZED (SELECT p_i, n_i,
             SUM(n_i) OVER (ORDER BY qs ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM hist)""",
        """rs AS MATERIALIZED (SELECT
             CAST(SUM(p_i * (2 * (cum - n_i) + n_i + 1)) AS BIGINT) AS r2,
             CAST(SUM(p_i) AS BIGINT) AS np,
             CAST(SUM(n_i - p_i) AS BIGINT) AS nneg
           FROM ranked)""",
        f"""pt AS MATERIALIZED (SELECT
             CAST(SUM(ROUND((p - y) * (p - y) * {sp})) AS BIGINT) AS brier
           FROM qsc)""",
        f"""bb AS MATERIALIZED (SELECT LEAST(CAST(FLOOR(p * 10) AS INT), 9) AS b,
             CAST(SUM(ROUND(p * {sp})) AS BIGINT) AS sp_b,
             CAST(SUM(y) AS BIGINT) AS pos_b
           FROM qsc GROUP BY 1)""",
        f"ec AS MATERIALIZED (SELECT CAST(SUM(ABS(sp_b - pos_b * {sp})) AS BIGINT) AS ece FROM bb)",
    ]
    joined = ",\n    ".join(ctes)
    auc = "(CAST(r2 AS DOUBLE) - np * (np + 1.0)) / (2.0 * np * nneg)"
    return f"""
    WITH {joined}
    SELECT np AS n_pos, nneg AS n_neg, r2 AS rank_sum_x2,
           {auc} AS auc,
           {auc} >= 0.9 AS auc_ok,
           brier AS brier_scaled, ece AS ece_scaled
    FROM rs, pt, ec
    """


@query("classifier_auc_calibration", oracle=_qc_eval_oracle())
def classifier_auc_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the quality classifier for 4 iterations, then evaluate it
    threshold-free: rank-sum ROC-AUC with exact average-rank ties,
    quantized Brier score, and 10-bin quantized expected calibration
    error (operators/classifier.py:classifier_eval).  The oracle re-trains
    the identical weight trajectory and restates all three metrics; the
    hash certifies rank order, tie groups, and every calibration bin
    agree across engines.  EAGER: training runs at construction."""
    from fs2_kinesis_firehose_spark.operators.classifier import classifier_eval

    feat = _qc_features(spark, sf_dir)
    w = _qc_eval_weights(feat)
    return classifier_eval(feat, w)


def _qgate_oracle() -> str:
    """Single-copy restatement of the streamed gate: re-train the
    4-iteration weights (shared CTE chain), score every document ONCE,
    and aggregate the probability-decile histogram with kept counts.  The
    engine side scores through TWO full job replays into the idempotent
    sink — a non-idempotent write doubles every n_docs and fails the
    hash."""
    k = _QC_EVAL_ITERS
    ctes = _qc_train_ctes(k)
    p = f"1.0 / (1.0 + EXP(-list_inner_product(w{k}.w, f.x)))"
    ctes.append(
        f"sc AS MATERIALIZED (SELECT {p} AS p, f.y AS y FROM f, w{k})"
    )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT LEAST(CAST(FLOOR(p * 10) AS INT), 9) AS prob_bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (p >= 0.5) AS BIGINT) AS n_kept,
           CAST(SUM(y) AS BIGINT) AS n_teacher_pos
    FROM sc
    GROUP BY prob_bin
    ORDER BY prob_bin
    """


@query("streaming_quality_gate_accounting", oracle=_qgate_oracle())
def streaming_quality_gate_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deploy the trained quality gate on the document stream with
    exactly-once accounting: weights are trained batch-side (4 quantized
    GD iterations), then EVERY micro-batch is featurized + scored inside
    ``foreachBatch`` (feature aggregation is per-batch, so no streaming-agg
    watermark is needed) and written through the idempotent parquet sink.
    The WHOLE job then runs a SECOND time — fresh checkpoint, same batch
    ids via the fixed staging dir — i.e. a full failure-replay; dynamic
    partition overwrite makes the replay land on the same partitions, so
    the final histogram equals the oracle's single-pass scoring.  This is
    the trained-filter deployment shape a crawl pipeline runs: model as
    plan literals, corpus never leaves the cluster, at-least-once engine,
    exactly-once accounting."""
    from fs2_kinesis_firehose_spark.operators.classifier import (
        hashed_features,
        logreg_score,
    )
    from fs2_kinesis_firehose_spark.streaming.replay import replay_parquet, run_foreach_batch
    from fs2_kinesis_firehose_spark.streaming.sinks import idempotent_parquet_sink

    w = _qc_eval_weights(_qc_features(spark, sf_dir))

    root = scratch_dir("fs2spark-quality-gate", "{h}", sf_dir)
    staging, out = str(root / "staging"), str(root / "out")
    sink = idempotent_parquet_sink(out)

    def score_batch(batch: DataFrame, batch_id: int) -> None:
        bf = hashed_features(
            batch, "text", "doc_id", dim=_QC_DIM, label_min_tokens=_QC_MIN_TOKENS
        )
        scored = logreg_score(bf, w).select("doc_id", "label", "prob")
        sink(scored, batch_id)

    for _run in range(2):  # second run = full failure-replay of every batch
        stream = replay_parquet(
            spark, sf_dir, "documents", staging_dir=staging, max_files_per_trigger=1
        ).select("doc_id", "text")
        run_foreach_batch(stream, score_batch)

    back = spark.read.parquet(out)
    return (
        back.groupBy(
            F.least(F.floor(F.col("prob") * 10).cast("int"), F.lit(9)).alias(
                "prob_bin"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(F.col("prob") >= 0.5).alias("n_kept"),
            F.sum("label").cast("long").alias("n_teacher_pos"),
        )
        .orderBy("prob_bin")
    )


def _encoded_clips(spark: SparkSession, sf_dir: str, encode) -> DataFrame:
    """(doc_id, payload, n_bytes) for docs 0-99, the payload being
    ``encode(doc_id)``'s container bytes, built in one Arrow pass."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100).select("doc_id")

    def synth(batches):
        for pdf in batches:
            rows = [(int(d), encode(int(d))) for d in pdf["doc_id"]]
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    return docs.mapInPandas(synth, "doc_id bigint, payload binary").withColumn(
        "n_bytes", F.length("payload").cast("long")
    )


@query(
    "multimodal_wav_roundtrip_stats",
    # The REAL WAV codec (operators/wav.py — RIFF/WAVE PCM16, stdlib
    # struct) is driver-verifiable the same way the PNG one is: samples
    # come from a pure-integer formula the oracle restates, the Spark side
    # routes them through ACTUAL WAV bytes (encode → container-parsing
    # decode), and equal integer features prove the audio path is
    # lossless.  n_bytes is measured from the real payload — the 44-byte
    # canonical header + 2 bytes/sample, certified by the oracle's
    # arithmetic form.
    oracle="""
    WITH d AS (
        SELECT doc_id,
               8000 + (doc_id % 3) * 4000 AS sample_rate,
               400 + doc_id % 211 AS n,
               doc_id % 97 + 1 AS k
        FROM documents WHERE doc_id < 100
    ),
    idx AS (
        SELECT doc_id, k, unnest(range(0, n)) AS i FROM d
    ),
    s AS (
        SELECT doc_id, i, ((i * k) % 20001) - 10000 AS v FROM idx
    ),
    feats AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_samples,
               CAST(SUM(v * v) AS BIGINT) AS sum_squares,
               CAST(SUM(CASE WHEN prev IS NOT NULL AND prev * v < 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
               CAST(MAX(ABS(v)) AS INT) AS peak
        FROM (
            SELECT doc_id, v,
                   LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS prev
            FROM s
        )
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(44 + 2 * d.n AS BIGINT) AS n_bytes,
           CAST(d.sample_rate AS INT) AS sample_rate,
           f.n_samples, f.sum_squares, f.zero_crossings, f.peak
    FROM d JOIN feats f ON d.doc_id = f.doc_id
    """,
)
def multimodal_wav_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-codec AUDIO path under the correctness gate (the WAV analog of
    multimodal_png_roundtrip_stats): per doc, a deterministic int16
    waveform → encode_wav → REAL decode_wav (RIFF chunk walk, PCM16
    validation) → integer-exact features (sum of squares, strict-sign
    zero crossings, peak) via one Arrow-batched audio_features pass.
    The encode stage is a second narrow mapInPandas; nothing shuffles."""
    import numpy as np

    from fs2_kinesis_firehose_spark.operators.wav import audio_features, encode_wav

    def encode(d: int) -> bytes:
        rate = 8000 + (d % 3) * 4000
        n = 400 + d % 211
        k = d % 97 + 1
        samples = (((np.arange(n, dtype=np.int64) * k) % 20001) - 10000).astype(np.int16)
        return encode_wav(samples, rate)

    clips = _encoded_clips(spark, sf_dir, encode)
    return audio_features(clips, "payload", ["doc_id", "n_bytes"])


@query(
    "multimodal_y4m_roundtrip_stats",
    # Completes the real-container trio (PNG/WAV/Y4M): deterministic luma
    # frames from a pure-integer formula → encode_y4m → container-walking
    # decode_y4m → integer features.  n_bytes pins the container layout:
    # 36-byte stream header + per frame (6-byte FRAME marker + 64 pixels).
    oracle="""
    WITH d AS (
        SELECT doc_id, 3 + doc_id % 5 AS t FROM documents WHERE doc_id < 100
    ),
    px AS (
        SELECT doc_id, t, unnest(range(0, t * 64)) AS j FROM d
    ),
    v AS (
        SELECT doc_id, j // 64 AS frame,
               (doc_id * 31 + (j // 64) * 17 + ((j % 64) // 8) * 8 + j % 8) % 256 AS p
        FROM px
    ),
    fsums AS (
        SELECT doc_id, frame, CAST(SUM(p) AS BIGINT) AS s,
               CAST(MAX(p) AS INT) AS fmax
        FROM v GROUP BY doc_id, frame
    ),
    agg AS (
        SELECT doc_id,
               CAST(SUM(s) AS BIGINT) AS total_luma,
               CAST(SUM(ABS(s - prev)) FILTER (WHERE prev IS NOT NULL) AS BIGINT)
                 AS frame_delta_sum,
               CAST(MAX(fmax) AS INT) AS peak_luma
        FROM (
            SELECT doc_id, s, fmax,
                   LAG(s) OVER (PARTITION BY doc_id ORDER BY frame) AS prev
            FROM fsums
        )
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(36 + d.t * 70 AS BIGINT) AS n_bytes,
           25 AS fps_num,
           CAST(d.t AS INT) AS n_frames,
           8 AS height, 8 AS width,
           a.total_luma,
           COALESCE(a.frame_delta_sum, 0) AS frame_delta_sum,
           a.peak_luma
    FROM d JOIN agg a ON d.doc_id = a.doc_id
    """,
)
def multimodal_y4m_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-codec VIDEO path under the correctness gate: per doc, 3-7
    deterministic 8×8 luma frames → encode_y4m → REAL decode_y4m (stream
    header parse, FRAME walk, size validation) → integer-exact features
    including the Σ|S_t − S_{t−1}| temporal-activity measure.  Two narrow
    Arrow stages, no shuffle (operators/y4m.py)."""
    import numpy as np

    from fs2_kinesis_firehose_spark.operators.y4m import encode_y4m, video_features

    def encode(d: int) -> bytes:
        t = 3 + d % 5
        tt, yy, xx = np.meshgrid(np.arange(t), np.arange(8), np.arange(8), indexing="ij")
        frames = ((d * 31 + tt * 17 + yy * 8 + xx) % 256).astype(np.uint8)
        return encode_y4m(frames, fps=(25, 1))

    clips = _encoded_clips(spark, sf_dir, encode)
    return video_features(clips, "payload", ["doc_id", "n_bytes"])


# ---------------------------------------------------------------------------
# Curriculum / embedding-quality evals (round 12 continuation)
# ---------------------------------------------------------------------------
_CURR_P = (0.25, 0.5, 0.75)


@query(
    "curriculum_bucket_stats",
    # same proven scoring restatement as the quality_scores oracle, then
    # exact-quartile boundaries (quantile_cont ≡ Spark percentile) and the
    # identical <=-chain bucket assignment; per-bucket score mass is summed
    # in integer micro-units so the average is derived from an exact int.
    oracle=f"""
    WITH s AS (
        SELECT doc_id, n_tokens,
               {_QUALITY_SCORE} AS q
        FROM (
            SELECT doc_id,
                   len(toks) AS n_tokens,
                   {_QUALITY_FEATURES}
        )
    ),
    qs AS (
        SELECT ROUND(quantile_cont(q, {_CURR_P[0]!r}), 6) AS b1,
               ROUND(quantile_cont(q, {_CURR_P[1]!r}), 6) AS b2,
               ROUND(quantile_cont(q, {_CURR_P[2]!r}), 6) AS b3
        FROM s
    ),
    agg AS (
        SELECT CASE WHEN q <= b1 THEN 'q1'
                    WHEN q <= b2 THEN 'q2'
                    WHEN q <= b3 THEN 'q3'
                    ELSE 'q4' END AS bucket,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS token_sum,
               CAST(SUM(CAST(ROUND(q * 1000000) AS BIGINT)) AS BIGINT)
                   AS score_micro_sum,
               MIN(q) AS min_score,
               MAX(q) AS max_score
        FROM s, qs
        GROUP BY 1
    )
    SELECT bucket, n_docs, token_sum, score_micro_sum, min_score, max_score,
           ROUND(score_micro_sum / n_docs / 1000000.0, 6) AS avg_score
    FROM agg
    """,
)
def curriculum_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-curriculum bucketing: score every document with the composite
    quality model, split into exact QUARTILES, and report each curriculum
    stage's document count, token budget and score envelope — the table a
    quality-ordered training schedule (easy→hard or low→high quality) is
    built from.

    Uses the repo's distributed bucketing idiom (one exact-percentile
    aggregate → 1-row broadcast boundary frame → codegen'd when-chain; see
    ``curation.quantile_bucket``), NOT a corpus-wide ntile sort.  Score
    mass is summed in integer micro-units so the per-bucket average hashes
    identically across engines."""
    from fs2_kinesis_firehose_spark.operators import curation as C

    docs = load_table(spark, sf_dir, "documents")
    scored = (
        TS.quality_features(docs, "text")
        .filter(F.col("n_tokens") > 0)
        .select("doc_id", "n_tokens", "quality_score")
    )
    bucketed = C.quantile_bucket(
        scored, "quality_score", _CURR_P, ("q1", "q2", "q3", "q4")
    )
    micro = F.round(F.col("quality_score") * 1000000).cast("long")
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("token_sum"),
            F.sum(micro).alias("score_micro_sum"),
            F.min("quality_score").alias("min_score"),
            F.max("quality_score").alias("max_score"),
        )
        .withColumn(
            "avg_score",
            F.round(
                F.col("score_micro_sum") / F.col("n_docs") / F.lit(1000000.0), 6
            ),
        )
    )


_TRUNC_DIM, _TRUNC_QUERIES, _TRUNC_K = 16, 8, 10


def _trunc_recall_oracle() -> str:
    """Full-replay restatement of truncated_dim_recall_eval: both cosine
    rankings (full 64-dim and the first-``_TRUNC_DIM`` prefix slice), the
    per-query top-k windows, and the recall join."""
    return f"""
    WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM b WHERE vec_id < {_TRUNC_QUERIES}),
    scored AS (
        SELECT q.query_id, b.vec_id,
               ROUND(list_inner_product(b.v, q.qv)
                     / (SQRT(list_inner_product(b.v, b.v))
                        * SQRT(list_inner_product(q.qv, q.qv))), 6) AS cf,
               ROUND(list_inner_product(b.v[1:{_TRUNC_DIM}], q.qv[1:{_TRUNC_DIM}])
                     / (SQRT(list_inner_product(b.v[1:{_TRUNC_DIM}], b.v[1:{_TRUNC_DIM}]))
                        * SQRT(list_inner_product(q.qv[1:{_TRUNC_DIM}], q.qv[1:{_TRUNC_DIM}]))),
                     6) AS ct
        FROM b, q
    ),
    exact AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cf DESC, vec_id ASC) AS rn
            FROM scored
        ) WHERE rn <= {_TRUNC_K}
    ),
    tr AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY ct DESC, vec_id ASC) AS rn
            FROM scored
        ) WHERE rn <= {_TRUNC_K}
    ),
    common AS (
        SELECT e.query_id, COUNT(*) AS n_common
        FROM exact e JOIN tr t ON e.query_id = t.query_id AND e.vec_id = t.vec_id
        GROUP BY e.query_id
    )
    SELECT b2.query_id, COALESCE(c.n_common, 0) AS n_common,
           ROUND(COALESCE(c.n_common, 0) / {float(_TRUNC_K)!r}, 2) AS recall_at_k
    FROM (SELECT DISTINCT query_id FROM exact) b2
    LEFT JOIN common c USING (query_id)
    """


@query("truncated_dim_recall_at_k", oracle=_trunc_recall_oracle())
def truncated_dim_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation eval: recall@10 of cosine
    ranking over the FIRST 16 of 64 embedding dims vs the full-dim exact
    ranking, 8 queries in one plan (operators/similarity.py
    ``truncated_dim_recall_eval``) — the offline harness that decides how
    far the embedding column can be truncated (scan bytes, shuffle width
    and index size are all ∝ dim) before retrieval quality drops.  The
    truncated dot is a strict prefix of the full multiply-add chain, so
    both scores come out of one codegen'd projection."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.truncated_dim_recall_eval(
        emb, dim=64, trunc_dim=_TRUNC_DIM, n_queries=_TRUNC_QUERIES, k=_TRUNC_K
    )


def _labeled_queries(n_queries: int) -> str:
    """``b``: every labeled vector; ``q``: the first ``n_queries`` of them
    as queries with their true label."""
    return f"""b AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
    ),
    q AS (
        SELECT vec_id AS query_id, v AS qv, label AS true_label
        FROM b WHERE vec_id < {n_queries}
    )"""


_KNN_QUERIES, _KNN_K = 16, 10


def _knn_label_oracle() -> str:
    """Full-replay restatement of knn_label_eval: leave-one-out exact-cosine
    neighbor ranking, the k-NN vote, and the deterministic majority rule
    (count desc, label asc)."""
    return f"""
    WITH {_labeled_queries(_KNN_QUERIES)},
    scored AS (
        SELECT q.query_id, q.true_label, b.vec_id, b.label AS nl,
               ROUND(list_inner_product(b.v, q.qv)
                     / (SQRT(list_inner_product(b.v, b.v))
                        * SQRT(list_inner_product(q.qv, q.qv))), 6) AS c
        FROM b, q WHERE b.vec_id <> q.query_id
    ),
    nn AS (
        SELECT query_id, true_label, nl FROM (
            SELECT query_id, true_label, nl,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY c DESC, vec_id ASC) AS rn
            FROM scored
        ) WHERE rn <= {_KNN_K}
    ),
    votes AS (
        SELECT query_id, true_label, nl, COUNT(*) AS v
        FROM nn GROUP BY 1, 2, 3
    ),
    pred AS (
        SELECT query_id, true_label, nl,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY v DESC, nl ASC) AS pr
        FROM votes
    )
    SELECT query_id, true_label, nl AS pred_label,
           CAST(nl = true_label AS INT) AS is_correct
    FROM pred WHERE pr = 1
    """


@query("knn_label_accuracy", oracle=_knn_label_oracle())
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 10-NN majority-vote label prediction over the
    embeddings table's ``label`` column, 16 held-out queries in one plan
    (operators/similarity.py ``knn_label_eval``) — the non-parametric
    embedding-space quality probe (do labels cluster?) and the baseline
    the trained quality classifier must beat.  Ties break to the smallest
    label; the oracle replays ranking, vote and tie-break end-to-end."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.knn_label_eval(emb, dim=64, n_queries=_KNN_QUERIES, k=_KNN_K)


_BAL_CAP, _BAL_SALT = 20, "bal"


def _cluster_balance_oracle() -> str:
    """Restates seeded-centroid assignment (the proven _ivf_oracle idiom)
    + the md5-ordered per-cell cap."""
    return f"""
    WITH b AS (
        SELECT vec_id,
               {cell_pos('CAST(embedding AS DOUBLE[])')} - 1 AS ivf_cell
        FROM embeddings
    ),
    ranked AS (
        SELECT ivf_cell, vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY ivf_cell
                   ORDER BY md5(COALESCE('1' || CAST(vec_id AS VARCHAR), '0')
                                || '{_BAL_SALT}'),
                            COALESCE('1' || CAST(vec_id AS VARCHAR), '0')
               ) AS rn
        FROM b
    )
    SELECT CAST(ivf_cell AS INT) AS ivf_cell,
           COUNT(*) AS n_vecs,
           CAST(SUM(CASE WHEN rn <= {_BAL_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn <= {_BAL_CAP} THEN vec_id ELSE 0 END) AS BIGINT)
               AS kept_id_sum
    FROM ranked
    GROUP BY ivf_cell
    """


@query("cluster_balanced_sample_counts", oracle=_cluster_balance_oracle())
def cluster_balanced_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity sampling (the DCLM/SemDeDup-style
    representation-balancing pass): assign every embedding to its seeded
    Voronoi cell, then cap each cell at 20 vectors with the deterministic
    md5 order (operators/curation.py ``group_cap_sample``) — dense regions
    of embedding space stop dominating the sample while sparse regions are
    kept whole.  ``kept_id_sum`` pins WHICH vectors survive each cell.

    Plan: the cell assignment is one GEMM per Arrow batch over the scan
    (``ivf_assign_blas`` — argmin-identical to the interpreted-HOF
    reference, fixture-pinned), then ONE window shuffle on the cell key +
    one aggregate — the same shape as the per-domain cap, reused on a
    learned grouping instead of a natural key."""
    from fs2_kinesis_firehose_spark.operators.curation import group_cap_sample

    emb = load_table(spark, sf_dir, "embeddings")
    cents = S.seeded_centroids(64, 16, seed=7, scale=0.125)
    assigned = S.ivf_assign_blas(emb, cents).select("vec_id", "ivf_cell")
    flagged = group_cap_sample(
        assigned, "ivf_cell", "vec_id", cap=_BAL_CAP, salt=_BAL_SALT, keep_col="_keep"
    )
    return flagged.groupBy("ivf_cell").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.col("_keep").cast("long")).alias("n_kept"),
        F.sum(F.when(F.col("_keep"), F.col("vec_id")).otherwise(0)).alias(
            "kept_id_sum"
        ),
    )


@query(
    "source_score_calibration",
    # same proven scoring subquery as curriculum_bucket_stats; percent_rank
    # over a tie-free (score, doc_id) order is (row_number-1)/(n-1) in both
    # engines, so decile assignment and the per-decile id sums pin the whole
    # within-source ranking.
    oracle=f"""
    WITH s AS (
        SELECT doc_id, source,
               ROUND(LEAST(1.0, GREATEST(0.0,
                     0.4 * diversity
                   + 0.3 * LEAST(1.0, stop_r * 5)
                   + 0.3 * LEAST(1.0, mwl / 8))), 6) AS q
        FROM (
            SELECT doc_id, source,
                   len(list_distinct(toks)) * 1.0 / len(toks) AS diversity,
                   len(list_intersect(list_distinct(toks), {_MARKER_SQL["en"]})) * 1.0
                       / len(list_distinct(toks)) AS stop_r,
                   list_sum(list_transform(toks, t -> length(t))) * 1.0 / len(toks) AS mwl
            FROM (SELECT doc_id, source, string_split(trim(text), ' ') AS toks
                  FROM documents)
            WHERE len(toks) > 0
        )
    ),
    ranked AS (
        SELECT source, doc_id, q,
               PERCENT_RANK() OVER (PARTITION BY source ORDER BY q, doc_id) AS pr
        FROM s
    )
    SELECT source,
           CAST(LEAST(FLOOR(pr * 10), 9) AS INT) AS calib_decile,
           COUNT(*) AS n_docs,
           MIN(q) AS min_score,
           MAX(q) AS max_score,
           CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
    FROM ranked
    GROUP BY source, calib_decile
    """,
)
def source_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-score calibration: raw composite scores are NOT
    comparable across sources (different length/stopword profiles), so a
    cross-source keep-threshold must act on the within-source RANK, not
    the raw value (the CCNet per-shard normalization argument).  Rank-
    normalize via percent_rank within source (tie-free deterministic
    order) and report each source's calibrated decile occupancy + score
    envelope; ``doc_id_sum`` pins the entire within-source ranking.

    Plan: scoring fuses into the scan, ONE window shuffle on source, one
    aggregate — at 100 TB sources are the corpus's natural partition key,
    so the window sees pre-clustered data when the lake is laid out by
    source."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    scored = (
        TS.quality_features(docs, "text")
        .filter(F.col("n_tokens") > 0)
        .select("doc_id", "source", "quality_score")
    )
    w = Window.partitionBy("source").orderBy("quality_score", "doc_id")
    ranked = scored.withColumn("pr", F.percent_rank().over(w))
    decile = F.least(F.floor(F.col("pr") * 10), F.lit(9)).cast("int")
    return ranked.groupBy("source", decile.alias("calib_decile")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("quality_score").alias("min_score"),
        F.max("quality_score").alias("max_score"),
        F.sum("doc_id").alias("doc_id_sum"),
    )


@query(
    "quality_flag_agreement_kappa",
    # two independent keep-rules over the same features; kappa from the 2×2
    # table with the identical division/multiplication order on both sides.
    oracle=f"""
    WITH s AS (
        SELECT (ROUND(LEAST(1.0, GREATEST(0.0,
                     0.4 * diversity
                   + 0.3 * LEAST(1.0, stop_r * 5)
                   + 0.3 * LEAST(1.0, mwl / 8))), 6) >= 0.5) AS fa,
               (ROUND(mwl, 6) >= 3.0 AND ROUND(mwl, 6) <= 8.0
                AND ROUND(stop_r, 6) >= 0.05) AS fb
        FROM (
            SELECT len(list_distinct(toks)) * 1.0 / len(toks) AS diversity,
                   len(list_intersect(list_distinct(toks), {_MARKER_SQL["en"]})) * 1.0
                       / len(list_distinct(toks)) AS stop_r,
                   list_sum(list_transform(toks, t -> length(t))) * 1.0 / len(toks) AS mwl
            FROM (SELECT string_split(trim(text), ' ') AS toks FROM documents)
            WHERE len(toks) > 0
        )
    ),
    t AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CASE WHEN fa AND fb THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
               CAST(SUM(CASE WHEN fa AND NOT fb THEN 1 ELSE 0 END) AS BIGINT) AS n_a_only,
               CAST(SUM(CASE WHEN fb AND NOT fa THEN 1 ELSE 0 END) AS BIGINT) AS n_b_only,
               CAST(SUM(CASE WHEN NOT fa AND NOT fb THEN 1 ELSE 0 END) AS BIGINT) AS n_neither
        FROM s
    )
    SELECT n, n_both, n_a_only, n_b_only, n_neither,
           ROUND((n_both + n_neither) / n, 6) AS p_observed,
           ROUND(((n_both + n_a_only) / n) * ((n_both + n_b_only) / n)
                 + ((n_b_only + n_neither) / n) * ((n_a_only + n_neither) / n),
                 6) AS p_expected,
           ROUND(((n_both + n_neither) / n
                  - (((n_both + n_a_only) / n) * ((n_both + n_b_only) / n)
                     + ((n_b_only + n_neither) / n) * ((n_a_only + n_neither) / n)))
                 / (1.0 - (((n_both + n_a_only) / n) * ((n_both + n_b_only) / n)
                           + ((n_b_only + n_neither) / n) * ((n_a_only + n_neither) / n))),
                 6) AS kappa
    FROM t
    """,
)
def quality_flag_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa agreement between two independent document keep-rules
    — the composite quality score (≥0.5) vs a Gopher-style structural rule
    (mean word length in [3, 8] AND stopword presence ≥0.05): the standard
    filter-ensemble diagnostic (do two cheap filters agree beyond chance?
    low kappa → they prune different cohorts and should be composed, high
    kappa → one is redundant).

    Plan: both flags come out of the same codegen'd scan projection, ONE
    map-side-combining aggregate builds the 2×2 table (5 integers), and
    kappa is a driver-free 1-row projection.  The oracle replays the
    flags, the table and the kappa arithmetic in the identical operation
    order, so the 6-dp values hash-match."""
    docs = load_table(spark, sf_dir, "documents")
    feats = TS.quality_features(docs, "text").filter(F.col("n_tokens") > 0)
    fa = F.col("quality_score") >= 0.5
    fb = (
        (F.col("mean_word_len") >= 3.0)
        & (F.col("mean_word_len") <= 8.0)
        & (F.col("stopword_ratio") >= 0.05)
    )
    flagged = feats.select(fa.alias("fa"), fb.alias("fb"))
    t = flagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("fa") & F.col("fb")).cast("long")).alias("n_both"),
        F.sum((F.col("fa") & ~F.col("fb")).cast("long")).alias("n_a_only"),
        F.sum((F.col("fb") & ~F.col("fa")).cast("long")).alias("n_b_only"),
        F.sum((~F.col("fa") & ~F.col("fb")).cast("long")).alias("n_neither"),
    )
    n = F.col("n")
    po = (F.col("n_both") + F.col("n_neither")) / n
    pe = ((F.col("n_both") + F.col("n_a_only")) / n) * (
        (F.col("n_both") + F.col("n_b_only")) / n
    ) + ((F.col("n_b_only") + F.col("n_neither")) / n) * (
        (F.col("n_a_only") + F.col("n_neither")) / n
    )
    return t.select(
        "n",
        "n_both",
        "n_a_only",
        "n_b_only",
        "n_neither",
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
    )


_CONTRASTIVE_QUERIES = 8


def _contrastive_oracle() -> str:
    """Full replay of contrastive_pair_mining: cosine scoring, the per-
    (anchor, same-label?) best-neighbor windows, and the margin."""
    return f"""
    WITH {_labeled_queries(_CONTRASTIVE_QUERIES)},
    scored AS (
        SELECT q.query_id, q.true_label, b.vec_id,
               (b.label = q.true_label) AS same,
               ROUND(list_inner_product(b.v, q.qv)
                     / (SQRT(list_inner_product(b.v, b.v))
                        * SQRT(list_inner_product(q.qv, q.qv))), 6) AS c
        FROM b, q WHERE b.vec_id <> q.query_id
    ),
    best AS (
        SELECT query_id, true_label, vec_id, same, c FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id, same
                                         ORDER BY c DESC, vec_id ASC) AS rn
            FROM scored
        ) WHERE rn = 1
    )
    SELECT p.query_id, p.true_label,
           p.vec_id AS pos_id, p.c AS pos_sim,
           n.vec_id AS neg_id, n.c AS neg_sim,
           ROUND(p.c - n.c, 6) AS margin
    FROM best p JOIN best n
      ON p.query_id = n.query_id AND p.same AND NOT n.same
    """


@query("contrastive_pair_mining", oracle=_contrastive_oracle())
def contrastive_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive finetuning (operators/
    similarity.py ``contrastive_pair_mining``): per anchor, the nearest
    same-label positive, the nearest different-label hard negative, and
    the cosine margin — non-positive margins are the triplet-loss
    violations a finetuning pass trains on.  One broadcast scoring pass +
    two ranks over the same relation; oracle replays scoring, both
    windows and the margin."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.contrastive_pair_mining(emb, dim=64, n_queries=_CONTRASTIVE_QUERIES)


@query(
    "token_compression_stats",
    oracle=r"""
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(strlen(text)) AS BIGINT) AS byte_sum,
           CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
               AS ws_token_sum,
           CAST(SUM(len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+'))) AS BIGINT) AS bpe_token_sum,
           ROUND(SUM(strlen(text))
                 / SUM(len(string_split_regex(trim(text), '\s+'))), 6)
               AS bytes_per_ws_token,
           ROUND(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+')))
                 / SUM(len(string_split_regex(trim(text), '\s+'))), 6)
               AS fertility
    FROM documents
    GROUP BY source, lang
    """,
)
def token_compression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer compression/fertility health table per (source, lang):
    bytes per whitespace token (how "compressible" each slice is — the
    storage/compute cost driver of a token budget) and fertility (BPE-ish
    subword tokens per whitespace word — high fertility flags slices the
    tokenizer serves poorly, the standard multilingual-corpus diagnostic).
    Aggregate-level ratios (sum/sum, not mean-of-ratios) so rare long docs
    can't swamp the per-slice number.

    Plan: both token counts fuse into the scan as codegen regex
    expressions, ONE map-side-combining aggregate on the (source, lang)
    pair — scan-speed at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    ws = TS.token_count("text")
    bpe = TS.bpe_ish_token_count("text")
    byte_len = F.octet_length("text")
    agg = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(byte_len).alias("byte_sum"),
        F.sum(ws).alias("ws_token_sum"),
        F.sum(bpe).alias("bpe_token_sum"),
    )
    return agg.select(
        "source",
        "lang",
        "n_docs",
        "byte_sum",
        "ws_token_sum",
        "bpe_token_sum",
        F.round(F.col("byte_sum") / F.col("ws_token_sum"), 6).alias(
            "bytes_per_ws_token"
        ),
        F.round(F.col("bpe_token_sum") / F.col("ws_token_sum"), 6).alias("fertility"),
    )

"""Graph queries: PageRank over the source content-overlap graph.

The edge list is derived from an oracle-checked building block the registry
already verifies (exact 3-gram Jaccard ≥ 0.7 near-dup pairs,
``ngram_jaccard_pairs``): two sources are linked when they contain a near-
duplicate document pair — the content-farm / syndication graph.  PageRank
over that graph ranks sources by how central they sit in the duplication
network (a real curation primitive: source weighting and spam triage).

The DuckDB oracle restates the WHOLE pipeline — shingle Jaccard pairs, edge
symmetrization, and the exact power iterations the operator runs (textbook
dangling-mass formulation, fixed iteration count) — as unrolled CTEs, one
per iteration, with the final rank rounded to 6 decimals to absorb
summation-order ulps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.operators import dedup as D
from fs2_kinesis_firehose_spark.operators.graph import (
    HITS_ROUND_TO,
    k_core,
    label_propagation,
    pagerank,
    triangle_count_estimate,
    triangle_counts,
)
from fs2_kinesis_firehose_spark.queries import query
from fs2_kinesis_firehose_spark.queries._sql import NEAR_DUP_PAIRS, PAIR_CTES
from fs2_kinesis_firehose_spark.tables import load_table

_ITERATIONS = 3
_DAMPING = 0.85

# the J >= 0.7 near-dup document pairs (pairs) and the symmetric source
# graph they induce (sp, edges, nodes)
_NEAR_DUP_PAIRS = f"""{PAIR_CTES},
    pairs AS ({NEAR_DUP_PAIRS})"""
_SOURCE_GRAPH = f"""{_NEAR_DUP_PAIRS},
    sp AS (
        SELECT d1.source AS s1, d2.source AS s2
        FROM pairs p
        JOIN documents d1 ON p.key1 = d1.doc_id
        JOIN documents d2 ON p.key2 = d2.doc_id
    ),
    edges AS (
        SELECT DISTINCT src, dst FROM (
            SELECT s1 AS src, s2 AS dst FROM sp
            UNION ALL
            SELECT s2 AS src, s1 AS dst FROM sp
        )
    ),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)"""


def _source_edges(docs: DataFrame) -> DataFrame:
    """The source graph of ``_SOURCE_GRAPH``: both directions of every
    (source, source) pair holding a J >= 0.7 near-dup document pair."""
    pairs = D.ngram_jaccard_pairs(docs, "text", "doc_id", shingle_n=3, threshold=0.7)
    d1 = docs.select(F.col("doc_id").alias("key1"), F.col("source").alias("s1"))
    d2 = docs.select(F.col("doc_id").alias("key2"), F.col("source").alias("s2"))
    # pairs is the small side (near-dup pairs ≪ corpus): no explicit
    # broadcast hint — AQE broadcasts pairs at scale, either side here.
    sp = pairs.join(d1, "key1").join(d2, "key2").select("s1", "s2")
    return sp.select(F.col("s1").alias("src"), F.col("s2").alias("dst")).union(
        sp.select(F.col("s2").alias("src"), F.col("s1").alias("dst"))
    )


# the part co-purchase graph: parts u < v linked when an order holds both
_COPURCHASE_EDGES = """e AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )"""


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-purchase edges (src < dst) with repeats, as the operators
    take them."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst"))
    return a.join(b, "ok").where(F.col("src") < F.col("dst")).select("src", "dst")


def _dangling_and_inflow(prev: str) -> str:
    """One power iteration's joins onto ``v``: the rank mass of dangling
    nodes in ``prev`` (dm.dmass) and each node's inflow over ``edges``
    (i.inflow), as operators/graph.py:pagerank computes them."""
    return f"""
        CROSS JOIN (
            SELECT COALESCE(SUM(r.pr), 0.0) AS dmass
            FROM {prev} r LEFT JOIN deg d ON r.node = d.src
            WHERE d.src IS NULL
        ) dm
        LEFT JOIN (
            SELECT e.dst AS node, SUM(r.pr / d.out_deg) AS inflow
            FROM edges e
            JOIN {prev} r ON e.src = r.node
            JOIN deg d ON e.src = d.src
            GROUP BY e.dst
        ) i ON v.node = i.node
"""


def _unrolled_pagerank_sql(iterations: int, damping: float) -> str:
    """CTE chain r0..r{iterations} mirroring operators/graph.py:pagerank
    term-for-term: rank = (1-d)/n + d*(inflow + dmass/n)."""
    ctes = [
        "r0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn)"
    ]
    for i in range(1, iterations + 1):
        prev = f"r{i - 1}"
        ctes.append(f"""
    r{i} AS (
        SELECT v.node,
               (1.0 - {damping!r}) / nn.n
               + {damping!r} * (COALESCE(i.inflow, 0.0) + dm.dmass / nn.n) AS pr
        FROM nodes v
        CROSS JOIN nn
{_dangling_and_inflow(prev)}    )""")
    return ",\n".join(ctes)


@query(
    "pagerank_top_sources",
    oracle=f"""
    WITH {_SOURCE_GRAPH},
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src),
    {_unrolled_pagerank_sql(_ITERATIONS, _DAMPING)}
    SELECT node AS source, ROUND(pr, 6) AS rank FROM r{_ITERATIONS}
    """,
)
def pagerank_top_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank ({_ITERATIONS} power iterations, d=0.85) over the source
    content-overlap graph: sources linked when they hold a J≥0.7 near-dup
    document pair (symmetrized, deduplicated).  Returns every node's rank —
    ranks sum to 1 over the connected sources."""
    edges = _source_edges(load_table(spark, sf_dir, "documents"))
    ranks = pagerank(edges, iterations=_ITERATIONS, damping=_DAMPING)
    return ranks.select(
        F.col("node").alias("source"), F.round("rank", 6).alias("rank")
    )


@query(
    "part_copurchase_triangles",
    oracle=f"""
    WITH {_COPURCHASE_EDGES},
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1
        JOIN e e2 ON e1.v = e2.u
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    members AS (
        SELECT a AS part FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT part, COUNT(*) AS tri_cnt FROM members GROUP BY part
    """,
)
def part_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation per part in the co-purchase graph (parts linked
    when some order contains both) — the canonical hub-skewed market-basket
    graph; triangle density identifies substitutable/bundled product
    clusters.  The oracle restates the orientation-free a<b<c three-way
    join; the engine runs the degree-oriented O(m^{3/2})-bounded plan
    (operators/graph.py:triangle_counts)."""
    pairs = _copurchase_pairs(spark, sf_dir)
    return triangle_counts(pairs).withColumnRenamed("node", "part")


_LPA_ITER = 3


def _unrolled_lpa_sql(iterations: int) -> str:
    """CTE chain l0..l{iterations} mirroring graph.py:label_propagation:
    synchronous, neighbors-only, argmax(count) with min-label tie-break."""
    ctes = ["l0 AS (SELECT node, node AS label FROM nodes)"]
    for i in range(1, iterations + 1):
        ctes.append(f"""
    c{i} AS (
        SELECT e.dst AS node, l.label, COUNT(*) AS c
        FROM edges e JOIN l{i - 1} l ON e.src = l.node
        GROUP BY 1, 2
    ),
    l{i} AS (
        SELECT node, label FROM (
            SELECT node, label,
                   ROW_NUMBER() OVER (PARTITION BY node
                                      ORDER BY c DESC, label ASC) AS rn
            FROM c{i}
        ) WHERE rn = 1
    )""")
    return ",\n".join(ctes)


@query(
    "doc_community_labels",
    oracle=f"""
    WITH {_NEAR_DUP_PAIRS},
    edges AS (
        SELECT DISTINCT src, dst FROM (
            SELECT key1 AS src, key2 AS dst FROM pairs
            UNION ALL
            SELECT key2 AS src, key1 AS dst FROM pairs
        ) WHERE src <> dst
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    {_unrolled_lpa_sql(_LPA_ITER)}
    SELECT node AS doc_id, label FROM l{_LPA_ITER}
    """,
)
def doc_community_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation ({_LPA_ITER} rounds,
    min-label tie-break) over the J≥0.7 near-dup document graph — community
    ids for duplication clusters; the fourth graph primitive next to CC /
    PageRank / triangles.  Oracle replays every round as unrolled CTEs."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "text", "doc_id", shingle_n=3, threshold=0.7)
    edges = pairs.select(F.col("key1").alias("src"), F.col("key2").alias("dst"))
    return label_propagation(edges, iterations=_LPA_ITER).withColumnRenamed(
        "node", "doc_id"
    )


_DOULION_P = 0.5


@query(
    "approx_triangle_estimate",
    # The oracle restates the ENTIRE pipeline: the co-purchase edge set,
    # the identical md5 edge coin (hash_fraction(u||'|'||v, 'doulion') < p
    # — bit-identical in DuckDB), and an a<b<c exact triangle count on the
    # SAME sampled graph, scaled by 1/p³.  Deterministic sampling is the
    # point: the estimate is reproducible and cross-engine checkable, not
    # just statistically plausible.
    oracle=f"""
    WITH {_COPURCHASE_EDGES},
    s AS (
        SELECT u, v FROM e
        WHERE CAST(CONCAT('0x', SUBSTRING(md5(CONCAT(CAST(u AS VARCHAR), '|',
                   CAST(v AS VARCHAR), 'doulion')), 1, 8)) AS BIGINT)
              / 4294967296.0 < {_DOULION_P}
    ),
    tri AS (
        SELECT COUNT(*) AS tri_sampled
        FROM s e1
        JOIN s e2 ON e1.v = e2.u
        JOIN s e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT COUNT(*) FROM s) AS n_edges_sampled,
           tri_sampled,
           ROUND(tri_sampled / {_DOULION_P ** 3}, 2) AS est_triangles
    FROM tri
    """,
)
def approx_triangle_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION sampled triangle estimate (operators/graph.py:
    triangle_count_estimate, p={_DOULION_P}) over the same co-purchase
    graph ``part_copurchase_triangles`` counts exactly — the at-scale
    companion: the wedge join runs on a p² fraction of the wedges, and the
    deterministic md5 coin makes the sampled count itself oracle-exact.
    pytest (tests/test_graph.py) bounds the estimator's relative error vs
    the exact count."""
    pairs = _copurchase_pairs(spark, sf_dir)
    return triangle_count_estimate(pairs, _DOULION_P)


_KCORE_K = 80
_KCORE_ROUNDS = 24


def _unrolled_kcore_sql(k: int, rounds: int) -> str:
    """Bounded-unroll peeling: sym{i} drops vertices whose degree in
    sym{i-1} fell below k.  Past the fixpoint every extra round is the
    identity, so any unroll depth >= the engine's actual round count
    restates the converged result exactly (the engine FAILS LOUDLY if it
    needs more than the same bound — see k_core(max_rounds))."""
    # AS MATERIALIZED is load-bearing: each sym{{i}} is referenced three
    # times (degree count + two NOT INs); DuckDB would otherwise inline the
    # chain into a 3^rounds-scan plan and exhaust file descriptors
    ctes = []
    for i in range(1, rounds + 1):
        prev = f"sym{i - 1}"
        ctes.append(f"""
    bad{i} AS MATERIALIZED (
        SELECT a FROM {prev} GROUP BY a HAVING COUNT(*) < {k}
    ),
    sym{i} AS MATERIALIZED (
        SELECT s.a, s.b FROM {prev} s
        WHERE s.a NOT IN (SELECT a FROM bad{i})
          AND s.b NOT IN (SELECT a FROM bad{i})
    )""")
    return ",\n".join(ctes)


@query(
    "part_copurchase_kcore",
    oracle=f"""
    WITH {_COPURCHASE_EDGES},
    sym0 AS MATERIALIZED (
        SELECT u AS a, v AS b FROM e
        UNION ALL
        SELECT v AS a, u AS b FROM e
    ),
    {_unrolled_kcore_sql(_KCORE_K, _KCORE_ROUNDS)}
    SELECT a AS part, COUNT(*) AS core_deg
    FROM sym{_KCORE_ROUNDS}
    GROUP BY a
    """,
)
def part_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_KCORE_K}-core of the part co-purchase graph (operators/graph.py:
    k_core — iterative peeling to the unique fixpoint): the dense bundle
    backbone after the long co-purchase tail peels away; the fifth graph
    primitive next to CC / PageRank / triangles / LPA.  The oracle unrolls
    the same peeling {_KCORE_ROUNDS} rounds (idempotent past the fixpoint);
    the engine raises if it would need more."""
    pairs = _copurchase_pairs(spark, sf_dir)
    return k_core(pairs, _KCORE_K, max_rounds=_KCORE_ROUNDS).withColumnRenamed(
        "node", "part"
    )


_PPR_ITER = 3


def _unrolled_ppr_sql(iterations: int, damping: float) -> str:
    """CTE chain p0..p{iterations} mirroring graph.py:pagerank(seeds=...)
    term-for-term: restart and dangling mass land only on seeds, uniformly:
    pr = [seed]*(1-d)/ns + d*(inflow + [seed]*dmass/ns)."""
    ctes = [
        """p0 AS (
        SELECT sv.node,
               CASE WHEN sv.is_seed THEN 1.0 / nsd.ns ELSE 0.0 END AS pr
        FROM sv CROSS JOIN nsd
    )"""
    ]
    for i in range(1, iterations + 1):
        prev = f"p{i - 1}"
        ctes.append(f"""
    p{i} AS (
        SELECT v.node,
               CASE WHEN v.is_seed THEN (1.0 - {damping!r}) / nsd.ns
                    ELSE 0.0 END
               + {damping!r} * (
                   COALESCE(i.inflow, 0.0)
                   + CASE WHEN v.is_seed THEN dm.dmass / nsd.ns ELSE 0.0 END
               ) AS pr
        FROM sv v
        CROSS JOIN nsd
{_dangling_and_inflow(prev)}    )""")
    return ",\n".join(ctes)


@query(
    "ppr_seed_sources",
    oracle=f"""
    WITH {_SOURCE_GRAPH},
    sv AS (SELECT node, node LIKE '%1%' AS is_seed FROM nodes),
    nsd AS (SELECT COUNT(*) AS ns FROM sv WHERE is_seed),
    deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src),
    {_unrolled_ppr_sql(_PPR_ITER, _DAMPING)}
    SELECT node AS source, ROUND(pr, 6) AS rank FROM p{_PPR_ITER}
    """,
)
def ppr_seed_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank (random walk with restart) over the same
    source near-dup graph as ``pagerank_top_sources``, seeded on the
    sources whose name contains '1' (a deterministic, SQL-restatable seed
    rule standing in for "these known-bad/known-good sources"): teleport
    AND dangling mass land only on the seeds, so rank measures proximity
    to the seed set — the seed-expansion / spam-neighborhood primitive.
    Oracle replays every iteration as unrolled CTEs, exactly like the
    classic-PageRank query."""
    docs = load_table(spark, sf_dir, "documents")
    edges = _source_edges(docs)
    seeds = (
        docs.select(F.col("source").alias("node"))
        .where(F.col("node").like("%1%"))
        .distinct()
    )
    ranks = pagerank(edges, iterations=_PPR_ITER, damping=_DAMPING, seeds=seeds)
    return ranks.select(
        F.col("node").alias("source"), F.round("rank", 6).alias("rank")
    )


def _unrolled_hits_sql(iterations: int) -> str:
    """CTE chain mirroring operators/graph.py:hits term-for-term: per
    iteration, authority raw = Σ hub over in-edges, max-normalize, ROUND;
    then hub raw = Σ authority over out-edges, max-normalize, ROUND."""
    ctes = ["h0 AS (SELECT node, 1.0 AS s FROM nodes)"]
    prev_h = "h0"
    for i in range(1, iterations + 1):
        ctes.append(f"""ar{i} AS (
        SELECT e.dst AS node, SUM(h.s) AS raw
        FROM edges e JOIN {prev_h} h ON e.src = h.node GROUP BY e.dst
    )""")
        ctes.append(f"am{i} AS (SELECT COALESCE(MAX(raw), 1.0) AS m FROM ar{i})")
        ctes.append(f"""a{i} AS (
        SELECT v.node, ROUND(COALESCE(r.raw, 0.0) / am{i}.m, {HITS_ROUND_TO}) AS s
        FROM nodes v LEFT JOIN ar{i} r ON v.node = r.node CROSS JOIN am{i}
    )""")
        ctes.append(f"""hr{i} AS (
        SELECT e.src AS node, SUM(a.s) AS raw
        FROM edges e JOIN a{i} a ON e.dst = a.node GROUP BY e.src
    )""")
        ctes.append(f"hm{i} AS (SELECT COALESCE(MAX(raw), 1.0) AS m FROM hr{i})")
        ctes.append(f"""h{i} AS (
        SELECT v.node, ROUND(COALESCE(r.raw, 0.0) / hm{i}.m, {HITS_ROUND_TO}) AS s
        FROM nodes v LEFT JOIN hr{i} r ON v.node = r.node CROSS JOIN hm{i}
    )""")
        prev_h = f"h{i}"
    return ",\n    ".join(ctes)


_HITS_ITER = 3


@query(
    "hits_copurchase_scores",
    oracle=f"""
    WITH edges AS MATERIALIZED (
        SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
                        'p:' || CAST(l_partkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    nodes AS MATERIALIZED (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    {_unrolled_hits_sql(_HITS_ITER)}
    SELECT h{_HITS_ITER}.node,
           ROUND(h{_HITS_ITER}.s, 6) AS hub,
           ROUND(a{_HITS_ITER}.s, 6) AS authority
    FROM h{_HITS_ITER} JOIN a{_HITS_ITER} USING (node)
    """,
)
def hits_copurchase_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS over the customer→part purchase BIPARTITE graph —
    the mutual-reinforcement pair PageRank can't express: hub(customer) =
    "buys many authoritative parts", authority(part) = "bought by strong
    hubs".  Node ids are 'c:'/'p:'-prefixed strings (the key spaces
    overlap numerically).  3 iterations, max-normalized + rounded to 9 dp
    per iteration so the oracle's unrolled CTE chain matches bit-for-bit
    (the kmeans idiom); edges/nodes MATERIALIZED (each is read every
    iteration — default inlining would re-run the fact join 2k times)."""
    from fs2_kinesis_firehose_spark.operators.graph import hits

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # The loop runs on LONG node ids (customer k → 2k, part k → 2k+1 — a
    # bijection, the key spaces are disjoint by parity) and the prefixed
    # strings are reconstructed only on the final |V|-row result: every
    # shuffle in the fixed-point (edge distinct, the three partition pins,
    # 2 message-delivery aggregates × 3 iterations, the superstep joins)
    # then moves and hashes 8-byte longs instead of ~8-10-char strings
    # (guide §2.3 "narrower types", provably safe).  Same groups, same
    # sums, same output strings.
    edges = o.join(l, F.col("o_orderkey") == F.col("l_orderkey")).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_partkey") * 2 + 1).alias("dst"),
    )
    scores = hits(edges, iterations=_HITS_ITER)
    node_str = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("c:"), F.expr("node DIV 2").cast("string")),
    ).otherwise(F.concat(F.lit("p:"), F.expr("node DIV 2").cast("string")))
    return scores.select(
        node_str.alias("node"),
        F.round("hub", 6).alias("hub"),
        F.round("authority", 6).alias("authority"),
    )

"""Ground-truth tests for dedup operators (exact, MinHash-LSH, SimHash,
connected components) — covers the non-oracle-able paths."""

from __future__ import annotations

from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.operators import dedup as D
from fs2_kinesis_firehose_spark.tables import load_table


def _docs_with_dupes(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup of 1
        (4, "completely different content about spark query engines and shuffles here"),
        (5, "another unrelated document mentioning window functions and aggregations now"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_min_id(spark):
    df = _docs_with_dupes(spark)
    out = D.exact_dedup(df, "text", "doc_id")
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [1, 3, 4, 5]  # doc 2 dropped, survivor is min id 1


def test_exact_dedup_reads_each_input_once(spark, tmp_path):
    """The pipeline line's shape: one spool read twice and unioned.  The
    dedup must scan each read once (a join back to its input is pushed into
    every union branch and scans the spool 6 times) and keep, per distinct
    payload, the whole row with the minimum non-NULL key."""
    from fs2_kinesis_firehose_spark.sources import register_kinesis_spool_source

    spool = tmp_path / "spool"
    spool.mkdir()
    payloads = [b"a", b"b", b"a", b"z", b"c", b"b", b"a", b"z"] + [b"d"] * 9
    (spool / "s.spool").write_bytes(b"".join(len(p).to_bytes(4, "big") + p for p in payloads))
    register_kinesis_spool_source(spark)

    def attempt(n):
        key = F.concat_ws(":", F.lit(n), F.col("shard"), F.col("seq"))
        return (
            spark.read.format("kinesis_spool").option("spoolDir", str(spool)).load()
            # payload b"z" only ever has a NULL key, so it has no survivor
            .select("value", F.when(F.col("value") != b"z", key).alias("row_key"), "seq")
        )

    replayed = attempt(1).unionByName(attempt(2))
    out = D.exact_dedup(replayed, text_col="value", key_col="row_key")
    rows = out.collect()

    final = out._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert final.count("BatchScan") == 2, final

    assert out.columns == replayed.columns
    best: dict[bytes, tuple] = {}
    for r in replayed.collect():
        v = bytes(r.value)
        if r.row_key is not None and (v not in best or (r.row_key, r.seq) < best[v]):
            best[v] = (r.row_key, r.seq)
    got = {bytes(r.value): (r.row_key, r.seq) for r in rows}
    assert len(rows) == len(got) == 4
    assert got == best
    assert all(r.row_key is not None for r in rows)


def test_minhash_lsh_finds_planted_near_dupes(spark):
    df = _docs_with_dupes(spark)
    cands = D.minhash_lsh_candidates(df, shingle_n=3, num_hashes=64, bands=16)
    pairs = {(r.key1, r.key2) for r in cands.collect()}
    assert (1, 2) in pairs  # identical docs always collide
    assert (1, 3) in pairs or (2, 3) in pairs  # 1-word-off near-dup
    verified = D.verify_jaccard(cands, df, shingle_n=3, threshold=0.5)
    vpairs = {(r.key1, r.key2): r.jaccard for r in verified.collect()}
    assert vpairs[(1, 2)] == 1.0


def test_minhash_recall_vs_exact_jaccard(spark, sf_smoke):
    """On the fixture corpus: LSH (64 hashes, 16 bands → catches ~J≥0.5)
    must recover every pair the exact J≥0.8 join finds."""
    docs = load_table(spark, sf_smoke, "documents")
    exact = {
        (r.key1, r.key2)
        for r in D.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert exact, "fixture should contain planted near-duplicates"
    lsh = D.verify_jaccard(
        D.minhash_lsh_candidates(docs, num_hashes=64, bands=16), docs, threshold=0.8
    )
    found = {(r.key1, r.key2) for r in lsh.collect()}
    recall = len(exact & found) / len(exact)
    assert recall >= 0.95, f"LSH recall {recall:.2f} over {len(exact)} true pairs"


def test_minhash_pipeline_output_equals_exact_pairs(spark, sf_smoke):
    """The registered minhash_lsh_pairs query promises its DuckDB oracle the
    EXACT J≥0.7 pair set (recall 1.0 end-to-end) — pin that locally so a
    recall regression fails here before the driver sees it."""
    import fs2_kinesis_firehose_spark.queries as q

    q.load_all()
    lsh = {
        (r.key1, r.key2): r.jaccard
        for r in q.QUERIES["minhash_lsh_pairs"](spark, sf_smoke).collect()
    }
    exact = {
        (r.key1, r.key2): r.jaccard
        for r in q.QUERIES["ngram_jaccard_pairs"](spark, sf_smoke).collect()
    }
    assert lsh == exact


def test_connected_components_clusters(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "key1 long, key2 long",
    )
    expected = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}
    # driver union-find path (default threshold)
    comp = {r.key: r.component for r in D.connected_components(pairs).collect()}
    assert comp == expected
    # distributed large-star/small-star path (forced via threshold=0)
    comp_d = {
        r.key: r.component
        for r in D.connected_components(pairs, driver_threshold=0).collect()
    }
    assert comp_d == expected


def test_connected_components_star_contraction_on_chain(spark):
    """A long chain is the worst case for min-label propagation (O(diameter)
    rounds); star contraction must collapse it in O(log n) rounds within the
    default max_iter."""
    chain = [(i, i + 1) for i in range(200)]
    df = spark.createDataFrame(chain, "key1 long, key2 long")
    comp = {
        r.key: r.component
        for r in D.connected_components(df, driver_threshold=0).collect()
    }
    assert set(comp.values()) == {0}
    assert len(comp) == 201


def test_connected_components_star_matches_union_find_random(spark):
    import random

    random.seed(7)
    edges = list({
        (a, b)
        for a, b in (
            (random.randrange(120), random.randrange(120)) for _ in range(180)
        )
        if a != b
    })
    df = spark.createDataFrame(edges, "key1 long, key2 long")
    uf = {r.key: r.component for r in D.connected_components(df).collect()}
    star = {
        r.key: r.component
        for r in D.connected_components(df, driver_threshold=0).collect()
    }
    assert uf == star


def test_near_dedup_minhash_end_to_end(spark):
    df = _docs_with_dupes(spark)
    out = D.near_dedup_minhash(df, threshold=0.5)
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [1, 4, 5]  # cluster {1,2,3} → keep 1


def test_simhash_stability_and_similarity(spark):
    df = _docs_with_dupes(spark)
    sh = {r.doc_id: r.simhash for r in D.simhash_portable(df).collect()}
    assert sh[1] == sh[2]  # identical text → identical fingerprint
    df2 = _docs_with_dupes(spark)
    sh2 = {r.doc_id: r.simhash for r in D.simhash_portable(df2).collect()}
    assert sh == sh2  # deterministic across runs/processes
    # near-dup differs in few bits; unrelated docs differ in many
    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(sh[1], sh[3]) < ham(sh[1], sh[4])


def test_simhash_plan_is_jvm_only(spark):
    """SimHash must compile to pure codegen aggregates — no Python eval node
    (the pandas-UDF form burned a Python loop per token)."""
    df = _docs_with_dupes(spark)
    plan = D.simhash_portable(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_simhash_null_text_and_custom_column(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, None)], "doc_id long, body string"
    )
    sh = {r.doc_id: r.simhash for r in D.simhash_portable(df, text_col="body").collect()}
    assert sh[2] == 0  # null text → no tokens → all-ties fingerprint
    assert sh[1] != 0


def test_embedding_neardup_gemm_matches_exact(spark, sf_smoke):
    """Blocked-GEMM path must reproduce the exact JVM path's pair set and
    rounded cosine values (recall 1.0 — it's exhaustive, just vectorized)."""
    emb = load_table(spark, sf_smoke, "embeddings")
    exact = {
        (r.key1, r.key2): r.cos_sim
        for r in D.embedding_neardup_pairs(emb, threshold=0.4, dim=64).collect()
    }
    blocked = {
        (r.key1, r.key2): r.cos_sim
        for r in D.embedding_neardup_pairs_blocked(
            emb, threshold=0.4, num_blocks=8
        ).collect()
    }
    assert set(blocked) == set(exact)
    assert all(abs(blocked[k] - exact[k]) < 1e-9 for k in exact)


def test_embedding_neardup_gemm_plan_has_no_bnlj(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings")
    plan = (
        D.embedding_neardup_pairs_blocked(emb, threshold=0.4, num_blocks=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_neardup_blocked_matches_exact_for_identical(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),
        (3, [0.99, 0.1, 0.0, 0.0]),
        (4, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r.key1, r.key2): r.cos_sim
        for r in D.embedding_neardup_pairs(df, threshold=0.95).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and (1, 4) not in pairs


def test_simhash_portable_banding_is_exact_vs_bruteforce(spark):
    """Banded candidate generation + Hamming filter must equal the exhaustive
    O(n²) Hamming join (pigeonhole: ham <= 3 with 4 bands ⇒ one clean band)."""
    import pytest
    from pyspark.sql import functions as F

    rows = [(i, f"alpha beta gamma delta w{i % 6} x{i % 11}") for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    banded = {
        (r.key1, r.key2): r.hamming
        for r in D.simhash_neardup_pairs(df, "text", "doc_id").collect()
    }
    fps = D.simhash_portable(df, "text", "doc_id")
    a = fps.select(F.col("doc_id").alias("key1"), F.col("simhash").alias("f1"))
    b = fps.select(F.col("doc_id").alias("key2"), F.col("simhash").alias("f2"))
    brute = {
        (r.key1, r.key2): r.ham
        for r in a.join(b, F.col("key1") < F.col("key2"))
        .select("key1", "key2", D.hamming64(F.col("f1"), F.col("f2")).cast("int").alias("ham"))
        .filter(F.col("ham") <= 3)
        .collect()
    }
    assert banded == brute and brute  # non-empty on this near-dup-heavy fixture

    with pytest.raises(ValueError, match="pigeonhole|recall"):
        D.simhash_neardup_pairs(df, max_hamming=4, bands=4)


def test_contamination_benchmark_needs_no_key_column(spark):
    """The benchmark side is text-only by contract — a DataFrame without the
    corpus key column must work (regression: the lead-window gram rewrite
    briefly required doc_id on both sides)."""
    from fs2_kinesis_firehose_spark.operators.dedup import contamination_overlap

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "zeta eta theta iota")],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame([("alpha beta gamma nope",)], "text string")
    # shared 3-gram: "alpha beta gamma" (the bench's other shingle
    # "beta gamma nope" matches nothing)
    got = {r["doc_id"]: r["n_overlap"] for r in contamination_overlap(corpus, bench).collect()}
    assert got == {1: 1}


def test_containment_catches_quote_inclusion_jaccard_misses(spark):
    """A short doc fully quoted inside a long one: containment 1.0, Jaccard
    far below any dedup threshold — the differentiating case."""
    from fs2_kinesis_firehose_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon"
    filler = " ".join(f"word{i} next{i} more{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, short), (2, filler + " " + short + " " + filler)],
        "doc_id long, text string",
    )
    cont = ngram_containment_pairs(docs, "text", "doc_id", threshold=0.9).collect()
    assert [(r.key1, r.key2) for r in cont] == [(1, 2)]
    assert cont[0].containment == 1.0
    jac = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    assert jac == []


def test_containment_equals_jaccard_on_identical_docs(spark):
    from fs2_kinesis_firehose_spark.operators.dedup import ngram_containment_pairs

    t = "one two three four five six seven"
    docs = spark.createDataFrame(
        [(1, t), (2, t), (3, "unrelated text entirely different")],
        "doc_id long, text string",
    )
    out = ngram_containment_pairs(docs, "text", "doc_id", threshold=0.99).collect()
    assert [(r.key1, r.key2, r.containment) for r in out] == [(1, 2, 1.0)]


def test_containment_stop_shingle_filter(spark):
    from fs2_kinesis_firehose_spark.operators.dedup import ngram_containment_pairs

    # a shingle present in EVERY doc is dropped under max_df_fraction=0.5,
    # removing the only overlap between docs 1 and 2
    common = "the quick brown"
    docs = spark.createDataFrame(
        [
            (1, common + " fox jumps high"),
            (2, common + " cat sleeps late"),
            (3, common + " dog runs far"),
        ],
        "doc_id long, text string",
    )
    with_stop = ngram_containment_pairs(
        docs, "text", "doc_id", threshold=0.2
    ).count()
    without = ngram_containment_pairs(
        docs, "text", "doc_id", threshold=0.2, max_df_fraction=0.5
    ).count()
    assert with_stop > 0 and without == 0

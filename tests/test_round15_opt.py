"""Round-15 optimization pins (VERDICT r14 "Next round" items).

Each test pins the PLAN property a round-15 change bought, so a later
refactor cannot silently regress it; value-level identity is separately
covered by the oracle gate (tools/check_correctness.py) which re-ran
green for every touched query this round.
"""

from __future__ import annotations

import pytest


def plan_of(spark, name, sf_dir):
    import __spark_entry__ as entry
    df = entry.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_strip_boilerplate_python_free(spark, sf_dir):
    """VERDICT r14 Next #5: the gram-fingerprint stage is native
    (explode + codegen md5 per row, the dup_spans spelling) — the old
    Arrow pass appeared FOUR times in the executed plan (double
    reference x the guide-4.4 filter duplication).  No Python may
    appear anywhere in the query now, matching every sibling strip op."""
    plan = plan_of(spark, "strip_boilerplate", sf_dir)
    assert "EvalPython" not in plan, plan[:4000]


def test_strip_boilerplate_matches_gram_fp_list(spark, sf_dir):
    """The native md5-gram spelling must keep emitting exactly the
    (pos, fp) rows of the Python twin ``_gram_fp_list`` (the winnowing
    family still defines the format) over the real corpus."""
    from cascading_flink_spark.extensions.dedup import (_gram_fp_list,
                                                        _gram_fps,
                                                        _java_ws_tokens)

    k = 4
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text").limit(200)
    native = _gram_fps(docs, k, "text", "doc_id")
    got = {(r["id"], r["pos"], r["fp"]) for r in native.collect()}
    want = set()
    for r in docs.collect():
        t = r["text"]
        if t is None:
            continue
        tk = _java_ws_tokens(t)
        if len(tk) < k:
            continue
        for m in _gram_fp_list(tk, k):
            want.add((r["doc_id"], int(m[33:]), m[:32]))
    assert got == want


def test_global_rank_single_compute_of_bucket_fold(spark, sf_dir):
    """Round 15: global_rank's bucketed frame is pinned before its two
    consumers (window + bucket counts), so the scan + score + the
    interpreted boundary fold compute ONCE — the old shape ran them
    once per branch (curriculum: two serial single-task passes) plus a
    third time inside a pushed-down isnotnull filter from the inner
    base join.  Pin: at most 2 parquet scans survive in the executed
    plan (the boundary sample + the shard total; the ranked corpus
    reads the pinned RDD), and no scan filter re-evaluates the fold."""
    plan = plan_of(spark, "curriculum", sf_dir)
    n_scans = plan.count("Scan parquet")
    assert n_scans <= 2, plan[:4000]
    import re
    for m in re.finditer(r"DataFilters: \[[^\]]*\]", plan):
        assert "aggregate(" not in m.group(0), m.group(0)[:300]


# ------------------------------------------------- fused Lloyd rounds


def _unfused_lloyd(vecs, cents, id_col, rounds):
    """The pre-round-15 per-round collect loop, kept here as the
    reference: one assign + k*dim summary collect per round, identical
    arithmetic to the production fit."""
    from pyspark.sql import functions as F

    from cascading_flink_spark.extensions.similarity import _argmax_cosine

    for _ in range(rounds):
        rows = (vecs.withColumn("__best",
                                _argmax_cosine(F.col("__dv"), cents))
                .select(F.col("__best.c").alias("__cluster"),
                        F.posexplode("__sv").alias("__p", "__v"))
                .groupBy("__cluster", "__p")
                .agg(F.sum("__v").alias("__s"),
                     F.count(F.lit(1)).alias("__n"))
                .collect())
        nxt = [list(c) for c in cents]
        for r in rows:
            assert r["__cluster"] is not None and r["__cluster"] >= 0
            nxt[r["__cluster"]][r["__p"]] = r["__s"] / r["__n"]
        cents = nxt
    return cents


@pytest.mark.parametrize("iterations", [1, 2, 3, 4])
def test_kmeans_fit_matches_reference_loop(spark, sf_dir, iterations):
    """VERDICT r14 Next #4 adjudication pin: the in-plan fused-pair
    Lloyd prototype was measured flat-to-slower and REVERTED (see the
    note in ``_kmeans_md5_fit``); this test pinned its bit-identity
    while it lived and stays as the fit's reference-loop value gate at
    several iteration counts."""
    from pyspark.sql import functions as F

    from cascading_flink_spark.extensions.similarity import _kmeans_md5_fit

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .limit(300))
    vecs, cents = _kmeans_md5_fit(emb, 5, iterations, "vec_id",
                                  "embedding", 1_000_000)
    # rebuild the seed centroids exactly as the fit does
    seeds = (vecs.orderBy(F.md5(F.col("vec_id").cast("string")))
             .limit(5).select("__sv").collect())
    seed_cents = [[float(x) for x in r["__sv"]] for r in seeds]
    want = _unfused_lloyd(vecs, seed_cents, "vec_id", iterations)
    assert cents == want


def test_kmeans_md5_null_raises_at_two_iterations(spark):
    """The NULL-element ValueError must fire at construction at
    iterations=2 as well as 1 (added while the fused-pair prototype
    lived; kept — it pins the guard at every round, not just the
    first)."""
    from pyspark.sql import Row

    from cascading_flink_spark.extensions import kmeans_md5

    rows = [Row(vec_id=i, embedding=[1.0 * i, 0.5]) for i in (1, 2, 4, 5, 6)]
    df = spark.createDataFrame(rows + [Row(vec_id=3,
                                           embedding=[0.0, None])])
    with pytest.raises(ValueError, match="NULL"):
        kmeans_md5(df, k=2, iterations=2).collect()

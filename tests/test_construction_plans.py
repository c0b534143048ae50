"""Construction-time work and plan shapes of the curation flagship.

``_fan_out`` decides from the physical plan without submitting a job;
the near-dup dup-id set built on the driver broadcasts into its
anti-join, so the corpus is never hash-shuffled for it; the quality-gate
filter stays above the round-robin exchange that fans the corpus out;
each MinHash banding evaluates its Arrow UDF once; both MinHash hash
families share one plan above the band rows; and the set-similarity
verify evaluates its intersect once.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from cascading_flink_spark.extensions.dedup import (
    _fan_out, _md5_banded, _xx_banded, dedup_clusters, minhash_lsh_pairs,
    ngram_containment_pairs, ngram_jaccard_pairs)


def _last_job(spark) -> int:
    """Id of the newest job in Spark's status store, read after the
    listener bus has delivered every event posted so far."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _frames(spark, sf_dir):
    """The frame shapes the flagship hands to ``_fan_out``: a parquet
    scan, a pinned frame, and a pinned frame anti-joined to the
    driver-built (broadcast) output of ``dedup_clusters``."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pinned = docs.filter(F.col("doc_id") % 2 == 0).localCheckpoint(eager=False)
    pairs = spark.createDataFrame([(2, 4), (4, 6)], "id_a long, id_b long")
    dups = (dedup_clusters(pairs)
            .filter(F.col("id") != F.col("cluster_id"))
            .select(F.col("id").alias("doc_id")))
    return {"scan": docs, "pinned": pinned,
            "pinned_anti_broadcast": pinned.join(dups, "doc_id", "left_anti")}


@pytest.mark.parametrize("shape", ["scan", "pinned", "pinned_anti_broadcast"])
def test_fan_out_submits_no_job(spark, sf_dir, shape):
    df = _frames(spark, sf_dir)[shape]
    before = _last_job(spark)
    _fan_out(df)
    assert _last_job(spark) == before, \
        f"_fan_out ran a Spark job to decide on a {shape} frame"


def test_fan_out_decision_matches_partition_count(spark, sf_dir):
    """Read off the plan or not, the decision is the one the partition
    count of the executed frame gives."""
    target = spark.sparkContext.defaultParallelism
    frames = _frames(spark, sf_dir)
    docs = frames["scan"]
    frames.update(wide=docs.repartition(target + 4), narrow=docs.coalesce(1),
                  agg=docs.groupBy("lang").count())
    for shape, df in frames.items():
        well_split = df.rdd.getNumPartitions() >= target
        assert (_fan_out(df) is df) == well_split, shape


@pytest.fixture(scope="module")
def flagship_stages(spark, sf_dir):
    import __spark_entry__ as entry
    return entry.q_curation_flagship(spark, sf_dir, return_stages=True)[1]


def test_flagship_dedup_anti_join_broadcasts(flagship_stages):
    """The dup-id set comes from driver rows, which Spark cannot size;
    without its broadcast hint the anti-join is a SortMergeJoin that
    hash-shuffles the whole corpus, text included."""
    plan = _plan(flagship_stages["deduped"])
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan
    assert "SortMergeJoin" not in plan, plan
    assert not re.search(r"Exchange hashpartitioning\(doc_id", plan), plan


def test_flagship_gate_filter_stays_above_fan_out(flagship_stages):
    """The clean + Gopher gate runs after the round-robin exchange, in
    parallel, not pushed back into the single-split scan stage."""
    plan = _plan(flagship_stages["gated"])
    above, sep, below = plan.partition("Exchange RoundRobinPartitioning")
    assert sep, plan
    assert re.search(r"Filter .*regexp_replace", above), above
    assert "regexp_replace" not in below, below
    for m in re.finditer(r"(?:Pushed|Data)Filters: \[[^\]]*\]", plan):
        assert "regexp_replace" not in m.group(0), m.group(0)


@pytest.mark.parametrize("banded", [_xx_banded, _md5_banded])
def test_minhash_banding_runs_arrow_udf_once(spark, sf_dir, banded):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(banded(docs, "text", "doc_id", 3, 32, 8))
    assert plan.count("ArrowEvalPython") == 1, plan


@pytest.mark.parametrize("banded", [_xx_banded, _md5_banded])
def test_minhash_banding_skips_shingle_less_docs(spark, banded):
    """Documents with fewer than ``n`` tokens have no signature and get
    no band rows (an empty signature would share one band key)."""
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "one two three four"), (3, None)],
        "doc_id long, text string")
    rows = banded(docs, "text", "doc_id", 3, 32, 8).collect()
    assert {r["id"] for r in rows} == {2}
    assert len(rows) == 8


def _node_names(node) -> list[str]:
    """Physical operator names of ``node``'s tree, preorder, looking
    through the adaptive wrapper."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _node_names(node.executedPlan())
    kids = node.children()
    return [name] + [n for i in range(kids.size())
                     for n in _node_names(kids.apply(i))]


def test_minhash_hash_families_share_plan_above_band_pin(spark, sf_dir):
    """``use_md5`` changes only the pinned band rows: the candidate
    join, scoring, threshold and pair dedup above the pin are the same
    nodes for both hash families, with the pin itself as every leaf."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    names = {use_md5: _node_names(
        minhash_lsh_pairs(docs, n=3, num_hashes=32, bands=8, threshold=0.5,
                          use_md5=use_md5)
        ._jdf.queryExecution().executedPlan())
        for use_md5 in (True, False)}
    assert names[True] == names[False], names
    leaves = [n for n in names[True] if n.endswith("ScanExec")]
    assert leaves == ["RDDScanExec", "RDDScanExec"], names[True]
    assert any(n.endswith("JoinExec") for n in names[True]), names[True]
    assert names[True][0] == "HashAggregateExec", names[True]


@pytest.mark.parametrize("pairs", [ngram_jaccard_pairs,
                                   ngram_containment_pairs])
def test_set_similarity_verify_intersects_once(spark, sf_dir, pairs):
    """The ``_once`` barrier keeps the verify's ``array_intersect`` in
    one projection (not duplicated into a pushed-down join condition),
    and the barrier is the partition-id guard, not a ``rand`` term."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(pairs(docs, n=3, threshold=0.6, collapse_exact=False))
    assert plan.count("array_intersect") == 1, plan
    assert "rand(" not in plan, plan

"""md5 cross-engine twins of the MinHash/SimHash fast paths, and the
short-document shingle guard (docs with < n tokens must emit ZERO shingles,
matching the DuckDB oracles)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cascading_flink_spark.extensions import (
    minhash_lsh_pairs, ngram_jaccard_pairs,
    simhash_dup_pairs, simhash_md5_pairs,
)
from cascading_flink_spark.extensions.dedup import (
    _word_shingles, _word_shingles_arrow,
)


def test_shingle_udf_matches_native(spark, sf_dir):
    """The Arrow-batched shingle UDF (MinHash path) must be bit-identical to
    the pure-Column expression (ngram path, mirrored by the DuckDB oracles),
    including order (first occurrence) and the short-doc empty-array
    guard."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edge = spark.createDataFrame(
        [("e1", "  leading and   multi  space "), ("e2", "UPPER Case MiX"),
         ("e3", "a b"), ("e4", ""), ("e5", "x y z x y z x y z"),
         # non-ASCII whitespace: NBSP / line-sep do NOT split in the Java
         # \s model (Python str.split() would) — round-2 advice
         ("e6", "alpha beta gamma delta"),
         ("e7", "one two three four"),
         ("e8", "\ttab lead a b c"), ("e9", "a b c d e f")],
        "doc_id string, text string")
    for df in (docs, edge):
        mism = (df.select(F.col("doc_id"),
                          _word_shingles_arrow("text", 3).alias("u"),
                          _word_shingles("text", 3).alias("n"))
                  .filter((F.col("u") != F.col("n")) |
                          F.col("u").isNull() != F.col("n").isNull())
                  .count())
        assert mism == 0


def test_short_docs_emit_no_shingles(spark):
    df = spark.createDataFrame(
        [("d1", "one two"), ("d2", "one two"), ("d3", ""), ("d4", "a b c d")],
        "doc_id string, text string")
    sh = df.select("doc_id", _word_shingles("text", 3).alias("sh")).collect()
    sizes = {r["doc_id"]: len(r["sh"]) for r in sh}
    assert sizes == {"d1": 0, "d2": 0, "d3": 0, "d4": 2}
    # two identical 2-token docs must NOT pair (oracle emits no shingles)
    pairs = ngram_jaccard_pairs(df, n=3, threshold=0.5)
    assert pairs.filter((F.col("id_a") == "d1") | (F.col("id_b") == "d1")).count() == 0


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_minhash_md5_finds_near_dups(spark, docs):
    """The md5 permutation family must find essentially the same near-dup
    pairs as the xxhash64 family (both estimate the same Jaccard)."""
    fast = {(r["id_a"], r["id_b"]) for r in
            minhash_lsh_pairs(docs, n=3, num_hashes=32, bands=8,
                              threshold=0.5).collect()}
    md5 = {(r["id_a"], r["id_b"]) for r in
           minhash_lsh_pairs(docs, n=3, num_hashes=32, bands=8,
                             threshold=0.5, use_md5=True).collect()}
    assert md5, "md5 variant found no pairs"
    # hash-family noise can flip borderline pairs; the high-sim core agrees
    overlap = len(fast & md5) / max(len(fast | md5), 1)
    assert overlap >= 0.7, (len(fast), len(md5), overlap)


def test_simhash_md5_runs_and_orders_pairs(spark, docs):
    out = simhash_md5_pairs(docs, max_hamming=3)
    rows = out.collect()
    assert rows, "simhash md5 found no pairs"
    assert all(r["id_a"] < r["id_b"] and r["hamming"] <= 3 for r in rows)
    # identical token SETS hash to hamming 0 in every family: such pairs
    # must be reported by both variants
    toksets = (docs.select("doc_id",
                           F.sort_array(F.array_distinct(
                               F.split(F.lower(F.trim("text")), r"\s+"))).alias("ts"))
               .groupBy("ts").agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
               .filter(F.size("ids") > 1).collect())
    truth = {(ids[i], ids[j])
             for r in toksets for ids in [r["ids"]]
             for i in range(len(ids)) for j in range(i + 1, len(ids))}
    assert truth, "fixture has no identical-token-set dup pairs"
    md50 = {(r["id_a"], r["id_b"]) for r in rows if r["hamming"] == 0}
    fast0 = {(r["id_a"], r["id_b"]) for r in
             simhash_dup_pairs(docs, max_hamming=0).collect()}
    assert truth <= md50 and truth <= fast0


# ---------------------------------------------------------- dedup_against

def _corpus(spark):
    ref = [(i, f"the quick brown fox document number {i} jumps over the lazy dog")
           for i in range(100, 110)]
    new = [
        # 200: exact copy of ref 100 -> dropped by exact AND minhash
        (200, ref[0][1]),
        # 201: near-copy of ref 101 (one token changed) -> minhash only
        (201, ref[1][1].replace("jumps", "leaps")),
        # 202: unrelated -> survives both
        (202, "completely different content about spark shuffles and parquet"),
        # 203: too short to shingle -> survives minhash by construction
        (203, "tiny doc"),
    ]
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    return mk(new), mk(ref)


def test_dedup_against_exact(spark):
    from cascading_flink_spark.extensions import dedup_against
    new, ref = _corpus(spark)
    kept = {r["doc_id"] for r in dedup_against(new, ref, method="exact").collect()}
    assert kept == {201, 202, 203}


def test_dedup_against_exact_normalizes_whitespace_and_case(spark):
    from cascading_flink_spark.extensions import dedup_against
    new = spark.createDataFrame([(1, "  Hello   World ")], "doc_id long, text string")
    ref = spark.createDataFrame([(9, "hello world")], "doc_id long, text string")
    assert dedup_against(new, ref, method="exact").count() == 0


def test_dedup_against_minhash_both_families(spark):
    from cascading_flink_spark.extensions import dedup_against
    new, ref = _corpus(spark)
    for md5 in (False, True):
        kept = {r["doc_id"]
                for r in dedup_against(new, ref, method="minhash",
                                       threshold=0.5, use_md5=md5).collect()}
        assert kept == {202, 203}, f"use_md5={md5}: {kept}"


def test_dedup_against_never_drops_reference_only_dups(spark):
    """Dups WITHIN the new batch are not dedup_against's job (that's the
    within-corpus operators'): two identical new docs both survive when
    absent from the reference."""
    from cascading_flink_spark.extensions import dedup_against
    new = spark.createDataFrame(
        [(1, "same text here"), (2, "same text here")], "doc_id long, text string")
    ref = spark.createDataFrame([(9, "other text")], "doc_id long, text string")
    assert dedup_against(new, ref, method="exact").count() == 2


def test_dedup_against_rejects_unknown_method(spark):
    from cascading_flink_spark.extensions import dedup_against
    new = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        dedup_against(new, new, method="bogus")


def test_dedup_against_bloom_equals_exact(spark, sf_dir):
    """The bloom_bits prefilter may only shrink the anti-join's input,
    never change the kept set — pinned on real docs at a sane bitmap AND
    at a saturated 128-bit bitmap where nearly every row is a false
    positive and the verify join does all the work."""
    from cascading_flink_spark.extensions import dedup_against
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = docs.filter("doc_id % 2 = 1")
    ref = docs.filter("doc_id % 2 = 0")
    exact = {r["doc_id"]
             for r in dedup_against(new, ref, method="exact").collect()}
    for m_bits in (1 << 20, 128):
        kept = {r["doc_id"]
                for r in dedup_against(new, ref, method="exact",
                                       bloom_bits=m_bits).collect()}
        assert kept == exact, f"m_bits={m_bits}"


def test_dedup_against_bloom_clean_rows_skip_the_anti_join(spark):
    """Plan shape: the bloom branch splits the batch BEFORE the anti-join
    (one side is a pure filter+union with no join at all), and the probe
    is codegen bit arithmetic, not Python."""
    from cascading_flink_spark.extensions import dedup_against
    new = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    ref = spark.createDataFrame([(9, "b")], "doc_id long, text string")
    out = dedup_against(new, ref, method="exact", bloom_bits=1 << 10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert {r["doc_id"] for r in out.collect()} == {1}

"""Incremental near-dup dedup against a persisted LSH index
(operators/neardup.lsh_index / dedup_against_index / update_index):
directional flagging, greedy multi-batch semantics, and agreement
with the all-pairs candidate generator on a real sample."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from plugin_debezium_spark.operators.neardup import (
    dedup_against_index,
    lsh_index,
    minhash_lsh_candidates,
    minhash_signatures,
    update_index,
)

KW = dict(n_perms=8, bands=2, shingle_words=3)

LOREM = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "watches from the fence and the birds sing in the old oak tree"
)
OTHER = (
    "completely different content about database replication change "
    "data capture snapshots offsets and exactly once delivery at scale"
)


def _df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )


def test_flags_near_dup_and_passes_novel(spark):
    corpus = _df(spark, [(0, LOREM), (2, OTHER)])
    # 101 = LOREM with one word changed (near-dup); 103 = novel
    delta = _df(
        spark,
        [
            (101, LOREM.replace("lazy", "sleepy")),
            (103, "unrelated text about sequence packing and quotas "
                  "for large training corpora with many documents"),
        ],
    )
    idx = lsh_index(corpus, **KW)
    got = {
        r["doc_id"]: (r["first_match"], r["n_bands_hit"])
        for r in dedup_against_index(idx, delta, **KW).collect()
    }
    assert 101 in got and got[101][0] == 0 and got[101][1] >= 1
    assert 103 not in got


def test_greedy_multi_batch_first_occurrence(spark):
    """Batch 2's dup of a batch-1 SURVIVOR must be flagged against the
    updated index, and first_match always names a kept doc."""
    corpus = _df(spark, [(0, LOREM)])
    idx = lsh_index(corpus, **KW)

    b1 = _df(
        spark,
        [
            (11, LOREM.replace("dog", "wolf")),  # dup of 0
            (12, OTHER),                         # novel -> survivor
        ],
    )
    f1 = dedup_against_index(idx, b1, **KW)
    got1 = {r["doc_id"]: r["first_match"] for r in f1.collect()}
    assert got1 == {11: 0}
    idx = update_index(idx, b1, f1, **KW)

    b2 = _df(
        spark,
        [
            (21, OTHER.replace("scale", "volume")),  # dup of survivor 12
            (22, LOREM + " extra trailing words here now"),  # dup of 0
        ],
    )
    f2 = dedup_against_index(idx, b2, **KW)
    got2 = {r["doc_id"]: r["first_match"] for r in f2.collect()}
    assert got2.get(21) == 12
    assert got2.get(22) == 0
    # flagged doc 11 must NOT be in the index (first_match ∈ kept set)
    idx_ids = {r["doc_id"] for r in idx.select("doc_id").distinct().collect()}
    assert 11 not in idx_ids and {0, 12} <= idx_ids


def test_directional_equals_pairs_restriction(spark):
    """On the real documents sample: the directional flagged set must
    equal the odd-side endpoints of all-pairs candidates that cross
    the even/odd split, with the same first_match representative."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    delta = d.filter(F.col("doc_id") % 2 == 1)

    idx = lsh_index(corpus, **KW)
    got = {
        r["doc_id"]: r["first_match"]
        for r in dedup_against_index(idx, delta, **KW).collect()
    }

    sigs = minhash_signatures(d, n_perms=8, shingle_words=3)
    pairs = minhash_lsh_candidates(sigs, n_perms=8, bands=2).collect()
    exp: dict[int, int] = {}
    for r in pairs:
        a, b = r["id_a"], r["id_b"]
        for odd, even in ((a, b), (b, a)):
            if odd % 2 == 1 and even % 2 == 0:
                exp[odd] = min(exp.get(odd, even), even)
    assert got == exp
    assert len(got) > 0  # the sample does contain cross-split dups


def test_max_bucket_size_drops_degenerate_index_buckets(spark):
    """A boilerplate bucket larger than the cap must not flag."""
    boiler = "copyright notice all rights reserved standard footer text"
    corpus = _df(spark, [(i, boiler) for i in range(0, 12, 2)])
    delta = _df(spark, [(99, boiler)])
    idx = lsh_index(corpus, **KW)
    capped = dedup_against_index(idx, delta, max_bucket_size=3, **KW)
    assert capped.count() == 0
    uncapped = dedup_against_index(idx, delta, **KW)
    assert uncapped.count() == 1


def test_exclude_self_keeps_collisions_with_null_ids(spark):
    """exclude_self compares ids null-safely: a null id on either side
    is not "the same doc", so its real collisions still flag."""
    schema = "doc_id long, text string"
    near = LOREM.replace("lazy", "sleepy")
    kw = dict(KW, exclude_self=True)

    idx = lsh_index(spark.createDataFrame([(None, LOREM), (2, OTHER)], schema), **KW)
    got = dedup_against_index(idx, spark.createDataFrame([(101, near)], schema), **kw)
    assert [r["doc_id"] for r in got.collect()] == [101]

    idx = lsh_index(spark.createDataFrame([(0, LOREM)], schema), **KW)
    got = dedup_against_index(idx, spark.createDataFrame([(None, near)], schema), **kw)
    assert [(r["doc_id"], r["first_match"]) for r in got.collect()] == [(None, 0)]

    # a doc's own index rows still never flag it
    got = dedup_against_index(idx, spark.createDataFrame([(0, near)], schema), **kw)
    assert got.count() == 0

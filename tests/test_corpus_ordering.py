"""Unit tests for round-3 corpus/ordering/skew/upsert operators.

global_sort_index must equal a driver-side enumeration of the total
order at any partition count; salted_join must be row-identical to the
plain join; corpus operators must behave correctly on crafted edge
inputs (all-boilerplate docs, OOV-only docs); upsert must leave
untouched partitions' files alone.
"""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from legislative_bills_database_spark.io import load_table
from legislative_bills_database_spark.operators.corpus import (
    strip_boilerplate,
    unigram_score,
)
from legislative_bills_database_spark.operators.ordering import (
    global_sort_index,
)
from legislative_bills_database_spark.operators.skew import salted_join
from legislative_bills_database_spark.sources.sinks import upsert_partitions

SF_DIR = "/root/testdata/sf0.001"


def test_global_sort_index_matches_total_order(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "n_chars")
    out = global_sort_index(
        docs, [F.desc("n_chars"), F.asc("doc_id")], num_partitions=7
    )
    got = [
        r["doc_id"]
        for r in out.orderBy("global_idx").select("doc_id").collect()
    ]
    want = [
        r["doc_id"]
        for r in docs.orderBy(F.desc("n_chars"), F.asc("doc_id")).collect()
    ]
    assert got == want
    idx = sorted(r["global_idx"] for r in out.collect())
    assert idx == list(range(docs.count()))  # dense, 0-based, no gaps


def test_global_sort_index_single_partition_degenerate(spark):
    df = spark.createDataFrame([(3,), (1,), (2,)], "x int")
    out = {
        r["x"]: r["global_idx"]
        for r in global_sort_index(df, [F.asc("x")], num_partitions=1).collect()
    }
    assert out == {1: 0, 2: 1, 3: 2}


def test_salted_join_identical_to_plain_join(spark):
    # skewed fact: one hot key carries half the rows
    fact = spark.createDataFrame(
        [(i, 1 if i % 2 == 0 else i % 5 + 2, float(i)) for i in range(200)],
        "row_id int, k int, v double",
    )
    dim = spark.createDataFrame(
        [(k, f"dim{k}") for k in range(1, 8)], "k int, name string"
    )
    plain = fact.join(dim, "k").select("row_id", "k", "name")
    salted = salted_join(fact, dim, key="k", salt_on="row_id", n_salts=4)
    assert salted.count() == plain.count()
    assert salted.select("row_id", "k", "name").exceptAll(plain).count() == 0
    assert plain.exceptAll(salted.select("row_id", "k", "name")).count() == 0


def test_unigram_score_rare_doc_scores_low(spark):
    docs = spark.createDataFrame(
        [(1, "the the the cat"), (2, "the cat sat"), (3, "zqx wvu")],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r for r in unigram_score(docs, vocab_size=2).collect()
    }
    # vocab = {the: 4, cat: 2}; doc 3 is entirely OOV → mean_freq 0
    assert out[3]["mean_freq"] == 0.0
    assert out[1]["mean_freq"] > out[2]["mean_freq"] > 0.0
    assert out[1]["n_tokens"] == 4 and out[1]["sum_freq"] == 4 * 3 + 2


def test_strip_boilerplate_drops_shared_chunks_only(spark):
    shared = " ".join(f"b{i}" for i in range(8))  # one exact 8-token chunk
    docs = spark.createDataFrame(
        [
            (1, shared + " u1 u2 u3"),
            (2, shared + " v1 v2 v3 v4"),
            (3, "w1 w2 w3"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in strip_boilerplate(docs).collect()}
    assert out[1]["n_chunks_dropped"] == 1 and out[2]["n_chunks_dropped"] == 1
    assert out[3]["n_chunks_dropped"] == 0
    # doc 3 untouched → clean_sha is the sha of its original text
    assert (
        out[3]["clean_sha"]
        == docs.filter("doc_id = 3")
        .select(F.sha2(F.col("text"), 256))
        .first()[0]
    )
    # docs 1/2 keep only their unique tails
    assert out[1]["n_chunks_kept"] == 1 and out[2]["n_chunks_kept"] == 1


def test_upsert_partitions_touches_only_updated_partition(spark, tmp_path):
    base = str(tmp_path / "t")
    seed = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)],
        "id int, p string, v double",
    )
    seed.write.partitionBy("p").parquet(base)
    before_a = sorted(glob.glob(f"{base}/p=a/part-*.parquet"))
    before_b = sorted(glob.glob(f"{base}/p=b/part-*.parquet"))

    updates = spark.createDataFrame(
        [(3, "b", 333.0), (4, "b", 444.0)], "id int, p string, v double"
    )
    confs = spark.conf.getAll
    upsert_partitions(spark, base, updates, ["p"])

    # partition a: identical files; partition b: replaced
    assert sorted(glob.glob(f"{base}/p=a/part-*.parquet")) == before_a
    assert sorted(glob.glob(f"{base}/p=b/part-*.parquet")) != before_b
    got = sorted(
        (r["id"], r["v"]) for r in spark.read.parquet(base).collect()
    )
    assert got == [(1, 10.0), (2, 20.0), (3, 333.0), (4, 444.0)]
    # the session's confs are left as they were
    assert spark.conf.getAll == confs

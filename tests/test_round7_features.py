"""Round-7 optimization equivalence tests: the Arrow-vectorized text
kernels must be BYTE-IDENTICAL to the JVM expression paths they replace
(shingling + token-stream fingerprint), including the odd corners of
Spark's string semantics (trim strips 0x20 only; split keeps
leading/trailing empties; NULL text). The SimHash word kernel's twin test
lives with the other SimHash tests in test_dedup_similarity_text.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pysemantic_spark.operators import dedup


@pytest.fixture(scope="module")
def spark():
    from pysemantic_spark.session import get_spark

    return get_spark(app_name="r7tests", master="local[4]", shuffle_partitions=4)


def test_arrow_shingle_tfp_matches_jvm(edge_df):
    for n in (1, 2, 3):
        jvm = edge_df.select(
            F.col("doc_id").alias("_id"),
            dedup._shingles("text", n).alias("_sh"),
            dedup.token_stream_key("text").alias("_tfp"),
        )
        py = edge_df.select(
            F.col("doc_id").alias("_id"),
            dedup._sh_tfp_arrow(n)(F.col("text")).alias("_st"),
        ).select(
            "_id", F.col("_st.sh").alias("_sh"), F.col("_st.tfp").alias("_tfp")
        )
        assert jvm.exceptAll(py).count() == 0
        assert py.exceptAll(jvm).count() == 0


def test_arrow_tokens_match_jvm(edge_df):
    jvm = edge_df.select(
        F.col("doc_id").alias("_id"),
        dedup.tokens("text").alias("_tok"),
        dedup.token_stream_key("text").alias("_tfp"),
    )
    py = edge_df.select(
        F.col("doc_id").alias("_id"), dedup._tok_tfp_arrow(F.col("text")).alias("_st")
    ).select("_id", F.col("_st.tok").alias("_tok"), F.col("_st.tfp").alias("_tfp"))
    assert jvm.exceptAll(py).count() == 0
    assert py.exceptAll(jvm).count() == 0


def test_corpus_clean_conditional_agg_matches_filtered_groupby(spark):
    """The round-7 conditional-aggregation rewrite of corpus_clean must be
    row-identical to the filter-then-groupBy original shape."""
    from pysemantic_spark.functions.text import fingerprint, lang_id, quality_score

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    scored = docs.select(
        "doc_id",
        F.round(quality_score("text"), 6).alias("quality"),
        lang_id("text").alias("pred_lang"),
        fingerprint("text").alias("fp"),
    )
    old = (
        scored.filter((F.col("quality") >= 0.45) & (F.col("pred_lang") == "en"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_dups"),
            F.max("quality").alias("quality"),
        )
        .select("doc_id", "fp", "n_dups", "quality")
    )
    keep = (F.col("quality") >= 0.45) & (F.col("pred_lang") == "en")
    new = (
        scored.groupBy("fp")
        .agg(
            F.min(F.when(keep, F.col("doc_id"))).alias("doc_id"),
            F.count(F.when(keep, 1)).cast("long").alias("n_dups"),
            F.max(F.when(keep, F.col("quality"))).alias("quality"),
        )
        .filter(F.col("n_dups") > 0)
        .select("doc_id", "fp", "n_dups", "quality")
    )
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0

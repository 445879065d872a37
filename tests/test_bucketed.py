"""Bucketed tables: the co-located join must plan with ZERO shuffle
exchanges — the physical proof that bucketing removes the recurring cost."""

from __future__ import annotations

import pyspark.sql.functions as F

from datapipeline_omnichanneltobigquery_spark.plans import audit
from datapipeline_omnichanneltobigquery_spark.session import scoped_conf
from datapipeline_omnichanneltobigquery_spark.sinks.bucketed import bucketed_join, write_bucketed
from datapipeline_omnichanneltobigquery_spark.sinks.catalog import drop_table
from datapipeline_omnichanneltobigquery_spark.sources.tables import read_table

from tests.conftest import SF_DIR


def test_bucketed_join_is_shuffle_free(spark):
    orders = read_table(spark, SF_DIR, "orders").withColumnRenamed("o_orderkey", "orderkey")
    lineitem = read_table(spark, SF_DIR, "lineitem").withColumnRenamed("l_orderkey", "orderkey")
    write_bucketed(orders, "b_orders", "orderkey", n_buckets=4)
    write_bucketed(lineitem, "b_lineitem", "orderkey", n_buckets=4)
    try:
        # disable auto-broadcast so a shuffle would otherwise be required
        with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            joined = bucketed_join(spark, "b_lineitem", "b_orders", "orderkey")
            assert audit.exchange_count(joined) == 0, audit.plan_string(joined)
            # and it computes the same count as the plain join
            plain = read_table(spark, SF_DIR, "lineitem").join(
                read_table(spark, SF_DIR, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            assert joined.count() == plain.count()
    finally:
        drop_table(spark, "b_orders")
        drop_table(spark, "b_lineitem")


def test_bucketed_revenue_join_query_zero_exchange(spark):
    """The driver-gated entry: merge-hinted join + per-order aggregate over
    the bucketed copies plans with ZERO Exchange anywhere (join inputs
    clustered by the file layout; the aggregate's clustering requirement is
    satisfied by the same bucketing), and is a SortMergeJoin — not a
    broadcast that would prove nothing about the layout."""
    from datapipeline_omnichanneltobigquery_spark.plans.persistence import bucketed_revenue_join

    df = bucketed_revenue_join(spark, SF_DIR)
    plan = audit.plan_string(df)
    try:
        assert audit.exchange_count(df) == 0, plan
        assert "SortMergeJoin" in plan, plan
        assert df.count() > 0
    finally:
        sf_tag = SF_DIR.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
        drop_table(spark, f"bkt_orders_{sf_tag}")
        drop_table(spark, f"bkt_lineitem_{sf_tag}")


def test_dedup_keep_rows_on_bucketed_corpus_drops_corpus_exchange(spark):
    """The dedup materialization story end-to-end: recovering kept rows by
    semi-joining winner ids against a corpus BUCKETED by id leaves only the
    winner side's exchanges in the plan — the (100 TB) corpus arrives
    pre-clustered from the file layout, one fewer shuffle than the plain
    corpus (dedup_exact_keylist's docstring promise, proven)."""
    from datapipeline_omnichanneltobigquery_spark.operators.dedup import dedup_exact_keylist

    docs = read_table(spark, SF_DIR, "documents")
    write_bucketed(docs, "b_docs_dedup", "doc_id", n_buckets=4)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        corpus = spark.table("b_docs_dedup")
        winners = dedup_exact_keylist(corpus, "text", "doc_id").select("doc_id")
        kept = corpus.hint("merge").join(winners, "doc_id", "left_semi")
        plain = docs.hint("merge").join(
            dedup_exact_keylist(docs, "text", "doc_id").select("doc_id"), "doc_id", "left_semi"
        )
        assert audit.exchange_count(kept) == audit.exchange_count(plain) - 1, audit.plan_string(kept)
        assert kept.count() == docs.select("text").distinct().count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        drop_table(spark, "b_docs_dedup")

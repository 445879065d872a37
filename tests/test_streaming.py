"""Structured Streaming equivalence: the tumbling-window operator must
produce the same result under readStream + availableNow as in batch."""

from __future__ import annotations

import pyspark.sql.functions as F

from datapipeline_omnichanneltobigquery_spark.session import scoped_conf
from datapipeline_omnichanneltobigquery_spark.sources.tables import read_table
from datapipeline_omnichanneltobigquery_spark.streaming.windows import (
    sessionize,
    stream_tumbling_counts,
    tumbling_counts,
    write_stream_to_memory,
)

from tests.conftest import SF_DIR


def test_stream_matches_batch(spark, tmp_path):
    ev = read_table(spark, SF_DIR, "events")
    src = str(tmp_path / "events_src")
    ev.write.parquet(src)  # re-write so the stream source has µs timestamps

    batch = {tuple(r) for r in tumbling_counts(spark.read.parquet(src), "1 hour").collect()}

    sdf = stream_tumbling_counts(spark, src, spark.read.parquet(src).schema, "1 hour")
    q = write_stream_to_memory(sdf, "t_stream").start()
    q.awaitTermination(120)
    streamed = {tuple(r) for r in spark.table("t_stream").collect()}
    assert streamed == batch
    assert len(streamed) > 0


def test_sessionize_gap_semantics(spark):
    rows = [
        # user 1: two events 10s apart (one session), then 1h gap (new session)
        (1, 1, "2024-01-01 00:00:00"),
        (2, 1, "2024-01-01 00:00:10"),
        (3, 1, "2024-01-01 01:30:00"),
        # user 2: single event
        (4, 2, "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts_s string").select(
        "event_id", "user_id", F.to_timestamp("ts_s").alias("ts")
    )
    out = {(r.event_id, r.session_seq) for r in sessionize(df).collect()}
    assert out == {(1, 1), (2, 1), (3, 2), (4, 1)}


def test_streaming_upsert_foreachbatch(spark, tmp_path):
    """The reference's staging->MERGE->drop loop as a continuous stream:
    micro-batches of changes merge into the main table by key."""
    import pyspark.sql.functions as F
    from datapipeline_omnichanneltobigquery_spark.sinks.catalog import drop_table, overwrite_table
    from datapipeline_omnichanneltobigquery_spark.streaming.sink import streaming_upsert

    main = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0)], "id long, v string, seq long"
    )
    overwrite_table(main, "t_stream_main")

    changes = spark.createDataFrame(
        [(2, "b-new", 1), (2, "b-newer", 2), (3, "c", 1)], "id long, v string, seq long"
    )
    src = str(tmp_path / "changes_src")
    changes.write.parquet(src)
    stream = spark.readStream.schema(changes.schema).parquet(src)
    q = streaming_upsert(
        stream, "t_stream_main", key="id", order_col="seq",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = {r.id: r.v for r in spark.table("t_stream_main").collect()}
    assert got == {1: "a", 2: "b-newer", 3: "c"}  # within-batch keep-latest
    drop_table(spark, "t_stream_main")


def test_watermark_drops_late_rows(spark, tmp_path):
    """Watermark semantics across restarts: the checkpoint persists the
    watermark from run 1, so a row arriving in run 2 with event time far
    behind it is DROPPED from the windowed aggregate (append mode)."""
    import pyspark.sql.functions as F

    schema = "event_id long, ts timestamp, event_type string, value double"
    src = str(tmp_path / "wm_src")
    ckpt = str(tmp_path / "wm_ckpt")
    out = str(tmp_path / "wm_out")

    def run_once(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("win.start").alias("ws"), "event_type", "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    import datetime as dt

    t = lambda h, m=0: dt.datetime(2024, 6, 1, h, m)
    # run 1: events through 12:00 -> watermark ends up ~11:00; windows
    # [8:00) and [9:00) are closed and emitted
    run_once([(1, t(8, 30), "click", 1.0), (2, t(9, 15), "click", 1.0), (3, t(12, 0), "click", 1.0)])
    # run 2: one LATE row at 8:45 (behind the persisted watermark -> dropped)
    # and one fresh row at 15:00 that closes the 12:00 window
    run_once([(4, t(8, 45), "click", 1.0), (5, t(15, 0), "click", 1.0)])

    got = {(r.ws.hour, r.n) for r in spark.read.parquet(out).collect()}
    # the 8:00 window was emitted in run 1 with n=1 and must NOT gain the
    # late row; the 12:00 window closes in run 2 with n=1
    assert (8, 1) in got and (9, 1) in got and (12, 1) in got
    assert (8, 2) not in got


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Duplicated source rows collapse to one per key under the streaming
    dedup, matching batch dropDuplicates on the same data."""
    from datapipeline_omnichanneltobigquery_spark.streaming.windows import dedup_within_watermark

    ev = read_table(spark, SF_DIR, "events").select("event_id", "ts", "event_type").limit(200)
    dup = ev.unionByName(ev)  # every key duplicated
    src = str(tmp_path / "dup_src")
    dup.write.parquet(src)

    batch_n = dedup_within_watermark(spark.read.parquet(src), ["event_id"]).count()

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    sdf = dedup_within_watermark(stream, ["event_id"])
    q = (
        sdf.writeStream.format("memory")
        .queryName("t_dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.table("t_dedup_stream")
    assert streamed.count() == batch_n == 200
    assert streamed.select("event_id").distinct().count() == 200


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream watermarked interval join ≡ the batch inequality join:
    every (purchase, preceding-event-within-10min) pair, exactly once."""
    from datapipeline_omnichanneltobigquery_spark.streaming.joins import interval_join

    ev = read_table(spark, SF_DIR, "events").select("event_id", "user_id", "ts", "event_type")
    lsrc, rsrc = str(tmp_path / "purchases"), str(tmp_path / "others")
    ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts")
    ).write.parquet(lsrc)
    ev.select(
        F.col("event_id").alias("e_id"), "user_id", F.col("ts").alias("e_ts")
    ).write.parquet(rsrc)

    lbatch, rbatch = spark.read.parquet(lsrc), spark.read.parquet(rsrc)
    batch = {
        (r.p_id, r.e_id)
        for r in interval_join(lbatch, rbatch, "user_id", "p_ts", "e_ts", 600).collect()
    }
    assert batch  # the fixture must actually produce matches

    lstream = spark.readStream.schema(lbatch.schema).parquet(lsrc)
    rstream = spark.readStream.schema(rbatch.schema).parquet(rsrc)
    sdf = interval_join(lstream, rstream, "user_id", "p_ts", "e_ts", 600)
    q = (
        sdf.writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {(r.p_id, r.e_id) for r in spark.table("ssj").collect()}
    assert streamed == batch


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static join: a streaming fact enriched with a static dimension
    broadcasts the dim per micro-batch — no state store involved; stream
    result ≡ batch join."""
    ev = read_table(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    src = str(tmp_path / "ev")
    ev.write.parquet(src)
    dim = spark.range(0, 50).select(
        F.col("id").alias("user_id"), (F.col("id") % 5).alias("segment")
    )

    batch = {
        (r.event_id, r.segment)
        for r in spark.read.parquet(src).join(dim, "user_id").collect()
    }
    stream = spark.readStream.schema(ev.schema).parquet(src).join(dim, "user_id")
    q = (
        stream.writeStream.format("memory")
        .queryName("ssenrich")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {(r.event_id, r.segment) for r in spark.table("ssenrich").collect()}
    assert streamed == batch and batch


def test_hopping_stream_matches_batch(spark, tmp_path):
    """The hopping-window operator is the SAME callable in batch and under
    readStream + availableNow — results must be identical."""
    from datapipeline_omnichanneltobigquery_spark.streaming.windows import hopping_counts

    ev = read_table(spark, SF_DIR, "events")
    src = str(tmp_path / "events_hop_src")
    ev.write.parquet(src)

    batch = {
        tuple(r)
        for r in hopping_counts(spark.read.parquet(src), "1 hour", "30 minutes").collect()
    }
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    sdf = hopping_counts(stream, "1 hour", "30 minutes", watermark="2 hours")
    q = write_stream_to_memory(sdf, "t_hop_stream").start()
    q.awaitTermination(120)
    streamed = {tuple(r) for r in spark.table("t_hop_stream").collect()}
    assert streamed == batch
    assert len(streamed) > 0
    # every event lands in exactly len/slide = 2 windows
    n_events = spark.read.parquet(src).count()
    assert sum(r[2] for r in batch) == 2 * n_events


def test_streaming_corpus_ingest_matches_sequential_batches(spark, tmp_path):
    """Streaming corpus ingestion (streaming/ingest.py): two micro-batches
    processed through foreachBatch produce exactly the corpus that two
    sequential batch-mode prepare_corpus_incremental calls produce — incl.
    a batch-2 doc that near-duplicates a batch-1 KEPT doc (dropped only if
    batch 1's index append happened before batch 2 ran)."""
    import pyspark.sql.functions as F2

    from datapipeline_omnichanneltobigquery_spark.operators.corpus_prep import (
        append_to_dedup_index,
        build_dedup_index,
        prepare_corpus_incremental,
    )
    from datapipeline_omnichanneltobigquery_spark.streaming.ingest import (
        streaming_corpus_ingest,
    )

    base = " ".join(f"base{i}" for i in range(40))
    novel1 = " ".join(f"one{i}" for i in range(40))
    novel2 = " ".join(f"two{i}" for i in range(40))
    existing = spark.createDataFrame([(1, base)], ["doc_id", "text"])
    batch1 = [(10, novel1), (11, base)]           # 11 = exact dup of corpus
    batch2 = [(20, novel1 + " tail"), (21, novel2)]  # 20 = near-dup of KEPT 10
    bench_rows = [(99, "unrelated benchmark sentence")]

    bench_path = str(tmp_path / "bench")
    spark.createDataFrame(bench_rows, ["doc_id", "text"]).write.parquet(bench_path)

    # ---- streaming run -------------------------------------------------
    src = str(tmp_path / "incoming")
    import os

    os.makedirs(src)
    spark.createDataFrame(batch1, ["doc_id", "text"]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(batch2, ["doc_id", "text"]).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    ix_s = str(tmp_path / "ix_stream")
    corpus_s = str(tmp_path / "corpus_stream")
    build_dedup_index(existing, "doc_id", "text", ix_s)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_corpus_ingest(
        stream, ix_s, corpus_s, bench_path, "doc_id", "text",
        checkpoint_dir=str(tmp_path / "ckpt"), min_quality=0.0,
    )
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.read.parquet(corpus_s).collect()}

    # ---- sequential batch-mode reference -------------------------------
    ix_b = str(tmp_path / "ix_batch")
    build_dedup_index(existing, "doc_id", "text", ix_b)
    bench = spark.read.parquet(bench_path)
    want = set()
    for rows in (batch1, batch2):
        bdf = spark.createDataFrame(rows, ["doc_id", "text"])
        kept = prepare_corpus_incremental(
            spark, ix_b, bdf, bench, "doc_id", "text", min_quality=0.0
        ).localCheckpoint()
        want |= {r.doc_id for r in kept.collect()}
        append_to_dedup_index(kept, "doc_id", "text", ix_b)

    assert got == want
    assert 11 not in got          # exact dup of the pre-existing corpus
    assert 10 in got and 21 in got
    assert 20 not in got          # near-dup of batch-1's KEPT doc -> needs the index append ordering


def test_streaming_ingest_crash_replay_idempotent(spark, tmp_path):
    """apply_ingest_batch (streaming/ingest.py) under foreachBatch crash
    replays: (a) fully-applied batch + marker → replay is a no-op; (b) crash
    AFTER the corpus partition write but BEFORE the index append → replay
    overwrites the same partition, no duplicate corpus rows; (c) crash AFTER
    the index append but BEFORE the marker → replay keeps nothing (the
    fingerprints are already indexed) and must NOT clobber the
    already-written partition."""
    from datapipeline_omnichanneltobigquery_spark.operators.corpus_prep import (
        append_to_dedup_index,
        build_dedup_index,
        prepare_corpus_incremental,
    )
    from datapipeline_omnichanneltobigquery_spark.streaming.ingest import (
        apply_ingest_batch,
    )

    def doc(prefix):
        return " ".join(f"{prefix}{i}" for i in range(40))

    ix = str(tmp_path / "ix")
    corpus = str(tmp_path / "corpus")
    build_dedup_index(
        spark.createDataFrame([(1, doc("base"))], ["doc_id", "text"]),
        "doc_id", "text", ix,
    )
    bench = spark.createDataFrame([(99, "unrelated bench text")], ["doc_id", "text"])

    def ids():
        return sorted(r.doc_id for r in spark.read.parquet(corpus).collect())

    # (a) full apply, then marker replay
    b0 = spark.createDataFrame([(10, doc("one"))], ["doc_id", "text"])
    apply_ingest_batch(b0, 0, ix, corpus, bench, "doc_id", "text", min_quality=0.0)
    assert ids() == [10]
    apply_ingest_batch(b0, 0, ix, corpus, bench, "doc_id", "text", min_quality=0.0)
    assert ids() == [10]

    # (b) corpus partition written, index append and marker lost in the crash
    b1 = spark.createDataFrame([(20, doc("two"))], ["doc_id", "text"])
    kept1 = prepare_corpus_incremental(
        spark, ix, b1, bench, "doc_id", "text", min_quality=0.0
    ).localCheckpoint()
    kept1.write.mode("overwrite").parquet(f"{corpus}/ingest_batch=1")
    assert ids() == [10, 20]
    apply_ingest_batch(b1, 1, ix, corpus, bench, "doc_id", "text", min_quality=0.0)
    assert ids() == [10, 20]  # overwrite of the same partition, not append

    # (c) corpus partition AND index appended, only the marker lost
    b2 = spark.createDataFrame([(30, doc("three"))], ["doc_id", "text"])
    kept2 = prepare_corpus_incremental(
        spark, ix, b2, bench, "doc_id", "text", min_quality=0.0
    ).localCheckpoint()
    kept2.write.mode("overwrite").parquet(f"{corpus}/ingest_batch=2")
    append_to_dedup_index(kept2, "doc_id", "text", ix)
    apply_ingest_batch(b2, 2, ix, corpus, bench, "doc_id", "text", min_quality=0.0)
    assert ids() == [10, 20, 30]  # empty replay keep-set must not clobber

    # and the batch AFTER every replay still dedupes against all of them
    b3 = spark.createDataFrame(
        [(40, doc("three") + " tail"), (41, doc("four"))], ["doc_id", "text"]
    )
    apply_ingest_batch(b3, 3, ix, corpus, bench, "doc_id", "text", min_quality=0.0)
    assert ids() == [10, 20, 30, 41]  # 40 is a near-dup of indexed 30


def test_streaming_hll_maintain_matches_batch_and_replays(spark, tmp_path):
    """Streaming HLL register maintenance: after a 2-micro-batch stream the
    persisted registers estimate EXACTLY what one batch sketch over all
    data estimates; replaying a batch (foreachBatch crash semantics) is a
    no-op because register merge is per-register MAX."""
    from datapipeline_omnichanneltobigquery_spark.operators.profile import (
        hll_estimate,
        hll_explicit,
    )
    from datapipeline_omnichanneltobigquery_spark.streaming.sketches import (
        maintain_hll_batch,
        streaming_hll_maintain,
    )

    src = str(tmp_path / "src")
    rows1 = [(i % 3, f"u{i}") for i in range(60)]
    rows2 = [(i % 3, f"u{i}") for i in range(40, 120)]  # overlaps batch 1
    spark.createDataFrame(rows1, ["grp", "user"]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(rows2, ["grp", "user"]).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    regs = str(tmp_path / "regs")
    stream = (
        spark.readStream.schema("grp long, user string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_hll_maintain(
        stream, regs, "grp", "user", checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    got = {
        (r.grp, r.est_distinct)
        for r in hll_estimate(spark.read.parquet(regs), "grp").collect()
    }
    want = {
        (r.grp, r.est_distinct)
        for r in hll_explicit(
            spark.read.parquet(src), "grp", "user"
        ).collect()
    }
    assert got == want  # merge-exactness, through the persisted state

    # replay: re-folding batch 2 must not move the estimates
    maintain_hll_batch(spark.createDataFrame(rows2, ["grp", "user"]), regs, "grp", "user")
    again = {
        (r.grp, r.est_distinct)
        for r in hll_estimate(spark.read.parquet(regs), "grp").collect()
    }
    assert again == want


def test_cms_maintain_marker_blocks_double_count(spark, tmp_path):
    """CMS counts add, so the maintainer's applied-batch marker must make a
    replayed batch a no-op (without it the counts would double)."""
    from datapipeline_omnichanneltobigquery_spark.operators.profile import cms_probe
    from datapipeline_omnichanneltobigquery_spark.streaming.sketches import (
        maintain_cms_batch,
    )

    sk = str(tmp_path / "cms")
    b1 = spark.createDataFrame([(f"k{i % 5}",) for i in range(50)], ["k"])
    b2 = spark.createDataFrame([(f"k{i % 5}",) for i in range(25)], ["k"])
    maintain_cms_batch(b1, sk, "k", batch_id=0)
    maintain_cms_batch(b2, sk, "k", batch_id=1)
    keys = b1.select("k").union(b2.select("k")).distinct()
    est = {r.k: r.est_count for r in cms_probe(spark.read.parquet(sk), keys, "k").collect()}
    assert est == {f"k{i}": 15 for i in range(5)}
    maintain_cms_batch(b2, sk, "k", batch_id=1)  # replay: marker short-circuits
    est2 = {r.k: r.est_count for r in cms_probe(spark.read.parquet(sk), keys, "k").collect()}
    assert est2 == est


def test_qsketch_maintain_incremental_equals_direct_and_replays(spark, tmp_path):
    """Quantile-sketch registers maintained over two micro-batches must
    finalize to EXACTLY the direct estimate over the union (bin counts
    add), and a replayed batch must be a marker-guarded no-op (sums would
    otherwise double and shift every quantile)."""
    from datapipeline_omnichanneltobigquery_spark.operators.profile import (
        qsketch_quantiles,
        qsketch_quantiles_direct,
    )
    from datapipeline_omnichanneltobigquery_spark.streaming.sketches import (
        maintain_qsketch_batch,
    )

    qs = [("p50", 1, 2), ("p90", 9, 10)]
    args = dict(lo=0.0, hi=100.0, n_bins=64)
    rows1 = [("a", float(i % 97)) for i in range(300)]
    rows2 = [("a", float((i * 7) % 97)) for i in range(200)] + [
        ("b", float(i % 50)) for i in range(100)
    ]
    b1 = spark.createDataFrame(rows1, "grp string, v double")
    b2 = spark.createDataFrame(rows2, "grp string, v double")

    path = str(tmp_path / "qsk")
    maintain_qsketch_batch(b1, path, "grp", "v", batch_id=0, **args)
    maintain_qsketch_batch(b2, path, "grp", "v", batch_id=1, **args)
    got = {
        (r.grp, r.quantile): r.est_value
        for r in qsketch_quantiles(
            spark.read.parquet(path), "grp", qs, **args
        ).collect()
    }
    want = {
        (r.grp, r.quantile): r.est_value
        for r in qsketch_quantiles_direct(b1.union(b2), "grp", "v", qs, **args).collect()
    }
    assert got == want  # merge ≡ direct, bitwise (all-integer state)

    maintain_qsketch_batch(b2, path, "grp", "v", batch_id=1, **args)  # replay
    again = {
        (r.grp, r.quantile): r.est_value
        for r in qsketch_quantiles(
            spark.read.parquet(path), "grp", qs, **args
        ).collect()
    }
    assert again == want


def test_cms_marker_atomic_with_state(spark, tmp_path):
    """The applied-batch marker lives INSIDE the state directory, so the
    swap rename publishes marker + merged counts atomically — there is no
    crash window where the state includes a batch its marker doesn't."""
    import os

    from datapipeline_omnichanneltobigquery_spark.streaming.sketches import (
        _APPLIED_MARKER,
        maintain_cms_batch,
    )

    sk = str(tmp_path / "cms")
    b = spark.createDataFrame([("a",), ("b",)], ["k"])
    maintain_cms_batch(b, sk, "k", batch_id=7)
    marker = os.path.join(sk, _APPLIED_MARKER)
    assert os.path.exists(marker)
    with open(marker) as fh:
        assert fh.read().strip() == "7"
    # no side directory of markers survives the new scheme
    assert not os.path.exists(sk + ".__applied")


def test_swap_state_crash_between_renames_recovers(spark, tmp_path):
    """Simulate a crash between _swap_state's two renames (state only at
    path + '.__old'): the next maintainer call must rename the backup back
    and fold the batch into the ACCUMULATED state — not rebuild from the
    single replayed batch and then delete the only copy (the round-7
    ADVICE data-loss scenario)."""
    import os

    from datapipeline_omnichanneltobigquery_spark.operators.profile import (
        cms_probe,
        hll_estimate,
        hll_explicit,
    )
    from datapipeline_omnichanneltobigquery_spark.streaming.sketches import (
        maintain_cms_batch,
        maintain_hll_batch,
    )

    # --- HLL: batch 1 applied, crash mid-swap while applying batch 2 ---
    regs = str(tmp_path / "regs")
    r1 = [(0, f"u{i}") for i in range(40)]
    r2 = [(0, f"v{i}") for i in range(40)]
    maintain_hll_batch(spark.createDataFrame(r1, ["grp", "user"]), regs, "grp", "user")
    os.rename(regs, regs + ".__old")  # crash window: path absent, backup present
    maintain_hll_batch(spark.createDataFrame(r2, ["grp", "user"]), regs, "grp", "user")
    got = {
        (r.grp, r.est_distinct)
        for r in hll_estimate(spark.read.parquet(regs), "grp").collect()
    }
    both = spark.createDataFrame(r1 + r2, ["grp", "user"])
    want = {(r.grp, r.est_distinct) for r in hll_explicit(both, "grp", "user").collect()}
    assert got == want  # batch-1 users not lost to the crash

    # --- CMS: crash mid-swap while applying batch 1, then replay it ---
    sk = str(tmp_path / "cms")
    b1 = spark.createDataFrame([(f"k{i % 5}",) for i in range(50)], ["k"])
    b2 = spark.createDataFrame([(f"k{i % 5}",) for i in range(25)], ["k"])
    maintain_cms_batch(b1, sk, "k", batch_id=0)
    os.rename(sk, sk + ".__old")  # crash while swapping in batch 1 (not durable)
    maintain_cms_batch(b2, sk, "k", batch_id=1)  # the foreachBatch replay
    keys = b1.select("k").distinct()
    est = {r.k: r.est_count for r in cms_probe(spark.read.parquet(sk), keys, "k").collect()}
    assert est == {f"k{i}": 15 for i in range(5)}  # exactly once: 10 + 5


def test_streaming_constraint_gate_routes_and_replays(spark, tmp_path):
    """The streaming DQ gate: a clean micro-batch lands in accept/, a
    contract-violating one lands — whole — in quarantine/, the per-rule
    report is written either way, and a foreachBatch replay overwrites its
    own batch subdirectory instead of duplicating rows."""
    from datapipeline_omnichanneltobigquery_spark.streaming.dq_gate import (
        gate_batch,
        streaming_constraint_gate,
    )

    src = str(tmp_path / "src")
    good = [(i, 100 + i) for i in range(20)]
    bad = [(i + 100, 5000) for i in range(10)] + [(None, 120)]  # null id + range
    spark.createDataFrame(good, "id long, amount long").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(bad, "id long, amount long").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    rules = [
        ("id_not_null", "not_null", "id"),
        ("amount_range", "range", ("amount", 0, 1000)),
    ]
    acc, quar, rep = (str(tmp_path / d) for d in ("accept", "quarantine", "reports"))
    q = streaming_constraint_gate(
        spark.readStream.schema("id long, amount long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        rules, acc, quar, rep,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    accepted = spark.read.parquet(acc)
    quarantined = spark.read.parquet(quar)
    assert accepted.count() == 20 and quarantined.count() == 11
    assert "batch_id" in accepted.columns  # provenance partition column
    reports = spark.read.parquet(rep)
    failed = {r.rule for r in reports.filter(~F.col("passed")).collect()}
    assert failed == {"id_not_null", "amount_range"}

    # replay: re-gating the SAME batch id overwrites, never duplicates
    bad_df = spark.createDataFrame(bad, "id long, amount long")
    bid = quarantined.select("batch_id").distinct().collect()[0].batch_id
    gate_batch(bad_df, bid, rules, acc, quar, rep)
    assert spark.read.parquet(quar).count() == 11


def test_cms_probe_unseen_key_reports_zero(spark):
    """A probe key the sketch never saw must report est_count 0 (absent
    CMS cells read as 0) — not vanish or inflate to a collision count."""
    from datapipeline_omnichanneltobigquery_spark.operators.profile import (
        cms_probe,
        cms_sketch,
    )

    data = spark.createDataFrame([("a",)] * 9 + [("b",)] * 4, ["k"])
    sk = cms_sketch(data, "k")
    keys = spark.createDataFrame([("a",), ("b",), ("never-seen",)], ["k"])
    est = {r.k: r.est_count for r in cms_probe(sk, keys, "k").collect()}
    assert est["never-seen"] == 0
    assert est["a"] >= 9 and est["b"] >= 4  # CMS one-sided guarantee intact


def test_streaming_golden_records_incremental_equals_batch(spark, tmp_path):
    """Incremental survivorship over two micro-batches must equal the
    batch golden_records over the union (for the decomposable rules), and
    a replayed batch must not change state (idempotent partials + the
    n_members marker)."""
    from datapipeline_omnichanneltobigquery_spark.operators.er import golden_records
    from datapipeline_omnichanneltobigquery_spark.streaming.golden import (
        golden_view,
        maintain_golden_batch,
    )

    rules = [("name", "longest"), ("sz", "max"), ("ts", "latest")]
    b1 = spark.createDataFrame(
        [(1, "k1", "alpha", 5, 10), (2, "k1", "betaa", 7, 30), (3, "k2", "x", 1, 5)],
        "id long, key string, name string, sz long, ts long",
    )
    b2 = spark.createDataFrame(
        [(4, "k1", "gamma-long", 6, 20), (5, "k3", "solo", 9, 50)],
        "id long, key string, name string, sz long, ts long",
    )
    path = str(tmp_path / "golden")
    key = F.col("key")
    maintain_golden_batch(b1, path, "id", key, rules, batch_id=0, recency_col="ts")
    maintain_golden_batch(b2, path, "id", key, rules, batch_id=1, recency_col="ts")
    got = {
        r.cluster_id: (r.name, r.sz, r.ts, r.n_members)
        for r in golden_view(spark.read.parquet(path), rules).collect()
    }
    # batch reference: same rules over the union, clustered by the same key
    # (ids cast to string so cluster_id/id share a type in the coalesce)
    both = b1.union(b2).withColumn("id", F.col("id").cast("string"))
    clusters = both.select("id", F.col("key").alias("cluster_id"))
    want = {
        r.cluster_id: (r.name, r.sz, r.ts, r.n_members)
        for r in golden_records(
            both, "id", clusters, rules, recency_col="ts"
        ).collect()
    }
    assert got["k1"] == want["k1"] and got["k2"] == want["k2"] and got["k3"] == want["k3"]

    maintain_golden_batch(b2, path, "id", key, rules, batch_id=1, recency_col="ts")
    again = {
        r.cluster_id: (r.name, r.sz, r.ts, r.n_members)
        for r in golden_view(spark.read.parquet(path), rules).collect()
    }
    assert again == got


def test_streaming_rate_cap_matches_batch_on_ordered_replay(spark, tmp_path):
    """streaming/throttle.py: the stateful admit counter caps each
    (user, daily window) at N across MICRO-BATCH boundaries — replaying
    the event stream in ts order through maxFilesPerTrigger=1 admits
    exactly the batch rate_cap kept set (same ranks), and a window whose
    budget was spent in batch 1 admits nothing in batch 2."""
    from datapipeline_omnichanneltobigquery_spark.operators.sampling import rate_cap
    from datapipeline_omnichanneltobigquery_spark.streaming.throttle import (
        streaming_rate_cap,
    )

    ev = (
        read_table(spark, SF_DIR, "events")
        .select("event_id", "user_id", "ts")
        .orderBy("ts", "event_id")
    )
    rows = ev.collect()
    half = len(rows) // 2
    src = str(tmp_path / "throttle_src")
    schema = ev.schema
    spark.createDataFrame(rows[:half], schema).coalesce(1).write.parquet(f"{src}/b=0")
    spark.createDataFrame(rows[half:], schema).coalesce(1).write.parquet(f"{src}/b=1")

    batch_rows = rate_cap(
        spark.read.parquet(src).select("event_id", "user_id", "ts"),
        "user_id", "ts", "event_id", 86400, 3,
    ).collect()
    batch = {(r.event_id, r.win_start, r.in_window_rank) for r in batch_rows}
    # the state-carry premise: at least one (user, window) admit group must
    # STRADDLE the micro-batch boundary, or this test wouldn't exercise the
    # cross-batch counter at all
    first_ids = {r.event_id for r in rows[:half]}
    groups = {}
    for r in batch_rows:
        groups.setdefault((r.user_id, r.win_start), set()).add(r.event_id in first_ids)
    assert any(v == {True, False} for v in groups.values()), "no straddling window"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sdf = streaming_rate_cap(stream, 86400, 3)
    q = (
        sdf.writeStream.format("memory")
        .queryName("t_rate_cap")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r.event_id, r.win_start, r.in_window_rank)
        for r in spark.table("t_rate_cap").collect()
    }
    assert streamed == batch and len(batch) > 0
    # the cap binds: fewer admitted than arrived
    assert len(batch) < len(rows)


def test_streaming_rate_cap_sorts_across_arrow_chunks(spark, tmp_path):
    """A (key, window) group larger than arrow.maxRecordsPerBatch arrives
    at the stateful capper as MULTIPLE pandas chunks; the admit order must
    still be (ts, event_id) over the WHOLE group, not per-chunk (r9 ADVICE:
    per-chunk sort admitted in chunk order once a group straddled chunks).
    Rows are written ts-DESCENDING so any chunk-local ordering admits the
    wrong (latest) events."""
    import datetime as dt

    from datapipeline_omnichanneltobigquery_spark.streaming.throttle import (
        streaming_rate_cap,
    )

    t0 = dt.datetime(2024, 3, 1)
    n_rows = 40
    rows = [
        (i, 7, t0 + dt.timedelta(seconds=n_rows - i)) for i in range(n_rows)
    ]  # event_id 39 is the EARLIEST ts; file order is ts-descending
    src = str(tmp_path / "chunk_src")
    schema = "event_id long, user_id long, ts timestamp"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    with scoped_conf(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "4"}):
        stream = spark.readStream.schema(schema).parquet(src)
        sdf = streaming_rate_cap(stream, 86400, 3)
        q = (
            sdf.writeStream.format("memory")
            .queryName("t_chunk_cap")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r.event_id, r.in_window_rank)
            for r in spark.table("t_chunk_cap").collect()
        }
        # earliest three timestamps are event_ids 39, 38, 37
        assert got == {(39, 1), (38, 2), (37, 3)}


def test_streaming_cusum_matches_batch_on_ordered_replay(spark, tmp_path):
    """streaming/cusum.py: the two-integer GroupState detector replayed
    in event-time order through maxFilesPerTrigger=1 emits EXACTLY the
    batch cusum_fixed_ref scores and flags — including drift that builds
    across the micro-batch boundary (state carry), and with
    arrow.maxRecordsPerBatch forced tiny so multi-chunk groups exercise
    the concat-then-sort discipline."""
    from datapipeline_omnichanneltobigquery_spark.operators.timeseries import (
        cusum_fixed_ref,
    )
    from datapipeline_omnichanneltobigquery_spark.streaming.cusum import streaming_cusum

    ev = (
        read_table(spark, SF_DIR, "events")
        .select("event_id", "event_type", "ts", "value")
        .orderBy("ts", "event_id")
    )
    rows = ev.collect()
    half = len(rows) // 2
    src = str(tmp_path / "cusum_src")
    schema = ev.schema
    spark.createDataFrame(rows[:half], schema).coalesce(1).write.parquet(f"{src}/b=0")
    spark.createDataFrame(rows[half:], schema).coalesce(1).write.parquet(f"{src}/b=1")

    batch = {
        r.event_id: (r.cusum_pos, r.cusum_neg, r.is_change)
        for r in cusum_fixed_ref(
            spark.read.parquet(src), "event_type", "ts", "value", "event_id",
            ref=100.0, slack=20.0, threshold=150.0,
        ).collect()
    }
    with scoped_conf(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "500"}):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sdf = streaming_cusum(
            stream, "event_type", "ts", "value", "event_id",
            ref=100.0, slack=20.0, threshold=150.0,
        )
        q = (
            sdf.writeStream.format("memory")
            .queryName("t_cusum")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        streamed = {
            r.event_id: (r.cusum_pos, r.cusum_neg, r.is_change)
            for r in spark.table("t_cusum").collect()
        }
    assert streamed == batch and len(batch) > 0
    # the detector is non-trivial on this data: both flag values occur
    flags = {v[2] for v in batch.values()}
    assert flags == {True, False}


def test_streaming_ohlc_matches_batch(spark, tmp_path):
    """streaming/windows.py::ohlc_windowed under readStream+availableNow
    equals the batch operators/timeseries.py::ohlc_bars bar for bar —
    the struct-min/max endpoint picks are plain aggregates, so streaming
    state maintains them incrementally without a custom kernel."""
    from datapipeline_omnichanneltobigquery_spark.operators.timeseries import ohlc_bars
    from datapipeline_omnichanneltobigquery_spark.streaming.windows import ohlc_windowed

    ev = read_table(spark, SF_DIR, "events").select("event_id", "event_type", "ts", "value")
    src = str(tmp_path / "ohlc_src")
    ev.write.parquet(src)
    batch = {
        tuple(r)
        for r in ohlc_bars(
            spark.read.parquet(src), "event_type", "ts", "value", "event_id", 3600
        ).collect()
    }
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    sdf = ohlc_windowed(stream, "event_type", "ts", "value", "event_id", "1 hour")
    q = (
        sdf.writeStream.format("memory")
        .queryName("t_ohlc")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {tuple(r) for r in spark.table("t_ohlc").collect()}
    assert streamed == batch and len(batch) > 0


def test_streaming_sessionize_matches_batch_on_ordered_replay(spark, tmp_path):
    """streaming/sessions.py: the (seq, last_ts) GroupState sessionizer
    replayed in event-time order through maxFilesPerTrigger=1 emits
    EXACTLY the batch sessionize labels — including sessions straddling
    the micro-batch boundary (state carry: no session split, and an
    inactivity gap spanning batches still opens a new session) and with
    arrow.maxRecordsPerBatch forced tiny so multi-chunk groups exercise
    the concat-then-sort discipline."""
    from datapipeline_omnichanneltobigquery_spark.streaming.sessions import (
        streaming_sessionize,
    )
    from datapipeline_omnichanneltobigquery_spark.streaming.windows import sessionize

    ev = (
        read_table(spark, SF_DIR, "events")
        .select("event_id", "user_id", "ts")
        .orderBy("ts", "event_id")
    )
    rows = ev.collect()
    half = len(rows) // 2
    src = str(tmp_path / "sess_src")
    schema = ev.schema
    spark.createDataFrame(rows[:half], schema).coalesce(1).write.parquet(f"{src}/b=0")
    spark.createDataFrame(rows[half:], schema).coalesce(1).write.parquet(f"{src}/b=1")

    batch = {
        (str(r.user_id), r.event_id): r.session_seq
        for r in sessionize(spark.read.parquet(src), gap_seconds=1800).collect()
    }
    with scoped_conf(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "500"}):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sdf = streaming_sessionize(stream, gap_seconds=1800)
        q = (
            sdf.writeStream.format("memory")
            .queryName("t_sessionize")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        streamed = {
            (r.user_id, r.event_id): r.session_seq
            for r in spark.table("t_sessionize").collect()
        }
    assert streamed == batch
    assert max(streamed.values()) > 1  # gap structure exercised, not one session


def test_streaming_weighted_reservoir_matches_batch(spark, tmp_path):
    """streaming/reservoir.py: the per-key A-Res reservoir maintained in
    GroupState across maxFilesPerTrigger=1 micro-batches converges to
    EXACTLY the batch weighted_reservoir sample of the full corpus per
    key — including eviction of batch-1 residents by heavier batch-2
    arrivals — with Arrow chunks forced tiny."""
    from datapipeline_omnichanneltobigquery_spark.operators.sampling import (
        weighted_reservoir,
    )
    from datapipeline_omnichanneltobigquery_spark.streaming.reservoir import (
        streaming_weighted_reservoir,
    )

    docs = (
        read_table(spark, SF_DIR, "documents")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )
    rows = docs.collect()
    half = len(rows) // 2
    src = str(tmp_path / "res_src")
    schema = docs.schema
    spark.createDataFrame(rows[:half], schema).coalesce(1).write.parquet(f"{src}/b=0")
    spark.createDataFrame(rows[half:], schema).coalesce(1).write.parquet(f"{src}/b=1")

    full = spark.read.parquet(src)
    sources = [r.source for r in full.select("source").distinct().collect()]
    batch = {
        s: [
            str(r.doc_id)
            for r in weighted_reservoir(
                full.filter(F.col("source") == s), "doc_id", "n_chars", n=7
            ).collect()
        ]
        for s in sources
    }
    with scoped_conf(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "100"}):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sdf = streaming_weighted_reservoir(
            stream, n=7, key_col="source", id_col="doc_id", weight_col="n_chars"
        )
        q = (
            sdf.writeStream.format("memory")
            .queryName("t_reservoir")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_res"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        out = spark.table("t_reservoir").collect()
    # the FINAL snapshot per key (max ver) is the converged reservoir
    last_ver = {}
    for r in out:
        last_ver[r.key] = max(last_ver.get(r.key, 0), r.ver)
    final = {
        s: sorted(r.id for r in out if r.key == s and r.ver == last_ver[s])
        for s in last_ver
    }
    assert final == {s: sorted(v) for s, v in batch.items()}
    # snapshots were emitted per micro-batch (ver advanced past 1)
    assert max(last_ver.values()) >= 2
    # eviction across the batch boundary actually happened for some key:
    # a ver-1 resident absent from the final snapshot
    evicted = any(
        {r.id for r in out if r.key == s and r.ver == 1} - set(final[s])
        for s in last_ver
        if last_ver[s] >= 2
    )
    assert evicted


def test_streaming_transitions_match_batch_on_ordered_replay(spark, tmp_path):
    """streaming/transitions.py: summing the per-batch transition deltas
    over an event-time-ordered two-file replay equals the batch journey
    transition table's chain links + CONV terminals (python rederivation
    of plans/relational2.py::events_attribution_markov's builder),
    including journeys whose purchase lands in the SECOND micro-batch
    (state carry) and the lonely START→CONV journey; Arrow chunks forced
    tiny so hot users exercise the concat-then-sort discipline."""
    from datapipeline_omnichanneltobigquery_spark.streaming.transitions import (
        streaming_transitions,
    )

    state_of = {"click": 1, "view": 2, "signup": 3, "error": 4, "purchase": 5}
    START, CONV = 0, 5
    ev = (
        read_table(spark, SF_DIR, "events")
        .select("event_id", "user_id", "ts", "event_type")
        .orderBy("ts", "event_id")
    )
    rows = ev.collect()
    half = len(rows) // 2
    src = str(tmp_path / "trans_src")
    schema = ev.schema
    spark.createDataFrame(rows[:half], schema).coalesce(1).write.parquet(f"{src}/b=0")
    spark.createDataFrame(rows[half:], schema).coalesce(1).write.parquet(f"{src}/b=1")

    expected: dict[tuple[int, int], int] = {}
    by_user: dict[str, list] = {}
    for r in rows:  # already (ts, event_id) ordered
        by_user.setdefault(str(r.user_id), []).append(r.event_type)
    crossed = 0
    for u, types in by_user.items():
        cur, purchased = START, False
        for i, et in enumerate(types):
            if et == "purchase":
                expected[(cur, CONV)] = expected.get((cur, CONV), 0) + 1
                purchased = True
                if i >= len([r for r in rows[:half] if str(r.user_id) == u]):
                    crossed += 1
                break
            nxt = state_of[et]
            expected[(cur, nxt)] = expected.get((cur, nxt), 0) + 1
            cur = nxt

    with scoped_conf(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "500"}):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sdf = streaming_transitions(stream, state_of, start_state=START, conv_state=CONV)
        q = (
            sdf.writeStream.format("memory")
            .queryName("t_transitions")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_trans"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got: dict[tuple[int, int], int] = {}
        for r in spark.table("t_transitions").collect():
            k = (r.from_state, r.to_state)
            got[k] = got.get(k, 0) + r.cnt
    assert got == expected
    assert sum(v for (f, t), v in got.items() if t == CONV) > 0  # conversions seen


def test_streaming_lateness_matches_batch_on_ordered_replay(spark, tmp_path):
    """streaming/lateness.py: summing per-batch (n_rows, n_late) deltas
    and maxing max_lag_us over an ARRIVAL-ordered two-file replay equals
    the batch lateness_audit on the same jittered scenario the registry
    gates — the watermark prefix carries across the batch boundary
    through two bigints of GroupState; Arrow chunks forced tiny so hot
    keys exercise the concat-then-sort discipline."""
    from datapipeline_omnichanneltobigquery_spark.operators.lateness import (
        lateness_audit,
    )
    from datapipeline_omnichanneltobigquery_spark.plans.relational2 import (
        _late_arrival,
    )
    from datapipeline_omnichanneltobigquery_spark.streaming.lateness import (
        streaming_lateness,
    )

    ev = _late_arrival(read_table(spark, SF_DIR, "events")).select(
        "event_type", "arrival", "ts"
    )
    want = {
        r.event_type: (r.n_rows, r.n_late, r.max_lag_us)
        for r in lateness_audit(ev, "event_type", "arrival", "ts", 120).collect()
    }

    rows = ev.orderBy("arrival").collect()
    half = len(rows) // 2
    src = str(tmp_path / "late_src")
    schema = ev.schema
    spark.createDataFrame(rows[:half], schema).coalesce(1).write.parquet(f"{src}/b=0")
    spark.createDataFrame(rows[half:], schema).coalesce(1).write.parquet(f"{src}/b=1")

    with scoped_conf(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "200"}):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sdf = streaming_lateness(stream, 120, key_col="event_type")
        q = (
            sdf.writeStream.format("memory")
            .queryName("t_lateness")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_late"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got: dict[str, list[int]] = {}
        for r in spark.table("t_lateness").collect():
            acc = got.setdefault(r.key, [0, 0, 0])
            acc[0] += r.n_rows
            acc[1] += r.n_late
            acc[2] = max(acc[2], r.max_lag_us)
    assert {k: tuple(v) for k, v in got.items()} == want
    assert sum(v[1] for v in got.values()) > 0  # the scenario produces late rows

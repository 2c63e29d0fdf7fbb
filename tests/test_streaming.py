"""Streaming tests (SURVEY M7): each streaming job runs to completion
with trigger(availableNow=True) over the sf0.001 events parquet and
must agree with its batch twin — Spark's unified-engine guarantee,
checked end-to-end. The publish sink proves exactly-once across a
restart."""

from __future__ import annotations

import pytest

from se_data_pipeline_spark.catalog import load_table
from se_data_pipeline_spark.queries.events import events_hourly_tumbling
from se_data_pipeline_spark.sources.publish import (
    CheckpointedPublisher,
    LocalDirPublisher,
)
from se_data_pipeline_spark.queries.events import events_sliding_window
from se_data_pipeline_spark.streaming.jobs import (
    dedup_events,
    hourly_tumbling,
    publish_batches,
    read_events_stream,
    session_windows,
    sliding_counts,
)


def _run_to_memory(spark, df, name: str, mode: str) -> None:
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive


def test_streaming_tumbling_matches_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    _run_to_memory(spark, hourly_tumbling(stream), "t_tumbling", "complete")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM t_tumbling").collect()
    }
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in events_hourly_tumbling(spark, sf_dir).collect()
    }
    assert set(got) == set(expected)
    for k, (n, s) in expected.items():
        assert got[k][0] == n
        assert got[k][1] == pytest.approx(s, abs=1e-6)


def test_streaming_sliding_matches_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    _run_to_memory(spark, sliding_counts(stream), "t_sliding", "complete")
    got = {
        r["window_start"]: (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM t_sliding").collect()
    }
    expected = {
        r["window_start"]: (r["n_events"], r["sum_value"])
        for r in events_sliding_window(spark, sf_dir).collect()
    }
    assert set(got) == set(expected)
    for k, (n, s) in expected.items():
        assert got[k][0] == n
        assert got[k][1] == pytest.approx(s, abs=1e-6)


def test_streaming_dedup_matches_distinct(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    _run_to_memory(spark, dedup_events(stream), "t_dedup", "append")
    n_stream = spark.sql("SELECT COUNT(*) AS n FROM t_dedup").collect()[0]["n"]
    ev = load_table(spark, sf_dir, "events")
    assert n_stream == ev.select("event_id").distinct().count()


def test_streaming_sessions_sane(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    _run_to_memory(spark, session_windows(stream), "t_sessions", "complete")
    rows = spark.sql("SELECT * FROM t_sessions").collect()
    assert len(rows) > 0
    ev = load_table(spark, sf_dir, "events")
    assert sum(r["n_events"] for r in rows) == ev.count()
    for r in rows:
        assert r["session_end"] > r["session_start"]


def test_read_store_or_none_distinguishes_missing_from_broken(
    spark, tmp_path
):
    """The incremental-store upserts must treat ONLY a missing store
    as 'first batch'. A store that exists but cannot be read (corrupt
    file, fs fault) must raise — the old bare except treated it as
    first-batch and the next overwrite silently RESET the store."""
    import pytest

    from se_data_pipeline_spark.streaming.jobs import _read_store_or_none

    missing = str(tmp_path / "nope")
    assert _read_store_or_none(spark, missing) is None

    ok = str(tmp_path / "ok")
    spark.range(3).write.parquet(ok)
    assert _read_store_or_none(spark, ok).count() == 3

    broken = tmp_path / "broken"
    broken.mkdir()
    (broken / "part-00000.parquet").write_bytes(b"not parquet at all")
    try:
        df = _read_store_or_none(spark, str(broken))
    except Exception:
        df = "raised"  # read-time failure propagated: correct
    assert df is not None, "broken store misread as missing (reset bug)"
    if df != "raised":
        # footer error may surface only at action time — it must
        # still propagate (the caller materializes outside any try)
        with pytest.raises(Exception):
            df.collect()


def test_rocksdb_streaming_profile_sets_conf_and_executes(spark, sf_dir):
    """get_spark(streaming=True)'s RocksDB profile (session.py
    STREAMING_STATE_CONF) is the documented 100 TB requirement of the
    stateful jobs (jobs.py docstrings): heap state stores hold every
    key in executor memory, RocksDB + changelog checkpointing bounds
    both memory and per-batch checkpoint cost. This proves the
    profile is (a) exactly the confs the docs promise and (b)
    actually runnable: a stateful twin executes under the RocksDB
    provider and still matches its batch answer."""
    from se_data_pipeline_spark.session import STREAMING_STATE_CONF

    assert (
        STREAMING_STATE_CONF[
            "spark.sql.streaming.stateStore.providerClass"
        ].endswith("RocksDBStateStoreProvider")
    )
    assert (
        STREAMING_STATE_CONF[
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled"
        ]
        == "true"
    )

    saved = {
        k: spark.conf.get(k, None) for k in STREAMING_STATE_CONF
    }
    for k, v in STREAMING_STATE_CONF.items():
        spark.conf.set(k, v)
    try:
        stream = read_events_stream(spark, sf_dir)
        _run_to_memory(
            spark, dedup_events(stream), "t_dedup_rocksdb", "append"
        )
        n_stream = spark.sql(
            "SELECT COUNT(*) AS n FROM t_dedup_rocksdb"
        ).collect()[0]["n"]
        ev = load_table(spark, sf_dir, "events")
        assert n_stream == ev.select("event_id").distinct().count()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_stateful_running_totals_match_batch(spark, sf_dir):
    """applyInPandasWithState folds per-user state across micro-
    batches; the final emitted state per user must equal the batch
    aggregate."""
    from pyspark.sql import functions as F

    from se_data_pipeline_spark.streaming.jobs import running_totals_stateful

    stream = read_events_stream(spark, sf_dir)
    _run_to_memory(spark, running_totals_stateful(stream), "t_state", "update")
    # last emission per user = the one with the max n_events
    rows = spark.sql(
        """SELECT user_id, total_value, n_events FROM t_state a
           WHERE n_events = (SELECT MAX(n_events) FROM t_state b
                             WHERE b.user_id = a.user_id)"""
    ).collect()
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["user_id"]: (r["total"], r["n"])
        for r in ev.groupBy("user_id")
        .agg(F.sum("value").alias("total"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert len(rows) == len(exact)
    for r in rows:
        t, n = exact[r["user_id"]]
        assert r["n_events"] == n
        assert r["total_value"] == pytest.approx(t)


def test_streaming_publish_exactly_once(spark, sf_dir, tmp_path):
    stream = read_events_stream(spark, sf_dir)
    pub_dir = str(tmp_path / "published")
    ledger = str(tmp_path / "ledger.txt")
    ckpt = str(tmp_path / "ckpt")

    pub = CheckpointedPublisher(LocalDirPublisher(pub_dir), ledger)
    q = publish_batches(dedup_events(stream), pub, ckpt)
    q.awaitTermination(120)
    import os

    published = sorted(os.listdir(pub_dir))
    assert len(published) >= 1

    # restart over the same checkpoint: no new batches, no re-uploads
    pub2 = CheckpointedPublisher(LocalDirPublisher(pub_dir), ledger)
    q2 = publish_batches(dedup_events(read_events_stream(spark, sf_dir)), pub2, ckpt)
    q2.awaitTermination(120)
    assert sorted(os.listdir(pub_dir)) == published


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    """Stream-stream interval join (purchase→click attribution) must
    equal the same join done in batch — and its state stays bounded
    because both sides are watermarked with a time-bound condition."""
    from pyspark.sql import functions as F

    from se_data_pipeline_spark.streaming.jobs import (
        click_purchase_attribution,
    )

    stream = read_events_stream(spark, sf_dir)
    _run_to_memory(
        spark, click_purchase_attribution(stream), "t_attr", "append"
    )
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.sql("SELECT * FROM t_attr").collect()
    }

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    expected = {
        (r["purchase_id"], r["click_id"])
        for r in purchases.join(
            clicks,
            (F.col("c_user") == F.col("user_id"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (
                F.col("click_ts")
                >= F.col("purchase_ts") - F.expr("INTERVAL 10 minutes")
            ),
        ).collect()
    }
    assert got == expected and len(expected) > 0


def test_tws_running_totals_match_batch(spark, sf_dir):
    """transformWithStateInPandas (Spark 4 typed-state API) must
    produce the same final per-user totals as both the legacy
    applyInPandasWithState job and the exact batch aggregate.
    Requires the RocksDB state store provider and protobuf (the TWS
    driver worker imports StateMessage_pb2) — served by the vendored
    protoshim runtime when the real distribution is absent."""
    from se_data_pipeline_spark.compat import ensure_protobuf

    ensure_protobuf()
    from pyspark.sql import functions as F

    from se_data_pipeline_spark.streaming.jobs import running_totals_tws

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = read_events_stream(spark, sf_dir)
        _run_to_memory(spark, running_totals_tws(stream), "t_tws", "update")
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    rows = spark.sql(
        """SELECT user_id, total_value, n_events FROM t_tws a
           WHERE n_events = (SELECT MAX(n_events) FROM t_tws b
                             WHERE b.user_id = a.user_id)"""
    ).collect()
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["user_id"]: (r["total"], r["n"])
        for r in ev.groupBy("user_id")
        .agg(F.sum("value").alias("total"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert len(rows) == len(exact)
    for r in rows:
        t, n = exact[r["user_id"]]
        assert r["n_events"] == n
        assert r["total_value"] == pytest.approx(t)


def test_rolling_24h_stateful_matches_batch(spark, sf_dir):
    """The stateful trailing-24h stream must emit exactly the batch
    RANGE-frame window results (same frames, same rounding)."""
    from se_data_pipeline_spark.queries.events import events_rolling_24h
    from se_data_pipeline_spark.streaming.jobs import rolling_24h_stateful

    stream = read_events_stream(spark, sf_dir)
    _run_to_memory(spark, rolling_24h_stateful(stream), "t_roll", "append")
    got = {
        r["event_id"]: (r["sum_24h"], r["n_24h"])
        for r in spark.sql("SELECT * FROM t_roll").collect()
    }
    expected = {
        r["event_id"]: (r["sum_24h"], r["n_24h"])
        for r in events_rolling_24h(spark, sf_dir).collect()
    }
    assert len(got) == len(expected)
    for eid, (s, n) in expected.items():
        assert got[eid][1] == n, eid
        assert got[eid][0] == pytest.approx(s, abs=1e-6)


def test_progress_listener_captures_batches(spark, sf_dir):
    """K8 parity: the listener observes start, per-batch progress
    (with the real input row count), and termination — the engine's
    replacement for the reference's log-queue listener process."""
    from se_data_pipeline_spark.streaming.jobs import progress_listener

    log: list = []
    listener = progress_listener(spark, log)
    try:
        stream = read_events_stream(spark, sf_dir)
        _run_to_memory(spark, dedup_events(stream), "t_listen", "append")
        import time as _t

        for _ in range(40):  # listener delivery is async
            if any(e["event"] == "terminated" for e in log):
                break
            _t.sleep(0.25)
    finally:
        spark.streams.removeListener(listener)
    events = {e["event"] for e in log}
    assert {"started", "progress", "terminated"} <= events
    n_rows = sum(
        e.get("num_input_rows", 0) for e in log if e["event"] == "progress"
    )
    ev = load_table(spark, sf_dir, "events")
    assert n_rows == ev.count()


def test_streaming_publish_distributed_exactly_once(spark, sf_dir, tmp_path):
    """publish_batches_distributed: shard-parallel upload from
    executors, exactly-once across a checkpoint restart — same
    contract as the driver-collect sink, without the collect."""
    import os

    from se_data_pipeline_spark.sources.publish import DistributedPublisher
    from se_data_pipeline_spark.streaming.jobs import (
        publish_batches_distributed,
    )

    pub_dir = str(tmp_path / "published")
    ledger = str(tmp_path / "ledger.txt")
    ckpt = str(tmp_path / "ckpt")

    pub = DistributedPublisher(LocalDirPublisher(pub_dir), ledger)
    stream = read_events_stream(spark, sf_dir)
    q = publish_batches_distributed(dedup_events(stream), pub, ckpt)
    q.awaitTermination(120)

    published = sorted(os.listdir(pub_dir))
    assert len(published) >= 1
    assert all("-part-" in f for f in published)

    # restart over the same checkpoint: no new batches, no re-uploads
    pub2 = DistributedPublisher(LocalDirPublisher(pub_dir), ledger)
    q2 = publish_batches_distributed(
        dedup_events(read_events_stream(spark, sf_dir)), pub2, ckpt
    )
    q2.awaitTermination(120)
    assert sorted(os.listdir(pub_dir)) == published


def test_streaming_near_dup_matches_batch_lsh(spark, sf_dir):
    """The stateful bucket-first stream must reproduce the batch LSH
    relation: every bucket's first_doc is the bucket's min doc_id,
    and the derived near-dup set equals the batch candidate pairs'
    'later' sides."""
    from pyspark.sql import functions as F

    from se_data_pipeline_spark.queries.text import (
        _mh_band_rows,
        minhash_lsh_candidates,
    )
    from se_data_pipeline_spark.streaming.jobs import (
        near_dup_bucket_stream,
        read_documents_stream,
    )

    stream = read_documents_stream(spark, sf_dir)
    _run_to_memory(
        spark, near_dup_bucket_stream(stream), "t_near_dup", "append"
    )
    rows = spark.sql("SELECT * FROM t_near_dup").collect()
    assert len(rows) > 0

    # bucket-first invariant vs batch recomputation
    docs = load_table(spark, sf_dir, "documents")
    batch_bands = docs.select("doc_id", "text").mapInPandas(
        _mh_band_rows, "doc_id long, band long, sig string"
    )
    expected_first = {
        (r["band"], r["sig"]): r["first"]
        for r in batch_bands.groupBy("band", "sig")
        .agg(F.min("doc_id").alias("first"))
        .collect()
    }
    for r in rows:
        assert r["first_doc"] == expected_first[(r["band"], r["sig"])]

    # doc-level near-dup set == batch LSH candidates' later sides
    stream_dups = {
        r["doc_id"] for r in rows if r["first_doc"] != r["doc_id"]
    }
    batch_dups = {
        r["doc_b"] for r in minhash_lsh_candidates(spark, sf_dir).collect()
    }
    # every batch candidate's later side is flagged by the stream;
    # the stream may flag more (transitive chains share buckets with
    # the chain head, not necessarily pairwise with each other)
    assert batch_dups <= stream_dups


def test_span_dedup_stream_matches_batch_rewrite(spark, sf_dir):
    """The stateful span-dedup stream must reproduce the batch
    doc_span_dedup rewrite when the corpus arrives in doc_id order
    (one availableNow pass): the surviving (doc_id, cidx) set and the
    per-doc reassembled text must be IDENTICAL — both forms share the
    chunking helper, so this pins the winner rule end-to-end."""
    from pyspark.sql import functions as F

    from se_data_pipeline_spark.queries import all_queries
    from se_data_pipeline_spark.streaming.jobs import (
        read_documents_stream,
        span_dedup_stream,
    )

    _run_to_memory(
        spark,
        span_dedup_stream(read_documents_stream(spark, sf_dir)),
        "t_span_dedup",
        "append",
    )
    all_rows = spark.sql("SELECT * FROM t_span_dedup")
    assert all_rows.filter("keep").count() > 0

    keep = F.col("keep")
    stream_docs = {
        r["doc_id"]: (r["n_chunks"], r["n_removed"], r["text_dedup"])
        for r in all_rows.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_chunks"),
            F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        # BOUNDED: surviving chunks of one document
                        F.collect_list(
                            F.when(keep, F.struct("cidx", "chunk"))
                        )
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("text_dedup"),
        )
        .select(
            "doc_id",
            "n_chunks",
            (F.col("n_chunks") - F.col("n_kept"))
            .cast("int")
            .alias("n_removed"),
            "text_dedup",
        )
        .collect()
    }
    batch = {
        r["doc_id"]: (r["n_chunks"], r["n_removed"], r["text_dedup"])
        for r in all_queries()["doc_span_dedup"](spark, sf_dir).collect()
    }
    assert stream_docs == batch


def test_span_dedup_stream_cross_batch_first_arrival_wins(
    spark, tmp_path
):
    """Two micro-batches: a chunk seen in batch 1 must be dropped
    from every batch-2 document that repeats it, while batch-2-unique
    chunks survive — the incremental contract a dedup-at-ingest
    pipeline relies on."""
    import glob
    import os
    import time as _time

    from se_data_pipeline_spark.streaming.jobs import span_dedup_stream

    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    c = "alpha beta gamma delta epsilon"  # one 5-token chunk
    spark.createDataFrame(
        [(1, c + " one two three four five")],
        "doc_id bigint, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    first_files = set(glob.glob(os.path.join(src, "part-*.parquet")))
    # the later-arriving doc repeats doc 1's first chunk + a new one
    spark.createDataFrame(
        [(2, c + " six seven eight nine ten")],
        "doc_id bigint, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    # file-source batches order by modification time: pin doc 1's
    # file firmly earlier so maxFilesPerTrigger=1 yields two
    # micro-batches in arrival order
    now = _time.time()
    for f in glob.glob(os.path.join(src, "part-*.parquet")):
        os.utime(f, (now - 100, now - 100) if f in first_files else (now, now))

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        span_dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("t_span_xbatch")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    assert len(q.recentProgress) >= 2, "expected two micro-batches"

    rows = {
        (r["doc_id"], r["cidx"]): r["keep"]
        for r in spark.sql("SELECT * FROM t_span_xbatch").collect()
    }
    assert rows[(1, 0)] is True and rows[(1, 1)] is True
    assert rows[(2, 0)] is False, "chunk seen in batch 1 must drop"
    assert rows[(2, 1)] is True, "batch-2-unique chunk must survive"


def test_maintain_posting_lists_serves_bm25_and_compacts(
    spark, sf_dir, tmp_path
):
    """A stream-maintained posting-list store must serve the SAME
    BM25 top-k as the inline query over the full corpus (two
    micro-batches of documents), and compact_posting_lists must fold
    the per-batch deltas to one batch_id=-1 base with identical
    serving results."""
    import glob
    import os
    import time as _time

    from se_data_pipeline_spark.functions.text import SEARCH_TERMS
    from se_data_pipeline_spark.queries.text import doc_bm25_search
    from se_data_pipeline_spark.sources.layout import (
        bm25_from_postings,
        compact_posting_lists,
    )
    from se_data_pipeline_spark.streaming.jobs import (
        maintain_posting_lists,
    )

    docs = load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    docs.filter("doc_id % 2 = 0").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    first = set(glob.glob(os.path.join(src, "part-*.parquet")))
    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    now = _time.time()
    for f in glob.glob(os.path.join(src, "part-*.parquet")):
        os.utime(
            f, (now - 100, now - 100) if f in first else (now, now)
        )

    out = str(tmp_path / "store")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = maintain_posting_lists(stream, out, str(tmp_path / "chk"))
    q.awaitTermination(120)
    assert not q.isActive
    assert len(q.recentProgress) >= 2, "expected two micro-batches"

    inline = [
        (r["doc_id"], r["bm25"])
        for r in doc_bm25_search(spark, sf_dir).collect()
    ]
    served = [
        (r["doc_id"], r["bm25"])
        for r in bm25_from_postings(spark, out, SEARCH_TERMS).collect()
    ]
    assert served == inline

    compact_posting_lists(spark, out)
    folded = [
        (r["doc_id"], r["bm25"])
        for r in bm25_from_postings(spark, out, SEARCH_TERMS).collect()
    ]
    assert folded == inline
    batch_ids = {
        r["batch_id"]
        for r in spark.read.parquet(f"{out}/postings")
        .select("batch_id")
        .distinct()
        .collect()
    }
    assert batch_ids == {-1}, f"compaction must fold deltas: {batch_ids}"


def test_maintain_hourly_rollup_upserts_to_parquet(spark, sf_dir, tmp_path):
    """The incremental materialized hourly tier must equal the batch
    aggregate after the stream drains — and stay equal after a second
    run over the same checkpoint (upsert idempotence, no dup rows)."""
    from pyspark.sql import functions as F

    from se_data_pipeline_spark.streaming.jobs import maintain_hourly_rollup

    out = str(tmp_path / "hourly_store")
    ckpt = str(tmp_path / "ckpt")

    q = maintain_hourly_rollup(read_events_stream(spark, sf_dir), out, ckpt)
    q.awaitTermination(120)

    def snapshot():
        return {
            (r["window_start"], r["event_type"]): (
                r["n_events"],
                r["sum_value"],
            )
            for r in spark.read.parquet(out)
            .select("window_start", "event_type", "n_events", "sum_value")
            .collect()
        }

    got = snapshot()
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in events_hourly_tumbling(spark, sf_dir)
        .withColumn("window_start", F.col("window_start").cast("timestamp"))
        .collect()
    }
    assert len(got) == len(expected)
    assert got == expected

    # replay over the same checkpoint: no new data -> store unchanged
    q2 = maintain_hourly_rollup(read_events_stream(spark, sf_dir), out, ckpt)
    q2.awaitTermination(120)
    assert snapshot() == got


def test_tws_near_dup_matches_legacy_api(spark, sf_dir):
    """The transformWithState near-dup filter must emit exactly the
    same (doc, bucket, first_doc) rows as the applyInPandasWithState
    form — the API-migration parity pin for the dedup operator."""
    from se_data_pipeline_spark.compat import ensure_protobuf

    ensure_protobuf()
    from se_data_pipeline_spark.streaming.jobs import (
        near_dup_bucket_stream,
        near_dup_bucket_tws,
        read_documents_stream,
    )

    _run_to_memory(
        spark,
        near_dup_bucket_stream(read_documents_stream(spark, sf_dir)),
        "t_nd_legacy",
        "append",
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        _run_to_memory(
            spark,
            near_dup_bucket_tws(read_documents_stream(spark, sf_dir)),
            "t_nd_tws",
            "append",
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    legacy = {
        tuple(r)
        for r in spark.sql(
            "SELECT doc_id, band, sig, first_doc FROM t_nd_legacy"
        ).collect()
    }
    tws = {
        tuple(r)
        for r in spark.sql(
            "SELECT doc_id, band, sig, first_doc FROM t_nd_tws"
        ).collect()
    }
    assert legacy == tws and len(tws) > 0


def test_maintain_distinct_sketches_matches_exact(spark, sf_dir, tmp_path):
    """After the stream drains, each day's HLL estimate must land
    within the +-5% contract of the exact per-day distinct user
    count (exact at fixture cardinalities), and a checkpoint replay
    must leave the store unchanged (sketch insertion is idempotent
    per value; no new data -> no new batch)."""
    from pyspark.sql import functions as F

    from se_data_pipeline_spark.catalog import load_table
    from se_data_pipeline_spark.streaming.jobs import (
        maintain_distinct_sketches,
        read_events_stream,
    )

    out = str(tmp_path / "sketch_store")
    ckpt = str(tmp_path / "ckpt_sk")

    q = maintain_distinct_sketches(read_events_stream(spark, sf_dir), out, ckpt)
    q.awaitTermination(120)

    got = {
        r["day"]: (r["est"], r["n_events_at_least_once"])
        for r in spark.read.parquet(out)
        .select(
            "day",
            F.hll_sketch_estimate("sk").alias("est"),
            "n_events_at_least_once",
        )
        .collect()
    }
    exact = {
        r["day"]: (r["nd"], r["ne"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.countDistinct("user_id").alias("nd"),
            F.count(F.lit(1)).alias("ne"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for day, (nd, ne) in exact.items():
        est, ne_got = got[day]
        assert abs(est - nd) <= max(0.05 * nd, 1.0)
        assert ne_got == ne

    q2 = maintain_distinct_sketches(
        read_events_stream(spark, sf_dir), out, ckpt
    )
    q2.awaitTermination(120)
    got2 = {
        r["day"]: (r["est"], r["n_events_at_least_once"])
        for r in spark.read.parquet(out)
        .select(
            "day",
            F.hll_sketch_estimate("sk").alias("est"),
            "n_events_at_least_once",
        )
        .collect()
    }
    assert got2 == got


def test_streaming_session_windows_match_batch(spark, sf_dir, tmp_path):
    """`session_window` is the same operator in streaming: the
    stateful streaming aggregation (complete mode, availableNow)
    over the events file stream must equal the batch
    `events_session_windows` result exactly."""
    from pyspark.sql import functions as F

    from se_data_pipeline_spark.queries import all_queries
    from se_data_pipeline_spark.streaming.jobs import read_events_stream

    agg = (
        read_events_stream(spark, sf_dir)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sessions_stream")
        .option(
            "checkpointLocation", str(tmp_path / "ckpt_sessions")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["user_id"], r["session_start"]): (
            r["session_end"],
            r["n_events"],
            r["sum_value"],
        )
        for r in spark.sql("SELECT * FROM sessions_stream").collect()
    }
    want = {
        (r["user_id"], r["session_start"]): (
            r["session_end"],
            r["n_events"],
            r["sum_value"],
        )
        for r in all_queries()["events_session_windows"](
            spark, sf_dir
        ).collect()
    }
    assert got == want


def test_dedup_within_watermark_bounded_state(spark, sf_dir, tmp_path):
    """Duplicated rows arriving in a LATER micro-batch (same event
    times, so inside the watermark) must be suppressed, and the
    result must equal the batch distinct-by-key."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from se_data_pipeline_spark.streaming.jobs import (
        dedup_events_within_watermark,
    )

    src_dir = str(tmp_path / "dup_stream")
    os.makedirs(src_dir)
    base = (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .orderBy("event_id")
        .limit(500)
    )
    base.coalesce(1).write.parquet(str(tmp_path / "f1"))
    base.coalesce(1).write.parquet(str(tmp_path / "f2"))
    for i, d in enumerate(("f1", "f2")):
        (src,) = [
            f
            for f in os.listdir(str(tmp_path / d))
            if f.endswith(".parquet")
        ]
        shutil.copy(
            os.path.join(str(tmp_path / d), src),
            os.path.join(src_dir, f"part-{i}.parquet"),
        )

    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)  # dups land in batch 2
        .parquet(src_dir)
        # watermarks need TIMESTAMP; parquet ships TIMESTAMP_NTZ
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        dedup_events_within_watermark(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_wm")
        .option("checkpointLocation", str(tmp_path / "ckpt_wm"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.sql("SELECT event_id FROM dedup_wm").collect()
    ids = [r["event_id"] for r in got]
    assert len(ids) == len(set(ids)) == 500
    assert set(ids) == {r["event_id"] for r in base.collect()}


def test_enrich_stream_with_dimension_routes_unmatched(spark, sf_dir, tmp_path):
    """Stream-static broadcast enrichment: matched rows carry the
    dimension attributes; events with unknown keys land complete in
    the dead-letter branch; no row is lost or duplicated."""
    from pyspark.sql import functions as F

    from se_data_pipeline_spark.streaming.jobs import (
        enrich_stream_with_dimension,
        read_events_stream,
    )

    # dimension knows only even user ids
    dim = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id")
        .distinct()
        .filter(F.col("user_id") % 2 == 0)
        .withColumn("tier", F.lit("known"))
    )
    matched, dead = enrich_stream_with_dimension(
        read_events_stream(spark, sf_dir), dim
    )
    for name, df in (("m_enr", matched), ("d_enr", dead)):
        q = (
            df.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    m = spark.sql("SELECT user_id, tier FROM m_enr").collect()
    d = spark.sql("SELECT user_id FROM d_enr").collect()
    assert m and d
    assert all(r["user_id"] % 2 == 0 and r["tier"] == "known" for r in m)
    assert all(r["user_id"] % 2 == 1 for r in d)
    total = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert len(m) + len(d) == total


def test_stream_stream_left_outer_join_null_semantics(spark, sf_dir):
    """Left-outer stream-stream join: inner matches equal the batch
    join exactly; null-click rows are emitted at most once per
    purchase and only for purchases the batch join also leaves
    unmatched (watermark may hold back trailing unmatched purchases
    — containment, not equality, is the contract)."""
    from pyspark.sql import functions as F

    from se_data_pipeline_spark.streaming.jobs import (
        click_purchase_attribution,
    )

    stream = read_events_stream(spark, sf_dir)
    _run_to_memory(
        spark,
        click_purchase_attribution(stream, how="left_outer"),
        "t_attr_outer",
        "append",
    )
    rows = spark.sql("SELECT * FROM t_attr_outer").collect()
    got_inner = {
        (r["purchase_id"], r["click_id"])
        for r in rows
        if r["click_id"] is not None
    }
    got_null = [r["purchase_id"] for r in rows if r["click_id"] is None]

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    joined = purchases.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 10 minutes")
        ),
        "left_outer",
    )
    exp_inner = {
        (r["purchase_id"], r["click_id"])
        for r in joined.filter(F.col("click_id").isNotNull()).collect()
    }
    exp_unmatched = {
        r["purchase_id"]
        for r in joined.filter(F.col("click_id").isNull()).collect()
    }
    assert got_inner == exp_inner
    assert len(got_null) == len(set(got_null))  # once per purchase
    assert set(got_null) <= exp_unmatched


def test_stream_stream_full_outer_join_null_semantics(spark, sf_dir):
    """Full-outer stream-stream join (r7): inner matches equal the
    batch join exactly; null-click rows (unmatched purchases) and
    null-purchase rows (unmatched clicks) are each emitted at most
    once and only for rows the batch full-outer also leaves unmatched
    — containment on both null sides, the watermark-gated
    eventual-completeness contract."""
    from pyspark.sql import functions as F

    from se_data_pipeline_spark.streaming.jobs import (
        click_purchase_attribution,
    )

    stream = read_events_stream(spark, sf_dir)
    _run_to_memory(
        spark,
        click_purchase_attribution(stream, how="full_outer"),
        "t_attr_full",
        "append",
    )
    rows = spark.sql("SELECT * FROM t_attr_full").collect()
    got_inner = {
        (r["purchase_id"], r["click_id"])
        for r in rows
        if r["click_id"] is not None and r["purchase_id"] is not None
    }
    got_null_click = [
        r["purchase_id"] for r in rows if r["click_id"] is None
    ]
    got_null_purchase = [
        r["click_id"] for r in rows if r["purchase_id"] is None
    ]
    # every emitted row is attributable: unmatched clicks must carry
    # their OWN user_id (coalesced from the click side), never NULL
    assert all(r["user_id"] is not None for r in rows)
    click_users = {
        r["click_id"]: r["user_id"]
        for r in rows
        if r["purchase_id"] is None
    }

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    joined = purchases.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 10 minutes")
        ),
        "full_outer",
    )
    exp_inner = {
        (r["purchase_id"], r["click_id"])
        for r in joined.filter(
            F.col("click_id").isNotNull()
            & F.col("purchase_id").isNotNull()
        ).collect()
    }
    exp_unmatched_purch = {
        r["purchase_id"]
        for r in joined.filter(F.col("click_id").isNull()).collect()
    }
    exp_unmatched_click = {
        r["click_id"]
        for r in joined.filter(F.col("purchase_id").isNull()).collect()
    }
    assert got_inner == exp_inner
    assert len(got_null_click) == len(set(got_null_click))
    assert set(got_null_click) <= exp_unmatched_purch
    assert len(got_null_purchase) == len(set(got_null_purchase))
    assert set(got_null_purchase) <= exp_unmatched_click
    # the full-outer run found at least the inner matches; both null
    # sides exist in the batch answer so the shape is non-degenerate
    assert exp_unmatched_purch and exp_unmatched_click
    # unmatched clicks carry the CLICK's own user
    true_click_user = {
        r["click_id"]: r["c_user"] for r in clicks.collect()
    }
    for cid, uid in click_users.items():
        assert uid == true_click_user[cid], (cid, uid)


def test_maintain_bq_index_matches_batch_and_serves_candidates(
    spark, sf_dir, tmp_path
):
    """The streamed BQ index must hold exactly the codes the batch
    write_bq_index computes, stay unchanged under a checkpoint
    replay, and serve bq_candidates identically to a batch-built
    index."""
    import os

    from se_data_pipeline_spark.functions.vectors import pack_sign_bits
    from se_data_pipeline_spark.sources.layout import (
        bq_candidates,
        write_bq_index,
    )
    from se_data_pipeline_spark.streaming.jobs import maintain_bq_index

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    src = str(tmp_path / "emb_src")
    emb.repartition(3).write.parquet(src)  # >= 2 micro-batches

    idx_dir = str(tmp_path / "bq_index_streamed")
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        maintain_bq_index(stream, idx_dir, ckpt).awaitTermination(120)

    run_stream()

    from pyspark.sql import functions as F

    expected = {
        (r["vec_id"], r["code"])
        for r in emb.select(
            "vec_id", pack_sign_bits(F.col("embedding")).alias("code")
        ).collect()
    }
    got = {
        (r["vec_id"], r["code"])
        for r in spark.read.parquet(f"{idx_dir}/codes").select("vec_id", "code").collect()
    }
    assert got == expected

    # replay on the same checkpoint: no new data -> index unchanged
    run_stream()
    got2 = {
        (r["vec_id"], r["code"])
        for r in spark.read.parquet(f"{idx_dir}/codes").select("vec_id", "code").collect()
    }
    assert got2 == expected

    # candidate serving parity vs a batch-built index
    batch_idx = str(tmp_path / "bq_index_batch")
    write_bq_index(emb, batch_idx)
    q_code = spark.read.parquet(f"{batch_idx}/codes").select("code").first()["code"]
    from_stream = [
        (r["vec_id"], r["hamming"])
        for r in bq_candidates(spark, idx_dir, q_code, n=25).collect()
    ]
    from_batch = [
        (r["vec_id"], r["hamming"])
        for r in bq_candidates(spark, batch_idx, q_code, n=25).collect()
    ]
    assert from_stream == from_batch


def test_maintain_bq_index_reemitted_id_latest_code_wins(
    spark, tmp_path
):
    """An id re-emitted with an UPDATED embedding in a later
    micro-batch leaves its stale code alive in the older batch_id
    partition (appends never rewrite foreign partitions). The reader
    must rank only the LATEST code per id (ADVICE r7) — and
    compact_bq_index must physically drop the stale row while
    preserving the serving results."""
    import os

    from pyspark.sql import functions as F

    from se_data_pipeline_spark.functions.vectors import pack_sign_bits
    from se_data_pipeline_spark.sources.layout import (
        bq_candidates,
        compact_bq_index,
    )
    from se_data_pipeline_spark.streaming.jobs import maintain_bq_index

    schema = "vec_id bigint, embedding array<float>, label int"
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    idx_dir = str(tmp_path / "idx")

    def run():
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        maintain_bq_index(stream, idx_dir, ckpt).awaitTermination(120)

    base = [
        (1, [1.0, 1.0, 1.0, 1.0], 0),
        (2, [1.0, 1.0, 1.0, 1.0], 0),
        (3, [-1.0, 1.0, -1.0, 1.0], 0),
        (4, [1.0, -1.0, 1.0, -1.0], 0),
    ]
    spark.createDataFrame(base, schema).coalesce(1).write.parquet(src)
    run()

    # vec 2's embedding flips sign: a NEW code in a LATER batch
    updated = [(2, [-1.0, -1.0, -1.0, -1.0], 0)]
    spark.createDataFrame(updated, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()

    raw = spark.read.parquet(f"{idx_dir}/codes")
    assert raw.count() == 5, "stale code should still be on disk"
    new_code = (
        spark.createDataFrame(updated, schema)
        .select(pack_sign_bits(F.col("embedding")).alias("c"))
        .first()["c"]
    )

    def serve():
        rows = bq_candidates(spark, idx_dir, new_code, n=10).collect()
        by_id = {}
        for r in rows:
            assert r["vec_id"] not in by_id, "id ranked twice (stale code)"
            by_id[r["vec_id"]] = r["hamming"]
        return by_id

    served = serve()
    assert served[2] == 0, "must rank vec 2 by its LATEST code"
    assert set(served) == {1, 2, 3, 4}

    # compaction drops the stale row; serving results are unchanged
    compact_bq_index(spark, idx_dir)
    folded = spark.read.parquet(f"{idx_dir}/codes")
    assert folded.count() == 4
    assert [r["batch_id"] for r in folded.select("batch_id").distinct().collect()] == [-1]
    assert serve() == served
    # restarted stream appends next to the base; latest-wins persists
    more = [(2, [1.0, 1.0, 1.0, 1.0], 0)]
    spark.createDataFrame(more, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    # vec 2 now carries the flipped-back code: hamming vs new_code = 4
    assert serve()[2] == 4


def test_maintain_ivf_index_streams_new_vectors_into_cells(
    spark, sf_dir, tmp_path
):
    """The streamed IVF maintenance must (a) assign each new vector
    to the nearest FROZEN-quantizer cell (verified against an
    independent numpy argmin), (b) be replay-idempotent, (c) serve
    ivf_candidates with exact cosines over batch+streamed rows, and
    (d) keep the probe partition-PRUNED (asserted on the executed
    plan) — the property that makes IVF a 1/n_cells read at 100 TB."""
    import math
    import os

    from pyspark.sql import functions as F

    from se_data_pipeline_spark.sources.layout import (
        ivf_candidates,
        write_ivf_index,
    )
    from se_data_pipeline_spark.streaming.jobs import maintain_ivf_index

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)

    idx = str(tmp_path / "ivf")
    write_ivf_index(a, idx)

    src = str(tmp_path / "src")
    b.repartition(2).write.parquet(src)  # >= 2 micro-batches
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        maintain_ivf_index(stream, idx, ckpt).awaitTermination(120)

    run()

    cents = {
        r["cell"]: list(r["centroid"])
        for r in spark.read.parquet(f"{idx}/centroids").collect()
    }

    def nearest(v):
        return min(
            (sum((c - x) ** 2 for c, x in zip(cv, v)), cid)
            for cid, cv in cents.items()
        )[1]

    store = spark.read.parquet(f"{idx}/cells")
    b_rows = {r["vec_id"]: list(r["embedding"]) for r in b.collect()}
    got_b = {
        r["vec_id"]: r["cell"]
        for r in store.filter(F.col("batch_id") >= 0).collect()
    }
    assert set(got_b) == set(b_rows), "every streamed id lands exactly once"
    for vid, cell in got_b.items():
        assert cell == nearest(b_rows[vid]), (vid, cell)

    n_before = store.count()
    run()  # replay: no new files -> store unchanged
    assert spark.read.parquet(f"{idx}/cells").count() == n_before

    # probe correctness: all-cells probe returns exact cosines over
    # batch + streamed rows
    q = list(b.orderBy("vec_id").first()["embedding"])
    allc = ivf_candidates(spark, idx, q, nprobe=len(cents), n=10)
    a_rows = {r["vec_id"]: list(r["embedding"]) for r in a.collect()}
    every = {**a_rows, **b_rows}

    def cos(v):
        d = sum(float(x) * float(y) for x, y in zip(v, q))
        nv = math.sqrt(sum(float(x) ** 2 for x in v))
        nq = math.sqrt(sum(float(y) ** 2 for y in q))
        return d / (nv * nq)

    expect = sorted(
        ((cos(v), vid) for vid, v in every.items()),
        key=lambda t: (-t[0], t[1]),
    )[:10]
    got = [
        (r["cos_sim"], r["vec_id"]) for r in allc.collect()
    ]
    assert [vid for _, vid in got] == [vid for _, vid in expect]
    for (gc, _), (ec, _) in zip(got, expect):
        assert abs(gc - ec) < 1e-9

    # nprobe=1 probes ONLY the nearest cell — and the scan is
    # partition-pruned, not filtered post-read
    one = ivf_candidates(spark, idx, q, nprobe=1, n=10)
    rows1 = one.collect()
    home = nearest(q)
    assert all(r["cell"] == home for r in rows1)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "cell" in pf.group(1), "cell probe must reach the scan"

    # ---- compaction: fold the per-batch deltas into the base ----
    # the stream wrote one batch_id dir per cell per micro-batch;
    # compact_ivf_index must collapse the store to batch_id=-1 only,
    # preserve every (vec_id, cell) assignment, and leave probe
    # results identical.
    from se_data_pipeline_spark.sources.layout import compact_ivf_index

    before = {
        r["vec_id"]: r["cell"]
        for r in spark.read.parquet(f"{idx}/cells").collect()
    }
    compact_ivf_index(spark, idx)
    compacted = spark.read.parquet(f"{idx}/cells")
    assert [
        r["batch_id"]
        for r in compacted.select("batch_id").distinct().collect()
    ] == [-1]
    after = {r["vec_id"]: r["cell"] for r in compacted.collect()}
    assert after == before
    got2 = [
        (r["cos_sim"], r["vec_id"])
        for r in ivf_candidates(
            spark, idx, q, nprobe=len(cents), n=10
        ).collect()
    ]
    assert [vid for _, vid in got2] == [vid for _, vid in expect]


def test_maintain_bq_index_all_null_first_batch_writes_nothing(
    spark, tmp_path
):
    """A first micro-batch whose vectors are ALL NULL must not create
    a zero-row partitioned store (a directory with only _SUCCESS and
    no schema-bearing files breaks every reader with
    UNABLE_TO_INFER_SCHEMA); the upsert skips it, and a later batch
    with real vectors initializes the index normally."""
    import os

    from se_data_pipeline_spark.streaming.jobs import maintain_bq_index

    schema = "vec_id bigint, embedding array<float>, label int"
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, None, None), (2, None, None)], schema
    ).coalesce(1).write.parquet(src)

    idx_dir = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(
                spark.read.parquet(src).schema
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        maintain_bq_index(stream, idx_dir, ckpt).awaitTermination(120)

    run()
    # nothing schema-bearing was written: either no dir or no files
    codes_dir = os.path.join(idx_dir, "codes")
    files = (
        [f for f in os.listdir(codes_dir) if f.startswith("batch_id=")]
        if os.path.isdir(codes_dir)
        else []
    )
    assert files == [], files

    # a later batch with real vectors initializes the store
    spark.createDataFrame(
        [(3, [1.0, -1.0, 0.5, -0.5], 0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    got = spark.read.parquet(codes_dir).select("vec_id", "code").collect()
    assert [r["vec_id"] for r in got] == [3]
    assert got[0]["code"] is not None


def test_maintain_term_stats_matches_batch(spark, sf_dir, tmp_path):
    """The incremental BM25-statistics store must equal a from-scratch
    batch computation after the stream drains (multi-batch: one file
    per trigger), and stay equal after a replay over the same
    checkpoint — the delta-partition layout makes replays overwrite
    their own batch_id partition, never double-count."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from se_data_pipeline_spark.streaming.jobs import (
        maintain_term_stats,
        read_term_stats,
    )

    # split the documents table into 2 files so availableNow +
    # maxFilesPerTrigger=1 yields two micro-batches
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    src = str(tmp_path / "docs_src")
    docs.repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    out = str(tmp_path / "term_store")
    ckpt = str(tmp_path / "ckpt")
    q = maintain_term_stats(stream, out, ckpt)
    q.awaitTermination(120)

    # at least two delta partitions landed
    batch_dirs = [
        d
        for d in os.listdir(os.path.join(out, "term_stats"))
        if d.startswith("batch_id=")
    ]
    assert len(batch_dirs) >= 2

    terms, totals = read_term_stats(spark, out)

    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    expected = {
        r["tok"]: (r["df"], r["cf"])
        for r in toks.groupBy("tok")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("cf"),
        )
        .collect()
    }
    got = {
        r["tok"]: (r["doc_freq"], r["coll_freq"]) for r in terms.collect()
    }
    assert got == expected

    trow = totals.collect()[0]
    assert trow["n_docs"] == docs.count()
    assert trow["n_tokens"] == toks.count()

    # replay on the same checkpoint: no new data -> store unchanged
    stream2 = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q2 = maintain_term_stats(stream2, out, ckpt)
    q2.awaitTermination(120)
    terms2, totals2 = read_term_stats(spark, out)
    got2 = {
        r["tok"]: (r["doc_freq"], r["coll_freq"]) for r in terms2.collect()
    }
    assert got2 == expected
    assert totals2.collect()[0]["n_docs"] == trow["n_docs"]

    shutil.rmtree(src, ignore_errors=True)


def test_bm25_from_store_matches_inline_query(spark, sf_dir, tmp_path):
    """BM25 served from the incrementally-maintained statistics store
    must produce the exact ranking and scores of the from-scratch
    doc_bm25_search — the store IS those statistics."""
    import os

    from se_data_pipeline_spark.queries.text import (
        bm25_from_term_stats,
        doc_bm25_search,
    )
    from se_data_pipeline_spark.streaming.jobs import maintain_term_stats

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    src = str(tmp_path / "docs_src")
    docs.repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "term_store")
    q = maintain_term_stats(stream, out, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    served = [
        (r["doc_id"], r["bm25"])
        for r in bm25_from_term_stats(spark, sf_dir, out).collect()
    ]
    inline = [
        (r["doc_id"], r["bm25"])
        for r in doc_bm25_search(spark, sf_dir).collect()
    ]
    assert served == inline


def test_term_stats_tokenless_first_batch_store_stays_readable(
    spark, sf_dir, tmp_path
):
    """A first micro-batch of token-less documents writes a ZERO-ROW
    terms delta (legitimately — its totals row still raises BM25's
    N). The explicit-schema reader must fold that store as empty
    terms + correct totals instead of failing UNABLE_TO_INFER_SCHEMA
    on a _SUCCESS-only partition dir, and a later batch with real
    text must fold on top normally."""
    import os

    from pyspark.sql import functions as F

    from se_data_pipeline_spark.streaming.jobs import (
        maintain_term_stats,
        read_term_stats,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    schema = docs.schema
    src = str(tmp_path / "src")
    empties = spark.createDataFrame(
        [(900001, "", "en", "s", 0), (900002, " ", "en", "s", 1)],
        schema,
    )
    empties.coalesce(1).write.parquet(src)
    out = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        maintain_term_stats(stream, out, ckpt).awaitTermination(120)

    run()
    terms, totals = read_term_stats(spark, out)
    assert terms.count() == 0
    t = totals.collect()[0]
    assert t["n_docs"] == 2  # token-less docs still raise N
    assert t["n_tokens"] == 0

    real = docs.limit(5)
    real.coalesce(1).write.mode("append").parquet(src)
    run()
    terms2, totals2 = read_term_stats(spark, out)
    toks = real.select(
        F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    assert totals2.collect()[0]["n_docs"] == 7
    assert terms2.agg(F.sum("coll_freq")).collect()[0][0] == toks.count()


def test_compact_term_stats_preserves_fold_and_resumes(
    spark, sf_dir, tmp_path
):
    """Compaction folds the delta partitions into one base partition
    without changing what readers see, and a RESUMED stream (same
    checkpoint, new input file) keeps appending deltas next to the
    base — the fold still equals a from-scratch recomputation over
    everything."""
    import os

    from pyspark.sql import functions as F

    from se_data_pipeline_spark.streaming.jobs import (
        compact_term_stats,
        maintain_term_stats,
        read_term_stats,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    src = str(tmp_path / "docs_src")
    half_a.coalesce(1).write.parquet(src)

    out = str(tmp_path / "term_store")
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        maintain_term_stats(stream, out, ckpt).awaitTermination(120)

    run_stream()

    def fold():
        terms, totals = read_term_stats(spark, out)
        return (
            {
                r["tok"]: (r["doc_freq"], r["coll_freq"])
                for r in terms.collect()
            },
            tuple(totals.collect()[0]),
        )

    before = fold()
    compact_term_stats(spark, out)
    assert fold() == before  # fold invariant under compaction

    # only the base partition remains
    parts = [
        d
        for d in os.listdir(os.path.join(out, "term_stats"))
        if d.startswith("batch_id=")
    ]
    assert parts == ["batch_id=-1"]

    # resume: second half arrives as a new file on the SAME checkpoint
    half_b.coalesce(1).write.mode("append").parquet(src)
    run_stream()

    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    expected = {
        r["tok"]: (r["df"], r["cf"])
        for r in toks.groupBy("tok")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("cf"),
        )
        .collect()
    }
    got, (n_docs, n_tokens) = fold()
    assert got == expected
    assert n_docs == docs.count()
    assert n_tokens == toks.count()


def test_compact_term_stats_under_dynamic_overwrite_session(
    spark, sf_dir, tmp_path
):
    """Compaction must be correct even when the SESSION has
    partitionOverwriteMode=dynamic set globally (the mode the
    upsert itself uses, and a common user-level default): under
    dynamic mode a naive overwrite would replace only the new
    batch_id=-1 partition and leave every old delta partition alive,
    double-counting all compacted terms on the next read. The
    compactor pins static mode internally, so the fold must be
    unchanged and only the base partition may remain."""
    import os

    from pyspark.sql import functions as F

    from se_data_pipeline_spark.streaming.jobs import (
        compact_term_stats,
        maintain_term_stats,
        read_term_stats,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    src = str(tmp_path / "docs_src")
    docs.repartition(3).write.parquet(src)  # >=2 micro-batches
    out = str(tmp_path / "term_store")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    maintain_term_stats(stream, out, str(tmp_path / "ckpt")).awaitTermination(
        120
    )

    def fold():
        terms, totals = read_term_stats(spark, out)
        return (
            {
                r["tok"]: (r["doc_freq"], r["coll_freq"])
                for r in terms.collect()
            },
            tuple(totals.collect()[0]),
        )

    before = fold()
    prev = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        compact_term_stats(spark, out)
        # the compactor restored the caller's session conf
        assert (
            spark.conf.get(
                "spark.sql.sources.partitionOverwriteMode"
            ).lower()
            == "dynamic"
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    assert fold() == before  # no double-counted deltas
    for sub in ("term_stats", "corpus_totals"):
        parts = [
            d
            for d in os.listdir(os.path.join(out, sub))
            if d.startswith("batch_id=")
        ]
        assert parts == ["batch_id=-1"], (sub, parts)


def test_refresh_ivf_index_recovers_recall_under_drift(spark, tmp_path):
    """r8 VERDICT missing #3: maintain_ivf_index assigns new vectors
    to the ORIGINAL centroids forever, so on a drifting embedding
    stream nprobe recall decays. refresh_ivf_index must re-train the
    quantizer on the current store (warm-start Lloyd) and re-assign
    cells: stale recall 0 on the drifted cluster -> 1 after refresh,
    while an UNDRIFTED index refreshes to bit-identical probe
    results (cell identities are stable under warm start)."""
    import math

    from pyspark.sql import functions as F

    from se_data_pipeline_spark.sources.layout import (
        ivf_candidates,
        refresh_ivf_index,
        write_ivf_index,
    )
    from se_data_pipeline_spark.streaming.jobs import maintain_ivf_index

    schema = "vec_id bigint, embedding array<float>, label int"
    # training-era clusters: A near [10,0,0,0] (cell 0), B near
    # [0,10,0,0] (cell 1)
    a = [(i, [10.0 + 0.1 * i, 0.1 * i, 0.0, 0.0], 0) for i in range(1, 7)]
    b = [(i, [0.1 * (i - 10), 10.0 + 0.1 * i, 0.0, 0.0], 1)
         for i in range(11, 17)]
    idx = str(tmp_path / "ivf")
    write_ivf_index(spark.createDataFrame(a + b, schema), idx)

    # drifted cluster D near [7.5, 6.5, 0, 0] — new mass the frozen
    # quantizer never saw; every D point is nearer stale cell 0
    d = [(i, [7.5 + 0.05 * (i - 24), 6.5 - 0.05 * (i - 24), 0.0, 0.0], 0)
         for i in range(21, 29)]
    src = str(tmp_path / "src")
    spark.createDataFrame(d, schema).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    maintain_ivf_index(stream, idx, str(tmp_path / "ckpt")).awaitTermination(
        120
    )
    streamed = spark.read.parquet(f"{idx}/cells").filter(
        F.col("batch_id") >= 0
    )
    assert {r["cell"] for r in streamed.collect()} == {0}, (
        "drift setup: all D points must land in stale cell 0"
    )

    # a query from the far side of D: its TRUE neighbors are D points
    # (stored in cell 0), but the STALE centroids route nprobe=1 to
    # cell 1 — recall decays to 0
    q = [6.5, 7.5, 0.0, 0.0]
    every = {vid: v for vid, v, _ in a + b + d}

    def cos(v):
        dot = sum(float(x) * y for x, y in zip(v, q))
        return dot / (
            math.sqrt(sum(float(x) ** 2 for x in v))
            * math.sqrt(sum(y * y for y in q))
        )

    true_top3 = {
        vid
        for _, vid in sorted(
            ((-cos(v), vid) for vid, v in every.items())
        )[:3]
    }

    def recall() -> float:
        got = {
            r["vec_id"]
            for r in ivf_candidates(spark, idx, q, nprobe=1, n=3).collect()
        }
        return len(got & true_top3) / len(true_top3)

    assert recall() == 0.0, "stale centroids must mis-route the probe"

    refresh_ivf_index(spark, idx, n_iters=2)
    assert recall() == 1.0, "refreshed centroids must recover recall"
    store = spark.read.parquet(f"{idx}/cells")
    assert store.count() == len(a) + len(b) + len(d), "no rows lost"
    assert [
        r["batch_id"]
        for r in store.select("batch_id").distinct().collect()
    ] == [-1], "refresh folds the store to the batch_id=-1 base"
    assert (
        spark.read.parquet(f"{idx}/centroids").count() == 2
    ), "warm start preserves the cell count"

    # ---- undrifted index: refresh must be probe-IDENTICAL ----
    idx2 = str(tmp_path / "ivf_stable")
    write_ivf_index(spark.createDataFrame(a + b, schema), idx2)
    q2 = [9.0, 1.0, 0.0, 0.0]

    def probe2():
        return [
            (r["vec_id"], r["cell"], round(r["cos_sim"], 9))
            for r in ivf_candidates(
                spark, idx2, q2, nprobe=2, n=5
            ).collect()
        ]

    before = probe2()
    refresh_ivf_index(spark, idx2, n_iters=3)
    assert probe2() == before

"""Streaming jobs over the `events` table (SURVEY §2.11): watermarked
tumbling/sliding windows, session windows, stateful dedup, and the
foreachBatch publish sink that upgrades the reference's
at-least-once upload loop (T2/T3) to exactly-once.

Batch/streaming parity: each streaming aggregation here is the same
logical plan as its batch twin in queries/events.py — Spark's unified
engine guarantee. Tests run them with trigger(availableNow=True) over
the driver parquet and compare against the batch results.

Scale: state stores hold only open windows/keys (watermark evicts the
rest); dropDuplicates state is bounded by the watermark horizon. On a
cluster, run these jobs under ``get_spark(streaming=True)``
(session.STREAMING_STATE_CONF): the RocksDB state-store provider plus
changelog checkpointing, bounded native memory — the profile is
tested end-to-end (a stateful twin executes under RocksDB and matches
its batch answer) in tests/test_streaming.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from se_data_pipeline_spark.sources.layout import (
    _BQ,
    _FREQUENCY,
    _IVF,
    _MINHASH,
    _POSITIONAL,
    _SHINGLE,
    POSTINGS_TOK_BUCKETS,
    _committed_state,
    _dyn_overwrite,
    _hadoop_path,
    _mark_batch,
    _no_commit,
    _store_deltas,
    _totals_row,
    _write_postings_meta,
    guard_stream_batch,
    recover_compacting,
)
from se_data_pipeline_spark.sources.publish import CheckpointedPublisher

def _read_store_or_none(spark: SparkSession, path: str):
    """Read an incremental store; None ONLY if the store does not
    exist yet (the legitimate first-batch case). Any OTHER read
    failure — corrupt files, filesystem errors, permissions —
    propagates: the previous bare `except Exception` here treated
    every failure as "first batch" and the next overwrite silently
    RESET the store (r7 hardening, same severity class as the
    compact_term_stats overwrite-mode bug)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        # Error-CLASS equality only (pyspark 4.x always populates it).
        # The previous str(exc) substring fallback could misclassify
        # an unrelated AnalysisException whose message merely mentions
        # the token (e.g. a nested cause) as "first batch" and let the
        # next overwrite silently reset the store (ADVICE r7).
        if exc.getCondition() == "PATH_NOT_FOUND":
            return None
        raise


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the driver's events parquet.

    readStream needs an explicit schema, and the driver parquet's
    `ts` has shipped as both TIMESTAMP(NANOS) (reads as long under
    the legacy conf, needs a micros rebuild) and plain timestamp[us]
    (reads as TIMESTAMP_NTZ natively). Probe the footer with a batch
    read — same logic as catalog.load_table — and stream with
    whatever physical schema the file actually carries."""
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    physical = spark.read.parquet(path).schema
    raw = (
        spark.readStream.schema(physical)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if physical["ts"].dataType.simpleString() == "bigint":
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # withWatermark rejects TIMESTAMP_NTZ (EVENT_TIME_IS_NOT_ON_
    # TIMESTAMP_TYPE); the NTZ→TZ cast interprets wall time in the
    # session tz and collect() converts back in the same tz, so
    # window starts round-trip identically to the batch NTZ path.
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def hourly_tumbling(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling 1-hour counts — the streaming twin of
    queries/events.events_hourly_tumbling. Late rows beyond the
    watermark are dropped; state holds only open windows."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked sliding window (2 h size / 1 h slide) — streaming
    twin of queries/events.events_sliding_window. Window assignment
    is row-local (each event emits into two windows); only the final
    aggregate shuffles."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


def session_windows(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session_window sessionization (the batch twin derives
    sessions with lag/cumsum — queries/events.user_sessions)."""
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_events(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """T1: stateful exactly-once-per-key dedup — the streaming form of
    the ingest-ledger anti-join.

    CAVEAT this variant carries deliberately: dropDuplicates on a
    key subset WITHOUT the event-time column keeps state for every
    key ever seen — the watermark does NOT evict it (eviction
    requires the watermark column in the subset). That is the right
    trade when the key universe is bounded (an ingest ledger of
    video ids); for unbounded keys use
    `dedup_events_within_watermark` below."""
    return stream.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def dedup_events_within_watermark(
    stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Bounded-state streaming dedup: `dropDuplicatesWithinWatermark`
    guarantees dedup among events whose times fall within the
    watermark delay of each other and EVICTS key state once the
    watermark passes it — memory is bounded by the lateness horizon,
    not by key-universe history. This is the only dedup shape that
    survives an unbounded key space (event ids at 100 TB/day);
    duplicates arriving farther apart than the delay are by contract
    not caught (route those to the batch ledger anti-join)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def maintain_hourly_rollup(
    stream: DataFrame, out_dir: str, checkpoint_dir: str
):
    """Incremental materialized-view maintenance: the watermarked
    hourly aggregate runs in UPDATE mode, and each micro-batch
    UPSERTS its changed windows into a day-partitioned parquet store
    (read the touched day partitions, anti-join out superseded rows,
    rewrite only those partitions via dynamic partition overwrite).

    This is the continuous-aggregate pattern at the storage layer:
    downstream readers always see a complete, deduplicated hourly
    tier without rescanning raw events, and a 100 TB history costs
    each batch only the partitions it actually touched. (On a
    Delta/Iceberg table this whole function is one MERGE INTO; this
    is the plain-parquet equivalent with the same keys.)"""

    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.withColumn(
            "day", F.to_date("window_start")
        ).localCheckpoint()  # decouple from the streaming source plan
        if batch.isEmpty():
            return
        days = [r["day"] for r in batch.select("day").distinct().collect()]
        store = _read_store_or_none(spark, out_dir)
        if store is None:  # first batch: no store yet
            merged = batch
        else:
            existing = store.filter(F.col("day").isin(days))
            keep = existing.join(
                batch.select("window_start", "event_type"),
                ["window_start", "event_type"],
                "left_anti",
            )
            # materialize BEFORE the overwrite: Spark (rightly)
            # refuses plans that read the path they overwrite
            merged = keep.unionByName(batch).localCheckpoint()
        # per-WRITER overwrite mode (r7, _dyn_overwrite): no
        # save/set/restore of the session conf, no race with
        # concurrent writers pinning the other mode
        _dyn_overwrite(merged, ["day"], out_dir)

    return (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(upsert)
        .trigger(availableNow=True)
        .start()
    )


def maintain_bq_index(
    vec_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Streaming maintenance of the binary-quantization ANN index: the
    foreachBatch twin of sources/layout.write_bq_index on the shared
    maintainer skeleton (_maintain_doc_store, layout._BQ). Each
    micro-batch packs its vectors' 64-bit sign codes
    (functions/vectors.pack_sign_bits — one Catalyst expression, no
    UDF) into ``out_dir/codes/batch_id=N`` and marks the batch
    committed LAST: a replayed micro-batch overwrites ITS OWN
    partitions, and a batch that died before its commit marker serves
    nothing until the replay commits it.

    The index stores (vec_id, code) ONLY — 8 bytes of searchable
    state per vector; the full float payloads stay in the source
    table and are touched only by the stage-2 exact rerank
    (queries/vectors.embedding_binary_quant_rerank).

    Re-emitted ids (an UPDATED embedding arriving in a later
    micro-batch): latest code wins. Every id of the batch gets a
    tombstone at the batch id, so its older codes die for every
    reader (bq_candidates) and sources/layout.compact_bq_index drops
    them physically (run while the stream is stopped). A NULL vector
    therefore DELETES its id: a tombstone with no code (the
    revise_ivf_vectors rule)."""
    return _maintain_doc_store(
        _BQ,
        vec_stream.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        ),
        out_dir,
        checkpoint_dir,
        None,
        True,
    )


def maintain_ivf_index(
    vec_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    attr_cols: tuple = (),
):
    """Streaming maintenance of the IVF ANN index on the shared
    maintainer skeleton (_maintain_doc_store, layout._IVF): new
    vectors are assigned to their nearest coarse-quantizer cell and
    appended to ``index_path/cells`` under a ``cell=C/batch_id=N``
    partition via per-writer dynamic partition overwrite, then the
    commit marker LAST — a replayed micro-batch overwrites ITS
    OWN partitions, so restarts never duplicate rows, and
    ivf_candidates' cell-IN(...) partition pruning is oblivious to
    the batch_id split below the cell directories.

    Cell assignment is SHUFFLE-FREE: the centroid table (bounded,
    n_cells x dims — built once by sources/layout.write_ivf_index,
    which MUST have run first) is read once at job start and folded
    into a single row-local Catalyst argmin expression
    (layout._nearest_cell_expr) — no UDF, no join.

    PRECONDITION — new ids only: a RE-EMITTED id (updated embedding)
    would leave its stale row alive in the old (cell, batch_id)
    partition, and because the new embedding may land in a DIFFERENT
    cell, no read-side dedupe inside the probed cells can see the
    newer copy — so updates go through sources/layout.
    revise_ivf_vectors (tombstone + replacement row, run while this
    stream is stopped), a rebuild (write_ivf_index), or
    refresh_ivf_index — never a streamed re-emit. A NULL vector is
    unsearchable and skipped. The quantizer is likewise frozen at job
    start: re-training centroids invalidates the cell layout and is a
    rebuild, not maintenance (retrain + reindex offline, serve the
    frozen epoch). A pq-carrying store (write_ivf_index(pq=True))
    likewise freezes its PQ codebook: each micro-batch's rows are
    ADC-encoded with the same row-local Catalyst argmin as the batch
    writers, so the ivf_pq_funnel serves stream-appended vectors
    unchanged. ``attr_cols`` carries the stream's metadata columns
    into the cells rows (the filtered-ANN attributes, write_ivf_index's
    contract — pass the SAME columns the store was built with)."""
    return _maintain_doc_store(
        _IVF,
        vec_stream.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("embedding"),
            *attr_cols,
        ),
        index_path,
        checkpoint_dir,
        None,
        False,
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the driver's documents parquet (for
    the streaming curation operators)."""
    import os

    physical = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).schema
    return (
        spark.readStream.schema(physical)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def near_dup_bucket_stream(docs_stream: DataFrame) -> DataFrame:
    """Streaming MinHash-LSH near-dup filter: the stateful twin of
    the batch minhash_lsh_candidates pipeline. Each incoming document
    emits its 4 band rows (same _mh_band_rows kernel as batch — one
    mapInPandas, signatures are 16 longs regardless of doc size);
    state per (band, sig) bucket remembers the FIRST document that
    claimed the bucket. A document is a near-dup candidate iff any of
    its band rows comes back with first_doc != doc_id — exactly the
    batch LSH candidate relation, evaluated incrementally.

    Scale: state is one long per occupied bucket, sharded across
    executors by the (band, sig) key; use the RocksDB provider for
    corpus-scale keyspaces. In-batch arrival order is made
    deterministic by processing each micro-batch's bucket members in
    doc_id order."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from se_data_pipeline_spark.queries.text import _mh_band_rows

    bands = docs_stream.select("doc_id", "text").mapInPandas(
        _mh_band_rows, "doc_id long, band long, sig string"
    )

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("band", LongType()),
            StructField("sig", StringType()),
            StructField("first_doc", LongType()),
        ]
    )
    state_schema = StructType([StructField("first", LongType())])

    def mark(key, pdfs, state: GroupState):
        first = state.get[0] if state.exists else None
        rows = []
        for pdf in pdfs:
            for doc_id in sorted(int(v) for v in pdf["doc_id"]):
                if first is None:
                    first = doc_id
                rows.append((doc_id, key[0], key[1], first))
        state.update((first,))
        yield pd.DataFrame(
            rows, columns=["doc_id", "band", "sig", "first_doc"]
        )

    return bands.groupBy("band", "sig").applyInPandasWithState(
        mark,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def span_dedup_stream(docs_stream: DataFrame) -> DataFrame:
    """Streaming exact span dedup: the stateful twin of the batch
    doc_span_dedup rewrite (queries/text.py). Incoming documents are
    split into the SAME non-overlapping K-token chunks by the SAME
    Catalyst helper (_span_chunk_frame — one codepath, guaranteed
    parity); state per chunk hash remembers the first-ever occurrence
    (doc_id, cidx). Each chunk row is emitted with a `keep` flag:
    True iff this occurrence IS the first. A foreachBatch consumer
    reassembles documents batch-locally (all chunks of a doc arrive
    in the doc's own micro-batch), exactly as the batch query's
    final groupBy does.

    Winner semantics across the two forms: batch = global
    min(doc_id, cidx); streaming = FIRST ARRIVAL (micro-batch order,
    then (doc_id, cidx) within the batch — made deterministic by the
    in-batch sort). When the stream replays a corpus in doc_id order
    the two agree exactly (parity-tested); on an out-of-order stream
    "first arrival" is the only definition an incremental pass can
    implement, and it is the one a dedup-at-ingest pipeline wants.

    Scale: state is 12 bytes per DISTINCT chunk, sharded by the
    8-byte hash across executors — the RocksDB provider holds
    corpus-scale keyspaces; the shuffle carries the hash, never
    rewinds history."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from se_data_pipeline_spark.queries.text import _span_chunk_frame

    chunks = _span_chunk_frame(docs_stream.select("doc_id", "text"))

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("cidx", IntegerType()),
            StructField("chunk", StringType()),
            StructField("keep", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("first_doc", LongType()),
            StructField("first_cidx", IntegerType()),
        ]
    )

    def mark(key, pdfs, state: GroupState):
        first = tuple(state.get) if state.exists else None
        rows = []
        batch_rows = sorted(
            (
                (int(d), int(c), t)
                for pdf in pdfs
                for d, c, t in zip(
                    pdf["doc_id"], pdf["cidx"], pdf["chunk"]
                )
            ),
        )
        for doc_id, cidx, chunk in batch_rows:
            keep = first is None
            if first is None:
                first = (doc_id, cidx)
            rows.append((doc_id, cidx, chunk, keep))
        state.update(first)
        yield pd.DataFrame(
            rows, columns=["doc_id", "cidx", "chunk", "keep"]
        )

    return chunks.groupBy("ck").applyInPandasWithState(
        mark,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_totals_stateful(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running totals with a budget flag — the reference's loop-carried
    per-channel accumulators (`_total_downloaded_duration`,
    data_pipeline.py:562-568, SURVEY W3/T1) as managed, fault-tolerant
    streaming state instead of Python locals.

    State per key = (total, n); each micro-batch folds its rows in
    vectorized pandas and emits the updated running state. At 100 TB
    the state store shards by key across executors — use the RocksDB
    provider for large keyspaces."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("total_value", DoubleType()),
            StructField("n_events", LongType()),
            StructField("over_budget", BooleanType()),
        ]
    )
    state_schema = StructType(
        [StructField("total", DoubleType()), StructField("n", LongType())]
    )
    budget = 100.0

    def update(key, pdfs, state: GroupState):
        total, n = state.get if state.exists else (0.0, 0)
        for pdf in pdfs:
            total += float(pdf["value"].sum())
            n += len(pdf)
        state.update((total, n))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "total_value": [total],
                "n_events": [n],
                "over_budget": [total > budget],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_totals_tws(stream: DataFrame) -> DataFrame:
    """The same per-user running totals as `running_totals_stateful`,
    on Spark 4's transformWithStateInPandas (the successor API to
    applyInPandasWithState): typed state handles (ValueState /
    ListState / MapState / timers) instead of one opaque state tuple,
    with per-state TTL support.

    Keeping both forms shows the migration path; semantics are
    pinned identical by the parity test. At 100 TB the state store
    shards by key and the RocksDB provider (required by this API)
    spills cold keys to executor-local disk, so the keyspace isn't
    memory-bounded.

    Runtime requirements: the RocksDB state store provider AND the
    `protobuf` package (the TWS driver<->worker channel speaks proto;
    pyspark does not vendor it). The parity test skips where protobuf
    is absent — applyInPandasWithState above has no such dependency
    and stays the default."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    budget = 100.0

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "total double, n long"
            )

        def handleInputRows(self, key, rows, timerValues):
            prev = self._totals.get()
            total, n = prev if prev is not None else (0.0, 0)
            for pdf in rows:
                total += float(pdf["value"].sum())
                n += len(pdf)
            self._totals.update((total, n))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "total_value": [total],
                    "n_events": [n],
                    "over_budget": [total > budget],
                }
            )

        def close(self) -> None:
            pass

    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType=(
            "user_id long, total_value double, n_events long, "
            "over_budget boolean"
        ),
        outputMode="Update",
        timeMode="None",
    )


def near_dup_bucket_tws(docs_stream: DataFrame) -> DataFrame:
    """transformWithStateInPandas twin of near_dup_bucket_stream:
    identical bucket-first semantics via the Spark 4 typed-state API
    (ValueState per bucket key) — parity pinned by test. Same runtime
    requirements as running_totals_tws (RocksDB provider +
    protobuf)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from se_data_pipeline_spark.queries.text import _mh_band_rows

    bands = docs_stream.select("doc_id", "text").mapInPandas(
        _mh_band_rows, "doc_id long, band long, sig string"
    )

    class BucketFirst(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._first = handle.getValueState("first", "first_doc long")

        def handleInputRows(self, key, rows, timerValues):
            prev = self._first.get()
            first = prev[0] if prev is not None else None
            out = []
            for pdf in rows:
                for doc_id in sorted(int(v) for v in pdf["doc_id"]):
                    if first is None:
                        first = doc_id
                    out.append((doc_id, key[0], key[1], first))
            self._first.update((first,))
            yield pd.DataFrame(
                out, columns=["doc_id", "band", "sig", "first_doc"]
            )

        def close(self) -> None:
            pass

    return bands.groupBy("band", "sig").transformWithStateInPandas(
        statefulProcessor=BucketFirst(),
        outputStructType=(
            "doc_id long, band long, sig string, first_doc long"
        ),
        outputMode="Append",
        timeMode="None",
    )


def click_purchase_attribution(
    stream: DataFrame, horizon: str = "10 minutes", how: str = "inner"
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the
    same user's clicks in the preceding `horizon`. Both sides carry
    watermarks and the join condition is time-bounded, so each side's
    buffered state is evicted once the other side's watermark passes
    the interval — bounded memory regardless of stream length. An
    unbounded-condition stream-stream join would keep ALL history in
    state; the interval bound is what makes this run forever.

    how="left_outer" additionally emits each UNMATCHED purchase once
    (null click columns) — but only after the click-side watermark
    passes its interval, because until then a matching click could
    still arrive. Purchases younger than watermark+horizon at stream
    end therefore stay unemitted: outer results are eventually
    complete, never early — the defining semantics of watermarked
    outer joins (the batch twin has no such cutoff; tests assert
    containment, not equality, for the null rows).

    how="full_outer" (r7) symmetrically also emits each UNMATCHED
    click once (null purchase columns) under the same
    watermark-gated eventual-completeness contract on both sides —
    the audit shape for "every click AND every purchase accounted
    for" over unbounded streams.
    """
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return purchases.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon}")
        ),
        how,
    ).select(
        "purchase_id",
        # full_outer emits unmatched CLICKS with a NULL purchase side;
        # their user comes from the click side (the join condition
        # forces equality whenever both sides are present, so the
        # coalesce is the identity for inner/matched rows)
        F.coalesce("user_id", "c_user").alias("user_id"),
        "purchase_ts",
        "purchase_value",
        "click_id",
        "click_ts",
    )


def publish_batches(
    df: DataFrame,
    publisher: CheckpointedPublisher,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """T2/K7: the periodic-flush upload as a foreachBatch sink. The
    micro-batch id is the batch key (the reference's `v_idx % 30`
    cadence becomes trigger cadence); CheckpointedPublisher makes
    replayed batches no-ops, so end-to-end it is exactly-once —
    the §7.4 upgrade over retry-only uploading."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        records = [r for r in batch_df.toJSON().collect()]
        publisher.publish(f"batch-{batch_id:09d}", records)

    writer = (
        df.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def publish_batches_distributed(
    df: DataFrame,
    publisher,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Data-sized twin of publish_batches: same exactly-once batch-id
    ledger, but each partition uploads its own shard from the
    executor (DistributedPublisher.publish_batch) instead of
    collecting the micro-batch to the driver. Use this whenever the
    batch holds records rather than a metadata document."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        publisher.publish_batch(batch_df, f"batch-{batch_id:09d}")

    writer = (
        df.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def rolling_24h_stateful(stream: DataFrame) -> DataFrame:
    """Streaming twin of the batch `events_rolling_24h` RANGE-frame
    window: per-user trailing-24h sum/count at every event, computed
    with applyInPandasWithState. State per user = the event buffer
    inside the 24 h horizon (ts-micros + value arrays); each batch
    appends, evicts everything older than `newest - 24h`, and emits
    one row per NEW event with its trailing aggregate (two-pointer
    via numpy searchsorted over the sorted buffer + prefix sums).

    Assumes events at most 24 h late (the same bound a watermark
    would declare) — older stragglers would need buffer replay.
    State is bounded by events-per-user-per-day, not history."""
    import numpy as np
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    horizon_us = 24 * 3600 * 1_000_000

    out_schema = (
        "event_id long, user_id long, sum_24h double, n_24h long"
    )
    state_schema = "ts array<long>, vals array<double>"

    def update(key, pdfs, state: GroupState):
        if state.exists:
            ts_buf, val_buf = state.get
            ts_buf = list(ts_buf)
            val_buf = list(val_buf)
        else:
            ts_buf, val_buf = [], []
        n_old = len(ts_buf)
        new_ts, new_val, new_ids = [], [], []
        for pdf in pdfs:
            # ts arrives as datetime64[us]-backed pandas timestamps
            new_ts.extend(
                int(t) for t in pdf["ts"].astype("datetime64[us]").astype("int64")
            )
            new_val.extend(float(v) for v in pdf["value"])
            new_ids.extend(int(i) for i in pdf["event_id"])
        all_ts = np.array(ts_buf + new_ts, dtype="int64")
        all_val = np.array(val_buf + new_val, dtype="float64")
        order = np.argsort(all_ts, kind="stable")
        all_ts, all_val = all_ts[order], all_val[order]
        # rolling window per event: [ts - horizon, ts]
        left = np.searchsorted(all_ts, all_ts - horizon_us, side="left")
        csum = np.concatenate([[0.0], np.cumsum(all_val)])
        idx_of = {int(t): i for i, t in enumerate(all_ts)}
        # emit rows only for this batch's events
        rows = []
        ts_by_id = dict(zip(new_ids, new_ts))
        for eid in new_ids:
            i = idx_of[ts_by_id[eid]]
            rows.append(
                (
                    eid,
                    key[0],
                    round(float(csum[i + 1] - csum[left[i]]), 6),
                    int(i + 1 - left[i]),
                )
            )
        # evict events older than the horizon behind the newest
        keep = all_ts >= (all_ts[-1] - horizon_us) if len(all_ts) else []
        state.update((
            [int(t) for t in all_ts[keep]],
            [float(v) for v in all_val[keep]],
        ))
        _ = n_old
        yield pd.DataFrame(
            rows, columns=["event_id", "user_id", "sum_24h", "n_24h"]
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def progress_listener(spark: SparkSession, log: list) -> "object":
    """K8 parity: the reference funnels worker logs through a
    Manager().Queue() to a listener process (data_pipeline.py:459-497,
    766-779). The engine equivalent is a StreamingQueryListener —
    Spark delivers query lifecycle + per-batch progress events
    (rows/sec, batch duration, state size) to the driver without any
    operator in the data path. Appends one dict per progress event to
    `log`; returns the listener (call spark.streams.removeListener
    when done)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            log.append({"event": "started", "id": str(event.id)})

        def onQueryProgress(self, event):
            p = event.progress
            log.append(
                {
                    "event": "progress",
                    "batch_id": p.batchId,
                    "num_input_rows": p.numInputRows,
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            log.append({"event": "terminated", "id": str(event.id)})

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener


def maintain_distinct_sketches(
    stream: DataFrame, out_dir: str, checkpoint_dir: str
):
    """Incremental DISTINCT-COUNT maintenance via mergeable HLL
    sketches: each micro-batch aggregates its rows into per-day user
    sketches (`hll_sketch_agg`) and `hll_union_agg`-merges them into
    a tiny parquet sketch store — the streaming twin of
    `events_distinct_sketch_rollup`.

    Why sketches are the RIGHT streaming state for distinct counts:
    (a) insertion is idempotent per value, so replayed or late events
    can never inflate the user count — no watermark, dedup state, or
    exactly-once sink machinery is needed for the estimate itself
    (the n_events counter, a plain sum, stays at-least-once and is
    labeled so); (b) the union is commutative/associative, so event-
    time order is irrelevant; (c) the store is O(days × sketch size),
    KB-scale forever, so the whole-store re-merge each batch is
    driver-cheap while 100 TB of raw history never gets rescanned."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = (
            batch_df.groupBy(F.date_trunc("day", "ts").alias("day"))
            .agg(
                F.hll_sketch_agg("user_id").alias("sk"),
                F.count(F.lit(1)).alias("n_events_at_least_once"),
            )
            .localCheckpoint()  # decouple from the streaming plan
        )
        if batch.isEmpty():
            return
        existing = _read_store_or_none(spark, out_dir)
        if existing is None:  # first batch: no store yet
            merged = batch
        else:
            merged = (
                existing.unionByName(batch)
                .groupBy("day")
                .agg(
                    F.hll_union_agg("sk").alias("sk"),
                    F.sum("n_events_at_least_once").alias(
                        "n_events_at_least_once"
                    ),
                )
                # materialize BEFORE overwriting the path being read
                .localCheckpoint()
            )
        merged.write.mode("overwrite").parquet(out_dir)

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(upsert)
        .trigger(availableNow=True)
        .start()
    )


def enrich_stream_with_dimension(
    stream: DataFrame,
    dim: DataFrame,
    on: str = "user_id",
) -> tuple[DataFrame, DataFrame]:
    """Stream-static dimension enrichment with dead-letter routing:
    the event stream LEFT-joins a broadcast static dimension, then
    splits into (enriched, unmatched). Unmatched rows — events whose
    key the dimension doesn't know — go to the dead-letter branch
    instead of silently carrying nulls downstream (T4, the typed
    error-routing discipline from the acquire stage, applied to
    reference-data gaps).

    Scale/streaming notes: a stream-STATIC join needs no watermark
    and no state — each micro-batch hash-joins against the broadcast
    table (re-resolved per batch, so a reloaded dimension snapshot
    is picked up on the next trigger); only stream-STREAM joins pay
    interval-bounded state. The broadcast hint is correct for
    dimension-sized tables; drop it and AQE picks the strategy for
    fact-sized reference data."""
    enriched = stream.join(F.broadcast(dim), on, "left")
    dim_cols = [c for c in dim.columns if c != on]
    matched = enriched.filter(F.col(dim_cols[0]).isNotNull())
    dead_letter = stream.join(F.broadcast(dim), on, "left_anti")
    return matched, dead_letter




def maintain_term_stats(
    docs_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 64,
):
    """Incremental lexical-index statistics maintenance: each
    micro-batch of (append-only, unique doc_id) documents writes its
    per-term document-frequency / collection-frequency DELTAS plus a
    one-row corpus-totals delta (n_docs, n_tokens) — together exactly
    the statistics BM25 / TF-IDF scoring needs (queries/text.py
    doc_bm25_search), kept fresh without ever rescanning the corpus.

    Exactly-once by LAYOUT on the shared maintainer skeleton
    (_maintain_store): the terms delta lands in a `batch_id=N`
    partition first, then the corpus_totals row computed beside it,
    both via dynamic partition overwrite, and the commit marker LAST,
    so a replayed micro-batch overwrites ITS OWN partitions and
    nothing else, and a batch that died before its marker is
    invisible to read_term_stats until the replay commits it. A periodic
    compact_term_stats bounds the partition count. The idempotence
    assumes the SAME checkpoint directory across restarts (batch ids
    are checkpoint-scoped); re-pointing an existing store at a fresh
    checkpoint restarts ids at 0 and overwrites old deltas — use a
    new out_dir with a new checkpoint (or compact first). Each delta
    is VOCABULARY-sized (the corpus-sized token stream collapses in
    the batch-local groupBy), and `bucket` = pmod(xxhash64(term),
    n_buckets) sub-partitions terms so the reader's fold and any
    bucket-targeted lookup prune files."""
    return _maintain_store(
        docs_stream,
        out_dir,
        checkpoint_dir,
        "term-stats store",
        "term_stats/batch_id=-1",
        lambda: lambda spark, batch, batch_id: _term_stats_deltas(
            out_dir, n_buckets, batch_id, *_term_stats_frames(batch)
        ),
    )


# Explicit store schema (data columns + the batch_id/bucket partition
# columns; corpus_totals is read by layout._committed_state): passing
# it to the reader avoids the footer-
# inference job on a many-partition store AND keeps a zero-data-file
# directory readable as an empty frame — a first micro-batch of
# token-less documents legitimately writes a zero-row terms delta
# (its totals row still raises BM25's N), which would otherwise
# leave a _SUCCESS-only dir that fails UNABLE_TO_INFER_SCHEMA.
_TERM_STATS_SCHEMA = (
    "tok string, doc_freq bigint, coll_freq bigint, "
    "batch_id int, bucket bigint"
)


def _term_stats_frames(docs: DataFrame, sign: int = 1):
    """(per-term, totals) statistics of one document set, scaled by
    `sign` (-1 subtracts a replaced version): per term its document
    and collection frequency, and one (n_docs, n_tokens) row. n_docs
    counts every document (a token-less doc still raises BM25's N),
    so it comes from docs, not toks."""
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    per_term = toks.groupBy("tok").agg(
        (F.countDistinct("doc_id") * sign).alias("doc_freq"),
        (F.count(F.lit(1)) * sign).alias("coll_freq"),
    )
    totals = docs.agg(
        (F.count(F.lit(1)) * sign).cast("long").alias("n_docs")
    ).crossJoin(
        toks.agg((F.count(F.lit(1)) * sign).cast("long").alias("n_tokens"))
    )
    return per_term, totals


def _bucketed_terms(terms: DataFrame, n_buckets: int, batch_id: int):
    return terms.select(
        "tok",
        "doc_freq",
        "coll_freq",
        F.pmod(F.xxhash64("tok"), F.lit(n_buckets)).alias("bucket"),
        F.lit(batch_id).alias("batch_id"),
    )


def _term_stats_deltas(
    out_dir: str,
    n_buckets: int,
    batch_id: int,
    per_term: DataFrame,
    totals: DataFrame,
):
    """Write one term-stats batch's deltas: the terms delta, through
    layout._overlap_writes like every store writer's, then the
    corpus_totals row. The caller marks the batch committed LAST."""
    # resolved per call, not at import: layout's one overlap point
    # (and a fault injected there) covers this writer too
    from se_data_pipeline_spark.sources.layout import _overlap_writes

    _overlap_writes(
        lambda: _dyn_overwrite(
            _bucketed_terms(per_term, n_buckets, batch_id),
            ["batch_id", "bucket"],
            f"{out_dir}/term_stats",
        )
    )
    _dyn_overwrite(
        totals.withColumn("batch_id", F.lit(batch_id)).coalesce(1),
        ["batch_id"],
        f"{out_dir}/corpus_totals",
    )


def _maintain_store(
    docs_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    label: str,
    base: str,
    writer,
):
    """The foreachBatch skeleton of every store maintainer (posting,
    positional, shingle, MinHash, IVF, BQ and term stats), started as
    an availableNow query.

    At job start, in this order: finish a compaction swap that died
    between its delete and its rename (layout.recover_compacting —
    before any other check, or the maintainer would find no store,
    create a fresh one beside the orphaned ``.compacting`` sibling
    and lose the real one for good); refuse a crashed build; then
    ``writer()`` resolves the store's frozen state and returns the
    per-batch writer. A store holding build rows (``base``: the glob
    of its ``batch_id=-1`` dirs under out_dir) without its
    ``batches`` commit markers is a crashed build, refused with the
    shared missing-commit error: its first commit would otherwise make
    the build's rows serve. Both checks are driver-side filesystem
    calls, no Spark job; the maintainer's own uncommitted batches
    (ids >= 0) are its checkpoint replay's to overwrite and never
    block it.

    Per micro-batch: localCheckpoint the batch (decoupled from the
    stream), skip it when empty, fail LOUDLY when its
    checkpoint-scoped id collides with an offline-claimed fence id
    (layout.guard_stream_batch, one directory listing — resuming an
    old checkpoint after an offline revision would reuse its id and
    clobber its partitions), then ``write_batch(spark, batch,
    batch_id)`` writes the batch's deltas, and the batch is marked
    committed LAST (layout._mark_batch of ``batches/batch_id=N``, no
    Spark job) — the offline writers' crash order. Exactly-once by
    LAYOUT: a replayed micro-batch overwrites ITS OWN batch_id
    partitions (dynamic partition overwrite) and nothing else, so a
    batch that died before its marker is invisible to every reader
    until the restart from its checkpoint replays and commits it."""
    spark = docs_stream.sparkSession
    recover_compacting(spark, out_dir)
    fs, built = _hadoop_path(spark, f"{out_dir}/{base}")
    _, committed = _hadoop_path(spark, f"{out_dir}/batches")
    if list(fs.globStatus(built) or []) and not fs.exists(committed):
        raise _no_commit(out_dir)
    write_batch = writer()

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.localCheckpoint()  # decouple from the stream
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        guard_stream_batch(
            spark,
            f"{out_dir}/offline_fence",
            batch_id,
            f"{label} at {out_dir}",
        )
        write_batch(spark, batch, batch_id)
        _mark_batch(spark, f"{out_dir}/batches", batch_id)

    return (
        docs_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(upsert)
        .trigger(availableNow=True)
        .start()
    )


def _maintain_doc_store(
    spec,
    docs_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    n_buckets: int | None,
    allow_revisions: bool,
):
    """The maintainer of a layout._DocStore family: each micro-batch
    appends its rows under ``batch_id=N`` through the family's frame
    builder (layout._store_deltas — the builder the batch writer and
    the offline revision use, so batch-built and stream-maintained
    stores serve through the same readers), then the skeleton's
    commit marker, LAST.
    ``allow_revisions=True`` also tombstones every batch id at N, so a
    re-emitted document's or vector's stale rows die for every reader
    (a changed document changes its rows); the default keeps the
    append-only-unique-ids contract.

    The frozen layout state is resolved once, at job start, after the
    skeleton's swap recovery and crashed-build check (it is
    immutable, and offline ops are fenced out while the stream runs):
    a store's side tables through layout._committed_state — the IVF
    quantizers, or a bucketed store's modulus once its meta table
    exists, so a restart with a different ``n_buckets`` cannot fork
    the layout mid-store. Otherwise the store-creating batch uses
    ``n_buckets`` (default POSTINGS_TOK_BUCKETS) and writes meta ONCE,
    after its rows and before its commit marker: a per-batch
    delete+write of the one-row table would open a window where a
    concurrent serve reads 'has no meta table'."""
    spark = docs_stream.sparkSession
    fs, meta = _hadoop_path(spark, f"{out_dir}/meta")

    def writer():
        if spec.bucketed and not fs.exists(meta):
            frozen = POSTINGS_TOK_BUCKETS if n_buckets is None else n_buckets
        elif spec.side:
            st = _committed_state(spark, out_dir, spec.side, mark=False)
            frozen = st["n_buckets"] if spec.bucketed else st
        else:
            frozen = None

        def write_batch(spark, batch, batch_id):
            _store_deltas(
                spec, batch, out_dir, batch_id, frozen, allow_revisions
            )
            if spec.bucketed and not fs.exists(meta):
                _write_postings_meta(spark, out_dir, frozen)

        return write_batch

    return _maintain_store(
        docs_stream,
        out_dir,
        checkpoint_dir,
        spec.label,
        f"{spec.rows}/{'*/' if spec.nested else ''}batch_id=-1",
        writer,
    )


def maintain_posting_lists(
    docs_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    n_buckets: int | None = None,
    allow_revisions: bool = False,
):
    """Incremental BM25 posting-list maintenance: each micro-batch of
    documents appends its (term, doc_id, tf, dl) rows under a
    ``batch_id=N/tok_bucket=...`` partition plus a doclens-ledger
    delta, then its one-row totals delta and the commit marker LAST
    (_maintain_doc_store — the SAME spec as the batch builder,
    layout._FREQUENCY), so a stream-maintained store serves through
    bm25_from_postings unchanged and a periodic compact_posting_lists
    folds the deltas back to the base. The bucket modulus follows the _maintain_store
    meta protocol (default POSTINGS_TOK_BUCKETS).

    ``allow_revisions=False`` (default) keeps the append-only-unique-
    doc_ids contract: no read-side work per batch.
    ``allow_revisions=True`` is the streaming twin of
    sources/layout.revise_posting_lists: a batch may RE-EMIT doc_ids
    already in the store — each gets a tombstone at this batch id
    (killing its older rows for every reader) and the totals delta
    becomes a CORRECTION (new counts minus the replaced versions',
    old dl from the O(n_docs) doclens ledger — one bounded fold per
    micro-batch, the price of upsert semantics; the fold excludes the
    current batch id, so a replay recomputes the identical
    correction)."""
    return _maintain_doc_store(
        _FREQUENCY,
        docs_stream,
        out_dir,
        checkpoint_dir,
        n_buckets,
        allow_revisions,
    )


def maintain_positional_postings(
    docs_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    n_buckets: int | None = None,
    allow_revisions: bool = False,
):
    """Incremental POSITIONAL posting-list maintenance — the
    streaming twin of sources/layout.write_positional_postings /
    revise_positional_postings: each micro-batch appends its
    (doc, term, positions) rows under ``batch_id=N/tok_bucket=...``
    plus the commit marker, LAST (_maintain_doc_store); the
    bucket modulus follows the _maintain_store meta protocol.
    ``allow_revisions=True`` tombstones every re-emitted doc_id — a
    changed document CHANGES ITS POSITIONS, which under append-only
    would serve phantom/lost phrase hits."""
    return _maintain_doc_store(
        _POSITIONAL,
        docs_stream,
        out_dir,
        checkpoint_dir,
        n_buckets,
        allow_revisions,
    )


def maintain_shingle_index(
    docs_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    allow_revisions: bool = False,
):
    """Incremental shingle-index maintenance — the streaming twin of
    sources/layout.write_shingle_index / revise_shingle_docs: each
    micro-batch of ingested documents appends its (doc_id, m, h)
    rows under ``batch_id=N`` plus the commit marker, LAST
    (_maintain_doc_store). This is the continuous-ingest dedup loop
    closed: a batch is screened via near_dups_from_index, the
    survivors are ingested, and THIS stream adds their shingles to
    the index so the next batch screens against them too — the
    corpus text is never re-shingled. ``allow_revisions=True``
    tombstones re-emitted doc_ids (a changed document changes its
    shingle set AND its m)."""
    return _maintain_doc_store(
        _SHINGLE, docs_stream, out_dir, checkpoint_dir, None,
        allow_revisions,
    )


def maintain_minhash_index(
    docs_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    allow_revisions: bool = False,
):
    """Incremental MinHash-band-index maintenance — the streaming
    twin of sources/layout.write_minhash_index / revise_minhash_docs:
    each micro-batch appends its 4 (band, sig) rows per doc under
    ``batch_id=N`` plus the commit marker, LAST
    (_maintain_doc_store). ``allow_revisions=True`` tombstones
    re-emitted doc_ids."""
    return _maintain_doc_store(
        _MINHASH, docs_stream, out_dir, checkpoint_dir, None,
        allow_revisions,
    )


def read_term_stats(spark: SparkSession, out_dir: str):
    """Fold the COMMITTED term-stats deltas into current statistics:
    returns (term_stats_df with one row per term, totals row with
    n_docs/n_tokens). Every writer marks its batch LAST, so the
    deltas of a batch at or above the high-water mark listed from the
    ``batches`` markers are a crashed write's partials, never read.
    The mark and the corpus_totals rows below it — one per batch
    since the last compaction — come from the store's committed-state
    read (layout._committed_state; a store without markers raises the
    shared missing-commit error), which sums them into a 1-row
    literal frame; the terms fold is one additive groupBy over
    vocabulary-sized deltas, read with the explicit schema (no
    inference job; empty-delta dirs fold as empty). Terms whose
    folded doc_freq reaches 0 (every containing document revised away
    via revise_term_stats' negative deltas) leave the vocabulary,
    matching a rebuild. A compact_term_stats swap that died between
    its delete and its rename is finished by that committed-state
    read, before anything else is read."""
    st = _committed_state(spark, out_dir, totals="corpus_totals")
    terms = (
        spark.read.schema(_TERM_STATS_SCHEMA)
        .parquet(f"{out_dir}/term_stats")
        .filter(F.col("batch_id") < st["hw"])
        .groupBy("tok")
        .agg(
            F.sum("doc_freq").alias("doc_freq"),
            F.sum("coll_freq").alias("coll_freq"),
        )
        .filter(F.col("doc_freq") > 0)
    )
    return terms, _totals_row(spark, st)


def revise_term_stats(
    spark: SparkSession,
    out_dir: str,
    old_docs: DataFrame,
    new_docs: DataFrame,
    n_buckets: int = 64,
) -> int:
    """UPSERT re-ingested documents into a term-stats store (r9
    VERDICT missing #2): the store keeps only per-TERM aggregates —
    no per-document rows — so a revision is a pure ADDITIVE
    correction delta: minus the old versions' contribution, plus the
    new versions'. The caller supplies BOTH versions (`old_docs` =
    exactly the store's current text for the revised doc_ids —
    available in the reference workflow, whose ledgered probe JSONL
    is the prior snapshot; `new_docs` may add brand-new doc_ids,
    which simply have no old-side rows). No tombstones needed: the
    deltas fold through read_term_stats' existing additive groupBy,
    a term revised out of its last document folds to doc_freq 0 and
    leaves the vocabulary, and compact_term_stats folds corrections
    like any other delta.

    Supplying WRONG old_docs silently corrupts the statistics (the
    store cannot check a version it never kept) — that is the price
    of an O(vocabulary) store; the posting-list store keeps a
    doclens ledger and needs no old text. `n_buckets` must match the
    store's modulus (maintain_term_stats default 64). The batch id is
    the committed high-water mark, one listing of the commit markers
    (no Spark job); the shared offline prologue
    (layout._offline_begin) refuses a crashed micro-batch's unclaimed
    terms or totals delta at that id and FENCES the id against the
    stream resuming its old checkpoint (run while the stream is
    stopped); the deltas follow, and the commit marker LAST. Returns
    the batch id used."""
    from se_data_pipeline_spark.sources.layout import _offline_begin

    next_b = _committed_state(spark, out_dir)["hw"]
    _offline_begin(
        spark,
        out_dir,
        f"revise_term_stats at {out_dir}",
        next_b,
        [f"{out_dir}/term_stats", f"{out_dir}/corpus_totals"],
    )
    new_t, new_tot = _term_stats_frames(new_docs, 1)
    old_t, old_tot = _term_stats_frames(old_docs, -1)
    delta = (
        new_t.unionByName(old_t)
        .groupBy("tok")
        .agg(
            F.sum("doc_freq").alias("doc_freq"),
            F.sum("coll_freq").alias("coll_freq"),
        )
        .filter(
            (F.col("doc_freq") != 0) | (F.col("coll_freq") != 0)
        )
    )
    totals = new_tot.unionByName(old_tot).agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )
    _term_stats_deltas(out_dir, n_buckets, next_b, delta, totals)
    _mark_batch(spark, f"{out_dir}/batches", next_b)
    return next_b


def compact_term_stats(
    spark: SparkSession, out_dir: str, n_buckets: int = 64
) -> None:
    """Fold the committed term-stats deltas into a single
    `batch_id=-1` base partition (totals and the commit markers
    likewise), bounding the partition count that accrues
    one-per-micro-batch. Run ONLY while
    the stream is stopped: committed batches never replay (their ids
    live in the stream's checkpoint), so folding them into the base
    cannot double-count, and a restarted stream keeps appending fresh
    `batch_id>=0` deltas next to the base — the reader's additive
    fold is oblivious to the split. This is the delta-layout analog
    of compact_table's small-file pass, but fold-aware: it shrinks
    ROWS to one per (term, bucket), not just files.

    The WHOLE store directory is written to a temp sibling and
    swapped into place by ONE sources/layout.swap_compacted call, so
    both tables and the markers change together and the offline fence
    (not copied) goes with the swap; a crashed uncommitted delta is
    dropped, never folded. The temp dir starts empty, so the
    static-vs-dynamic partitionOverwriteMode hazard of an in-place
    overwrite is moot: no stale delta partition can survive the
    write."""
    from se_data_pipeline_spark.sources.layout import swap_compacted

    terms, totals = read_term_stats(spark, out_dir)

    def _write(tmp: str) -> None:
        _bucketed_terms(terms, n_buckets, -1).write.mode(
            "overwrite"
        ).partitionBy("batch_id", "bucket").parquet(f"{tmp}/term_stats")
        totals.withColumn("batch_id", F.lit(-1)).coalesce(1).write.mode(
            "overwrite"
        ).partitionBy("batch_id").parquet(f"{tmp}/corpus_totals")
        _mark_batch(spark, f"{tmp}/batches", -1)

    swap_compacted(spark, out_dir, _write, "term-stats store")

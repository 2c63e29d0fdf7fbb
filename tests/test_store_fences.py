"""Offline-revision batch-id fencing + committed-high-water reads
(ADVICE r10): a store's streaming maintainer numbers writes with
CHECKPOINT-scoped micro-batch ids, while offline revise/delete
derives its id from the store's committed high-water mark — for a
stream-maintained store those collide the moment the old checkpoint
resumes. The fence makes that collision a loud error instead of
silent document loss; the committed-high-water serve reads keep a
crashed revision's partial tombstones invisible until its totals
commit point lands.
"""

from __future__ import annotations

import glob
import os
import time as _time

import pytest
from pyspark.sql import functions as F

from se_data_pipeline_spark.catalog import load_table


def _two_file_source(docs, src: str, split: str = "doc_id % 2 = 0"):
    """Two parquet files with staggered mtimes so maxFilesPerTrigger=1
    yields two deterministic micro-batches."""
    os.makedirs(src, exist_ok=True)
    docs.filter(split).coalesce(1).write.mode("append").parquet(src)
    first = set(glob.glob(os.path.join(src, "part-*.parquet")))
    docs.filter(f"NOT ({split})").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    now = _time.time()
    for f in glob.glob(os.path.join(src, "part-*.parquet")):
        os.utime(
            f, (now - 100, now - 100) if f in first else (now, now)
        )


def test_offline_revision_fences_resumed_stream(
    spark, sf_dir, tmp_path
):
    """The ADVICE r10 high scenario end-to-end: stream one micro-batch
    (id 0), stop, revise offline (claims id 1 = the resumed stream's
    next id), then resume the old checkpoint — the maintainer must
    FAIL LOUDLY on the claimed id instead of clobbering the
    revision's partitions, and the revision must still serve."""
    from se_data_pipeline_spark.functions.text import SEARCH_TERMS
    from se_data_pipeline_spark.sources.layout import (
        bm25_from_postings,
        offline_claimed_ids,
        revise_posting_lists,
    )
    from se_data_pipeline_spark.streaming.jobs import (
        maintain_posting_lists,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    docs.coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "store")
    chk = str(tmp_path / "chk")

    def run_stream():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        return maintain_posting_lists(
            stream, out, chk, n_buckets=32, allow_revisions=True
        )

    q = run_stream()
    q.awaitTermination(120)
    assert not q.isActive and q.exception() is None

    # stream stopped — offline revision claims the NEXT committed id,
    # which is exactly the resumed stream's next micro-batch id (1)
    revised = docs.filter("doc_id % 3 = 0").withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzrevised"))
    )
    b = revise_posting_lists(spark, revised, out)
    assert b == 1
    assert offline_claimed_ids(
        spark, os.path.join(out, "offline_fence")
    ) == {1}
    before = [
        tuple(r)
        for r in bm25_from_postings(
            spark, out, SEARCH_TERMS
        ).collect()
    ]

    # new file arrives; resuming the OLD checkpoint would write
    # micro-batch 1 — the fence must fail it loudly
    extra = spark.createDataFrame(
        [(10_000_000, "fence probe document")], "doc_id long, text string"
    )
    extra.coalesce(1).write.mode("append").parquet(src)
    q2 = run_stream()
    with pytest.raises(Exception, match="collides with an offline"):
        q2.awaitTermination(120)

    # the revision's partitions survived the failed resume intact
    after = [
        tuple(r)
        for r in bm25_from_postings(
            spark, out, SEARCH_TERMS
        ).collect()
    ]
    assert after == before
    assert (
        bm25_from_postings(spark, out, ("zzrevised",)).count() > 0
    )


def test_compaction_clears_fence_for_fresh_checkpoint(
    spark, sf_dir, tmp_path
):
    """compact_posting_lists swaps the whole store dir, folding the
    claimed batches into the base and dropping the fence — after it,
    a fresh-checkpoint stream legitimately restarts at id 0."""
    from se_data_pipeline_spark.functions.text import SEARCH_TERMS
    from se_data_pipeline_spark.queries.text import doc_bm25_search
    from se_data_pipeline_spark.sources.layout import (
        bm25_from_postings,
        compact_posting_lists,
        offline_claimed_ids,
        revise_posting_lists,
        write_posting_lists,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    out = str(tmp_path / "store")
    v1 = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" zzv1junk")),
        ).otherwise(F.col("text")),
    )
    write_posting_lists(v1, out, n_buckets=32)
    revise_posting_lists(spark, docs.filter("doc_id % 3 = 0"), out)
    fence = os.path.join(out, "offline_fence")
    assert offline_claimed_ids(spark, fence) == {0}

    compact_posting_lists(spark, out)
    assert offline_claimed_ids(spark, fence) == frozenset()
    inline = [
        tuple(r) for r in doc_bm25_search(spark, sf_dir).collect()
    ]
    served = [
        tuple(r)
        for r in bm25_from_postings(
            spark, out, SEARCH_TERMS, limit=20
        ).collect()
    ]
    assert served == inline


def test_uncommitted_revision_invisible_to_serve(
    spark, sf_dir, tmp_path
):
    """A revision that crashed AFTER its tombstone write but BEFORE
    its totals commit point must be invisible to serve-time readers
    (ADVICE r10 low: tombstones would otherwise drop the old rows
    while totals still count them); the re-run then converges."""
    from se_data_pipeline_spark.functions.text import SEARCH_TERMS
    from se_data_pipeline_spark.queries.text import doc_bm25_search
    from se_data_pipeline_spark.sources.layout import (
        bm25_from_postings,
        revise_posting_lists,
        write_posting_lists,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    out = str(tmp_path / "store")
    write_posting_lists(docs, out, n_buckets=32)
    committed = [
        tuple(r)
        for r in bm25_from_postings(
            spark, out, SEARCH_TERMS, limit=20
        ).collect()
    ]

    # simulate the crash window FAITHFULLY to the revision's write
    # order: the fence claim lands first (claim_offline_batch is
    # every offline writer's first write — and since r12 it also
    # marks these partials as offline-owned so the re-run's
    # partial-batch guard lets it converge), then tombstones (and
    # partial postings) at batch 0; totals never lands
    from se_data_pipeline_spark.sources.layout import (
        claim_offline_batch,
    )

    claim_offline_batch(
        spark, os.path.join(out, "offline_fence"), 0
    )
    ids = docs.filter("doc_id % 3 = 0").select("doc_id")
    (
        ids.withColumn("batch_id", F.lit(0))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(os.path.join(out, "tombstones"))
    )
    served = [
        tuple(r)
        for r in bm25_from_postings(
            spark, out, SEARCH_TERMS, limit=20
        ).collect()
    ]
    assert served == committed, (
        "uncommitted tombstones leaked into the served state"
    )

    # the re-run reuses batch 0 (totals never committed), overwrites
    # the partials, and lands the commit point — now it serves
    v2 = docs.filter("doc_id % 3 = 0").withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzrevised"))
    )
    assert revise_posting_lists(spark, v2, out) == 0
    truth_docs = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" zzrevised")),
        ).otherwise(F.col("text")),
    )
    rebuilt = str(tmp_path / "rebuilt")
    write_posting_lists(truth_docs, rebuilt, n_buckets=32)
    assert [
        tuple(r)
        for r in bm25_from_postings(
            spark, out, SEARCH_TERMS, limit=20
        ).collect()
    ] == [
        tuple(r)
        for r in bm25_from_postings(
            spark, rebuilt, SEARCH_TERMS, limit=20
        ).collect()
    ]


def test_maintainer_writes_meta_once(spark, sf_dir, tmp_path):
    """Steady-state micro-batches must leave the meta dir untouched
    (ADVICE r10 low: a per-batch delete+write of the one-row table
    opens a 'has no meta table' window for concurrent serves) — the
    meta parquet file written by batch 0 must survive batch 1
    byte-identically (parquet part files get fresh UUID names on any
    rewrite, so stable names prove no rewrite happened)."""
    from se_data_pipeline_spark.streaming.jobs import (
        maintain_posting_lists,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "src")
    _two_file_source(docs, src)
    out = str(tmp_path / "store")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = maintain_posting_lists(stream, out, str(tmp_path / "chk"), n_buckets=32)
    q.awaitTermination(120)
    assert len(q.recentProgress) >= 2, "expected two micro-batches"

    meta_files = sorted(
        glob.glob(os.path.join(out, "meta", "part-*.parquet"))
    )
    assert len(meta_files) == 1
    # third batch over the same checkpoint: meta must not be rewritten
    extra = spark.createDataFrame(
        [(10_000_001, "steady state probe")], "doc_id long, text string"
    )
    extra.coalesce(1).write.mode("append").parquet(src)
    stream2 = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q2 = maintain_posting_lists(
        stream2, out, str(tmp_path / "chk"), n_buckets=32
    )
    q2.awaitTermination(120)
    assert q2.exception() is None
    assert (
        sorted(glob.glob(os.path.join(out, "meta", "part-*.parquet")))
        == meta_files
    )


def test_compact_posting_lists_recovers_crashed_swap(
    spark, sf_dir, tmp_path
):
    """A compaction that died between delete and rename leaves the
    store ONLY at <out>.compacting; re-running compact_posting_lists
    must recover it FIRST (ADVICE r10 medium: its meta pre-check used
    to raise 'has no meta table', whose advice to rebuild would
    overwrite the only surviving copy)."""
    from se_data_pipeline_spark.functions.text import SEARCH_TERMS
    from se_data_pipeline_spark.sources.layout import (
        bm25_from_postings,
        compact_posting_lists,
        write_posting_lists,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    out = str(tmp_path / "store")
    write_posting_lists(docs, out, n_buckets=32)
    expect = [
        tuple(r)
        for r in bm25_from_postings(
            spark, out, SEARCH_TERMS, limit=20
        ).collect()
    ]
    # the exact crash-window state: live dir gone, sibling complete
    os.rename(out, out + ".compacting")
    compact_posting_lists(spark, out)
    assert [
        tuple(r)
        for r in bm25_from_postings(
            spark, out, SEARCH_TERMS, limit=20
        ).collect()
    ] == expect


def test_bq_and_term_stats_fences_claimed(spark, tmp_path):
    """delete_bq_vectors and revise_term_stats claim their batch ids
    in the store's own offline_fence dir, guard_stream_batch raises on
    the claimed id, and compact_bq_index / compact_term_stats clear
    the fences."""
    from se_data_pipeline_spark.sources.layout import (
        compact_bq_index,
        delete_bq_vectors,
        guard_stream_batch,
        offline_claimed_ids,
        write_bq_index,
    )
    from se_data_pipeline_spark.streaming.jobs import (
        compact_term_stats,
        revise_term_stats,
    )

    # BQ: a built store, one delete
    idx = str(tmp_path / "bq_idx")
    vecs = spark.createDataFrame(
        [(i, [float(i), -1.0]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    write_bq_index(vecs, idx)
    b = delete_bq_vectors(
        spark, vecs.filter("vec_id = 3").select("vec_id"), idx
    )
    fence = os.path.join(idx, "offline_fence")
    assert offline_claimed_ids(spark, fence) == {b}
    with pytest.raises(RuntimeError, match="collides with an offline"):
        guard_stream_batch(spark, fence, b, "BQ index")
    guard_stream_batch(spark, fence, b + 1, "BQ index")  # free id: ok
    compact_bq_index(spark, idx)
    assert offline_claimed_ids(spark, fence) == frozenset()

    # term stats: build a tiny store via revise (insert-only), then
    # a second revise claims the next id; compaction clears it
    ts = str(tmp_path / "ts")
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b c")], "doc_id long, text string"
    )
    empty = docs.limit(0)
    (
        spark.createDataFrame([(2, 4, 0)], "n_docs long, n_tokens long, batch_id int")
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .parquet(os.path.join(ts, "corpus_totals"))
    )
    (
        spark.createDataFrame(
            [("a", 1, 1, 0, 0), ("b", 2, 2, 1, 0), ("c", 1, 1, 2, 0)],
            "tok string, doc_freq long, coll_freq long, bucket long, batch_id int",
        )
        .write.mode("overwrite")
        .partitionBy("batch_id", "bucket")
        .parquet(os.path.join(ts, "term_stats"))
    )
    os.makedirs(os.path.join(ts, "batches", "batch_id=0"))
    b2 = revise_term_stats(
        spark, ts, old_docs=empty, new_docs=docs.filter("doc_id = 9")
    )
    assert offline_claimed_ids(
        spark, os.path.join(ts, "offline_fence")
    ) == {b2}
    compact_term_stats(spark, ts)
    assert offline_claimed_ids(
        spark, os.path.join(ts, "offline_fence")
    ) == frozenset()


def _tiny_docs(spark):
    return spark.range(6).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta alpha beta gamma doc"),
            F.col("id").cast("string"),
        ).alias("text"),
    )


def test_offline_revision_refuses_stream_partials(spark, tmp_path):
    """ADVICE r11 medium: rows a crashed STREAM left at/above the
    committed high-water mark (postings written, ledger row not) must
    make the next offline revision REFUSE — committing a new offline
    batch would make those partials serve without their tombstones.
    A crashed OFFLINE revision's own partials (fence-claimed id) stay
    exempt: its re-run converges by overwriting its own partitions.
    Compaction (committed fold + whole-dir swap) drops the partials
    and unblocks the revision."""
    from se_data_pipeline_spark.sources.layout import (
        _positional_frames,
        claim_offline_batch,
        compact_positional_postings,
        phrase_from_postings,
        revise_positional_postings,
        write_positional_postings,
    )

    docs = _tiny_docs(spark)
    out = str(tmp_path / "pos_store")
    write_positional_postings(docs, out, n_buckets=8)

    # simulate the crashed stream micro-batch: rows at id 0, NO ledger
    stray_rows = _positional_frames(
        docs.filter("doc_id = 0").withColumn(
            "text", F.lit("alpha beta stray")
        ),
        0,
        8,
    )
    (
        stray_rows.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "tok_bucket")
        .parquet(os.path.join(out, "postings"))
    )
    revised = docs.filter("doc_id = 1").withColumn(
        "text", F.lit("alpha beta revised")
    )
    with pytest.raises(RuntimeError, match="uncommitted rows"):
        revise_positional_postings(spark, revised, out)

    # compaction folds committed state only and physically drops the
    # stray batch — the revision then proceeds at a fresh id
    compact_positional_postings(spark, out)
    b = revise_positional_postings(spark, revised, out)
    served = {
        r["doc_id"]: r["n_hits"]
        for r in phrase_from_postings(
            spark, out, ("alpha", "beta"), limit=10
        ).collect()
    }
    assert served[1] == 1  # revised doc: one adjacency
    assert served[0] == 2  # stray batch dropped: original text serves
    assert b == 0

    # a crashed OFFLINE revision's partials are exempt: claim the id
    # first, leave partial rows, re-run with the same input
    stray2 = _positional_frames(revised, 1, 8)
    claim_offline_batch(spark, os.path.join(out, "offline_fence"), 1)
    (
        stray2.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "tok_bucket")
        .parquet(os.path.join(out, "postings"))
    )
    assert revise_positional_postings(spark, revised, out) == 1


def test_postings_revision_refuses_stream_partials(spark, tmp_path):
    """The same partial-batch guard on the frequency store (totals is
    the commit point): stray doclens rows at the high-water mark make
    revise_posting_lists refuse."""
    from se_data_pipeline_spark.sources.layout import (
        _doclens_frame,
        revise_posting_lists,
        write_posting_lists,
    )

    docs = _tiny_docs(spark)
    out = str(tmp_path / "bm25_store")
    write_posting_lists(docs, out, n_buckets=8)
    (
        _doclens_frame(docs.filter("doc_id = 0"), 0)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(os.path.join(out, "doclens"))
    )
    with pytest.raises(RuntimeError, match="uncommitted rows"):
        revise_posting_lists(spark, docs.filter("doc_id = 1"), out)


def test_ivf_revision_refuses_stream_partials(spark, tmp_path):
    """The guard on the IVF store's NESTED cells layout
    (cell=C/batch_id=N): a stray cells partition at the committed
    high-water mark makes revise_ivf_vectors refuse."""
    from se_data_pipeline_spark.sources.layout import (
        revise_ivf_vectors,
        write_ivf_index,
    )

    vecs = spark.range(8).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 2).cast("float"), F.lit(1.0).cast("float")
        ).alias("embedding"),
        (F.col("id") % 2).cast("int").alias("label"),
    )
    idx = str(tmp_path / "ivf")
    write_ivf_index(vecs, idx, cell_col="label")
    # stray stream rows at the hw id (0), no ledger row
    (
        vecs.filter("vec_id = 0")
        .select(
            "vec_id",
            "embedding",
            F.lit(0).cast("long").alias("code"),
            F.lit(0).alias("cell"),
            F.lit(0).alias("batch_id"),
        )
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell", "batch_id")
        .parquet(os.path.join(idx, "cells"))
    )
    with pytest.raises(RuntimeError, match="uncommitted rows"):
        revise_ivf_vectors(
            spark, vecs.filter("vec_id = 1"), idx
        )


def _files(root: str) -> list:
    return sorted(
        (
            os.path.relpath(os.path.join(d, f), root),
            os.stat(os.path.join(d, f)).st_mtime_ns,
        )
        for d, _, fs in os.walk(root)
        for f in fs
    )


def test_positional_store_without_ledger_refuses_serve_revise_compact(
    spark, tmp_path
):
    """A positional store without its batches ledger never committed
    (every writer writes the ledger LAST): a serve, an offline
    revision and a compaction each raise the shared missing-commit
    error, and none of them touches the store on disk."""
    import shutil

    from se_data_pipeline_spark.sources.layout import (
        compact_positional_postings,
        phrase_from_postings,
        revise_positional_postings,
        write_positional_postings,
    )

    docs = _tiny_docs(spark)
    out = str(tmp_path / "ledgerless_pos")
    write_positional_postings(docs, out, n_buckets=8)
    shutil.rmtree(os.path.join(out, "batches"))
    before = _files(out)
    for call in (
        lambda: phrase_from_postings(spark, out, ("alpha", "beta")),
        lambda: revise_positional_postings(
            spark, docs.filter("doc_id = 0"), out
        ),
        lambda: compact_positional_postings(spark, out),
    ):
        with pytest.raises(ValueError, match="no 'batches' commit table"):
            call()
    assert _files(out) == before


_CRASH_TEXTS = [
    "alpha beta gamma delta epsilon zeta",
    "eta theta alpha beta iota kappa",
    "lambda mu nu xi omicron pi",
]
# the vector families' three inputs, and the IVF seed build that
# trains the quantizer its maintainer keeps frozen
_CRASH_VECS = [[1.0, 0.5], [0.9, -0.2], [-1.0, 0.3]]
_IVF_SEED = [
    (10, [1.0, 1.0], 0),
    (11, [1.2, 0.8], 0),
    (12, [-1.0, -1.0], 1),
    (13, [-0.8, -1.2], 1),
]
_VEC_SCHEMA = "vec_id bigint, embedding array<float>, label int"


def _crash_family(name: str):
    """(maintainer, batch writer, revise, compact, serve, commit table,
    rows dir, seed) of one store family; serve(spark, out, probe)
    collects sorted rows (term stats: the read_term_stats fold), and
    seed(spark, out), when not None, builds the store the maintainer
    needs before its first micro-batch (IVF: the trained quantizer)."""
    from se_data_pipeline_spark.sources import layout as L
    from se_data_pipeline_spark.streaming import jobs as J

    if name == "frequency":
        return (
            lambda s, o, c: J.maintain_posting_lists(s, o, c, n_buckets=8),
            lambda d, o: L.write_posting_lists(d, o, n_buckets=8),
            L.revise_posting_lists,
            L.compact_posting_lists,
            lambda spark, o, probe: sorted(
                tuple(r)
                for r in L.bm25_from_postings(
                    spark, o, ("alpha", "beta", "mu")
                ).collect()
            ),
            "batches",
            "postings",
            None,
        )
    if name == "term_stats":

        def fold(spark, o, probe):
            terms, totals = J.read_term_stats(spark, o)
            return sorted(tuple(r) for r in terms.collect()), [
                tuple(r) for r in totals.collect()
            ]

        def build(docs, o):
            # the maintainer over a fresh checkpoint: one batch of all
            # the documents
            src = o + "_src"
            docs.coalesce(1).write.parquet(src)
            s = docs.sparkSession.readStream.schema(docs.schema).parquet(src)
            J.maintain_term_stats(s, o, o + "_chk").awaitTermination(120)

        return (
            J.maintain_term_stats,
            build,
            lambda spark, d, o: J.revise_term_stats(spark, o, d.limit(0), d),
            J.compact_term_stats,
            fold,
            "batches",
            "term_stats",
            None,
        )
    if name == "positional":
        return (
            lambda s, o, c: J.maintain_positional_postings(
                s, o, c, n_buckets=8
            ),
            lambda d, o: L.write_positional_postings(d, o, n_buckets=8),
            L.revise_positional_postings,
            L.compact_positional_postings,
            lambda spark, o, probe: sorted(
                tuple(r)
                for r in L.phrase_from_postings(
                    spark, o, ("alpha", "beta"), limit=None
                ).collect()
            ),
            "batches",
            "postings",
            None,
        )
    if name == "shingle":
        return (
            J.maintain_shingle_index,
            L.write_shingle_index,
            L.revise_shingle_docs,
            L.compact_shingle_index,
            lambda spark, o, probe: sorted(
                tuple(r)
                for r in L.near_dups_from_index(
                    spark, o, probe, 0.5
                ).collect()
            ),
            "batches",
            "postings",
            None,
        )
    if name == "ivf":

        def seed(spark, o):
            L.write_ivf_index(
                spark.createDataFrame(_IVF_SEED, _VEC_SCHEMA), o
            )

        def build(vecs, o):
            # seed and batches in one build; the all-cells serve below
            # does not depend on the cell assignment
            L.write_ivf_index(
                vecs.sparkSession.createDataFrame(
                    _IVF_SEED, _VEC_SCHEMA
                ).unionByName(vecs),
                o,
            )

        return (
            J.maintain_ivf_index,
            build,
            L.revise_ivf_vectors,
            L.compact_ivf_index,
            lambda spark, o, probe: sorted(
                (r["vec_id"], r["cos_sim"])
                for r in L.ivf_candidates(
                    spark, o, [1.0, 0.0], nprobe=8, n=100
                ).collect()
            ),
            "batches",
            "cells",
            seed,
        )
    if name == "bq":
        return (
            J.maintain_bq_index,
            L.write_bq_index,
            L.delete_bq_vectors,
            L.compact_bq_index,
            lambda spark, o, probe: sorted(
                tuple(r) for r in L.bq_candidates(spark, o, 0).collect()
            ),
            "batches",
            "codes",
            None,
        )
    return (
        J.maintain_minhash_index,
        L.write_minhash_index,
        L.revise_minhash_docs,
        L.compact_minhash_index,
        lambda spark, o, probe: sorted(
            tuple(r)
            for r in L.lsh_candidates_from_index(spark, o, probe).collect()
        ),
        "batches",
        "postings",
        None,
    )


_CRASH_FAMILIES = [
    "positional",
    "shingle",
    "minhash",
    "frequency",
    "term_stats",
    "ivf",
    "bq",
]


@pytest.mark.parametrize(
    "family,crashed",
    [pytest.param(f, 0, id=f) for f in _CRASH_FAMILIES]
    + [pytest.param(f, 1, id=f"{f}-second") for f in _CRASH_FAMILIES],
)
def test_crashed_first_micro_batch_is_never_served(
    spark, tmp_path, monkeypatch, family, crashed
):
    """A maintainer's micro-batch that dies after its non-commit
    writes (and, for the bucketed stores, the meta a store-creating
    batch writes) but before its commit row leaves rows no commit
    point covers. The crash is injected at the one write step every
    maintainer shares (layout._overlap_writes).

    Crashed FIRST batch of a store the maintainer creates: the serve,
    an offline revision and a compaction each raise the shared
    missing-commit error instead of reading them. Crashed SECOND
    batch, or first batch over a built store (IVF, whose maintainer
    keeps the build's quantizer): the serve still equals the state
    before the batch, and an offline revision (BQ: a delete) refuses
    the unclaimed partials with the store's files unchanged. Either
    way the restart from the checkpoint replays and commits the
    batch, after which the serve equals an offline build of every
    batch's documents."""
    from se_data_pipeline_spark.sources import layout as L

    maintain, build, revise, compact, serve, commit, rows_dir, seed = (
        _crash_family(family)
    )
    if family in ("ivf", "bq"):
        docs = spark.createDataFrame(
            [(i, v, i % 2) for i, v in enumerate(_CRASH_VECS)], _VEC_SCHEMA
        )
        id_col = "vec_id"
    else:
        docs = spark.createDataFrame(
            list(enumerate(_CRASH_TEXTS)), "doc_id bigint, text string"
        )
        id_col = "doc_id"
    probe = docs.withColumn(id_col, F.col(id_col) + 100)
    src = str(tmp_path / "src")
    out = str(tmp_path / "store")
    chk = str(tmp_path / "chk")
    real = L._overlap_writes

    def stream():
        return spark.readStream.schema(docs.schema).parquet(src)

    if seed is not None:
        seed(spark, out)
        before = serve(spark, out, probe)
    if crashed:
        docs.filter(f"{id_col} < 2").coalesce(1).write.parquet(src)
        q = maintain(stream(), out, chk)
        q.awaitTermination(120)
        assert q.exception() is None
        before = serve(spark, out, probe)
        docs.filter(f"{id_col} >= 2").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    else:
        docs.coalesce(1).write.parquet(src)

    def crash_before_commit(*thunks):
        real(*thunks)
        if family in ("positional", "frequency") and not crashed:
            L._write_postings_meta(spark, out, 8)
        raise RuntimeError("injected crash before the commit row")

    with monkeypatch.context() as m:
        m.setattr(L, "_overlap_writes", crash_before_commit)
        q = maintain(stream(), out, chk)
        with pytest.raises(Exception):
            q.awaitTermination(120)
    assert glob.glob(
        os.path.join(out, rows_dir, "**", f"batch_id={crashed}"),
        recursive=True,
    )

    if crashed or seed is not None:
        assert serve(spark, out, probe) == before
        files = _files(out)
        with pytest.raises(RuntimeError, match="uncommitted rows"):
            revise(spark, docs.filter(f"{id_col} = 0"), out)
        assert _files(out) == files
    else:
        assert not os.path.exists(os.path.join(out, commit))
        for call in (
            lambda: serve(spark, out, probe),
            lambda: revise(spark, docs.filter(f"{id_col} = 0"), out),
            lambda: compact(spark, out),
        ):
            with pytest.raises(
                ValueError, match=f"no '{commit}' commit table"
            ):
                call()

    q = maintain(stream(), out, chk)
    q.awaitTermination(120)
    assert q.exception() is None
    truth = str(tmp_path / "truth")
    build(docs, truth)
    want = serve(spark, truth, probe)
    assert want
    assert serve(spark, out, probe) == want


def test_maintainer_refuses_crashed_build(spark, tmp_path):
    """A batch build that crashed before its commit row leaves
    ``batch_id=-1`` rows no commit point covers. A maintainer started
    over it must refuse with the shared missing-commit error: its
    first commit would otherwise raise the high-water mark past -1 and
    serve the build's rows. The serve keeps refusing too."""
    import shutil

    from se_data_pipeline_spark.sources import layout as L
    from se_data_pipeline_spark.streaming import jobs as J

    docs = spark.createDataFrame(
        list(enumerate(_CRASH_TEXTS)), "doc_id bigint, text string"
    )
    out = str(tmp_path / "store")
    L.write_shingle_index(docs.filter("doc_id < 2"), out)
    # the build's state when it crashed before its commit row
    shutil.rmtree(os.path.join(out, "batches"))
    src = str(tmp_path / "src")
    docs.filter("doc_id = 2").coalesce(1).write.parquet(src)
    with pytest.raises(ValueError, match="no 'batches' commit table"):
        J.maintain_shingle_index(
            spark.readStream.schema(docs.schema).parquet(src),
            out,
            str(tmp_path / "chk"),
        ).awaitTermination(120)
    assert not os.path.exists(os.path.join(out, "batches"))
    with pytest.raises(ValueError, match="no 'batches' commit table"):
        L.near_dups_from_index(spark, out, docs, 0.5)


@pytest.mark.parametrize("family", ["frequency", "shingle"])
def test_maintainer_recovers_crashed_swap(spark, tmp_path, family):
    """A compaction that died between its delete and its rename leaves
    the store ONLY at <out>.compacting. A maintainer started then must
    finish the swap before anything else: otherwise it finds no store,
    creates a fresh one holding only the new batch (a posting store
    under the default modulus) and orphans the real one for good. The
    serve after the micro-batch equals an offline build of the old and
    new documents, a bucketed store keeps its modulus, and no sibling
    remains."""
    from se_data_pipeline_spark.streaming import jobs as J

    maintain, build, _, _, serve, _, _, _ = _crash_family(family)
    if family == "frequency":
        # no n_buckets: the modulus must come from the recovered meta
        maintain = J.maintain_posting_lists
    docs = spark.createDataFrame(
        list(enumerate(_CRASH_TEXTS)), "doc_id bigint, text string"
    )
    probe = docs.withColumn("doc_id", F.col("doc_id") + 100)
    out = str(tmp_path / "store")
    build(docs.filter("doc_id < 2"), out)
    os.rename(out, out + ".compacting")

    src = str(tmp_path / "src")
    docs.filter("doc_id = 2").coalesce(1).write.parquet(src)
    q = maintain(
        spark.readStream.schema(docs.schema).parquet(src),
        out,
        str(tmp_path / "chk"),
    )
    q.awaitTermination(120)
    assert q.exception() is None

    truth = str(tmp_path / "truth")
    build(docs, truth)
    want = serve(spark, truth, probe)
    assert want
    assert serve(spark, out, probe) == want
    assert not os.path.exists(out + ".compacting")
    if family == "frequency":
        meta = spark.read.parquet(os.path.join(out, "meta")).collect()
        assert [r["n_buckets"] for r in meta] == [8]


def _group_jobs(spark, group: str, fn) -> list:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_fence_steps_start_no_spark_job(spark, tmp_path):
    """A claim is one mkdirs and a fence read one directory listing:
    claim_offline_batch, offline_claimed_ids and guard_stream_batch
    (on a free and on a claimed id) start no Spark job, and the claim
    is a ``batch_id=N`` directory like every data partition."""
    from se_data_pipeline_spark.sources.layout import (
        claim_offline_batch,
        guard_stream_batch,
        offline_claimed_ids,
    )

    fence = str(tmp_path / "store" / "offline_fence")
    got = {}

    def guard_claimed():
        with pytest.raises(RuntimeError, match="collides with an offline"):
            guard_stream_batch(spark, fence, 3, "store")

    cases = [
        ("read-absent", lambda: got.update(absent=offline_claimed_ids(spark, fence))),
        ("claim", lambda: claim_offline_batch(spark, fence, 3)),
        ("claim-again", lambda: claim_offline_batch(spark, fence, 3)),
        ("claim-next", lambda: claim_offline_batch(spark, fence, 5)),
        ("read", lambda: got.update(ids=offline_claimed_ids(spark, fence))),
        ("guard-free", lambda: guard_stream_batch(spark, fence, 4, "store")),
        ("guard-claimed", guard_claimed),
    ]
    for name, fn in cases:
        jobs = _group_jobs(spark, f"fence-{name}", fn)
        assert jobs == [], f"{name}: {len(jobs)} Spark jobs"
    assert got["absent"] == frozenset()
    assert got["ids"] == {3, 5}
    assert sorted(os.listdir(fence)) == ["batch_id=3", "batch_id=5"]


def test_older_format_fence_refused_until_compaction(spark, tmp_path):
    """A fence written by older code is a parquet table, whose claimed
    ids a directory listing cannot see. An offline revision, a delete
    and the maintainer each refuse it, with the store's files
    unchanged; a compaction drops it without reading it, after which
    the offline writers and a fresh-checkpoint stream run again."""
    from se_data_pipeline_spark.sources.layout import (
        compact_positional_postings,
        delete_positional_docs,
        phrase_from_postings,
        revise_positional_postings,
        write_positional_postings,
    )
    from se_data_pipeline_spark.streaming.jobs import (
        maintain_positional_postings,
    )

    docs = _tiny_docs(spark)
    out = str(tmp_path / "pos_store")
    write_positional_postings(docs.filter("doc_id < 4"), out, n_buckets=8)
    fence = os.path.join(out, "offline_fence")
    spark.range(1).select(
        F.lit(0).cast("int").alias("batch_id")
    ).write.parquet(fence)
    src = str(tmp_path / "src")
    docs.filter("doc_id >= 4").coalesce(1).write.parquet(src)

    def stream(chk: str):
        return maintain_positional_postings(
            spark.readStream.schema(docs.schema).parquet(src),
            out,
            str(tmp_path / chk),
        )

    before = _files(out)
    for call in (
        lambda: revise_positional_postings(
            spark, docs.filter("doc_id = 1"), out
        ),
        lambda: delete_positional_docs(
            spark, docs.filter("doc_id = 2").select("doc_id"), out
        ),
    ):
        with pytest.raises(ValueError, match="older format"):
            call()
    q = stream("chk")
    with pytest.raises(Exception, match="older format"):
        q.awaitTermination(120)
    assert _files(out) == before

    compact_positional_postings(spark, out)
    assert not os.path.exists(fence)
    q = stream("fresh_chk")
    q.awaitTermination(120)
    assert q.exception() is None
    assert delete_positional_docs(
        spark, docs.filter("doc_id = 2").select("doc_id"), out
    ) == 1
    served = {
        r["doc_id"]
        for r in phrase_from_postings(
            spark, out, ("alpha", "beta"), limit=None
        ).collect()
    }
    assert served == {0, 1, 3, 4, 5}


def test_commit_steps_start_no_spark_job(spark, tmp_path):
    """A commit is one mkdirs and the high-water mark one listing of
    the ``batches/batch_id=N`` markers: marking a batch committed and
    a mark-only committed-state read start no Spark job, on a BQ store
    and on a frequency store alike, and a BQ serve is its collect's
    one job."""
    from se_data_pipeline_spark.sources import layout as L

    bq = str(tmp_path / "bq")
    L.write_bq_index(
        spark.createDataFrame(
            [(i, [float(i) - 3.5, 1.0]) for i in range(8)],
            "vec_id long, embedding array<float>",
        ),
        bq,
    )
    freq = str(tmp_path / "freq")
    L.write_posting_lists(_tiny_docs(spark), freq, n_buckets=8)
    got = {}
    cases = [
        ("mark", lambda: L._mark_batch(spark, f"{bq}/batches", 0), 0),
        ("state-bq", lambda: got.update(bq=L._committed_state(spark, bq)), 0),
        (
            "state-freq",
            lambda: got.update(freq=L._committed_state(spark, freq)),
            0,
        ),
        (
            "serve-bq",
            lambda: got.update(rows=L.bq_candidates(spark, bq, 0).collect()),
            1,
        ),
    ]
    for name, fn, want in cases:
        jobs = _group_jobs(spark, f"commit-{name}", fn)
        assert len(jobs) == want, f"{name}: {len(jobs)} Spark jobs"
    assert sorted(os.listdir(os.path.join(bq, "batches"))) == [
        "batch_id=-1",
        "batch_id=0",
    ]
    assert got["bq"]["hw"] == 1
    assert got["freq"]["hw"] == 0
    assert len(got["rows"]) == 8


def test_older_format_stores(spark, tmp_path):
    """A ledger store written by older code holds a parquet row in
    each ``batches/batch_id=N`` dir; the listing reads only the names,
    so it keeps serving the same rows. A frequency store written by
    older code has its ``totals`` table but no ``batches`` markers: a
    serve, a revision and a compaction raise the shared missing-commit
    error, with the store's files unchanged."""
    import shutil

    from se_data_pipeline_spark.sources import layout as L

    docs = spark.createDataFrame(
        list(enumerate(_CRASH_TEXTS)), "doc_id bigint, text string"
    )
    probe = docs.withColumn("doc_id", F.col("doc_id") + 100)
    shingle = str(tmp_path / "shingle")
    L.write_shingle_index(docs, shingle)

    def screen():
        return sorted(
            tuple(r)
            for r in L.near_dups_from_index(spark, shingle, probe, 0.5).collect()
        )

    want = screen()
    assert want
    shutil.rmtree(os.path.join(shingle, "batches"))
    spark.range(1).select(
        F.lit(3).cast("long").alias("n_docs"), F.lit(-1).alias("batch_id")
    ).write.partitionBy("batch_id").parquet(os.path.join(shingle, "batches"))
    assert glob.glob(os.path.join(shingle, "batches", "batch_id=-1", "*.parquet"))
    assert screen() == want

    freq = str(tmp_path / "freq")
    L.write_posting_lists(docs, freq, n_buckets=8)
    shutil.rmtree(os.path.join(freq, "batches"))
    assert os.path.isdir(os.path.join(freq, "totals"))
    before = _files(freq)
    for call in (
        lambda: L.bm25_from_postings(spark, freq, ("alpha", "beta")),
        lambda: L.revise_posting_lists(spark, docs.filter("doc_id = 0"), freq),
        lambda: L.compact_posting_lists(spark, freq),
    ):
        with pytest.raises(ValueError, match="no 'batches' commit table"):
            call()
    assert _files(freq) == before


def test_rebuild_drops_previous_tombstones(spark, tmp_path):
    """A rebuild replaces the whole store, tombstones included: a
    stream's tombstone at batch 0 left beside the rebuilt base would
    become committed once a fresh-checkpoint stream commits its own
    batch 0, and kill the rebuilt rows of that document."""
    from se_data_pipeline_spark.sources import layout as L
    from se_data_pipeline_spark.streaming import jobs as J

    docs = spark.createDataFrame(
        list(enumerate(_CRASH_TEXTS)), "doc_id bigint, text string"
    )
    probe = docs.withColumn("doc_id", F.col("doc_id") + 100)
    out = str(tmp_path / "store")
    L.write_shingle_index(docs, out)
    want = sorted(
        tuple(r) for r in L.near_dups_from_index(spark, out, probe).collect()
    )
    assert want

    def stream(rows, name, revisions):
        src = str(tmp_path / f"src_{name}")
        spark.createDataFrame(rows, docs.schema).coalesce(1).write.parquet(src)
        q = J.maintain_shingle_index(
            spark.readStream.schema(docs.schema).parquet(src),
            out,
            str(tmp_path / f"chk_{name}"),
            allow_revisions=revisions,
        )
        q.awaitTermination(120)
        assert q.exception() is None

    stream([(1, "a changed second document text here")], "old", True)
    L.write_shingle_index(docs, out)
    assert not os.path.exists(os.path.join(out, "tombstones"))
    stream([(50, "omega psi chi phi upsilon tau sigma")], "new", False)
    got = sorted(
        tuple(r) for r in L.near_dups_from_index(spark, out, probe).collect()
    )
    assert got == want

"""Serve-while-maintain, EXECUTED (r12, VERDICT r11 next #3): until
this test, the claim that a reader interleaved with a running
maintenance stream always sees a committed-prefix answer was only
by-construction (meta written once, commit-point `before_batch`
reads). Here a maintainer actually runs micro-batches while the main
thread serves between them, and every serve that lands inside a
stable committed state must equal the offline-built store for that
exact prefix — bit-for-bit, scores included.

The mechanism being proven: each serve derives its high-water mark
from the store's commit point FIRST and filters every subsequent
read (postings, tombstones, totals) by it, so a batch committing
mid-serve cannot produce a mixed state (the totals read's missing
hw filter was found and fixed by writing this test — a serve could
previously pair batch-N totals with batch-<N postings)."""

from __future__ import annotations

import glob
import os
import time as _time

from pyspark.sql import functions as F

from se_data_pipeline_spark.catalog import load_table

_N_FILES = 4


def _staggered_files(docs, src: str, n: int) -> None:
    """n parquet files with strictly increasing mtimes so
    maxFilesPerTrigger=1 yields n deterministic micro-batches."""
    os.makedirs(src, exist_ok=True)
    batches = []
    for i in range(n):
        before = set(glob.glob(os.path.join(src, "part-*.parquet")))
        docs.filter(f"doc_id % {n} = {i}").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        after = set(glob.glob(os.path.join(src, "part-*.parquet")))
        batches.append(after - before)
    now = _time.time()
    for i, files in enumerate(batches):
        for f in files:
            t = now - 100 + i
            os.utime(f, (t, t))


def _committed_hw(store: str) -> int:
    """The committed high-water mark: one past the newest
    ``batches/batch_id=N`` commit marker (every writer marks its batch
    LAST), 0 before the first commit."""
    p = os.path.join(store, "batches")
    if not os.path.isdir(p):
        return 0
    ids = [int(d.split("=", 1)[1]) for d in os.listdir(p)]
    return max(ids, default=-1) + 1


def _committed_n_docs(spark, store: str) -> int:
    """The committed document count — the totals rows of the batches
    below the committed high-water mark."""
    hw = _committed_hw(store)
    if hw == 0:
        return 0
    rows = (
        spark.read.schema("n_docs long, n_tokens long, batch_id int")
        .parquet(os.path.join(store, "totals"))
        .filter(F.col("batch_id") < hw)
        .agg(F.sum("n_docs").alias("n"))
        .collect()
    )
    return int(rows[0]["n"] or 0)


def test_bm25_serves_committed_prefixes_under_running_maintainer(
    spark, sf_dir, tmp_path
):
    from se_data_pipeline_spark.functions.text import SEARCH_TERMS
    from se_data_pipeline_spark.sources.layout import (
        bm25_from_postings,
        write_posting_lists,
    )
    from se_data_pipeline_spark.streaming.jobs import (
        maintain_posting_lists,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )

    # expected answer per committed prefix, from offline-built stores
    expected: dict[int, list] = {}
    for p in range(1, _N_FILES + 1):
        prefix = docs.filter(f"doc_id % {_N_FILES} < {p}")
        store_p = str(tmp_path / f"prefix_{p}")
        write_posting_lists(prefix, store_p, n_buckets=32)
        expected[prefix.count()] = [
            tuple(r)
            for r in bm25_from_postings(
                spark, store_p, SEARCH_TERMS, limit=20
            ).collect()
        ]

    src = str(tmp_path / "src")
    _staggered_files(docs, src, _N_FILES)
    store = str(tmp_path / "store")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = maintain_posting_lists(
        stream, store, str(tmp_path / "chk"), n_buckets=32
    )

    observed: set[int] = set()
    try:
        while q.isActive:
            if not os.path.isdir(os.path.join(store, "batches")):
                _time.sleep(0.2)
                continue
            n1 = _committed_n_docs(spark, store)
            if n1 == 0:
                continue
            served = [
                tuple(r)
                for r in bm25_from_postings(
                    spark, store, SEARCH_TERMS, limit=20
                ).collect()
            ]
            n2 = _committed_n_docs(spark, store)
            if n1 != n2:
                # a batch committed mid-serve: the serve is still a
                # committed prefix (hw pinned at its first read), but
                # we cannot attribute WHICH prefix from out here
                continue
            assert n1 in expected, (
                f"serve saw n_docs={n1}, not any committed prefix "
                f"{sorted(expected)} — a partial batch leaked"
            )
            assert served == expected[n1], (
                f"serve at prefix n_docs={n1} diverged from the "
                "offline-built store for the same prefix"
            )
            observed.add(n1)
    finally:
        q.awaitTermination(300)
    assert q.exception() is None

    # the drained store must serve the full corpus exactly
    final = [
        tuple(r)
        for r in bm25_from_postings(
            spark, store, SEARCH_TERMS, limit=20
        ).collect()
    ]
    assert final == expected[docs.count()]
    observed.add(docs.count())
    # the interleaving must have actually exercised >1 prefix —
    # otherwise the test silently degenerated to a post-drain check
    assert len(observed) >= 2, (
        f"only prefixes {observed} observed — serves never "
        "interleaved with the stream; slow the trigger or add files"
    )


def test_phrase_serves_committed_prefixes_under_running_maintainer(
    spark, sf_dir, tmp_path
):
    """The positional twin: phrase_from_postings interleaved with
    maintain_positional_postings micro-batches — every stable serve
    equals the offline prefix store (the batches ledger is the
    commit point; _positional_live pins hw before every read)."""
    from se_data_pipeline_spark.sources.layout import (
        phrase_from_postings,
        write_positional_postings,
    )
    from se_data_pipeline_spark.streaming.jobs import (
        maintain_positional_postings,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    phrase = ("table", "hash")

    def _ledger_n(store: str) -> int:
        # the committed document count: distinct ids of the postings
        # below the committed high-water mark
        hw = _committed_hw(store)
        if hw == 0:
            return 0
        return (
            spark.read.schema(
                "doc_id bigint, tok string, batch_id int, tok_bucket bigint"
            )
            .parquet(os.path.join(store, "postings"))
            .filter(F.col("batch_id") < hw)
            .select("doc_id")
            .distinct()
            .count()
        )

    expected: dict[int, list] = {}
    for p in range(1, _N_FILES + 1):
        prefix = docs.filter(f"doc_id % {_N_FILES} < {p}")
        store_p = str(tmp_path / f"prefix_{p}")
        write_positional_postings(prefix, store_p, n_buckets=32)
        expected[prefix.count()] = [
            tuple(r)
            for r in phrase_from_postings(
                spark, store_p, phrase, limit=10
            ).collect()
        ]

    src = str(tmp_path / "src")
    _staggered_files(docs, src, _N_FILES)
    store = str(tmp_path / "store")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = maintain_positional_postings(
        stream, store, str(tmp_path / "chk"), n_buckets=32
    )

    observed: set[int] = set()
    try:
        while q.isActive:
            if not os.path.isdir(os.path.join(store, "batches")):
                _time.sleep(0.2)
                continue
            n1 = _ledger_n(store)
            if n1 == 0:
                continue
            served = [
                tuple(r)
                for r in phrase_from_postings(
                    spark, store, phrase, limit=10
                ).collect()
            ]
            n2 = _ledger_n(store)
            if n1 != n2:
                continue
            assert n1 in expected and served == expected[n1]
            observed.add(n1)
    finally:
        q.awaitTermination(300)
    assert q.exception() is None
    final = [
        tuple(r)
        for r in phrase_from_postings(
            spark, store, phrase, limit=10
        ).collect()
    ]
    assert final == expected[docs.count()]
    observed.add(docs.count())
    assert len(observed) >= 2


def test_ivf_probe_serves_committed_prefixes_under_running_maintainer(
    spark, sf_dir, tmp_path
):
    """The vector-side twin: ivf_candidates probes interleaved with
    maintain_ivf_index micro-batches. The batches ledger is the
    commit point (_ivf_live pins hw before reading cells and
    tombstones), so every stable probe must equal the probe over an
    offline store holding exactly that committed prefix."""
    from se_data_pipeline_spark.sources.layout import (
        ivf_candidates,
        write_ivf_index,
    )
    from se_data_pipeline_spark.streaming.jobs import (
        maintain_ivf_index,
    )

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding", "label")
    )
    q_vec = [
        float(x)
        for x in emb.orderBy("vec_id").limit(1).collect()[0][
            "embedding"
        ]
    ]

    # base store: first quarter (the maintainer needs a trained
    # quantizer); streamed files: the other three quarters
    base = emb.filter(f"vec_id % {_N_FILES} = 0")
    store = str(tmp_path / "store")
    write_ivf_index(base, store, cell_col="label")

    def _probe(st: str) -> list:
        return [
            (r["vec_id"], r["cos_sim"])
            for r in ivf_candidates(
                spark, st, q_vec, nprobe=2, n=10
            ).collect()
        ]

    expected: dict[int, list] = {}
    for p in range(1, _N_FILES):
        prefix = emb.filter(f"vec_id % {_N_FILES} <= {p}")
        st = str(tmp_path / f"prefix_{p}")
        # same quantizer: centroids from the base only, prefix rows
        # assigned under it — replicate by building base then feeding
        # the rest through the maintainer offline (drained stream)
        write_ivf_index(base, st, cell_col="label")
        extra = emb.filter(
            f"vec_id % {_N_FILES} > 0 AND vec_id % {_N_FILES} <= {p}"
        )
        xsrc = str(tmp_path / f"xsrc_{p}")
        extra.coalesce(1).write.mode("append").parquet(xsrc)
        xs = (
            spark.readStream.schema(extra.schema)
            .parquet(xsrc)
        )
        xq = maintain_ivf_index(xs, st, str(tmp_path / f"xchk_{p}"))
        xq.awaitTermination(120)
        assert xq.exception() is None
        expected[p] = _probe(st)

    def _ledger_max(st: str) -> int:
        return _committed_hw(st) - 1

    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    batches = []
    for i in range(1, _N_FILES):
        before = set(glob.glob(os.path.join(src, "part-*.parquet")))
        emb.filter(f"vec_id % {_N_FILES} = {i}").coalesce(
            1
        ).write.mode("append").parquet(src)
        batches.append(
            set(glob.glob(os.path.join(src, "part-*.parquet")))
            - before
        )
    now = _time.time()
    for i, files in enumerate(batches):
        for f in files:
            os.utime(f, (now - 100 + i, now - 100 + i))
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = maintain_ivf_index(stream, store, str(tmp_path / "chk"))

    observed: set[int] = set()
    try:
        while q.isActive:
            b1 = _ledger_max(store)
            if b1 < 0:
                _time.sleep(0.2)
                continue
            served = _probe(store)
            b2 = _ledger_max(store)
            if b1 != b2:
                continue
            # committed micro-batches 0..b1 = streamed files 1..b1+1
            want = expected.get(b1 + 1)
            if want is None:
                continue
            assert served == want, (
                f"probe at committed batch {b1} diverged from the "
                "offline store for the same prefix"
            )
            observed.add(b1)
    finally:
        q.awaitTermination(300)
    assert q.exception() is None
    assert _probe(store) == expected[_N_FILES - 1]
    observed.add(_N_FILES - 1)
    assert len(observed) >= 2

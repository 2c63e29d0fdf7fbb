"""Bucketed-layout tests: writing both join sides bucketed by the
join key must produce an Exchange-free SortMergeJoin — the pay-the-
shuffle-once-at-write-time contract that matters most at fact⋈fact
scale."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from se_data_pipeline_spark.catalog import load_table
from se_data_pipeline_spark.sources.layout import (
    bucketed_join,
    write_bucketed_table,
)


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        li = load_table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
        )
        write_bucketed_table(orders, "t_orders_b", ["o_orderkey"], 8)
        write_bucketed_table(li, "t_lineitem_b", ["o_orderkey"], 8)

        joined = bucketed_join(
            spark, "t_orders_b", "t_lineitem_b", ["o_orderkey"]
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # co-located

        # and it still computes the right thing
        n = joined.count()
        expected = (
            load_table(spark, sf_dir, "lineitem")
            .join(
                load_table(spark, sf_dir, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert n == expected
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_zorder_write_clusters_both_columns(spark, sf_dir, tmp_path):
    """Z-ordered write must cluster BOTH key columns: every output
    file's min-max span on each column is a fraction of the global
    span (that locality is exactly what row-group stats pruning
    exploits), and no rows are lost or duplicated."""
    from se_data_pipeline_spark.sources.layout import write_zordered

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    out = str(tmp_path / "li_z")
    write_zordered(li, out, ["l_orderkey", "l_partkey"])
    back = spark.read.parquet(out)
    assert back.count() == li.count()
    assert back.columns == ["l_orderkey", "l_partkey", "l_quantity"]

    per_file = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min("l_partkey").alias("p_lo"),
            F.max("l_partkey").alias("p_hi"),
            F.min("l_orderkey").alias("o_lo"),
            F.max("l_orderkey").alias("o_hi"),
        )
        .collect()
    )
    assert len(per_file) >= 4
    g = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_orderkey"), F.max("l_orderkey"),
    ).first()
    span_p, span_o = g[1] - g[0], g[3] - g[2]
    avg_p = sum(r["p_hi"] - r["p_lo"] for r in per_file) / len(per_file)
    avg_o = sum(r["o_hi"] - r["o_lo"] for r in per_file) / len(per_file)
    # a random layout would give ~full span per file on both axes
    assert avg_p < span_p * 0.8
    assert avg_o < span_o * 0.8


def test_write_training_shards_one_file_per_shard(spark, tmp_path):
    """Every shard directory holds exactly ONE parquet file, every
    doc lands in exactly one shard, and the manifest matches the
    read-back contents."""
    import glob
    import os

    from pyspark.sql import functions as F

    from se_data_pipeline_spark.catalog import load_table
    from se_data_pipeline_spark.sources.layout import write_training_shards

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    out = str(tmp_path / "shards")
    manifest = write_training_shards(docs, out, n_shards=8).collect()

    assert [r["shard"] for r in manifest] == sorted(
        {r["shard"] for r in manifest}
    )
    assert sum(r["n_docs"] for r in manifest) == docs.count()
    for r in manifest:
        files = glob.glob(os.path.join(out, f"shard={r['shard']}", "*.parquet"))
        assert len(files) == 1, files

    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()
    got = {
        r["shard"]: (r["n_docs"], r["n_bytes"])
        for r in back.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("n_bytes"),
        )
        .collect()
    }
    want = {r["shard"]: (r["n_docs"], r["n_bytes"]) for r in manifest}
    assert got == want


def test_write_training_shards_replaces_under_dynamic_session(
    spark, tmp_path
):
    """REPLACE semantics must hold even when the session has
    partitionOverwriteMode=dynamic set globally: re-emitting the
    corpus with FEWER shards must delete the old high-numbered shard
    directories (under unpinned dynamic mode they would survive and
    a training launcher would read stale documents — the
    compact_term_stats bug class, r7)."""
    import glob
    import os

    from se_data_pipeline_spark.catalog import load_table
    from se_data_pipeline_spark.sources.layout import write_training_shards

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    out = str(tmp_path / "shards")
    prev = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        write_training_shards(docs, out, n_shards=8).collect()
        write_training_shards(docs, out, n_shards=4).collect()
        # the writer restored the caller's session conf
        assert (
            spark.conf.get(
                "spark.sql.sources.partitionOverwriteMode"
            ).lower()
            == "dynamic"
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    shard_dirs = sorted(
        os.path.basename(d)
        for d in glob.glob(os.path.join(out, "shard=*"))
    )
    assert shard_dirs == [f"shard={i}" for i in range(4)], shard_dirs
    assert spark.read.parquet(out).count() == docs.count()


def test_compact_table_reduces_files(spark, tmp_path):
    """64 tiny input files compact into a bounded handful."""
    import glob

    from se_data_pipeline_spark.sources.layout import compact_table

    src = str(tmp_path / "tiny")
    dst = str(tmp_path / "compacted")
    spark.range(10_000).repartition(64).write.parquet(src)
    n_in = compact_table(spark, src, dst, target_records_per_file=5_000)
    assert n_in == 64
    out_files = glob.glob(f"{dst}/*.parquet")
    assert 1 <= len(out_files) <= 3
    assert spark.read.parquet(dst).count() == 10_000


def test_bq_index_scan_prunes_vector_column(spark, sf_dir, tmp_path):
    """The materialized BQ index must let stage 1 run WITHOUT reading
    the vector column: the executed scan's ReadSchema carries only
    (vec_id, code), and the Hamming top-n equals a from-scratch
    recomputation over the raw vectors."""
    from se_data_pipeline_spark.functions.vectors import pack_sign_bits
    from se_data_pipeline_spark.sources.layout import (
        bq_candidates,
        write_bq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    out = str(tmp_path / "bq_index")
    write_bq_index(emb, out)

    q_code = (
        emb.orderBy("vec_id")
        .limit(1)
        .select(pack_sign_bits(F.col("embedding")).alias("c"))
        .collect()[0]["c"]
    )
    cand = bq_candidates(spark, out, q_code, n=10)
    got = [(r["vec_id"], r["hamming"]) for r in cand.collect()]

    # column pruning: the index scan reads only vec_id + code
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    read_schema = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln
    ][0]
    assert "code" in read_schema and "vec_id" in read_schema
    assert "embedding" not in read_schema

    # ground truth from the raw vectors, no packing involved
    rows = emb.select("vec_id", "embedding").collect()
    qvec = min(rows, key=lambda r: r["vec_id"])["embedding"]
    truth = sorted(
        (
            sum((x > 0) != (y > 0) for x, y in zip(r["embedding"], qvec)),
            r["vec_id"],
        )
        for r in rows
    )[:10]
    assert got == [(vid, h) for h, vid in truth]


def test_bq_index_excludes_null_vectors(spark, sf_dir, tmp_path):
    """A NULL vector has no code: it must not enter the index, and a
    foreign index (no commit table) is refused with the shared
    missing-commit error instead of ranking its rows."""
    from se_data_pipeline_spark.sources.layout import (
        bq_candidates,
        write_bq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    with_null = emb.unionByName(
        spark.createDataFrame(
            [(999_999, None, None)],
            "vec_id bigint, embedding array<float>, label int",
        )
    )
    out = str(tmp_path / "bq_null")
    write_bq_index(with_null, out)
    idx = spark.read.parquet(f"{out}/codes")
    assert idx.filter(F.col("code").isNull()).count() == 0
    assert idx.filter(F.col("vec_id") == 999_999).count() == 0

    # foreign index with a NULL code row and no commit table: refused
    idx.unionByName(
        spark.createDataFrame(
            [(888_888, None, None)],
            "vec_id bigint, code long, batch_id int",
        )
    ).write.mode("overwrite").parquet(str(tmp_path / "bq_foreign"))
    with pytest.raises(ValueError, match="no 'batches' commit table"):
        bq_candidates(spark, str(tmp_path / "bq_foreign"), 0, n=5)


def test_swap_compacted_failed_write_leaves_live_store(spark, tmp_path):
    """ADVICE r8: a failed compaction WRITE must leave the live store
    untouched (the old in-place overwrite deleted the source before
    the fold finished writing). swap_compacted writes to a temp
    sibling first, so a write_fn that dies mid-job loses nothing."""
    import pytest

    from se_data_pipeline_spark.sources.layout import swap_compacted

    live = str(tmp_path / "store")
    spark.range(10).withColumn("batch_id", F.lit(0)).write.partitionBy(
        "batch_id"
    ).parquet(live)

    def boom(tmp):
        # simulate an executor/job failure after the tmp dir exists
        spark.range(1).write.parquet(tmp)
        raise RuntimeError("write job died")

    with pytest.raises(RuntimeError, match="write job died"):
        swap_compacted(spark, live, boom, "test store")
    # the live store survived, fully readable
    assert spark.read.parquet(live).count() == 10

    # and the NEXT compaction succeeds despite the stale tmp leftover
    def fold(tmp):
        spark.read.parquet(live).withColumn(
            "batch_id", F.lit(-1)
        ).write.partitionBy("batch_id").parquet(tmp)

    swap_compacted(spark, live, fold, "test store")
    folded = spark.read.parquet(live)
    assert folded.count() == 10
    assert [
        r["batch_id"]
        for r in folded.select("batch_id").distinct().collect()
    ] == [-1]


def test_swap_compacted_recovers_from_crash_between_delete_and_rename(
    spark, tmp_path
):
    """A crash AFTER the live-store delete but BEFORE the rename
    leaves the only complete copy at <live>.compacting; the next
    swap_compacted call must finish the rename instead of treating
    the store as absent."""
    from se_data_pipeline_spark.sources.layout import swap_compacted

    live = str(tmp_path / "store")
    tmp = live + ".compacting"
    # simulate the post-delete/pre-rename state: sibling only
    spark.range(7).withColumn("batch_id", F.lit(-1)).write.partitionBy(
        "batch_id"
    ).parquet(tmp)

    calls = []

    def fold(t):
        calls.append(t)
        spark.read.parquet(live).write.parquet(t)

    swap_compacted(spark, live, fold, "test store")
    assert calls, "recovery must proceed into a normal compaction"
    assert spark.read.parquet(live).count() == 7


def test_bm25_from_postings_matches_inline_and_prunes_partitions(
    spark, sf_dir, tmp_path
):
    """The materialized BM25 serving path must (a) reproduce the
    inline doc_bm25_search result score-for-score — the docstring's
    'materialize the tf table partitioned by term and this query
    becomes a posting-list lookup' claim, now executable — and
    (b) actually prune: the pruned scan must touch only the query
    terms' partition directories, not the whole postings layout."""
    from se_data_pipeline_spark.catalog import load_table
    from se_data_pipeline_spark.functions.text import SEARCH_TERMS
    from se_data_pipeline_spark.queries.text import doc_bm25_search
    from se_data_pipeline_spark.sources.layout import (
        bm25_from_postings,
        write_posting_lists,
    )

    out = str(tmp_path / "bm25_store")
    write_posting_lists(load_table(spark, sf_dir, "documents"), out)

    served = bm25_from_postings(spark, out, SEARCH_TERMS).collect()
    inline = doc_bm25_search(spark, sf_dir).collect()
    assert [(r["doc_id"], r["bm25"]) for r in served] == [
        (r["doc_id"], r["bm25"]) for r in inline
    ]

    import re

    from pyspark.sql import functions as F

    full = spark.read.parquet(f"{out}/postings")
    n_terms_in_store = full.select("tok").distinct().count()
    assert n_terms_in_store > len(SEARCH_TERMS) * 3, (
        "fixture vocabulary too small for the pruning assertion "
        "to mean anything"
    )
    served_df = bm25_from_postings(spark, out, SEARCH_TERMS)
    served_df.collect()
    plan = served_df._jdf.queryExecution().executedPlan().toString()
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "tok_bucket" in pf.group(1), (
        "the query terms' bucket ids must reach the postings scan "
        f"as a PARTITION filter, got: {plan[:800]}"
    )
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and "tok" in pushed.group(1), (
        "the exact-term cut must be pushed to parquet as a data "
        f"filter, got: {plan[:800]}"
    )
    # the pruned scan must physically touch at most K bucket dirs —
    # replicate the serve path's read and inspect the files it hits
    from se_data_pipeline_spark.sources.layout import _tok_bucket_col

    nb = spark.read.parquet(f"{out}/meta").collect()[0]["n_buckets"]
    want = {
        r["b"]
        for r in spark.createDataFrame(
            [(t,) for t in SEARCH_TERMS], "tok string"
        )
        .select(_tok_bucket_col(nb).alias("b"))
        .collect()
    }
    touched = {
        int(re.search(r"tok_bucket=(\d+)", r["f"]).group(1))
        for r in spark.read.parquet(f"{out}/postings")
        .filter(F.col("tok_bucket").isin(list(want)))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert touched <= want and len(touched) <= len(SEARCH_TERMS)
    # ... while the store itself spans many more buckets, so the
    # pruning is non-trivial on this fixture
    all_buckets = {
        int(re.search(r"tok_bucket=(\d+)", r["f"]).group(1))
        for r in spark.read.parquet(f"{out}/postings")
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert len(all_buckets) > len(SEARCH_TERMS) * 3


def test_posting_store_directory_count_bounded_by_buckets(
    spark, sf_dir, tmp_path
):
    """The r10 re-layout's reason for existing: the store's directory
    count is O(n_buckets), NEVER O(vocabulary). Partition-per-term on
    a Zipfian 100 TB vocabulary is millions of near-empty directories
    (r9 VERDICT adjudicated the old layout weak for exactly this);
    with an 8-bucket modulus a vocabulary hundreds of times larger
    still lands in <=8 tok_bucket dirs — and the serve path reads the
    modulus from meta, so parity holds at ANY bucket count."""
    import os

    from se_data_pipeline_spark.catalog import load_table
    from se_data_pipeline_spark.functions.text import SEARCH_TERMS
    from se_data_pipeline_spark.queries.text import doc_bm25_search
    from se_data_pipeline_spark.sources.layout import (
        bm25_from_postings,
        write_posting_lists,
    )

    # synthetic corpus with a WIDE vocabulary (1000 distinct tokens,
    # >> 8 buckets) — 10x the vocab, same dir count
    wide = spark.range(500).selectExpr(
        "id AS doc_id",
        "concat('w', id, ' w', id + 500, ' common') AS text",
    )
    out = str(tmp_path / "bm25_small_buckets")
    write_posting_lists(wide, out, n_buckets=8)
    base = os.path.join(out, "postings", "batch_id=-1")
    dirs = [d for d in os.listdir(base) if d.startswith("tok_bucket=")]
    assert 0 < len(dirs) <= 8, dirs

    # and serve parity holds at ANY modulus (meta drives the reader):
    # rebuild over the real fixture at n_buckets=8 and compare with
    # the inline corpus-scan query
    out2 = str(tmp_path / "bm25_fixture_8")
    write_posting_lists(load_table(spark, sf_dir, "documents"), out2, n_buckets=8)
    served = bm25_from_postings(spark, out2, SEARCH_TERMS).collect()
    inline = doc_bm25_search(spark, sf_dir).collect()
    assert [(r["doc_id"], r["bm25"]) for r in served] == [
        (r["doc_id"], r["bm25"]) for r in inline
    ]


def test_refresh_ivf_index_recovers_from_interrupted_swap(
    spark, tmp_path
):
    """refresh_ivf_index swaps the WHOLE index dir; a crash between
    swap_compacted's delete and rename leaves the only copy at
    <index>.compacting. A re-run must finish that rename BEFORE its
    own existence pre-checks — the r9 review found the pre-check
    raised 'has no cells store' first, making the crash window
    unrecoverable from refresh itself."""
    import os

    from se_data_pipeline_spark.sources.layout import (
        ivf_candidates,
        refresh_ivf_index,
        write_ivf_index,
    )

    idx = str(tmp_path / "ivf")
    vecs = spark.createDataFrame(
        [
            (i, [float(i % 2) * 10, float(i % 3)], i % 2)
            for i in range(12)
        ],
        "vec_id long, embedding array<float>, label int",
    )
    write_ivf_index(vecs, idx)
    # simulate the post-delete / pre-rename crash state
    os.rename(idx, idx + ".compacting")

    refresh_ivf_index(spark, idx, n_iters=1)
    got = ivf_candidates(spark, idx, [10.0, 0.0], nprobe=1)
    assert got.count() > 0, "recovered + refreshed index must serve"
    # an index that was never built: the state read, which now runs
    # before refresh's own cells check, names the missing table
    missing = str(tmp_path / "never_built")
    for call in (
        lambda: refresh_ivf_index(spark, missing),
        lambda: ivf_candidates(spark, missing, [10.0, 0.0]),
    ):
        with pytest.raises(ValueError, match="has no centroids table"):
            call()


def test_swap_compacted_missing_store_raises_value_error(
    spark, tmp_path
):
    """ADVICE r8: compacting a store that was never created (e.g. a
    maintenance stream whose first batches were all filtered out) must
    raise a descriptive ValueError, not an AnalysisException from the
    read inside the fold."""
    import pytest

    from se_data_pipeline_spark.sources.layout import (
        compact_ivf_index,
        swap_compacted,
    )

    with pytest.raises(ValueError, match="does not exist"):
        swap_compacted(
            spark, str(tmp_path / "never_created"), lambda t: None
        )
    with pytest.raises(ValueError, match="IVF cells store"):
        compact_ivf_index(spark, str(tmp_path / "no_such_index"))


def test_positional_postings_phrase_search(spark, tmp_path):
    """Phrase serving from the positional store: multi-term start-set
    folding (including a 3-term phrase and a repeated-term phrase),
    docs missing any term fold to zero hits, and the guard on
    degenerate 1-term phrases. The oracle-checked phrase_served_topk
    covers the real corpus; this pins the algorithm's edges."""
    import pytest

    from se_data_pipeline_spark.sources.layout import (
        phrase_from_postings,
        write_positional_postings,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c a b c x"),
            (2, "a b x b c"),
            (3, "c b a"),
            (4, "b b b"),
        ],
        "doc_id long, text string",
    )
    store = str(tmp_path / "pos_store")
    write_positional_postings(docs, store, n_buckets=8)

    got = {
        (r["doc_id"], r["n_hits"])
        for r in phrase_from_postings(spark, store, ("a", "b", "c")).collect()
    }
    assert got == {(1, 2)}

    got2 = {
        (r["doc_id"], r["n_hits"])
        for r in phrase_from_postings(spark, store, ("b", "c")).collect()
    }
    assert got2 == {(1, 2), (2, 1)}

    # repeated-term phrase: overlapping occurrences both count
    got3 = {
        (r["doc_id"], r["n_hits"])
        for r in phrase_from_postings(spark, store, ("b", "b")).collect()
    }
    assert got3 == {(4, 2)}

    # a phrase containing an absent term matches nothing
    assert (
        phrase_from_postings(spark, store, ("a", "zz")).count() == 0
    )
    with pytest.raises(ValueError, match="at least two"):
        phrase_from_postings(spark, store, ("a",))


def test_ivf_bq_funnel_prunes_and_matches_brute(spark, sf_dir, tmp_path):
    """r11 two-stage funnel: stage 1's executed scan must read ONLY
    (vec_id, code) from the probed cells (the embedding column never
    leaves disk for non-candidates), and at nprobe=all with a
    candidate pool covering the corpus the funnel must equal the
    exact brute-force top-10."""
    from se_data_pipeline_spark.queries.vectors import (
        embedding_knn_brute,
    )
    from se_data_pipeline_spark.sources.layout import (
        ivf_bq_funnel,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    out = str(tmp_path / "ivf")
    write_ivf_index(emb, out, cell_col="label")
    q_vec = [
        float(x)
        for x in emb.orderBy("vec_id").limit(1).collect()[0][
            "embedding"
        ]
    ]
    n_all = emb.count()

    funnel = ivf_bq_funnel(
        spark,
        out,
        q_vec,
        nprobe=1_000_000,
        n_candidates=n_all,
        n=10,
    )
    got = [(r["vec_id"], r["cos_sim"]) for r in funnel.collect()]
    brute = [
        (r["vec_id"], r["cos_sim"])
        for r in embedding_knn_brute(spark, sf_dir)
        .select("vec_id", "cos_sim")
        .collect()
    ][:10]  # knn_brute returns top-20; the funnel serves top-10
    assert got == brute

    # stage-1 column pruning on the executed plan: some scan reads
    # (vec_id, code) WITHOUT embedding
    plan = funnel._jdf.queryExecution().executedPlan().toString()
    stage1_scans = [
        ln
        for ln in plan.splitlines()
        if "ReadSchema" in ln
        and "code" in ln
        and "embedding" not in ln
    ]
    assert stage1_scans, (
        "expected a (vec_id, code)-only scan for the Hamming stage:\n"
        + plan
    )


def test_ivf_pq_funnel_matches_brute_and_prunes(
    spark, sf_dir, tmp_path
):
    """r12 IVF-PQ (ADC) funnel: stage 1's executed scan must read
    ONLY (vec_id, pq_code) from the probed cells (neither the float
    column nor the 8-byte sign code leaves disk), and at nprobe=all
    with a candidate pool covering the corpus the exact rerank makes
    the funnel equal the brute-force top-10. A revision under the
    FROZEN codebook (a genuine cell move) must serve exactly once
    with its new embedding; compaction must preserve codebook and
    codes."""
    from se_data_pipeline_spark.queries.vectors import (
        embedding_knn_brute,
    )
    from se_data_pipeline_spark.sources.layout import (
        compact_ivf_index,
        ivf_pq_funnel,
        revise_ivf_vectors,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    out = str(tmp_path / "ivfpq")
    write_ivf_index(emb, out, cell_col="label", pq=True)
    q_vec = [
        float(x)
        for x in emb.orderBy("vec_id").limit(1).collect()[0][
            "embedding"
        ]
    ]
    n_all = emb.count()

    funnel = ivf_pq_funnel(
        spark, out, q_vec, nprobe=1_000_000, n_candidates=n_all, n=10
    )
    got = [(r["vec_id"], r["cos_sim"]) for r in funnel.collect()]
    brute = [
        (r["vec_id"], r["cos_sim"])
        for r in embedding_knn_brute(spark, sf_dir)
        .select("vec_id", "cos_sim")
        .collect()
    ][:10]
    assert got == brute

    # stage-1 column pruning: some scan reads pq_code WITHOUT the
    # embedding or sign-code columns
    plan = funnel._jdf.queryExecution().executedPlan().toString()
    stage1 = [
        ln
        for ln in plan.splitlines()
        if "ReadSchema" in ln
        and "pq_code" in ln
        and "embedding" not in ln
    ]
    assert stage1, (
        "expected a (vec_id, pq_code)-only scan for the ADC stage:\n"
        + plan
    )

    # revision under the frozen codebook: flip the top-2 result's
    # vector far away — it must leave the top-10 (tombstone kills the
    # stale row; the replacement encodes + reranks correctly)
    moved = got[1][0]
    revise_ivf_vectors(
        spark,
        emb.filter(F.col("vec_id") == moved).select(
            "vec_id",
            F.transform("embedding", lambda x: -x).alias("embedding"),
        ),
        out,
    )
    got2 = [
        (r["vec_id"], r["cos_sim"])
        for r in ivf_pq_funnel(
            spark, out, q_vec, nprobe=1_000_000,
            n_candidates=n_all, n=10,
        ).collect()
    ]
    assert moved not in [v for v, _ in got2]
    # the 9 surviving brute winners keep their order; slot 10 is
    # promoted from below brute's horizon
    survivors = [v for v, _ in brute if v != moved]
    assert len(got2) == 10
    assert [v for v, _ in got2][: len(survivors)] == survivors

    # compaction preserves the frozen codebook + folded codes
    compact_ivf_index(spark, out)
    got3 = [
        (r["vec_id"], r["cos_sim"])
        for r in ivf_pq_funnel(
            spark, out, q_vec, nprobe=1_000_000,
            n_candidates=n_all, n=10,
        ).collect()
    ]
    assert got3 == got2


def test_ivf_pq_funnel_requires_pq_store(spark, tmp_path):
    from se_data_pipeline_spark.sources.layout import (
        ivf_pq_funnel,
        write_ivf_index,
    )

    vecs = spark.range(8).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 2).cast("float"), F.lit(1.0).cast("float")
        ).alias("embedding"),
        (F.col("id") % 2).cast("int").alias("label"),
    )
    out = str(tmp_path / "plain_ivf")
    write_ivf_index(vecs, out)
    with pytest.raises(ValueError, match="no PQ codes"):
        ivf_pq_funnel(spark, out, [1.0, 0.0])


def test_ivf_filtered_topk_modes(spark, sf_dir, tmp_path):
    """r12 filtered ANN: prefilter at nprobe=all equals the brute
    filtered truth exactly; postfilter recall degrades with
    selectivity exactly as the over-fetch bound predicts (candidates
    are the global top n*overfetch, so matches beyond that horizon
    are lost)."""
    from se_data_pipeline_spark.sources.layout import (
        ivf_filtered_topk,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    tagged = emb.join(docs, "vec_id", "left").withColumn(
        "source", F.coalesce("source", F.lit("none"))
    )
    out = str(tmp_path / "ivf_attr")
    write_ivf_index(
        tagged, out, cell_col="label", attr_cols=("source",)
    )
    head = tagged.orderBy("vec_id").limit(1).collect()[0]
    q_vec = [float(x) for x in head["embedding"]]
    src = head["source"]
    where = f"source = '{src}'"

    # brute filtered truth: exact cosine over the tagged corpus
    from se_data_pipeline_spark.sources.layout import _cos_sim_expr

    truth = [
        r["vec_id"]
        for r in tagged.filter(F.expr(where))
        .select("vec_id", _cos_sim_expr(q_vec).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
        .collect()
    ]
    pre = [
        r["vec_id"]
        for r in ivf_filtered_topk(
            spark, out, q_vec, where, nprobe=1_000_000, n=10
        ).collect()
    ]
    assert pre == truth

    # postfilter: candidates are the global top n*overfetch rows —
    # recall vs truth is bounded by how many matches fall inside
    # that horizon, and grows monotonically with overfetch
    recalls = {}
    for ov in (1, 4, 1_000_000):
        post = {
            r["vec_id"]
            for r in ivf_filtered_topk(
                spark,
                out,
                q_vec,
                where,
                nprobe=1_000_000,
                n=10,
                mode="postfilter",
                overfetch=ov,
            ).collect()
        }
        recalls[ov] = len(post & set(truth)) / max(1, len(truth))
    assert recalls[1] <= recalls[4] <= recalls[1_000_000]
    assert recalls[1_000_000] == 1.0


def test_positional_meta_absent_when_rows_write_fails(
    spark, tmp_path, monkeypatch
):
    """write_positional_postings writes rows -> meta -> ledger in
    order: a build whose rows write raises leaves no meta, so a serve
    fails with the no-meta-table error instead of reading the partial
    rows through the ledgerless (hw None) path."""
    import os

    from se_data_pipeline_spark.sources import layout as L

    real = L._positional_frames

    def failing(docs, batch_id, n_buckets):
        boom = F.assert_true(F.col("doc_id") < 0, "injected rows crash")
        return real(docs, batch_id, n_buckets).filter(boom.isNull())

    monkeypatch.setattr(L, "_positional_frames", failing)
    out = str(tmp_path / "pos")
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id bigint, text string"
    )
    with pytest.raises(Exception, match="injected rows crash"):
        L.write_positional_postings(docs, out, n_buckets=8)
    assert not os.path.exists(f"{out}/meta")
    with pytest.raises(ValueError, match="no meta table"):
        L.phrase_from_postings(spark, out, ("alpha", "beta"))


def test_ivf_rebuild_replaces_store_under_dynamic_overwrite(
    spark, sf_dir, tmp_path
):
    """A rebuild replaces the store whatever the session's
    partitionOverwriteMode: under ``dynamic`` a plain overwrite would
    keep a stream-maintained IVF store's batch_id >= 0 cells and their
    commit markers, and the old vectors would still serve. After the
    rebuild the high-water mark is 0, no cells dir holds a
    batch_id >= 0 partition, and a streamed vector is not served."""
    import glob
    import os

    from se_data_pipeline_spark.sources.layout import (
        ivf_candidates,
        write_ivf_index,
    )
    from se_data_pipeline_spark.streaming.jobs import maintain_ivf_index

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    a = emb.filter(F.col("vec_id") % 2 == 0)
    idx = str(tmp_path / "ivf")
    write_ivf_index(a, idx)
    src = str(tmp_path / "src")
    emb.filter(F.col("vec_id") % 2 == 1).write.parquet(src)
    maintain_ivf_index(
        spark.readStream.schema(emb.schema).parquet(src),
        idx,
        str(tmp_path / "ckpt"),
    ).awaitTermination(120)
    cells = spark.read.parquet(f"{idx}/cells")
    assert cells.filter(F.col("batch_id") >= 0).count() > 0

    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try:
        write_ivf_index(a, idx)
    finally:
        spark.conf.set(key, prev)
    rebuilt = (
        spark.read.parquet(f"{idx}/cells")
        .filter(F.col("batch_id") == -1)
        .count()
    )
    assert rebuilt == a.filter(F.col("embedding").isNotNull()).count()
    # the high-water mark is 0: the build's marker is the only one
    assert [
        d for d in os.listdir(f"{idx}/batches") if d.startswith("batch_id=")
    ] == ["batch_id=-1"]
    assert not [
        d
        for d in glob.glob(f"{idx}/cells/*/batch_id=*")
        if d.rsplit("=", 1)[1] != "-1"
    ]
    odd = (
        emb.filter(F.col("embedding").isNotNull())
        .filter(F.col("vec_id") % 2 == 1)
        .orderBy("vec_id")
        .first()
    )
    n_cells = len(os.listdir(f"{idx}/cells"))
    served = ivf_candidates(
        spark, idx, list(odd["embedding"]), nprobe=n_cells, n=5
    ).collect()
    assert served
    assert odd["vec_id"] not in {r["vec_id"] for r in served}


def test_overlapped_writes_keep_callers_job_group(spark, tmp_path):
    """_overlap_writes runs its writes on InheritableThreads: every
    job write_posting_lists starts — the overlapped postings and
    doclens writes included — carries the caller's job group."""
    from se_data_pipeline_spark.sources.layout import write_posting_lists

    sc = spark.sparkContext
    st = sc.statusTracker()
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d")], "doc_id bigint, text string"
    )
    sc.setJobGroup("overlap-mark", "mark")
    spark.range(1).collect()
    mark = max(st.getJobIdsForGroup("overlap-mark"))
    sc.setJobGroup("overlap-group", "write_posting_lists")
    try:
        write_posting_lists(docs, str(tmp_path / "pl"), n_buckets=8)
    finally:
        sc._jsc.clearJobGroup()
    grouped = set(st.getJobIdsForGroup("overlap-group"))
    stray = {j for j in st.getJobIdsForGroup(None) if j > mark}
    assert not stray, f"jobs outside the caller's group: {sorted(stray)}"
    # postings + doclens (overlapped), totals, meta
    assert len(grouped) >= 4


def test_serving_pools_keep_callers_job_group(spark, sf_dir):
    """bm25_phrase_boost_served overlaps its two store builds through
    _overlap_writes: every job the query starts, built and collected,
    carries the caller's job group."""
    from se_data_pipeline_spark.queries.serving import (
        bm25_phrase_boost_served,
    )

    sc = spark.sparkContext
    st = sc.statusTracker()
    sc.setJobGroup("boost-mark", "mark")
    spark.range(1).collect()
    mark = max(st.getJobIdsForGroup("boost-mark"))
    sc.setJobGroup("boost-group", "bm25_phrase_boost_served")
    try:
        rows = bm25_phrase_boost_served(spark, sf_dir).collect()
    finally:
        sc._jsc.clearJobGroup()
    assert rows
    stray = {j for j in st.getJobIdsForGroup(None) if j > mark}
    assert not stray, f"jobs outside the caller's group: {sorted(stray)}"
    assert st.getJobIdsForGroup("boost-group")

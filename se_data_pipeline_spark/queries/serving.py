"""Materialized-store SERVING paths under the driver oracle (r9
VERDICT next #2/#4): until this module, the index stores —
write_posting_lists/bm25_from_postings, write_ivf_index/
ivf_candidates — were pinned only by pytest parity tests; the
driver's DuckDB oracle never touched them. These queries register
the full store LIFECYCLE (build → revise → serve) as ordinary
oracle-checked entries, the composed-oracle pattern of
dedup_method_recall_report: each serving result must hash-match the
SQL a user could run over the raw tables, so a wrong bucket prune,
a surviving tombstone, or a broken totals correction fails the
driver gate, not just a unit test.

Reference anchor: the serving layouts exist for the corpus the
reference's probe JSONL feeds (filter_channel.py:49-54 → documents
table); its re-ingest ledger (data_pipeline.py:559-577) is why the
revision step is part of the checked lifecycle.

Each query builds its store in a scratch directory (the store is the
SUBJECT under test, not a cache); at sf0.01/sf0.1 the builds are a
few seconds and the stores a few MB. Production pins a store once
and serves many queries — the lifecycle-per-call shape here is the
correctness harness, not the deployment shape.

Scratch hygiene (ADVICE r10): all scratch stores live under ONE
pid-scoped root; each query RECYCLES its own fixed subdir (rmtree +
rebuild at call time — by the time a query is re-invoked, the frame
its previous call returned has been consumed), and the whole root is
removed at interpreter exit, so a full gate sweep + bench run leaves
/tmp clean instead of accumulating one orphaned store per call.
Single-flight assumption: a query's returned frame must be collected
before the SAME query is called again in this process (true for the
driver gate, the bench harness, and pytest). NB the scratch root is
DRIVER-LOCAL temp space — correct in local mode and for these
lifecycle checks, but a real cluster deployment points the layout
helpers at a cluster filesystem path instead.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from se_data_pipeline_spark.catalog import load_table
from se_data_pipeline_spark.queries import _REGISTRY, defer_oracle, query

_SCRATCH_ROOT = os.path.join(
    tempfile.gettempdir(), f"se_pipeline_serving_{os.getpid()}"
)


def _scratch(name: str) -> str:
    """Per-query scratch store dir under the session root: cleared of
    the previous call's store (stale tombstones/fences from a prior
    lifecycle would corrupt the rebuild), created fresh, reaped at
    exit."""
    path = os.path.join(_SCRATCH_ROOT, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


@atexit.register
def _reap_scratch() -> None:
    shutil.rmtree(_SCRATCH_ROOT, ignore_errors=True)


def _defer_copy_of(this: str, upstream: str) -> None:
    """Adopt `upstream`'s oracle verbatim, LAZILY: text.py re-enters
    _load_all mid-import (its langid composition), so this module's
    body can run before text's later registrations exist — the
    builder returns None until the upstream appears and
    all_oracles() resolves it then (queries._DEFERRED_ORACLES)."""
    defer_oracle(
        this,
        lambda: (
            _REGISTRY[upstream].oracle if upstream in _REGISTRY else None
        ),
    )


@query("bm25_served_parity")
def bm25_served_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from a materialized posting-list store after a
    REVISION cycle, checked against the inline corpus-scan oracle:
    build the store from a perturbed v1 corpus (a third of the
    documents carry junk tokens, changing tf/dl/df/avgdl), revise
    those doc_ids back to their true text (tombstones + correction
    deltas, sources/layout.revise_posting_lists), then serve the
    standard top-20. Equality with doc_bm25_search's oracle proves
    the whole lifecycle at once: bucket-pruned lookup (tok_bucket
    partition filter), tombstone-dead row exclusion, doclens-ledger
    totals correction, and the scoring math — any stale v1 row or
    off-by-anything correction shifts a score and breaks the hash.

    Scale: the serve itself reads <=K bucket directories (K = query
    terms) + the O(batches) totals + the O(revised) tombstones; the
    build/revise writes are batch-bounded. See SCALE_CHECK r10 for
    the O(buckets)-metadata measurement."""
    from se_data_pipeline_spark.functions.text import SEARCH_TERMS
    from se_data_pipeline_spark.sources.layout import (
        bm25_from_postings,
        revise_posting_lists,
        write_posting_lists,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    v1 = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" zzv1junk zzv1junk")),
        ).otherwise(F.col("text")),
    )
    store = _scratch("bm25_served")
    write_posting_lists(v1, store)
    revise_posting_lists(spark, docs.filter("doc_id % 3 = 0"), store)
    return bm25_from_postings(spark, store, SEARCH_TERMS, limit=20)


_IVF_RECALL_K = 10
_IVF_PROBES = (1, 2)


def _ivf_recall_oracle() -> str:
    from se_data_pipeline_spark.queries.vectors import (
        _SQL_COS,
        _SQL_QVEC,
    )

    probes = ", ".join(f"({p})" for p in _IVF_PROBES)
    return f"""
    WITH q AS ({_SQL_QVEC}),
    flat AS (SELECT label, unnest(embedding) AS v,
                    generate_subscripts(embedding, 1) AS pos
             FROM embeddings),
    c AS (SELECT label, pos, AVG(CAST(v AS DOUBLE)) AS ctr
          FROM flat GROUP BY label, pos),
    dist AS (SELECT c.label,
                    SUM((c.ctr - CAST(q.q[CAST(c.pos AS INT)] AS DOUBLE))
                        * (c.ctr - CAST(q.q[CAST(c.pos AS INT)] AS DOUBLE))) AS d2
             FROM c CROSS JOIN q GROUP BY c.label),
    ranked_cells AS (SELECT label,
                            row_number() OVER (ORDER BY d2, label) AS rk
                     FROM dist),
    brute AS (SELECT e.vec_id FROM embeddings e CROSS JOIN q
              ORDER BY {_SQL_COS} DESC, e.vec_id
              LIMIT {_IVF_RECALL_K}),
    probes(nprobe) AS (VALUES {probes}),
    served AS (
      SELECT p.nprobe, s.vec_id
      FROM probes p, LATERAL (
        SELECT e.vec_id
        FROM embeddings e
        JOIN ranked_cells rc
          ON e.label = rc.label AND rc.rk <= p.nprobe
        CROSS JOIN q
        ORDER BY {_SQL_COS} DESC, e.vec_id
        LIMIT {_IVF_RECALL_K}) s)
    SELECT served.nprobe,
           {_IVF_RECALL_K} AS k,
           COUNT(b.vec_id) AS n_found,
           ROUND(COUNT(b.vec_id) * 1.0 / {_IVF_RECALL_K}, 6) AS recall
    FROM served LEFT JOIN brute b USING (vec_id)
    GROUP BY served.nprobe
    ORDER BY served.nprobe
    """


@query("ivf_served_recall", oracle=_ivf_recall_oracle())
def ivf_served_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the MATERIALIZED IVF probe path vs exact brute
    truth, per nprobe: write_ivf_index over the embeddings table
    (cells = labels, the embedding_knn_ivf quantizer), then probe the
    STORE with ivf_candidates at nprobe=1 and 2. Brute truth comes
    from the same store probed with every cell — identical raw-order
    semantics, NULL handling, and code path, so the report measures
    exactly what cell pruning costs and nothing else. The oracle
    replays quantizer, probe and truth in SQL; a store that assigned
    one vector to the wrong cell, resurrected a stale row, or pruned
    the wrong partition changes a recall cell and fails the hash.

    Scale: probe cost is nprobe/n_cells of the store (parquet
    partition pruning, plan-asserted in the layout tests); the
    report's joins touch 2k rows per probe. This is the monitoring
    query a serving deployment runs per index epoch."""
    from se_data_pipeline_spark.sources.layout import (
        ivf_candidates,
        ivf_serve_state,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    head = emb.orderBy("vec_id").limit(1).collect()
    if not head:  # empty-corpus sweep: no query vector, no report
        return spark.createDataFrame(
            [], "nprobe int, k int, n_found bigint, recall double"
        )
    store = _scratch("ivf_served")
    write_ivf_index(emb, store, cell_col="label")
    q_vec = [float(x) for x in head[0]["embedding"]]
    # one serve-state snapshot shared by all three probes of the
    # (now static) store — centroids + hw read once, not per probe
    st = ivf_serve_state(spark, store)
    brute = F.broadcast(
        ivf_candidates(
            spark, store, q_vec, nprobe=1_000_000, n=_IVF_RECALL_K,
            state=st,
        )
        .select("vec_id")
        .withColumn("hit", F.lit(1))
    )
    tagged = None
    for p in _IVF_PROBES:
        s = (
            ivf_candidates(
                spark, store, q_vec, nprobe=p, n=_IVF_RECALL_K,
                state=st,
            )
            .select("vec_id")
            .withColumn("nprobe", F.lit(p))
        )
        tagged = s if tagged is None else tagged.unionByName(s)
    return (
        tagged.join(brute, "vec_id", "left")
        .groupBy("nprobe")
        .agg(
            F.lit(_IVF_RECALL_K).alias("k"),
            F.count("hit").alias("n_found"),
            F.round(
                F.count("hit") / F.lit(_IVF_RECALL_K), 6
            ).alias("recall"),
        )
        .orderBy("nprobe")
    )


@query("hybrid_served")
def hybrid_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_hybrid_search served from its MATERIALIZED legs — the
    composition that query's docstring promises for 100 TB, now
    executed truth under the oracle: the sparse leg is
    bm25_from_postings over a freshly built posting-list store, the
    dense leg is ivf_candidates over a freshly built IVF store, the
    RRF head is the shared _rrf_head (one codepath with the inline
    query). The dense probe runs with nprobe=all cells here because
    the oracle contract is EQUALITY with the inline top-10 (the
    probe still exercises the store layout end-to-end: partitioned
    read, tombstone hook, raw-order top-k); production dials
    nprobe < n_cells and trades the recall ivf_served_recall
    measures.

    Scale: each leg is a bounded store lookup (<=K bucket dirs /
    nprobe cells) ending in TakeOrderedAndProject; the fusion joins
    two 20-row frames. This is the shape a RAG serving tier runs per
    query — the corpus is touched only at store-build time."""
    from se_data_pipeline_spark.functions.text import SEARCH_TERMS
    from se_data_pipeline_spark.queries.vectors import (
        _HYBRID_K,
        _rrf_head,
    )
    from se_data_pipeline_spark.sources.layout import (
        _overlap_writes,
        bm25_from_postings,
        ivf_candidates,
        write_ivf_index,
        write_posting_lists,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    emb = load_table(spark, sf_dir, "embeddings")
    p_store = _scratch("hybrid_postings")

    # the two store builds are fully independent (distinct scratch
    # dirs, distinct inputs) — overlapped from two driver threads that
    # keep the caller's job group (_overlap_writes), so the second
    # build's jobs back-fill the first's stragglers (guide §2.6;
    # Spark schedules concurrent jobs FIFO)
    def _build_dense():
        head = emb.orderBy("vec_id").limit(1).collect()
        if not head:  # empty-corpus sweep: no dense leg
            return None
        v_store = _scratch("hybrid_ivf")
        write_ivf_index(emb, v_store, cell_col="label")
        return head, v_store

    built, _ = _overlap_writes(
        _build_dense, lambda: write_posting_lists(docs, p_store)
    )

    sparse = bm25_from_postings(
        spark, p_store, SEARCH_TERMS, limit=_HYBRID_K
    )
    if built is None:  # empty-corpus sweep: dense contributes nothing
        dense = spark.createDataFrame(
            [], "doc_id bigint, cos_sim double"
        )
    else:
        head, v_store = built
        q_vec = [float(x) for x in head[0]["embedding"]]
        dense = ivf_candidates(
            spark, v_store, q_vec, nprobe=1_000_000, n=_HYBRID_K
        ).select(
            F.col("vec_id").alias("doc_id"),
            F.round("cos_sim", 6).alias("cos_sim"),
        )
    return _rrf_head(sparse, dense)

_defer_copy_of("bm25_served_parity", "doc_bm25_search")
_defer_copy_of("hybrid_served", "doc_hybrid_search")


_PHRASE = ("table", "hash")  # most frequent fixture bigram (48 hits at sf0.01)


def _phrase_oracle() -> str:
    cond = " AND ".join(
        f"ts[i+{k}] = '{t}'" for k, t in enumerate(_PHRASE)
    )
    return f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    m AS (
      SELECT doc_id,
             CAST(len([i for i in range(1, len(ts) - {len(_PHRASE) - 2})
                       if {cond}]) AS INTEGER) AS n_hits
      FROM t)
    SELECT doc_id, n_hits FROM m
    WHERE n_hits > 0
    ORDER BY n_hits DESC, doc_id
    LIMIT 10
    """


@query("phrase_served_topk", oracle=_phrase_oracle())
def phrase_served_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval served from a POSITIONAL posting-list
    store (write_positional_postings → phrase_from_postings): docs
    ranked by how often the phrase occurs as ADJACENT tokens — the
    query class a frequency-only index cannot answer and the reason
    production posting lists carry positions. The oracle recounts
    adjacency by scanning the raw text in SQL, so the whole
    positional lifecycle (positions collected per (doc, term),
    bucket-pruned K-term read, start-set intersection fold) is
    hash-checked end-to-end.

    Scale: the store's partition key space is bounded at n_buckets
    (O(buckets) directories and files regardless of vocabulary); a
    K-term phrase prunes to <=K bucket dirs, the legs join doc-keyed,
    and per-doc work is bounded by the rarest term's position list —
    corpus text is never read at serve time."""
    from se_data_pipeline_spark.sources.layout import (
        phrase_from_postings,
        write_positional_postings,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    store = _scratch("phrase_store")
    write_positional_postings(docs, store)
    return phrase_from_postings(spark, store, _PHRASE, limit=10)


def _ghost_docs(spark: SparkSession) -> DataFrame:
    """Synthetic phrase-heavy documents injected into the v1 build
    and DELETED during the lifecycle: their n_hits would dominate the
    top-10, so a tombstone that fails to kill them (or a delete that
    leaks through compaction) breaks the hash loudly rather than
    perturbing a low rank. Built range-based, not createDataFrame —
    the layout._totals_row JVM-literal rule (a python-list local
    relation taxes every job its plan participates in)."""
    return spark.range(4).select(
        (F.col("id") + 1_000_000_000).alias("doc_id"),
        F.lit(("table hash " * 12).strip()).alias("text"),
    )


def _perturbed_v1(docs: DataFrame) -> DataFrame:
    """v1 corpus for the phrase lifecycle: a third of the documents
    get fake phrase occurrences PREPENDED — every true occurrence in
    those docs also shifts position, so both phantom hits and stale
    position arrays are distinguishable from the truth."""
    return docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("table hash table hash "), F.col("text")
            ),
        ).otherwise(F.col("text")),
    )


def _phrase_lifecycle(
    spark: SparkSession, sf_dir: str, store: str
) -> None:
    """build(perturbed v1 + ghost docs) → revise(true text) →
    delete(ghosts): the store's final live state equals the raw
    corpus, so _phrase_oracle over the documents table is the exact
    truth for any serve that follows."""
    from se_data_pipeline_spark.sources.layout import (
        delete_positional_docs,
        revise_positional_postings,
        write_positional_postings,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    ghosts = _ghost_docs(spark)
    write_positional_postings(
        _perturbed_v1(docs).unionByName(ghosts), store
    )
    revise_positional_postings(
        spark, docs.filter("doc_id % 3 = 0"), store
    )
    delete_positional_docs(spark, ghosts.select("doc_id"), store)


@query("phrase_served_parity", oracle=_phrase_oracle())
def phrase_served_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval after a full positional-store REVISION
    cycle (r10 VERDICT next #1), checked against the raw-text
    adjacency recount: build from a perturbed corpus plus
    phrase-heavy ghost documents, revise the perturbed slice back to
    its true text (tombstones + replacement position rows), DELETE
    the ghosts, then serve top-10. The serve path applies the
    tombstone kill rule inside the pivot (_pivot_live_positions) —
    a surviving stale position array adds
    phantom hits, an undead ghost floods the top-10, an uncommitted
    batch leaking past the ledger high-water mark shifts counts; any
    of these fails the driver hash.

    Scale: same bounded story as phrase_served_topk — the lifecycle
    adds one batch-bounded revision write and an O(revised)
    tombstone join over the already-pruned <=K bucket read."""
    from se_data_pipeline_spark.sources.layout import (
        phrase_from_postings,
    )

    store = _scratch("phrase_parity")
    _phrase_lifecycle(spark, sf_dir, store)
    return phrase_from_postings(spark, store, _PHRASE, limit=10)


@query("phrase_served_compacted", oracle=_phrase_oracle())
def phrase_served_compacted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The phrase_served_parity lifecycle + compact_positional_
    postings before the serve: compaction folds the revision batches
    into the batch_id=-1 base, physically drops tombstone-killed
    position rows (including the deleted ghosts), and clears the
    tombstones/fence — so this entry pins the FOLD path where
    phrase_served_parity pins the tombstone-join path; a compactor
    that resurrected a killed row or lost a replacement would break
    the hash while parity stayed green."""
    from se_data_pipeline_spark.sources.layout import (
        compact_positional_postings,
        phrase_from_postings,
    )

    store = _scratch("phrase_compacted")
    _phrase_lifecycle(spark, sf_dir, store)
    compact_positional_postings(spark, store)
    return phrase_from_postings(spark, store, _PHRASE, limit=10)


@query("phrase_stream_maintained", oracle=_phrase_oracle())
def phrase_stream_maintained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-phrase retrieval from a STREAM-maintained positional
    store under the driver oracle: micro-batch 1 is the perturbed v1
    corpus, micro-batch 2 RE-EMITS the perturbed slice's true text
    (maintain_positional_postings with allow_revisions=True —
    tombstones ride the stream), then the drained store serves the
    standard top-10 against the raw-text recount. This is the
    streamed twin of phrase_served_parity's offline revision,
    exercising the exactly-once-by-layout protocol end-to-end (file
    mtimes pin the batch order; availableNow drains synchronously).

    Scale: each micro-batch writes min(batch vocabulary, n_buckets)
    directories; the serve is the same <=K-bucket pruned read."""
    import time as _time

    from se_data_pipeline_spark.sources.layout import (
        phrase_from_postings,
    )
    from se_data_pipeline_spark.streaming.jobs import (
        maintain_positional_postings,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    if docs.isEmpty():  # empty-corpus sweep: no batches, no store
        return spark.createDataFrame([], "doc_id bigint, n_hits int")
    root = _scratch("phrase_streamed")
    src = os.path.join(root, "src")
    store = os.path.join(root, "store")
    chk = os.path.join(root, "chk")
    _perturbed_v1(docs).coalesce(1).write.mode("append").parquet(src)
    import glob as _glob

    first = set(_glob.glob(os.path.join(src, "part-*.parquet")))
    docs.filter("doc_id % 3 = 0").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    now = _time.time()
    for f in _glob.glob(os.path.join(src, "part-*.parquet")):
        os.utime(
            f, (now - 100, now - 100) if f in first else (now, now)
        )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = maintain_positional_postings(
        stream, store, chk, allow_revisions=True
    )
    q.awaitTermination(300)
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return phrase_from_postings(spark, store, _PHRASE, limit=10)


_PROX_TERMS = ("table", "hash")
_PROX_K = 3


def _proximity_oracle() -> str:
    t1, t2 = _PROX_TERMS
    return f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    p AS (
      SELECT doc_id,
             [i for i in range(1, len(ts) + 1)
              if ts[i] = '{t1}'] AS p1,
             [i for i in range(1, len(ts) + 1)
              if ts[i] = '{t2}'] AS p2
      FROM t),
    m AS (
      SELECT doc_id,
             CAST(COALESCE(list_sum(
               [len([y for y in p2
                     if abs(y - x) <= {_PROX_K} AND y <> x])
                for x in p1]), 0) AS INTEGER) AS n_hits
      FROM p)
    SELECT doc_id, n_hits FROM m
    WHERE n_hits > 0
    ORDER BY n_hits DESC, doc_id
    LIMIT 10
    """


@query("proximity_served_topk", oracle=_proximity_oracle())
def proximity_served_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Within-k proximity retrieval served from the positional store
    (r10 VERDICT next #4, IIR ch.2 POSITIONALINTERSECT): docs ranked
    by the number of position pairs of the two terms within window
    k=3 — the query class between exact-phrase and bag-of-words that
    production posting lists exist to serve. The oracle recounts the
    windows from raw text; the Spark side reads only the two terms'
    bucket directories and folds pairs row-locally (per-doc work
    bounded by the two position-list lengths, 0/1-based indexing
    cancels in the differences)."""
    from se_data_pipeline_spark.sources.layout import (
        proximity_from_postings,
        write_positional_postings,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    store = _scratch("proximity_store")
    write_positional_postings(docs, store)
    return proximity_from_postings(
        spark, store, *_PROX_TERMS, k=_PROX_K, limit=10
    )


_AND_TERMS = ("scan", "merge", "vector")


def _and_ranked_oracle() -> str:
    counts = ",\n             ".join(
        f"len([x for x in ts if x = '{t}']) AS c{i}"
        for i, t in enumerate(_AND_TERMS)
    )
    total = " + ".join(f"c{i}" for i in range(len(_AND_TERMS)))
    allpos = " AND ".join(
        f"c{i} > 0" for i in range(len(_AND_TERMS))
    )
    return f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    cnt AS (
      SELECT doc_id,
             {counts}
      FROM t)
    SELECT doc_id, CAST({total} AS INTEGER) AS total_tf
    FROM cnt WHERE {allpos}
    ORDER BY total_tf DESC, doc_id
    LIMIT 10
    """


@query("and_ranked_served_topk", oracle=_and_ranked_oracle())
def and_ranked_served_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conjunctive (AND) multi-term retrieval ranked by total term
    frequency, served from the positional store — the boolean-
    retrieval head posting lists classically serve (IIR ch.1
    INTERSECT), here over three mid-frequency terms so the
    all-terms-present cut actually prunes. tf per term is
    size(positions), so no frequency twin of the store is needed;
    the oracle recounts every term's occurrences from raw text and
    applies the same all-positive cut and (total_tf, doc_id)
    ordering."""
    from se_data_pipeline_spark.sources.layout import (
        and_ranked_from_postings,
        write_positional_postings,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    store = _scratch("and_ranked_store")
    write_positional_postings(docs, store)
    return and_ranked_from_postings(
        spark, store, _AND_TERMS, limit=10
    )


def _ivf_revised_oracle() -> str:
    from se_data_pipeline_spark.queries.vectors import (
        _SQL_COS,
        _SQL_QVEC,
    )

    cos_l = _SQL_COS.replace("e.embedding", "l.embedding")
    probes = ", ".join(f"({p})" for p in _IVF_PROBES)
    return f"""
    WITH q AS ({_SQL_QVEC}),
    v1 AS (SELECT vec_id, label,
                  CASE WHEN vec_id % 5 = 0
                       THEN [CAST(-x AS FLOAT) for x in embedding]
                       ELSE embedding END AS emb
           FROM embeddings),
    flat AS (SELECT label, unnest(emb) AS v,
                    generate_subscripts(emb, 1) AS pos
             FROM v1),
    c AS (SELECT label, pos, AVG(CAST(v AS DOUBLE)) AS ctr
          FROM flat GROUP BY label, pos),
    live AS (SELECT vec_id, label, embedding FROM embeddings
             WHERE vec_id % 7 <> 3 AND embedding IS NOT NULL),
    cellof AS (
      SELECT l.vec_id,
             CASE WHEN l.vec_id % 5 = 0 THEN (
               SELECT d.label FROM (
                 SELECT c.label,
                        SUM((c.ctr - CAST(l.embedding[CAST(c.pos AS INT)]
                                          AS DOUBLE))
                            * (c.ctr - CAST(l.embedding[CAST(c.pos AS INT)]
                                            AS DOUBLE))) AS d2
                 FROM c GROUP BY c.label) d
               ORDER BY d.d2, d.label LIMIT 1)
             ELSE l.label END AS cell
      FROM live l),
    dist AS (SELECT c.label,
                    SUM((c.ctr - CAST(q.q[CAST(c.pos AS INT)] AS DOUBLE))
                        * (c.ctr - CAST(q.q[CAST(c.pos AS INT)] AS DOUBLE))) AS d2
             FROM c CROSS JOIN q GROUP BY c.label),
    ranked_cells AS (SELECT label,
                            row_number() OVER (ORDER BY d2, label) AS rk
                     FROM dist),
    brute AS (SELECT l.vec_id FROM live l CROSS JOIN q
              ORDER BY {cos_l} DESC, l.vec_id
              LIMIT {_IVF_RECALL_K}),
    probes(nprobe) AS (VALUES {probes}),
    served AS (
      SELECT p.nprobe, s.vec_id
      FROM probes p, LATERAL (
        SELECT l.vec_id
        FROM live l
        JOIN cellof co ON co.vec_id = l.vec_id
        JOIN ranked_cells rc
          ON rc.label = co.cell AND rc.rk <= p.nprobe
        CROSS JOIN q
        ORDER BY {cos_l} DESC, l.vec_id
        LIMIT {_IVF_RECALL_K}) s)
    SELECT served.nprobe,
           {_IVF_RECALL_K} AS k,
           COUNT(b.vec_id) AS n_found,
           ROUND(COUNT(b.vec_id) * 1.0 / {_IVF_RECALL_K}, 6) AS recall
    FROM served LEFT JOIN brute b USING (vec_id)
    GROUP BY served.nprobe
    ORDER BY served.nprobe
    """


@query("ivf_revised_recall", oracle=_ivf_revised_oracle())
def ivf_revised_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ivf_served_recall with a REVISION cycle in the middle (r10
    VERDICT next #2 — the tombstone path the driver gate never
    executed): build the IVF store from a perturbed corpus (a fifth
    of the vectors sign-flipped, so their v1 rows sit under centroids
    their true embeddings don't belong to), then revise_ivf_vectors
    moves them back to their TRUE embeddings — each re-assigned to
    its nearest cell under the frozen v1 quantizer, i.e. a genuine
    cell MOVE whose stale row read-side dedupe inside the probed
    cells cannot see (layout.py revise_ivf_vectors docstring) — and
    DELETES every vec_id % 7 == 3 via NULL embeddings. Probing at
    nprobe=1,2 against brute truth over the post-revision corpus: a
    resurrected stale vector, a replacement left in its OLD cell, or
    a surviving deleted row changes a recall cell and fails the
    hash; the SQL oracle replays quantizer training (v1 centroids),
    per-vector re-assignment, cell ranking, probe, and truth.

    Scale: the revision is one batch-bounded write + an O(revised)
    tombstone set; probes stay nprobe/n_cells partition-pruned
    reads with the tombstone join over probed rows only."""
    from se_data_pipeline_spark.sources.layout import (
        ivf_candidates,
        ivf_serve_state,
        revise_ivf_vectors,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    head = emb.orderBy("vec_id").limit(1).collect()
    if not head:  # empty-corpus sweep: no query vector, no report
        return spark.createDataFrame(
            [], "nprobe int, k int, n_found bigint, recall double"
        )
    v1 = emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % 5 == 0,
            F.transform("embedding", lambda x: -x),
        ).otherwise(F.col("embedding")),
    )
    store = _scratch("ivf_revised")
    write_ivf_index(v1, store, cell_col="label")
    revision = emb.filter(
        "(vec_id % 5 = 0 OR vec_id % 7 = 3) AND embedding IS NOT NULL"
    ).select(
        "vec_id",
        F.when(F.col("vec_id") % 7 == 3, F.lit(None))
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    revise_ivf_vectors(spark, revision, store)

    q_vec = [float(x) for x in head[0]["embedding"]]
    # snapshot AFTER the last write — shared by all three probes
    st = ivf_serve_state(spark, store)
    brute = F.broadcast(
        ivf_candidates(
            spark, store, q_vec, nprobe=1_000_000, n=_IVF_RECALL_K,
            state=st,
        )
        .select("vec_id")
        .withColumn("hit", F.lit(1))
    )
    tagged = None
    for p in _IVF_PROBES:
        s = (
            ivf_candidates(
                spark, store, q_vec, nprobe=p, n=_IVF_RECALL_K,
                state=st,
            )
            .select("vec_id")
            .withColumn("nprobe", F.lit(p))
        )
        tagged = s if tagged is None else tagged.unionByName(s)
    return (
        tagged.join(brute, "vec_id", "left")
        .groupBy("nprobe")
        .agg(
            F.lit(_IVF_RECALL_K).alias("k"),
            F.count("hit").alias("n_found"),
            F.round(
                F.count("hit") / F.lit(_IVF_RECALL_K), 6
            ).alias("recall"),
        )
        .orderBy("nprobe")
    )


def _bq_served_oracle() -> str:
    from se_data_pipeline_spark.queries.vectors import (
        _BQ_CANDIDATES,
        _BQ_K,
        _SQL_COS,
        _SQL_HAMMING,
        _SQL_QVEC,
    )

    return f"""
    WITH q AS ({_SQL_QVEC}),
    h AS (
      SELECT e.vec_id,
             {_SQL_HAMMING} AS hamming,
             {_SQL_COS} AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id % 7 <> 3 AND e.embedding IS NOT NULL),
    cand AS (
      SELECT * FROM h ORDER BY hamming, vec_id LIMIT {_BQ_CANDIDATES})
    SELECT vec_id, CAST(hamming AS INT) AS hamming,
           ROUND(cos, 6) AS cos_sim
    FROM cand ORDER BY cos DESC, vec_id LIMIT {_BQ_K}
    """


@query("bq_served_topk", oracle=_bq_served_oracle())
def bq_served_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-stage BQ funnel served from a MATERIALIZED index after
    a DELETE cycle: write_bq_index packs the sign codes once,
    delete_bq_vectors tombstones every vec_id % 7 == 3 at the next
    committed batch id, then bq_candidates ranks Hamming stage-1 over
    the committed, tombstone-live codes only and the exact cosine
    rerank keeps the top-20. The oracle replays codes, Hamming cut,
    and rerank in SQL over the post-delete corpus — a deleted vector
    resurrecting through a stale code (or a tombstone knocking out
    the wrong id) enters/leaves the candidate set and fails the hash.

    Scale: stage 1 reads 8 bytes/vector (id+code; parquet column
    pruning keeps the floats on disk), TakeOrderedAndProject heaps
    per partition; the rerank touches exactly 100 candidate vectors;
    the delete is one tiny tombstone partition, folded away by
    compact_bq_index."""
    from se_data_pipeline_spark.functions.vectors import pack_sign_bits
    from se_data_pipeline_spark.queries.vectors import (
        _BQ_CANDIDATES,
        _BQ_K,
        _score_against_query,
    )
    from se_data_pipeline_spark.sources.layout import (
        bq_candidates,
        delete_bq_vectors,
        write_bq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    head = (
        emb.orderBy("vec_id")
        .limit(1)
        .select(
            "embedding",
            pack_sign_bits(F.col("embedding")).alias("qcode"),
        )
        .collect()
    )
    if not head:  # empty-corpus sweep
        return spark.createDataFrame(
            [], "vec_id bigint, hamming int, cos_sim double"
        )
    store = _scratch("bq_served")
    write_bq_index(emb.select("vec_id", "embedding"), store)
    delete_bq_vectors(
        spark, emb.filter("vec_id % 7 = 3").select("vec_id"), store
    )
    cand = bq_candidates(
        spark, store, int(head[0]["qcode"]), n=_BQ_CANDIDATES
    )
    qvec = (
        emb.orderBy("vec_id")
        .limit(1)
        .select(F.col("embedding").alias("q"))
    )
    scored = _score_against_query(
        F.broadcast(cand)
        .join(emb.select("vec_id", F.col("embedding").alias("v")), "vec_id")
        .crossJoin(F.broadcast(qvec))
        .select("vec_id", "hamming", "v", "q"),
        "hamming",
    )
    return (
        scored.orderBy(F.desc("raw_sim"), F.asc("vec_id"))
        .limit(_BQ_K)
        .select(
            "vec_id",
            F.col("hamming").cast("int").alias("hamming"),
            F.round("raw_sim", 6).alias("cos_sim"),
        )
    )


def _hybrid_recall_oracle() -> str:
    from se_data_pipeline_spark.queries.vectors import (
        _HYBRID_K,
        _SQL_COS,
        _SQL_QVEC,
        _sql_bm25_top,
    )

    probes = ", ".join(f"({p})" for p in _IVF_PROBES)
    return f"""
    WITH {_sql_bm25_top(_HYBRID_K)},
    sp AS (SELECT doc_id,
                  row_number() OVER (ORDER BY bm25 DESC, doc_id) AS ra
           FROM sp0),
    q AS ({_SQL_QVEC}),
    flat AS (SELECT label, unnest(embedding) AS v,
                    generate_subscripts(embedding, 1) AS pos
             FROM embeddings),
    c AS (SELECT label, pos, AVG(CAST(v AS DOUBLE)) AS ctr
          FROM flat GROUP BY label, pos),
    dist AS (SELECT c.label,
                    SUM((c.ctr - CAST(q.q[CAST(c.pos AS INT)] AS DOUBLE))
                        * (c.ctr - CAST(q.q[CAST(c.pos AS INT)] AS DOUBLE))) AS d2
             FROM c CROSS JOIN q GROUP BY c.label),
    ranked_cells AS (SELECT label,
                            row_number() OVER (ORDER BY d2, label) AS rk
                     FROM dist),
    probes(nprobe) AS (VALUES {probes}),
    dn0 AS (
      SELECT p.nprobe, s.doc_id, s.cos_sim
      FROM probes p, LATERAL (
        SELECT e.vec_id AS doc_id, ROUND({_SQL_COS}, 6) AS cos_sim
        FROM embeddings e
        JOIN ranked_cells rc
          ON e.label = rc.label AND rc.rk <= p.nprobe
        CROSS JOIN q
        ORDER BY {_SQL_COS} DESC, e.vec_id
        LIMIT {_HYBRID_K}) s),
    dn AS (SELECT nprobe, doc_id,
                  row_number() OVER (PARTITION BY nprobe
                                     ORDER BY cos_sim DESC, doc_id) AS rb
           FROM dn0),
    dnf0 AS (SELECT e.vec_id AS doc_id, ROUND({_SQL_COS}, 6) AS cos_sim
             FROM embeddings e CROSS JOIN q
             ORDER BY {_SQL_COS} DESC, e.vec_id
             LIMIT {_HYBRID_K}),
    dnf AS (SELECT doc_id,
                   row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS rb
            FROM dnf0),
    spx AS (SELECT p.nprobe, sp.doc_id, sp.ra
            FROM probes p CROSS JOIN sp),
    fused_scored AS (
      SELECT COALESCE(s.nprobe, d.nprobe) AS nprobe,
             COALESCE(s.doc_id, d.doc_id) AS doc_id,
             COALESCE(1.0 / (60 + s.ra), 0)
             + COALESCE(1.0 / (60 + d.rb), 0) AS rrf
      FROM spx s FULL JOIN dn d
        ON s.doc_id = d.doc_id AND s.nprobe = d.nprobe),
    fused_p AS (
      SELECT nprobe, doc_id FROM (
        SELECT nprobe, doc_id,
               row_number() OVER (PARTITION BY nprobe
                                  ORDER BY rrf DESC, doc_id) AS rk
        FROM fused_scored) WHERE rk <= 10),
    fused_full AS (
      SELECT COALESCE(sp.doc_id, d.doc_id) AS doc_id
      FROM sp FULL JOIN dnf d ON sp.doc_id = d.doc_id
      ORDER BY COALESCE(1.0 / (60 + sp.ra), 0)
               + COALESCE(1.0 / (60 + d.rb), 0) DESC,
               COALESCE(sp.doc_id, d.doc_id)
      LIMIT 10)
    SELECT f.nprobe,
           10 AS k,
           COUNT(ff.doc_id) AS n_overlap,
           ROUND(COUNT(ff.doc_id) * 1.0 / 10, 6) AS overlap
    FROM fused_p f LEFT JOIN fused_full ff USING (doc_id)
    GROUP BY f.nprobe
    ORDER BY f.nprobe
    """


@query("hybrid_served_recall", oracle=_hybrid_recall_oracle())
def hybrid_served_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """hybrid_served at PRODUCTION nprobe (r10 VERDICT next #5):
    hybrid_served's oracle contract is exact equality with the inline
    fusion, which forces nprobe=all cells — so the driver gate never
    covered the RRF head over a PRUNED dense leg, the shape a RAG
    tier actually dials. This entry probes the IVF store at
    nprobe=1,2, fuses each pruned dense leg with the posting-store
    BM25 leg through the shared _rrf_head, and reports overlap@10
    against the full fusion (dense leg = all cells) — the
    ivf_served_recall composed-oracle pattern applied to the fused
    head. The SQL replays both legs, both rank assignments (over
    6dp-rounded scores, id tie-break — integer-exact across
    engines), both fusions, and the overlap count.

    Scale: each pruned leg is a bounded store lookup ending in
    TakeOrderedAndProject; the fusions join <=K-row frames; the
    overlap joins two 10-row frames. This is the dial-tuning report
    a serving deployment runs to pick nprobe."""
    from se_data_pipeline_spark.functions.text import SEARCH_TERMS
    from se_data_pipeline_spark.queries.vectors import (
        _HYBRID_K,
        _rrf_head,
    )
    from se_data_pipeline_spark.sources.layout import (
        _overlap_writes,
        bm25_from_postings,
        ivf_candidates,
        ivf_serve_state,
        write_ivf_index,
        write_posting_lists,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    emb = load_table(spark, sf_dir, "embeddings")
    p_store = _scratch("hybrid_recall_postings")

    # independent store builds overlapped from two driver threads
    # (guide §2.6) — the hybrid_served pattern
    def _build_dense():
        head = emb.orderBy("vec_id").limit(1).collect()
        if head:
            store = _scratch("hybrid_recall_ivf")
            write_ivf_index(emb, store, cell_col="label")
            return head, store
        return None

    built, _ = _overlap_writes(
        _build_dense, lambda: write_posting_lists(docs, p_store)
    )
    head = built[0] if built else []
    sparse = bm25_from_postings(
        spark, p_store, SEARCH_TERMS, limit=_HYBRID_K
    )

    def _dense(nprobe: int) -> DataFrame:
        if not head:  # empty-corpus sweep: no dense leg
            return spark.createDataFrame(
                [], "doc_id bigint, cos_sim double"
            )
        q_vec = [float(x) for x in head[0]["embedding"]]
        return ivf_candidates(
            spark, v_store, q_vec, nprobe=nprobe, n=_HYBRID_K,
            state=v_state,
        ).select(
            F.col("vec_id").alias("doc_id"),
            F.round("cos_sim", 6).alias("cos_sim"),
        )

    if built:
        v_store = built[1]
        # one serve-state snapshot for the three dense probes
        v_state = ivf_serve_state(spark, v_store)
    full = F.broadcast(
        _rrf_head(sparse, _dense(1_000_000))
        .select("doc_id")
        .withColumn("hit", F.lit(1))
    )
    tagged = None
    for p in _IVF_PROBES:
        s = (
            _rrf_head(sparse, _dense(p))
            .select("doc_id")
            .withColumn("nprobe", F.lit(p))
        )
        tagged = s if tagged is None else tagged.unionByName(s)
    return (
        tagged.join(full, "doc_id", "left")
        .groupBy("nprobe")
        .agg(
            F.lit(10).alias("k"),
            F.count("hit").alias("n_overlap"),
            F.round(F.count("hit") / F.lit(10), 6).alias("overlap"),
        )
        .orderBy("nprobe")
    )


# shingle-index lifecycle constants (literals, not imports from
# queries.text — this module's body can run while text.py is only
# partially initialized, the _defer_copy_of rationale): 5-token
# shingles at the shared 0.8 Jaccard threshold; src18 is the probe
# shard (dedup_incremental_new_shard's convention), src13 the corpus
# source deleted mid-lifecycle (it pairs with src18 at sf0.01, so a
# failed delete changes the result).
_IDX_SHARD = "src18"
_IDX_DELETED = "src13"
_IDX_THRESHOLD = 0.8


def _dedup_index_oracle() -> str:
    return f"""
    WITH sh AS (
      SELECT doc_id, list_distinct(
        [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         toks[i+3] || ' ' || toks[i+4]
         for i in range(1, len(toks) - 3)]) AS s
      FROM (SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents)),
    e AS (
      SELECT s.doc_id, len(s.s) AS m, unnest(s.s) AS sh, d.source
      FROM sh s JOIN documents d USING (doc_id)
      WHERE len(s.s) > 0),
    a AS (SELECT * FROM e WHERE source = '{_IDX_SHARD}'),
    b AS (SELECT * FROM e
          WHERE source NOT IN ('{_IDX_SHARD}', '{_IDX_DELETED}')),
    p AS (
      SELECT a.doc_id AS new_doc, b.doc_id AS corpus_doc,
             a.m AS ma, b.m AS mb, COUNT(*) AS n_common
      FROM a JOIN b ON a.sh = b.sh
      GROUP BY new_doc, corpus_doc, ma, mb)
    SELECT new_doc, corpus_doc, CAST(n_common AS BIGINT) AS n_common,
           ROUND(n_common * 1.0 / (ma + mb - n_common), 6) AS jaccard
    FROM p
    WHERE n_common * 1.0 / (ma + mb - n_common) >= {_IDX_THRESHOLD}
    ORDER BY new_doc, corpus_doc
    """


@query("dedup_index_served", oracle=_dedup_index_oracle())
def dedup_index_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup screening served from a MATERIALIZED
    shingle index after a full revision lifecycle — the continuous-
    ingest production shape behind dedup_incremental_new_shard, with
    the corpus side read from the store instead of re-shingled per
    screen: build the index from the corpus-minus-shard with a third
    of the documents perturbed (junk tokens inflate their m and add
    junk shingles), revise those docs back to their true text
    (tombstones + fresh rows), DELETE one whole source from the
    index, then screen the held-out shard. The oracle recomputes the
    asymmetric shingle join from raw text over exactly the live
    corpus — a stale row splits a pair's (ma, mb) group or shifts
    its Jaccard, an undead deleted doc adds a pair, and either fails
    the hash.

    Scale: the screen's text pass is batch-sized (the shard), the
    index side is a columnar read of (doc_id, m, h) — never the
    corpus text; the join shuffles 8-byte hashes; revision deltas
    are batch-bounded."""
    from se_data_pipeline_spark.sources.layout import (
        delete_shingle_docs,
        near_dups_from_index,
        revise_shingle_docs,
        write_shingle_index,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    corpus = docs.filter(F.col("source") != _IDX_SHARD)
    v1 = corpus.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" zzidx0 zzidx1 zzidx2 zzidx3 zzidx4 zzidx5"),
            ),
        ).otherwise(F.col("text")),
    )
    store = _scratch("dedup_index")
    write_shingle_index(v1.select("doc_id", "text"), store)
    revise_shingle_docs(
        spark,
        corpus.filter("doc_id % 3 = 0").select("doc_id", "text"),
        store,
    )
    delete_shingle_docs(
        spark,
        corpus.filter(F.col("source") == _IDX_DELETED).select(
            "doc_id"
        ),
        store,
    )
    return near_dups_from_index(
        spark,
        store,
        docs.filter(F.col("source") == _IDX_SHARD).select(
            "doc_id", "text"
        ),
        threshold=_IDX_THRESHOLD,
    )


_FUNNEL_NPROBE = 2
_FUNNEL_CANDS = 50


def _ivf_bq_funnel_oracle() -> str:
    from se_data_pipeline_spark.queries.vectors import (
        _SQL_COS,
        _SQL_HAMMING,
        _SQL_QVEC,
    )

    return f"""
    WITH q AS ({_SQL_QVEC}),
    flat AS (SELECT label, unnest(embedding) AS v,
                    generate_subscripts(embedding, 1) AS pos
             FROM embeddings),
    c AS (SELECT label, pos, AVG(CAST(v AS DOUBLE)) AS ctr
          FROM flat GROUP BY label, pos),
    dist AS (SELECT c.label,
                    SUM((c.ctr - CAST(q.q[CAST(c.pos AS INT)] AS DOUBLE))
                        * (c.ctr - CAST(q.q[CAST(c.pos AS INT)] AS DOUBLE))) AS d2
             FROM c CROSS JOIN q GROUP BY c.label),
    probed_cells AS (
      SELECT label FROM (
        SELECT label, row_number() OVER (ORDER BY d2, label) AS rk
        FROM dist) WHERE rk <= {_FUNNEL_NPROBE}),
    h AS (
      SELECT e.vec_id,
             {_SQL_HAMMING} AS hamming,
             {_SQL_COS} AS cos
      FROM embeddings e
      JOIN probed_cells pc ON e.label = pc.label
      CROSS JOIN q),
    cand AS (
      SELECT * FROM h ORDER BY hamming, vec_id LIMIT {_FUNNEL_CANDS})
    SELECT vec_id, CAST(hamming AS INT) AS hamming,
           ROUND(cos, 6) AS cos_sim
    FROM cand ORDER BY cos DESC, vec_id LIMIT 10
    """


@query("ivf_bq_funnel_served", oracle=_ivf_bq_funnel_oracle())
def ivf_bq_funnel_served(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The FULL production ANN funnel served from one materialized
    store (r11): coarse-quantizer cell pruning (IVF partition
    filter) -> 8-byte sign-code Hamming cut inside the probed cells
    (the embedding column never read — plan-asserted in the layout
    test) -> exact cosine rerank of the 50 survivors. This is the
    compounding that makes FAISS-style IVF-BQ deployments serve
    100 TB: nprobe/n_cells of the index's codes + 50 float vectors
    per query. The oracle replays quantizer training, cell ranking,
    the in-cell Hamming cut, and the rerank in SQL — a code packed
    differently, a cell pruned wrongly, or a candidate boundary off
    by one changes the top-10 and fails the hash."""
    from se_data_pipeline_spark.sources.layout import (
        ivf_bq_funnel,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    head = emb.orderBy("vec_id").limit(1).collect()
    if not head:  # empty-corpus sweep
        return spark.createDataFrame(
            [], "vec_id bigint, hamming int, cos_sim double"
        )
    store = _scratch("ivf_bq_funnel")
    write_ivf_index(emb, store, cell_col="label")
    q_vec = [float(x) for x in head[0]["embedding"]]
    return ivf_bq_funnel(
        spark,
        store,
        q_vec,
        nprobe=_FUNNEL_NPROBE,
        n_candidates=_FUNNEL_CANDS,
        n=10,
    )


# PQ conventions for the materialized funnel — literals here (not
# imports from queries.vectors: this module's body can run while
# other query modules are only partially initialized, the
# _defer_copy_of rationale). Must match layout.write_ivf_index's
# defaults AND the SQL replays below.
_FPQ_M = 8
_FPQ_SUB = 8
_FPQ_K = 16


def _ivf_pq_funnel_oracle() -> str:
    from se_data_pipeline_spark.queries.vectors import (
        _SQL_COS,
        _SQL_QVEC,
    )

    sub = _FPQ_SUB
    return f"""
    WITH q AS ({_SQL_QVEC}),
    v1 AS (SELECT vec_id, label,
                  CASE WHEN vec_id % 5 = 0
                       THEN [CAST(-x AS FLOAT) for x in embedding]
                       ELSE embedding END AS emb
           FROM embeddings WHERE embedding IS NOT NULL),
    cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k,
                  [CAST(x AS DOUBLE) for x in emb] AS e
           FROM v1 ORDER BY vec_id LIMIT {_FPQ_K}),
    flat AS (SELECT label, unnest(emb) AS x,
                    generate_subscripts(emb, 1) AS pos
             FROM v1),
    c AS (SELECT label, pos, AVG(CAST(x AS DOUBLE)) AS ctr
          FROM flat GROUP BY label, pos),
    live AS (SELECT vec_id, label, embedding,
                    [CAST(x AS DOUBLE) for x in embedding] AS e
             FROM embeddings
             WHERE vec_id % 7 <> 3 AND embedding IS NOT NULL),
    cellof AS (
      SELECT l.vec_id,
             CASE WHEN l.vec_id % 5 = 0 THEN (
               SELECT d.label FROM (
                 SELECT c.label,
                        SUM((c.ctr - l.e[CAST(c.pos AS INT)])
                            * (c.ctr - l.e[CAST(c.pos AS INT)])) AS d2
                 FROM c GROUP BY c.label) d
               ORDER BY d.d2, d.label LIMIT 1)
             ELSE l.label END AS cell
      FROM live l),
    dist AS (SELECT c.label,
                    SUM((c.ctr - CAST(q.q[CAST(c.pos AS INT)] AS DOUBLE))
                        * (c.ctr - CAST(q.q[CAST(c.pos AS INT)] AS DOUBLE))) AS d2
             FROM c CROSS JOIN q GROUP BY c.label),
    probed_cells AS (
      SELECT label FROM (
        SELECT label, row_number() OVER (ORDER BY d2, label) AS rk
        FROM dist) WHERE rk <= {_FUNNEL_NPROBE}),
    ms AS (SELECT unnest(range({_FPQ_M})) AS m),
    d AS (SELECT l.vec_id, ms.m, cb.k,
                 list_sum([(l.e[i] - cb.e[i]) * (l.e[i] - cb.e[i])
                           for i in range(ms.m * {sub} + 1,
                                          ms.m * {sub} + {sub} + 1)])
                   AS dd
          FROM live l
          JOIN cellof co ON co.vec_id = l.vec_id
          JOIN probed_cells pc ON pc.label = co.cell
          CROSS JOIN ms CROSS JOIN cb),
    best AS (SELECT vec_id, m, k FROM (
               SELECT vec_id, m, k,
                      row_number() OVER (PARTITION BY vec_id, m
                                         ORDER BY dd, k) AS rn
               FROM d) WHERE rn = 1),
    qd AS (SELECT [CAST(x AS DOUBLE) for x in q.q] AS e FROM q),
    lut AS (SELECT ms.m, cb.k,
                   list_sum([(qd.e[i] - cb.e[i]) * (qd.e[i] - cb.e[i])
                             for i in range(ms.m * {sub} + 1,
                                            ms.m * {sub} + {sub} + 1)])
                     AS dd
            FROM qd CROSS JOIN ms CROSS JOIN cb),
    est AS (SELECT b.vec_id,
                   list_sum(array_agg(l.dd ORDER BY b.m)) AS est_dist
            FROM best b JOIN lut l ON l.m = b.m AND l.k = b.k
            GROUP BY b.vec_id),
    cand AS (SELECT * FROM est
             ORDER BY est_dist, vec_id LIMIT {_FUNNEL_CANDS})
    SELECT e.vec_id, ROUND(cand.est_dist, 6) AS est_dist,
           ROUND({_SQL_COS}, 6) AS cos_sim
    FROM embeddings e JOIN cand ON cand.vec_id = e.vec_id CROSS JOIN q
    ORDER BY {_SQL_COS} DESC, e.vec_id
    LIMIT 10
    """


@query("ivf_pq_funnel_served", oracle=_ivf_pq_funnel_oracle())
def ivf_pq_funnel_served(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The IVF-PQ (ADC) funnel served from one materialized store
    AFTER a full revision cycle (r12, VERDICT r11 next #1): build
    the pq-carrying store from a PERTURBED corpus (a fifth of the
    vectors sign-flipped — their v1 rows sit in wrong cells AND
    their pq codes quantize the wrong subvectors), revise them back
    to their true embeddings (cell moves + re-encode under the
    FROZEN codebook), DELETE every vec_id % 7 == 3 via NULL
    embeddings, then serve: cell prune at nprobe=2 → ADC scan of
    (vec_id, pq_code) only, estimated distance = M lookup-table
    entries summed → exact cosine rerank of the 50 survivors. The
    oracle replays codebook seeding (over the perturbed v1 input,
    sign-flips included), quantizer training, per-vector encode
    argmin, the post-revision live state, cell re-assignment, the
    ADC lookup sums, the candidate boundary, and the rerank — a
    stale pq code, a wrong subspace split, or a resurrected deleted
    vector changes the top-10 and fails the hash.

    Scale: stage 1 reads M small ints per vector inside
    nprobe/n_cells partitions (neither the 256-byte float vector nor
    the 8-byte sign code leaves disk — plan-asserted in
    tests/test_layout.py); the rerank touches exactly 50 vectors.
    This is the FAISS IVFPQ serving shape at a higher recall per
    byte than the BQ funnel's 1 bit/dim."""
    from se_data_pipeline_spark.sources.layout import (
        ivf_pq_funnel,
        revise_ivf_vectors,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    head = emb.orderBy("vec_id").limit(1).collect()
    empty_schema = "vec_id bigint, est_dist double, cos_sim double"
    if not head:  # empty-corpus sweep
        return spark.createDataFrame([], empty_schema)
    nonnull = emb.filter(F.col("embedding").isNotNull())
    # bounded probe, not a full count (guide §1.2): the decision only
    # needs "are there at least K non-null vectors" — limit(K) stops
    # the scan at the K-th row instead of reading the whole table
    if nonnull.select("vec_id").limit(_FPQ_K).count() < _FPQ_K:
        # degenerate sweep: not enough vectors to seed a codebook —
        # same empty-result convention as embedding_pq_codes
        return spark.createDataFrame([], empty_schema)
    v1 = emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % 5 == 0,
            F.transform("embedding", lambda x: -x),
        ).otherwise(F.col("embedding")),
    )
    store = _scratch("ivf_pq_funnel")
    write_ivf_index(v1, store, cell_col="label", pq=True)
    revision = emb.filter(
        "(vec_id % 5 = 0 OR vec_id % 7 = 3) AND embedding IS NOT NULL"
    ).select(
        "vec_id",
        F.when(F.col("vec_id") % 7 == 3, F.lit(None))
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    revise_ivf_vectors(spark, revision, store)
    q_vec = [float(x) for x in head[0]["embedding"]]
    return ivf_pq_funnel(
        spark,
        store,
        q_vec,
        nprobe=_FUNNEL_NPROBE,
        n_candidates=_FUNNEL_CANDS,
        n=10,
    )


_FILT_K = 10
_FILT_OVERFETCH = 4


def _ivf_filtered_oracle() -> str:
    from se_data_pipeline_spark.queries.vectors import (
        _SQL_COS,
        _SQL_QVEC,
    )

    cos_t = _SQL_COS.replace("e.embedding", "t.embedding")
    cos_z = _SQL_COS.replace("e.embedding", "t.embedding")
    probes = ", ".join(f"({p})" for p in _IVF_PROBES)
    return f"""
    WITH q AS ({_SQL_QVEC}),
    s AS (SELECT d.source AS src FROM documents d
          WHERE d.doc_id = (SELECT vec_id FROM embeddings
                            ORDER BY vec_id LIMIT 1)),
    tagged AS (
      SELECT e.vec_id, e.label, e.embedding,
             COALESCE(d.source, 'none') AS source
      FROM embeddings e LEFT JOIN documents d ON d.doc_id = e.vec_id
      WHERE e.embedding IS NOT NULL),
    flat AS (SELECT label, unnest(embedding) AS x,
                    generate_subscripts(embedding, 1) AS pos
             FROM embeddings WHERE embedding IS NOT NULL),
    c AS (SELECT label, pos, AVG(CAST(x AS DOUBLE)) AS ctr
          FROM flat GROUP BY label, pos),
    dist AS (SELECT c.label,
                    SUM((c.ctr - CAST(q.q[CAST(c.pos AS INT)] AS DOUBLE))
                        * (c.ctr - CAST(q.q[CAST(c.pos AS INT)] AS DOUBLE))) AS d2
             FROM c CROSS JOIN q GROUP BY c.label),
    ranked_cells AS (SELECT label,
                            row_number() OVER (ORDER BY d2, label) AS rk
                     FROM dist),
    truth AS (
      SELECT t.vec_id FROM tagged t CROSS JOIN q CROSS JOIN s
      WHERE t.source = s.src
      ORDER BY {cos_t} DESC, t.vec_id LIMIT {_FILT_K}),
    probes(nprobe) AS (VALUES {probes}),
    pre AS (
      SELECT p.nprobe, 'prefilter' AS mode, x.vec_id
      FROM probes p, LATERAL (
        SELECT t.vec_id FROM tagged t
        JOIN ranked_cells rc
          ON rc.label = t.label AND rc.rk <= p.nprobe
        CROSS JOIN q CROSS JOIN s
        WHERE t.source = s.src
        ORDER BY {cos_t} DESC, t.vec_id LIMIT {_FILT_K}) x),
    post AS (
      SELECT p.nprobe, 'postfilter' AS mode, y.vec_id
      FROM probes p, LATERAL (
        SELECT z.vec_id FROM (
          SELECT t.vec_id, t.source, {cos_z} AS cs
          FROM tagged t
          JOIN ranked_cells rc
            ON rc.label = t.label AND rc.rk <= p.nprobe
          CROSS JOIN q
          ORDER BY cs DESC, t.vec_id
          LIMIT {_FILT_K * _FILT_OVERFETCH}) z
        CROSS JOIN s
        WHERE z.source = s.src
        ORDER BY z.cs DESC, z.vec_id LIMIT {_FILT_K}) y),
    served AS (SELECT * FROM pre UNION ALL SELECT * FROM post),
    nt AS (SELECT COUNT(*) AS n_truth FROM truth)
    SELECT served.nprobe, served.mode,
           COUNT(t.vec_id) AS n_found,
           nt.n_truth,
           ROUND(COUNT(t.vec_id) * 1.0 / nt.n_truth, 6) AS recall
    FROM served LEFT JOIN truth t USING (vec_id) CROSS JOIN nt
    GROUP BY served.nprobe, served.mode, nt.n_truth
    ORDER BY served.nprobe, served.mode
    """


@query("ivf_filtered_recall", oracle=_ivf_filtered_oracle())
def ivf_filtered_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Filtered ANN served from the IVF store, recall per (nprobe,
    strategy) — the dial every production vector store exposes (r12,
    VERDICT r11 next #2): the store carries the documents' `source`
    as a metadata column (write_ivf_index attr_cols), the query asks
    for top-10 among the query document's own source, and the report
    compares the two serving strategies against the brute filtered
    truth. PREFILTER cuts the predicate inside the probed cells (a
    pushed parquet data filter) before ranking — it always returns
    the best matching rows the probed cells hold, so its recall
    measures only cell pruning. POSTFILTER ranks k x overfetch
    candidates predicate-blind and filters after — the only shape
    available when the attribute is not in the index; under a
    selective predicate most candidates are discarded and recall
    decays, which is exactly the over-fetch trade this report
    monitors. The SQL replays quantizer, probe, both strategies
    (with the same candidate horizon), truth, and the recall
    arithmetic.

    Scale: each serve is a pruned nprobe-cells read ending in
    TakeOrderedAndProject; the predicate rides the parquet scan in
    prefilter mode; the report joins <=k-row frames."""
    from se_data_pipeline_spark.sources.layout import (
        ivf_filtered_topk,
        ivf_serve_state,
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
    head = tagged.orderBy("vec_id").limit(1).collect()
    if not head:  # empty-corpus sweep
        return spark.createDataFrame(
            [],
            "nprobe int, mode string, n_found bigint, "
            "n_truth bigint, recall double",
        )
    q_vec = [float(x) for x in head[0]["embedding"]]
    src = str(head[0]["source"]).replace("'", "''")
    where = f"source = '{src}'"
    store = _scratch("ivf_filtered")
    write_ivf_index(
        tagged, store, cell_col="label", attr_cols=("source",)
    )

    # one serve-state snapshot shared by the truth + 4 probe serves
    st = ivf_serve_state(spark, store)
    truth = F.broadcast(
        ivf_filtered_topk(
            spark, store, q_vec, where, nprobe=1_000_000, n=_FILT_K,
            state=st,
        )
        .select("vec_id")
        .withColumn("hit", F.lit(1))
    )
    n_truth = truth.agg(
        F.count(F.lit(1)).cast("long").alias("n_truth")
    )
    tagged_serves = None
    for p in _IVF_PROBES:
        for mode in ("prefilter", "postfilter"):
            s = (
                ivf_filtered_topk(
                    spark,
                    store,
                    q_vec,
                    where,
                    nprobe=p,
                    n=_FILT_K,
                    mode=mode,
                    overfetch=_FILT_OVERFETCH,
                    state=st,
                )
                .select("vec_id")
                .withColumn("nprobe", F.lit(p))
                .withColumn("mode", F.lit(mode))
            )
            tagged_serves = (
                s
                if tagged_serves is None
                else tagged_serves.unionByName(s)
            )
    return (
        tagged_serves.join(truth, "vec_id", "left")
        .groupBy("nprobe", "mode")
        .agg(F.count("hit").alias("n_found"))
        .crossJoin(F.broadcast(n_truth))
        .select(
            "nprobe",
            "mode",
            "n_found",
            "n_truth",
            F.round(F.col("n_found") / F.col("n_truth"), 6).alias(
                "recall"
            ),
        )
        .orderBy("nprobe", "mode")
    )


def _ivf_stream_funnel_oracle() -> str:
    from se_data_pipeline_spark.queries.vectors import (
        _SQL_COS,
        _SQL_HAMMING,
        _SQL_QVEC,
    )

    cos_l = _SQL_COS.replace("e.embedding", "l.emb")
    ham_l = _SQL_HAMMING.replace("e.embedding", "l.emb")
    return f"""
    WITH q AS ({_SQL_QVEC}),
    build AS (SELECT vec_id, label, embedding FROM embeddings
              WHERE vec_id % 4 <> 1 AND embedding IS NOT NULL),
    flat AS (SELECT label, unnest(embedding) AS x,
                    generate_subscripts(embedding, 1) AS pos
             FROM build),
    c AS (SELECT label, pos, AVG(CAST(x AS DOUBLE)) AS ctr
          FROM flat GROUP BY label, pos),
    live AS (SELECT vec_id, label,
                    CASE WHEN vec_id % 7 = 2 AND vec_id % 4 <> 1
                         THEN [CAST(-x AS FLOAT) for x in embedding]
                         ELSE embedding END AS emb
             FROM embeddings WHERE embedding IS NOT NULL),
    cellof AS (
      SELECT l.vec_id,
             CASE WHEN l.vec_id % 4 = 1
                    OR (l.vec_id % 7 = 2 AND l.vec_id % 4 <> 1)
             THEN (
               SELECT d.label FROM (
                 SELECT c.label,
                        SUM((c.ctr - CAST(l.emb[CAST(c.pos AS INT)]
                                          AS DOUBLE))
                            * (c.ctr - CAST(l.emb[CAST(c.pos AS INT)]
                                            AS DOUBLE))) AS d2
                 FROM c GROUP BY c.label) d
               ORDER BY d.d2, d.label LIMIT 1)
             ELSE l.label END AS cell
      FROM live l),
    dist AS (SELECT c.label,
                    SUM((c.ctr - CAST(q.q[CAST(c.pos AS INT)] AS DOUBLE))
                        * (c.ctr - CAST(q.q[CAST(c.pos AS INT)] AS DOUBLE))) AS d2
             FROM c CROSS JOIN q GROUP BY c.label),
    probed_cells AS (
      SELECT label FROM (
        SELECT label, row_number() OVER (ORDER BY d2, label) AS rk
        FROM dist) WHERE rk <= {_FUNNEL_NPROBE}),
    h AS (
      SELECT l.vec_id,
             {ham_l} AS hamming,
             {cos_l} AS cos
      FROM live l
      JOIN cellof co ON co.vec_id = l.vec_id
      JOIN probed_cells pc ON pc.label = co.cell
      CROSS JOIN q),
    cand AS (
      SELECT * FROM h
      ORDER BY hamming, vec_id LIMIT {_FUNNEL_CANDS})
    SELECT vec_id, CAST(hamming AS INT) AS hamming,
           ROUND(cos, 6) AS cos_sim
    FROM cand ORDER BY cos DESC, vec_id LIMIT 10
    """


@query(
    "ivf_funnel_stream_maintained", oracle=_ivf_stream_funnel_oracle()
)
def ivf_funnel_stream_maintained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The two-stage IVF-BQ funnel served from a STREAM-maintained
    store (r12, VERDICT r11 next #7 — the phrase_stream_maintained
    pattern applied to the vector side): build the store from three
    quarters of the corpus, stream the remaining quarter in as two
    availableNow micro-batches (maintain_ivf_index packs each
    batch's sign codes and assigns cells under the FROZEN quantizer,
    shuffle-free), then — stream stopped — offline-REVISE a slice of
    the build set to sign-flipped embeddings (genuine cell moves,
    fence-claimed batch id), and serve the funnel at nprobe=2. The
    oracle replays quantizer training over the build set only,
    per-vector cell assignment for streamed and revised rows, the
    post-revision live state, the in-cell Hamming cut, and the
    rerank — a streamed row in the wrong cell, a stale pre-revision
    code, or an uncommitted batch leaking past the ledger changes
    the top-10 and fails the hash.

    Scale: each micro-batch is scan -> project -> partitioned write
    (no read-side work); the serve reads nprobe/n_cells of 8-byte
    codes + 50 float vectors — identical whether the rows arrived by
    batch build, stream, or revision."""
    import glob as _glob
    import time as _time

    from se_data_pipeline_spark.sources.layout import (
        ivf_bq_funnel,
        revise_ivf_vectors,
        write_ivf_index,
    )
    from se_data_pipeline_spark.streaming.jobs import (
        maintain_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    head = emb.orderBy("vec_id").limit(1).collect()
    empty_schema = "vec_id bigint, hamming int, cos_sim double"
    if not head:  # empty-corpus sweep
        return spark.createDataFrame([], empty_schema)
    build = emb.filter("vec_id % 4 <> 1")
    streamed = emb.filter("vec_id % 4 = 1").select(
        "vec_id", "embedding"
    )
    root = _scratch("ivf_stream_funnel")
    store = os.path.join(root, "store")
    write_ivf_index(build, store, cell_col="label")

    if not streamed.isEmpty():
        src = os.path.join(root, "src")
        chk = os.path.join(root, "chk")
        streamed.filter("vec_id % 2 = 1").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        first = set(_glob.glob(os.path.join(src, "part-*.parquet")))
        streamed.filter("vec_id % 2 = 0").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        now = _time.time()
        for f in _glob.glob(os.path.join(src, "part-*.parquet")):
            os.utime(
                f,
                (now - 100, now - 100) if f in first else (now, now),
            )
        stream = (
            spark.readStream.schema(streamed.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        sq = maintain_ivf_index(stream, store, chk)
        sq.awaitTermination(300)
        if sq.exception() is not None:
            raise RuntimeError(str(sq.exception()))

    revision = build.filter(
        "vec_id % 7 = 2 AND embedding IS NOT NULL"
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    revise_ivf_vectors(spark, revision, store)
    q_vec = [float(x) for x in head[0]["embedding"]]
    return ivf_bq_funnel(
        spark,
        store,
        q_vec,
        nprobe=_FUNNEL_NPROBE,
        n_candidates=_FUNNEL_CANDS,
        n=10,
    )


# MinHash constants as literals (the shingle-index-constants rule:
# no imports from queries.text at module-body time). Must match
# queries/text's _MINHASH_K/_MINHASH_BAND_ROWS/_MH_P and the
# functions/text rolling-hash base/mod — the SQL below is the
# minhash_lsh_candidates oracle's band construction verbatim.
_LSH_K = 16
_LSH_BAND_ROWS = 4
_LSH_P = 1_000_003


def _lsh_index_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (
      SELECT doc_id, list_distinct(
        [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         toks[i+3] || ' ' || toks[i+4]
         for i in range(1, len(toks) - 3)]) AS s
      FROM t),
    e AS (
      SELECT doc_id,
             CAST(list_reduce(
               list_prepend(0, [ascii(c) for c in string_split(x.sh, '')]),
               (acc, c) -> (acc * 31 + c) % {_LSH_P}) AS BIGINT) AS h
      FROM (SELECT doc_id, unnest(s) AS sh FROM sh) x),
    perms AS (SELECT unnest(range({_LSH_K})) AS perm),
    mins AS (
      SELECT e.doc_id, p.perm,
             MIN((CAST(2 * p.perm + 1 AS BIGINT) * e.h
                  + 31 * p.perm + 7) % {_LSH_P}) AS mh
      FROM e CROSS JOIN perms p
      GROUP BY e.doc_id, p.perm),
    bands AS (
      SELECT doc_id,
             CAST(perm // {_LSH_BAND_ROWS} AS BIGINT) AS band,
             string_agg(CAST(mh AS VARCHAR), '-' ORDER BY perm) AS sig
      FROM mins GROUP BY doc_id, band),
    srcs AS (SELECT doc_id, source FROM documents)
    SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS corpus_doc
    FROM bands a
    JOIN srcs sa ON sa.doc_id = a.doc_id
    JOIN bands b ON a.band = b.band AND a.sig = b.sig
    JOIN srcs sb ON sb.doc_id = b.doc_id
    WHERE sa.source = '{_IDX_SHARD}'
      AND sb.source NOT IN ('{_IDX_SHARD}', '{_IDX_DELETED}')
    ORDER BY new_doc, corpus_doc
    """


@query("lsh_index_served", oracle=_lsh_index_oracle())
def lsh_index_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup CANDIDATE screening served from the
    materialized MinHash band index after a full revision lifecycle
    (r12 — store #6, built entirely on the shared lifecycle helpers
    the r11 VERDICT asked for; this entry proves the factored
    protocol end-to-end on a store that adds no protocol code of its
    own): build from the corpus-minus-shard with a third of the
    documents perturbed (junk tokens add shingles, which can only
    LOWER per-permutation minima — stale v1 band rows therefore
    produce detectable phantom candidates), revise those docs back
    to their true text, DELETE one whole source, then screen the
    held-out shard. The oracle recomputes signatures, band grouping,
    and the asymmetric band-bucket join from raw text over exactly
    the live corpus — a stale band row, an undead deleted doc, or a
    signature drifting from the batch kernel fails the hash.

    Scale: the index carries 4 rows x 16 longs per document
    regardless of document size (~100x smaller than the shingle
    index's per-shingle rows); the screen's text pass is batch-sized
    and the candidate join shuffles ~40-byte band rows. Recall is
    LSH-probabilistic by design (dedup_method_recall_report
    measures it against exact truth); downstream exact verification
    consumes these pairs."""
    from se_data_pipeline_spark.sources.layout import (
        delete_minhash_docs,
        lsh_candidates_from_index,
        revise_minhash_docs,
        write_minhash_index,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    corpus = docs.filter(F.col("source") != _IDX_SHARD)
    v1 = corpus.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" zzlsh0 zzlsh1 zzlsh2 zzlsh3 zzlsh4 zzlsh5"),
            ),
        ).otherwise(F.col("text")),
    )
    store = _scratch("lsh_index")
    write_minhash_index(v1.select("doc_id", "text"), store)
    revise_minhash_docs(
        spark,
        corpus.filter("doc_id % 3 = 0").select("doc_id", "text"),
        store,
    )
    delete_minhash_docs(
        spark,
        corpus.filter(F.col("source") == _IDX_DELETED).select(
            "doc_id"
        ),
        store,
    )
    return lsh_candidates_from_index(
        spark,
        store,
        docs.filter(F.col("source") == _IDX_SHARD).select(
            "doc_id", "text"
        ),
    )


def _ordered_near_oracle() -> str:
    t1, t2 = _PROX_TERMS
    return f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    p AS (
      SELECT doc_id,
             [i for i in range(1, len(ts) + 1)
              if ts[i] = '{t1}'] AS p1,
             [i for i in range(1, len(ts) + 1)
              if ts[i] = '{t2}'] AS p2
      FROM t),
    m AS (
      SELECT doc_id,
             CAST(COALESCE(list_sum(
               [len([y for y in p2
                     if y > x AND y - x <= {_PROX_K}])
                for x in p1]), 0) AS INTEGER) AS n_hits
      FROM p)
    SELECT doc_id, n_hits FROM m
    WHERE n_hits > 0
    ORDER BY n_hits DESC, doc_id
    LIMIT 10
    """


@query("ordered_near_served_topk", oracle=_ordered_near_oracle())
def ordered_near_served_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ORDERED within-k proximity served from the positional store
    (r12): docs ranked by pairs with t1 strictly BEFORE t2 and
    y − x <= k — Lucene's ordered SpanNear, the directional
    retrieval operator unordered proximity cannot express ("table
    hash" within 3, in that order). The oracle recounts the
    one-sided windows from raw text; the serve reads the two terms'
    bucket directories, pivots, and folds pairs row-locally — same
    bounded story as proximity_served_topk, only the window
    predicate differs."""
    from se_data_pipeline_spark.sources.layout import (
        ordered_near_from_postings,
        write_positional_postings,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    store = _scratch("ordered_near_store")
    write_positional_postings(docs, store)
    return ordered_near_from_postings(
        spark, store, *_PROX_TERMS, k=_PROX_K, limit=10
    )


def _index_screen_recall_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    srcs AS (SELECT doc_id, source FROM documents),
    sh AS (
      SELECT doc_id, list_distinct(
        [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         toks[i+3] || ' ' || toks[i+4]
         for i in range(1, len(toks) - 3)]) AS s
      FROM t),
    se AS (
      SELECT s.doc_id, len(s.s) AS m, unnest(s.s) AS g, d.source
      FROM sh s JOIN srcs d USING (doc_id)
      WHERE len(s.s) > 0),
    sa AS (SELECT * FROM se WHERE source = '{_IDX_SHARD}'),
    sb AS (SELECT * FROM se WHERE source <> '{_IDX_SHARD}'),
    pairs AS (
      SELECT sa.doc_id AS new_doc, sb.doc_id AS corpus_doc,
             sa.m AS ma, sb.m AS mb, COUNT(*) AS n_common
      FROM sa JOIN sb ON sa.g = sb.g
      GROUP BY new_doc, corpus_doc, ma, mb),
    truth AS (
      SELECT new_doc, corpus_doc FROM pairs
      WHERE n_common * 1.0 / (ma + mb - n_common)
            >= {_IDX_THRESHOLD}),
    eh AS (
      SELECT doc_id,
             CAST(list_reduce(
               list_prepend(0, [ascii(c) for c in string_split(x.g, '')]),
               (acc, c) -> (acc * 31 + c) % {_LSH_P}) AS BIGINT) AS h
      FROM (SELECT doc_id, unnest(s) AS g FROM sh) x),
    perms AS (SELECT unnest(range({_LSH_K})) AS perm),
    mins AS (
      SELECT eh.doc_id, p.perm,
             MIN((CAST(2 * p.perm + 1 AS BIGINT) * eh.h
                  + 31 * p.perm + 7) % {_LSH_P}) AS mh
      FROM eh CROSS JOIN perms p
      GROUP BY eh.doc_id, p.perm),
    bands AS (
      SELECT doc_id,
             CAST(perm // {_LSH_BAND_ROWS} AS BIGINT) AS band,
             string_agg(CAST(mh AS VARCHAR), '-' ORDER BY perm) AS sig
      FROM mins GROUP BY doc_id, band),
    cand AS (
      SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS corpus_doc
      FROM bands a
      JOIN srcs xa ON xa.doc_id = a.doc_id
      JOIN bands b ON a.band = b.band AND a.sig = b.sig
      JOIN srcs xb ON xb.doc_id = b.doc_id
      WHERE xa.source = '{_IDX_SHARD}'
        AND xb.source <> '{_IDX_SHARD}'),
    nt AS (SELECT COUNT(*) AS c FROM truth),
    nc AS (SELECT COUNT(*) AS c FROM cand),
    nh AS (SELECT COUNT(*) AS c
           FROM truth JOIN cand USING (new_doc, corpus_doc))
    SELECT nt.c AS n_truth, nc.c AS n_cands, nh.c AS n_hit,
           ROUND(nh.c * 1.0 / NULLIF(nt.c, 0), 6) AS recall,
           ROUND(nh.c * 1.0 / NULLIF(nc.c, 0), 6)
             AS candidate_precision
    FROM nt, nc, nh
    """


@query(
    "index_screen_recall_report",
    oracle=_index_screen_recall_oracle(),
)
def index_screen_recall_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The operational dial between the two materialized dedup
    indexes (r12): screen the held-out shard against BOTH stores —
    the shingle index's exact-Jaccard pairs (threshold 0.8) as
    truth, the MinHash band index's bucket-collision candidates as
    the cheap front-end — and report candidate recall/precision.
    This is the monitoring query a continuous-ingest deployment runs
    to decide whether the ~100x cheaper LSH screen may replace (or
    must pre-filter for) the exact shingle screen at its current
    k/band configuration; both sides are served FROM THE STORES, so
    a store-side bug shifts the counts and fails the hash.

    Scale: the shard is banded/shingled once (batch-sized text
    passes); the joins are 8-byte hash resp. ~40-byte band-row
    shuffles; the report compares two pair sets of shard size."""
    from se_data_pipeline_spark.sources.layout import (
        lsh_candidates_from_index,
        near_dups_from_index,
        write_minhash_index,
        write_shingle_index,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    corpus = docs.filter(F.col("source") != _IDX_SHARD).select(
        "doc_id", "text"
    )
    shard = docs.filter(F.col("source") == _IDX_SHARD).select(
        "doc_id", "text"
    )
    sh_store = _scratch("screen_shingle")
    mh_store = _scratch("screen_minhash")
    write_shingle_index(corpus, sh_store)
    write_minhash_index(corpus, mh_store)
    truth = near_dups_from_index(
        spark, sh_store, shard, threshold=_IDX_THRESHOLD
    ).select("new_doc", "corpus_doc")
    cand = lsh_candidates_from_index(spark, mh_store, shard)
    nt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    nc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_cands"))
    nh = truth.join(cand, ["new_doc", "corpus_doc"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_hit")
    )
    return (
        nt.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_truth",
            "n_cands",
            "n_hit",
            F.round(
                F.col("n_hit")
                / F.when(F.col("n_truth") > 0, F.col("n_truth")),
                6,
            ).alias("recall"),
            F.round(
                F.col("n_hit")
                / F.when(F.col("n_cands") > 0, F.col("n_cands")),
                6,
            ).alias("candidate_precision"),
        )
    )


_SNIP_W = 3  # context tokens on each side of the phrase


def _phrase_snippets_oracle() -> str:
    cond = " AND ".join(
        f"ts[i+{k}] = '{t}'" for k, t in enumerate(_PHRASE)
    )
    plen = len(_PHRASE)
    return f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    m AS (
      SELECT doc_id, ts,
             [i for i in range(1, len(ts) - {plen - 2})
              if {cond}] AS starts
      FROM t),
    top AS (
      SELECT doc_id, ts,
             CAST(len(starts) AS INTEGER) AS n_hits,
             starts[1] - 1 AS fp
      FROM m WHERE len(starts) > 0
      ORDER BY len(starts) DESC, doc_id
      LIMIT 10)
    SELECT doc_id, n_hits, CAST(fp AS INTEGER) AS first_pos,
           array_to_string(
             ts[GREATEST(fp - {_SNIP_W}, 0) + 1 :
                fp + {plen + _SNIP_W}], ' ') AS snippet
    FROM top
    ORDER BY n_hits DESC, doc_id
    """


@query("phrase_snippets_served", oracle=_phrase_snippets_oracle())
def phrase_snippets_served(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Snippet/highlight generation from the positional store (r12):
    rank the phrase top-10 ENTIRELY from the store's position arrays
    (phrase_matches_from_postings — corpus text untouched at ranking
    time), then fetch the ±{w}-token window around each winner's
    FIRST occurrence with one broadcast 10-row join back to the
    documents table. This is the serving split every search engine
    runs: the index answers WHICH documents and WHERE, the row store
    is consulted only for the handful of winners' display text. The
    oracle recounts positions and slices the same windows from raw
    text in SQL.

    Scale: ranking reads <=K bucket dirs of the positional store;
    the text fetch is a broadcast join against 10 doc_ids — at
    100 TB the documents scan prunes on the id predicate and
    touches 10 rows' pages, never the corpus."""
    from se_data_pipeline_spark.sources.layout import (
        phrase_matches_from_postings,
        write_positional_postings,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    store = _scratch("phrase_snippets")
    write_positional_postings(docs, store)
    top = phrase_matches_from_postings(
        spark, store, _PHRASE, limit=10
    )
    w = _SNIP_W
    plen = len(_PHRASE)
    start = F.greatest(F.col("first_pos") - w, F.lit(0))
    length = F.col("first_pos") + plen + w - start
    return (
        docs.join(F.broadcast(top), "doc_id")
        .select(
            "doc_id",
            "n_hits",
            "first_pos",
            F.array_join(
                F.slice(
                    F.split("text", " "), start + 1, length
                ),
                " ",
            ).alias("snippet"),
        )
        .orderBy(F.desc("n_hits"), F.asc("doc_id"))
    )


_BOOST_POOL = 50  # rescoring window (the Lucene rescorer shape)
_BOOST_W = 0.5


def _bm25_phrase_boost_oracle() -> str:
    from se_data_pipeline_spark.queries.vectors import _sql_bm25_top

    cond = " AND ".join(
        f"ts[i+{k}] = '{t}'" for k, t in enumerate(_PHRASE)
    )
    plen = len(_PHRASE)
    return f"""
    WITH {_sql_bm25_top(_BOOST_POOL)},
    ph AS (
      SELECT doc_id,
             CAST(len([i for i in range(1, len(ts) - {plen - 2})
                       if {cond}]) AS INTEGER) AS phrase_hits
      FROM (SELECT doc_id, string_split(text, ' ') AS ts
            FROM documents)),
    rescored AS (
      SELECT sp0.doc_id, sp0.bm25,
             COALESCE(ph.phrase_hits, 0) AS phrase_hits,
             sp0.bm25 + {_BOOST_W} * ln(1 + COALESCE(ph.phrase_hits, 0))
               AS boosted
      FROM sp0 LEFT JOIN ph USING (doc_id))
    SELECT doc_id, bm25, phrase_hits,
           ROUND(boosted, 6) AS boosted
    FROM rescored
    ORDER BY boosted DESC, doc_id
    LIMIT 20
    """


@query(
    "bm25_phrase_boost_served", oracle=_bm25_phrase_boost_oracle()
)
def bm25_phrase_boost_served(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-stage lexical rescoring served from BOTH posting stores
    (r12, the Lucene QueryRescorer shape): the frequency store ranks
    a BM25 top-{pool} candidate pool, the positional store counts
    exact-phrase occurrences for those candidates only, and the
    final top-20 orders by bm25 + w·ln(1 + phrase_hits). This is how
    production lexical search layers phrase evidence over
    bag-of-words relevance without paying positional costs for the
    whole corpus — the rescoring window bounds the expensive
    operator. The oracle replays the BM25 pool, the phrase recount,
    and the boosted ordering.

    Scale: leg 1 reads <=K bucket dirs of the frequency store; leg 2
    reads two bucket dirs of the positional store and joins against
    a broadcast {pool}-row pool; the boost math is row-local."""
    from se_data_pipeline_spark.functions.text import SEARCH_TERMS
    from se_data_pipeline_spark.sources.layout import (
        _overlap_writes,
        bm25_from_postings,
        phrase_from_postings,
        write_positional_postings,
        write_posting_lists,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    f_store = _scratch("boost_freq")
    p_store = _scratch("boost_pos")
    # the two store builds are independent (distinct dirs) —
    # overlapped from two driver threads, the hybrid_served pattern
    _overlap_writes(
        lambda: write_positional_postings(docs, p_store),
        lambda: write_posting_lists(docs, f_store),
    )
    pool = bm25_from_postings(
        spark, f_store, SEARCH_TERMS, limit=_BOOST_POOL
    )
    # phrase counts for every doc that has the phrase at all (the
    # store serves them in one pruned read); the join keeps pool docs
    phrase = phrase_from_postings(
        spark, p_store, _PHRASE, limit=None
    ).select("doc_id", F.col("n_hits").alias("phrase_hits"))
    boosted = F.col("bm25") + _BOOST_W * F.log(
        1 + F.col("phrase_hits")
    )
    return (
        pool.join(F.broadcast(phrase), "doc_id", "left")
        .withColumn(
            "phrase_hits", F.coalesce("phrase_hits", F.lit(0))
        )
        .select(
            "doc_id",
            "bm25",
            "phrase_hits",
            boosted.alias("_raw"),
        )
        .orderBy(F.desc("_raw"), F.asc("doc_id"))
        .limit(20)
        .select(
            "doc_id",
            "bm25",
            "phrase_hits",
            F.round("_raw", 6).alias("boosted"),
        )
    )

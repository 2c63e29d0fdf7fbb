"""The pruned serve scan (_pruned_postings): BM25 and the positional
serves read only the bucket directories a query can touch, found by
one driver-side glob, instead of listing the whole store.

- Building a serve frame over a store with more than 32 bucket dirs
  per batch (Spark's parallelPartitionDiscovery threshold) costs the
  prologue's jobs and nothing else — no "Listing leaf files" job.
- The prologue is one job: the commit rows, the frozen side tables
  and the query legs are one union collect, and BM25's corpus totals
  ride it as literals — a BM25 collect scans no ``totals`` table.
- On every store state a serve can meet (fresh; revised and deleted;
  an uncommitted partial batch at or above the high-water mark; a
  query whose bucket was never written) the served rows equal both
  the whole-store scan the pruned scan replaced and a DuckDB
  recomputation over the live corpus.
- A positional store without its ledger is refused, not served.
"""

from __future__ import annotations

import glob
import os
import random
import shutil

import duckdb
import pytest
from pyspark.sql import functions as F

from se_data_pipeline_spark.sources import layout as L

N_BUCKETS = 64  # > 32 dirs per batch: a whole-store listing is a job
WORDS = [f"w{i}" for i in range(100)]
K1, B = 1.2, 0.75


def _corpus(n: int = 120, seed: int = 7) -> dict:
    rnd = random.Random(seed)
    return {
        i: " ".join(rnd.choice(WORDS) for _ in range(rnd.randint(3, 9)))
        for i in range(n)
    }


def _frame(spark, corpus: dict):
    return spark.createDataFrame(
        sorted(corpus.items()), "doc_id bigint, text string"
    )


def _whole_store(spark, root, schema, buckets, hw):
    """The read the pruned scan replaced: parquet(root), then the
    partition filters."""
    rows = (
        spark.read.schema(schema)
        .parquet(root)
        .filter(F.col("tok_bucket").isin(buckets))
    )
    if hw is not None:
        rows = rows.filter(F.col("batch_id") < hw)
    return rows


def _duck(corpus: dict):
    con = duckdb.connect()
    con.execute("CREATE TABLE live (doc_id BIGINT, toks VARCHAR[])")
    if corpus:
        con.executemany(
            "INSERT INTO live VALUES (?, string_split(?, ' '))",
            sorted(corpus.items()),
        )
    return con


def _lit_list(xs) -> str:
    return "[" + ", ".join(f"'{x}'" for x in xs) + "]"


def _duck_bm25(corpus: dict, terms) -> dict:
    con = _duck(corpus)
    rows = con.execute(
        f"""
        WITH tot AS (SELECT count(*)::DOUBLE AS n,
                            sum(len(toks))::DOUBLE AS t FROM live),
        x AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok
              FROM live),
        p AS (SELECT tok, doc_id, dl, count(*) AS c FROM x
              WHERE tok IN (SELECT unnest({_lit_list(terms)}))
              GROUP BY tok, doc_id, dl),
        d AS (SELECT tok, count(*) AS df FROM p GROUP BY tok)
        SELECT doc_id, sum(ln(1 + (n - df + 0.5) / (df + 0.5))
               * (c * {K1 + 1}) / (c + {K1}
                 * (1 - {B} + {B} * dl / (t / n))))
        FROM p JOIN d USING (tok), tot GROUP BY doc_id
        """
    ).fetchall()
    con.close()
    return {int(d): float(s) for d, s in rows}


def _duck_phrase(corpus: dict, terms) -> dict:
    k = len(terms)
    con = _duck(corpus)
    rows = con.execute(
        f"""
        SELECT doc_id, n FROM (
          SELECT doc_id, len(list_filter(range(1, len(toks) - {k} + 2),
                 i -> toks[i : i + {k - 1}] = {_lit_list(terms)})) AS n
          FROM live) WHERE n > 0
        """
    ).fetchall()
    con.close()
    return {int(d): int(n) for d, n in rows}


def _bm25(spark, store, terms) -> dict:
    return {
        r["doc_id"]: r["bm25"]
        for r in L.bm25_from_postings(
            spark, store, tuple(terms), limit=10_000
        ).collect()
    }


def _phrase(spark, store, terms) -> dict:
    return {
        r["doc_id"]: r["n_hits"]
        for r in L.phrase_from_postings(
            spark, store, tuple(terms), limit=None
        ).collect()
    }


def _check(monkeypatch, serve, duck, spark, store, corpus, terms):
    got = serve(spark, store, terms)
    with monkeypatch.context() as m:
        m.setattr(L, "_pruned_postings", _whole_store)
        assert got == serve(spark, store, terms)
    want = duck(corpus, terms)
    assert got.keys() == want.keys()
    for d, v in want.items():
        assert got[d] == pytest.approx(v, abs=1e-6), (d, terms)
    return got


# two BM25 queries, and two phrases drawn from the base corpus (doc
# 5's is deleted in the revised store, doc 0's revised)
BM25_Q = (("w1", "w2"), ("w3",))
PHRASES = (
    tuple(_corpus()[0].split(" ")[:2]),
    tuple(_corpus()[5].split(" ")[:3]),
)


def _serve_all(monkeypatch, spark, freq, pos, corpus):
    hits = 0
    for q in BM25_Q:
        hits += len(
            _check(monkeypatch, _bm25, _duck_bm25, spark, freq, corpus, q)
        )
    for q in PHRASES:
        hits += len(
            _check(
                monkeypatch, _phrase, _duck_phrase, spark, pos, corpus, q
            )
        )
    assert hits, "the queries must match something"


@pytest.fixture()
def stores(spark, tmp_path):
    corpus = _corpus()
    docs = _frame(spark, corpus)
    freq, pos = str(tmp_path / "freq"), str(tmp_path / "pos")
    L.write_posting_lists(docs, freq, n_buckets=N_BUCKETS)
    L.write_positional_postings(docs, pos, n_buckets=N_BUCKETS)
    return corpus, freq, pos


def _written_buckets(spark, store) -> set:
    return {
        r["tok_bucket"]
        for r in spark.read.parquet(f"{store}/postings")
        .select("tok_bucket")
        .distinct()
        .collect()
    }


def _group_jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_serve_frame_costs_only_prologue_jobs(spark, stores):
    _, freq, pos = stores
    assert len(_written_buckets(spark, freq)) > 32, (
        "the store must cross the listing threshold"
    )
    cases = [
        (
            L.bm25_from_postings,
            freq,
            BM25_Q[0],
            "totals",
        ),
        (
            L.phrase_from_postings,
            pos,
            PHRASES[0],
            None,
        ),
    ]
    for i, (serve, store, terms, totals) in enumerate(cases):
        pro = _group_jobs(
            spark,
            f"scan-pro-{i}",
            lambda: L._committed_state(
                spark, store, ("meta",), list(terms), totals=totals
            ),
        )
        assert len(pro) == 1, "the committed-state read is one job"
        got = _group_jobs(
            spark, f"scan-build-{i}", lambda: serve(spark, store, terms)
        )
        assert len(got) == len(pro), (
            "building the serve frame must cost the prologue's jobs "
            f"only — no file-listing job ({len(got)} vs {len(pro)})"
        )


def test_fresh_store(monkeypatch, spark, stores):
    corpus, freq, pos = stores
    _serve_all(monkeypatch, spark, freq, pos, corpus)


def test_revised_and_deleted_store(monkeypatch, spark, stores):
    corpus, freq, pos = stores
    rnd = random.Random(11)
    v2 = {
        d: " ".join(rnd.choice(WORDS) for _ in range(6))
        for d in (0, 5, 9, 17)
    }
    gone = [3, 5, 40]
    for store, revise, delete in (
        (freq, L.revise_posting_lists, L.delete_posting_docs),
        (pos, L.revise_positional_postings, L.delete_positional_docs),
    ):
        revise(spark, _frame(spark, v2), store)
        delete(
            spark,
            spark.createDataFrame([(d,) for d in gone], "doc_id bigint"),
            store,
        )
    live = {**corpus, **v2}
    for d in gone:
        live.pop(d)
    _serve_all(monkeypatch, spark, freq, pos, live)


def test_uncommitted_partial_batch_is_invisible(
    monkeypatch, spark, stores
):
    corpus, freq, pos = stores
    # rows every query would match, were the partial batch visible
    text = " ".join(sum(BM25_Q + PHRASES, ()))
    edocs = _frame(spark, {1000 + i: text for i in range(5)})
    hw = L._committed_state(spark, freq)["hw"]
    tf = L._posting_frames(edocs, hw, N_BUCKETS)
    L._dyn_overwrite(tf, ["batch_id", "tok_bucket"], f"{freq}/postings")
    hw = L._committed_state(spark, pos)["hw"]
    rows = L._positional_frames(edocs, hw, N_BUCKETS)
    L._dyn_overwrite(rows, ["batch_id", "tok_bucket"], f"{pos}/postings")
    _serve_all(monkeypatch, spark, freq, pos, corpus)


def test_positional_store_without_ledger_fails_loud(spark, stores):
    corpus, _, pos = stores
    shutil.rmtree(f"{pos}/batches")

    def files():
        return sorted(
            (p, os.stat(p).st_mtime_ns)
            for p in glob.glob(f"{pos}/**", recursive=True)
        )

    before = files()
    for call in (
        lambda: _phrase(spark, pos, PHRASES[0]),
        lambda: L.revise_positional_postings(
            spark, _frame(spark, {0: corpus[0]}), pos
        ),
        lambda: L.compact_positional_postings(spark, pos),
    ):
        with pytest.raises(ValueError, match="no 'batches' commit table"):
            call()
    assert files() == before


def test_query_bucket_without_directory(monkeypatch, spark, stores):
    corpus, freq, pos = stores
    written = _written_buckets(spark, freq)
    cands = [f"zz{i}" for i in range(200)]
    rows = (
        spark.range(1)
        .select(F.explode(F.array(*[F.lit(t) for t in cands])).alias("tok"))
        .select("tok", L._tok_bucket_col(N_BUCKETS).alias("b"))
        .collect()
    )
    absent = [r["tok"] for r in rows if r["b"] not in written][:2]
    assert len(absent) == 2, "fixture must leave some buckets unwritten"
    assert _check(
        monkeypatch, _bm25, _duck_bm25, spark, freq, corpus, absent[:1]
    ) == {}
    assert _check(
        monkeypatch, _phrase, _duck_phrase, spark, pos, corpus, absent
    ) == {}
    # the empty frame costs no Spark job, neither built nor collected
    st = L._committed_state(spark, pos, ("meta",), absent)
    empty = []
    assert not _group_jobs(
        spark,
        "scan-empty",
        lambda: empty.extend(
            L._pruned_postings(
                spark, f"{pos}/postings", L._POS_POSTINGS_SCHEMA,
                st["buckets"], st["hw"],
            ).collect()
        ),
    )
    assert empty == []


def test_serve_prologues_cost_one_job(spark, stores, tmp_path):
    """The BM25 and phrase serve frames and the IVF serve state are
    one job each, and a BM25 serve reads no totals table: its corpus
    totals came with the prologue's commit rows. The ivf_candidates
    frame adds the one job that infers the cells schema (IVF rows
    carry per-store attribute columns)."""
    _, freq, pos = stores
    rnd = random.Random(5)
    ivf = str(tmp_path / "ivf")
    L.write_ivf_index(
        spark.createDataFrame(
            [
                (i, [rnd.uniform(-1, 1) for _ in range(4)], i % 3)
                for i in range(60)
            ],
            "vec_id bigint, embedding array<double>, label int",
        ),
        ivf,
    )
    q = [0.5, -0.5, 0.1, 0.0]
    served = {}
    cases = [
        ("bm25", lambda: L.bm25_from_postings(spark, freq, BM25_Q[0]), 1),
        ("phrase", lambda: L.phrase_from_postings(spark, pos, PHRASES[0]), 1),
        ("ivf_state", lambda: L.ivf_serve_state(spark, ivf), 1),
        ("ivf", lambda: L.ivf_candidates(spark, ivf, q, nprobe=2), 2),
    ]
    for name, build, want in cases:
        got = _group_jobs(
            spark, f"one-job-{name}", lambda: served.update({name: build()})
        )
        assert len(got) == want, f"{name}: {len(got)} jobs, want {want}"
    assert served["ivf_state"]["hw"] == 0
    assert len(served["ivf_state"]["cents"]) == 3
    assert served["ivf"].collect()
    bm25 = served["bm25"]
    assert bm25.collect(), "the query must match something"
    read = bm25.inputFiles()
    assert any("/postings/" in f for f in read)
    assert not [f for f in read if "/totals/" in f]

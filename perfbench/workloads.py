"""The two benchmark workloads.

``serve_maintain`` drives the store layer: a serve phase of closed-loop
BM25 / phrase / IVF requests, then a maintain phase of ingest, delete and
compaction cycles with serve probes after each cycle.

``curate_probe`` drives the batch layers: a curate phase running nine
registered curation queries over a generated corpus, then a probe phase
running the audio chain (VAD -> SNR -> classify -> quality records ->
channel scoring) over generated WAV recordings.

Each phase is one of the four phases the per-layer metrics are keyed by
(serve, maintain, curate, probe).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
import spans as tr

N_BUCKETS = 64  # posting-store bucket modulus, sized to the corpus vocabulary
N_CELLS = 16
CURATE_QUERIES = (
    "dedup_exact_groups",
    "minhash_lsh_candidates",
    "doc_pii_redaction",
    "benchmark_contamination",
    "token_bin_packing",
)
SERVE_TYPES = ("bm25", "phrase", "ann")


class Failures:
    """Correctness-check bookkeeping: every check is one attempt."""

    def __init__(self):
        self.attempted = 0
        self.failed: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed.append(what)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def units(seconds: float, share: float, unit_s: float, minimum: int = 1) -> int:
    """How many whole units of work (request rounds, cycles, passes) a
    phase runs: its share of ``--seconds`` over the nominal cost of one
    unit on a 4-core host. A fixed count, not a clock cut-off, so every
    run of a workload does the same work."""
    return max(minimum, int(share * seconds / unit_s))


def gmean_of_medians(ops, ms=lambda o: o.net_ms) -> float:
    """Geometric mean over op names of each name's median latency: every
    request type or query weighs the same, whatever the mix ran."""
    by: dict[str, list] = {}
    for o in ops:
        by.setdefault(o.name, []).append(ms(o))
    return float(np.exp(np.mean([np.log(median(v)) for v in by.values()])))


# ===================================================================== inputs


def make_store_inputs(seed: int, root: str, n_cycles: int) -> dict:
    """Base corpus + vectors, the serve request stream and the
    maintenance batch stream (new and re-emitted docs plus the ids to
    delete, per cycle), with the live corpus after every cycle."""
    corpus = gen.Corpus(vocab_size=4000)
    docs = corpus.documents(gen._rng(seed, "docs"), 0, 6000)
    ctr = gen.centers(seed, N_CELLS)
    vecs = gen.embeddings(gen._rng(seed, "vecs"), ctr, 0, 3000)
    inp = os.path.join(root, "in")
    gen.write_parquet(docs, f"{inp}/documents.parquet")
    gen.write_parquet(vecs, f"{inp}/embeddings.parquet")
    reqs = gen.serve_requests(seed, corpus, docs, ctr, 300)
    # round-robin the request types so every run serves the same mix
    by_kind = {k: [r for r in reqs if r["kind"] == k] for k in SERVE_TYPES}
    n = min(len(v) for v in by_kind.values())
    serve = [by_kind[SERVE_TYPES[i % 3]][i // 3] for i in range(3 * n)]

    rng = gen._rng(seed, "maintain")
    live = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
    next_doc = 6000
    cycles = []
    for c in range(n_cycles):
        new = corpus.documents(rng, next_doc, 200)
        next_doc += 200
        ids = sorted(live)
        re_ids = sorted(int(x) for x in rng.choice(ids, 60, replace=False))
        re = corpus.documents(rng, 0, 60)
        re = re.set_column(0, "doc_id", pa.array(re_ids, pa.int64()))
        batch = pa.concat_tables([new, re])
        for i, t in zip(batch.column("doc_id").to_pylist(), batch.column("text").to_pylist()):
            live[i] = t
        dels = sorted(int(x) for x in rng.choice(sorted(live), 60, replace=False))
        for i in dels:
            del live[i]
        d = f"{root}/batches/{c}"
        gen.write_parquet(batch, f"{d}/docs.parquet")
        gen.write_parquet(pa.table({"doc_id": pa.array(dels, pa.int64())}), f"{d}/del.parquet")
        cycles.append(
            {
                "dir": d,
                "n_docs": batch.num_rows,
                "n_del": len(dels),
                "live": pa.table(
                    {"doc_id": pa.array(sorted(live), pa.int64()), "text": [live[i] for i in sorted(live)]}
                ),
            }
        )
    return {
        "docs": docs,
        "vec_ids": np.array(vecs.column("vec_id").to_pylist(), dtype=np.int64),
        "vec_mat": np.array(vecs.column("embedding").to_pylist(), dtype=np.float32),
        "serve": serve,
        "checks": gen.serve_requests(seed + 10_000, corpus, docs, ctr, 30),
        "cycles": cycles,
        "input_bytes": gen.dir_bytes(inp),
    }


def make_batch_inputs(seed: int, root: str) -> dict:
    corpus = gen.Corpus(vocab_size=4000)
    docs = corpus.documents(
        gen._rng(seed, "cdocs"), 0, 10_000, dup_rate=0.03, near_dup_rate=0.03, pii_rate=0.05, contam_rate=0.03
    )
    vecs = gen.embeddings(gen._rng(seed, "cvecs"), gen.centers(seed, N_CELLS), 0, 2000, dup_rate=0.03)
    gen.write_parquet(docs, f"{root}/curate/documents.parquet")
    gen.write_parquet(vecs, f"{root}/curate/embeddings.parquet")
    rec, truth = gen.recordings(seed, n_channels=10, per_channel=4)
    gen.write_parquet(rec, f"{root}/probe/recordings.parquet")
    return {"rec": rec, **truth}


# ============================================================ serve_maintain


class Stores:
    """The three stores under test and the stream that maintains the
    postings store (the positional and IVF maintainers are left out to
    bound the run time)."""

    def __init__(self, spark, root: str):
        self.spark = spark
        self.root = root
        self.postings = f"{root}/stores/postings"
        self.positional = f"{root}/stores/positional"
        self.ivf = f"{root}/stores/ivf"
        self.epoch = 0

    def build(self, t: tr.Tracer, inp: str) -> dict:
        from se_data_pipeline_spark.sources import layout as L

        out = {}
        docs = self.spark.read.parquet(f"{inp}/documents.parquet")
        with t.op("build", "setup"):
            for name, fn in (
                ("postings", lambda: L.write_posting_lists(docs, self.postings, n_buckets=N_BUCKETS)),
                ("positional", lambda: L.write_positional_postings(docs, self.positional, n_buckets=N_BUCKETS)),
                (
                    "ivf",
                    lambda: L.write_ivf_index(self.spark.read.parquet(f"{inp}/embeddings.parquet"), self.ivf),
                ),
            ):
                with t.call(f"layout.build.{name}") as sp:
                    fn()
                out[name] = sp.ms / 1000.0
        return out

    def serve(self, t: tr.Tracer, req: dict, phase: str, traced: bool):
        """One request as a user sees it: plan (and any eager prologue
        jobs), then collect."""
        from se_data_pipeline_spark.sources import layout as L

        kind = req["kind"]
        with t.op(kind, phase) as op:
            with t.call("call"):
                if kind == "bm25":
                    df = L.bm25_from_postings(self.spark, self.postings, tuple(req["terms"]), limit=10)
                elif kind == "phrase":
                    df = L.phrase_from_postings(self.spark, self.positional, tuple(req["terms"]), limit=10)
                else:
                    df = L.ivf_candidates(self.spark, self.ivf, req["vec"], nprobe=req["nprobe"], n=10)
            with t.call("collect"):
                rows = df.collect()
            if traced:
                op.attrs["catalyst"] = tr.catalyst_ms(df)
        if kind == "bm25":
            return [(int(r["doc_id"]), float(r["bm25"])) for r in rows]
        if kind == "phrase":
            return [(int(r["doc_id"]), int(r["n_hits"])) for r in rows]
        return [(int(r["vec_id"]), float(r["cos_sim"])) for r in rows]

    def ingest(self, t: tr.Tracer, cyc: dict, progress: list) -> None:
        """One micro-batch of new and re-emitted documents through the
        streaming maintainer (an ``availableNow`` run over one new file)."""
        from se_data_pipeline_spark.catalog import RELATIONAL_SCHEMAS
        from se_data_pipeline_spark.streaming.jobs import maintain_posting_lists

        base = f"{self.root}/streams/e{self.epoch}"
        os.makedirs(f"{base}/src", exist_ok=True)
        shutil.copyfile(f"{cyc['dir']}/docs.parquet", f"{base}/src/c{len(os.listdir(f'{base}/src'))}.parquet")
        with t.op("ingest", "maintain"):
            with t.call("streaming.postings"):
                stream = self.spark.readStream.schema(RELATIONAL_SCHEMAS["documents"]).parquet(f"{base}/src")
                q = maintain_posting_lists(stream, self.postings, f"{base}/ckpt", allow_revisions=True)
                q.awaitTermination()
                if q.exception() is not None:
                    raise RuntimeError(f"postings maintainer failed: {q.exception()}")
        progress += [p.get("durationMs", {}) for p in q.recentProgress if p.get("numInputRows", 0) > 0]

    def delete(self, t: tr.Tracer, cyc: dict) -> None:
        from se_data_pipeline_spark.sources import layout as L

        ids = self.spark.read.parquet(f"{cyc['dir']}/del.parquet")
        with t.op("delete", "maintain"):
            with t.call("layout.delete_posting_docs"):
                L.delete_posting_docs(self.spark, ids, self.postings)

    def compact(self, t: tr.Tracer) -> None:
        from se_data_pipeline_spark.sources import layout as L

        with t.op("compact", "maintain") as op:
            with t.call("layout.compact_posting_lists"):
                L.compact_posting_lists(self.spark, self.postings)
        # a compaction rewrites the store whole
        op.attrs["bytes"] = gen.dir_bytes(self.postings)
        # compaction folds every batch into the base and clears the
        # offline fence: the stream restarts from a fresh checkpoint
        self.epoch += 1

    def health(self) -> dict:
        """Store-shape counters read from the filesystem."""
        files = tomb = 0
        batches = set()
        for store in (self.postings, self.positional, self.ivf):
            for root, _d, fs in os.walk(store):
                data = [f for f in fs if f.endswith(".parquet")]
                files += len(data)
                for part in root.split(os.sep):
                    if part.startswith("batch_id=") and part != "batch_id=-1":
                        batches.add((store, part))
                if f"{os.sep}tombstones" in root:
                    tomb += sum(pq.ParquetFile(os.path.join(root, f)).metadata.num_rows for f in data)
        return {"store_files": files, "tombstone_rows": tomb, "uncompacted_batches": len(batches)}


def _check_serve(fail: Failures, live: oracle.LiveCorpus, req: dict, got, vec_ids, vec_mat, what: str) -> None:
    kind = req["kind"]
    if kind == "bm25":
        fail.check(oracle.same_ranked(got, live.bm25(req["terms"]), 2e-6), f"{what} bm25 {req['terms']}")
    elif kind == "phrase":
        want = live.phrase(req["terms"])
        fail.check(got == want, f"{what} phrase {req['terms']}")
    else:
        want = oracle.ann_topk(vec_ids, vec_mat, req["vec"])
        fail.check(oracle.same_ranked(got, want, 1e-9), f"{what} ann")


def serve_maintain(spark, t: tr.Tracer, seconds: float, seed: int, root: str, traced: bool) -> dict:
    n_rounds, n_cycles = units(seconds, 0.35, 2.3), units(seconds, 0.65, 6.5)
    inputs = make_store_inputs(seed, root, n_cycles)
    stores = Stores(spark, root)
    build_s = stores.build(t, f"{root}/in")
    fail = Failures()
    rng = np.random.default_rng(seed)

    # ---- serve: closed loop, one client, whole bm25/phrase/ann rounds
    served = []
    t0 = time.time()
    for req in inputs["serve"][: 3 * n_rounds]:
        served.append((req, stores.serve(t, req, "serve", traced)))
    serve_wall = time.time() - t0
    serve_ops = t.ops("serve")
    live = oracle.LiveCorpus(inputs["docs"])
    text_served = [s for s in served if s[0]["kind"] != "ann"]
    for j in rng.choice(len(text_served), min(3, len(text_served)), replace=False):
        req, got = text_served[int(j)]
        _check_serve(fail, live, req, got, None, None, "serve")
    full = dict(next(r for r in inputs["checks"] if r["kind"] == "ann"), nprobe=N_CELLS)
    got = stores.serve(t, full, "check", False)
    _check_serve(fail, live, full, got, inputs["vec_ids"], inputs["vec_mat"], "serve")

    # ---- maintain: ingest -> delete -> compact cycles of the postings
    # store, a BM25 probe after each
    progress: list = []
    health: list[dict] = []
    bm25_probe = next(r for r in inputs["checks"] if r["kind"] == "bm25")
    docs_done = 0
    for c, cyc in enumerate(inputs["cycles"]):
        stores.ingest(t, cyc, progress)
        if traced:
            health.append(stores.health())
        stores.delete(t, cyc)
        stores.compact(t)
        docs_done += cyc["n_docs"] + cyc["n_del"]
        live.set(cyc["live"])
        got = stores.serve(t, bm25_probe, "probe", traced)
        _check_serve(fail, live, bm25_probe, got, None, None, f"cycle {c}")
    live.close()

    maint = t.ops("maintain")
    setup = t.ops("setup")
    store_bytes = gen.dir_bytes(f"{root}/stores")
    maint_in = sum(gen.dir_bytes(cy["dir"]) for cy in inputs["cycles"][: len(t.ops("maintain", "ingest"))])
    res = {
        "e2e": {
            "setup_s": (sum(o.net_ms for o in setup) / 1000.0, "s"),
            "latency_gm_p50_ms": (gmean_of_medians(serve_ops), "ms"),
            "throughput_per_s": (docs_done / (sum(o.net_ms for o in maint) / 1000.0), "items/s"),
        },
        "raw": {
            "setup_s": sum(o.ms for o in setup) / 1000.0,
            "latency_gm_p50_ms": gmean_of_medians(serve_ops, lambda o: o.ms),
            "throughput_per_s": docs_done / (sum(o.ms for o in maint) / 1000.0),
        },
        "samples": {"latency": len(serve_ops), "maintain_items": docs_done, "serve_wall_s": serve_wall},
        "fail": fail,
        "build_s": build_s,
        "progress": progress,
        "health": health,
        "store_bytes": store_bytes,
        "input_bytes": inputs["input_bytes"] + maint_in,
        "maint_input_bytes": maint_in,
    }
    return res


# ============================================================== curate_probe


def probe_chain(spark, rec_path: str, upto: int = 5):
    """The probe chain, cut after ``upto`` steps (1 = VAD ... 5 = channel
    scoring)."""
    from pyspark.sql import functions as F

    from se_data_pipeline_spark.operators.audio import snr_from_wav, vad_split_segments
    from se_data_pipeline_spark.operators.classify import FakeAcClassifier, classify_segments
    from se_data_pipeline_spark.plans import channel_ranking as R
    from se_data_pipeline_spark.plans.probe import quality_records

    rec = spark.read.parquet(rec_path)
    urls = rec.select("video_id", "channel_url")
    df = vad_split_segments(rec.select("channel_id", "video_id", "audio"))
    if upto >= 2:
        df = df.filter(F.col("error_class").isNull()).withColumn("snr", snr_from_wav(F.col("audio")))
    if upto >= 3:
        df = classify_segments(df, backend_factory=FakeAcClassifier)
    if upto >= 4:
        df = quality_records(df.drop("audio").join(urls, "video_id"))
    if upto >= 5:
        df = R.scored_stats(R.quality_stats(df)).select("url", "n_total", "n_snr_ok", "n_ac_ok", "score")
    return df


def curate_probe(spark, t: tr.Tracer, seconds: float, seed: int, root: str, traced: bool) -> dict:
    from se_data_pipeline_spark.queries import all_oracles, all_queries

    inputs = make_batch_inputs(seed, root)
    cur_dir = f"{root}/curate"
    rec_path = f"{root}/probe/recordings.parquet"
    qs = all_queries()
    # set-up: one probe-chain run starts the Python workers and warms the
    # Arrow path both phases use
    with t.op("warmup", "setup"):
        probe_chain(spark, rec_path).collect()
    fail = Failures()

    # ---- curate: whole passes over the queries
    results = {}
    passes = units(seconds, 0.6, 10.0)
    for _ in range(passes):
        for name in CURATE_QUERIES:
            with t.op(name, "curate") as op:
                with t.call("call"):
                    df = qs[name](spark, cur_dir)
                with t.call("collect"):
                    pdf = df.toPandas()
            results.setdefault(name, pdf)
    sqls = all_oracles()
    want = oracle.oracle_frames(cur_dir, {n: sqls[n] for n in CURATE_QUERIES})
    for name in CURATE_QUERIES:
        fail.check(oracle.frame_hash(results[name]) == oracle.frame_hash(want[name]), f"curate {name}")

    # ---- probe: whole chain runs
    runs = []
    out = None
    for _ in range(units(seconds, 0.4, 2.0, minimum=3)):
        with t.op("probe_chain", "probe") as op:
            with t.call("call"):
                df = probe_chain(spark, rec_path)
            with t.call("collect"):
                pdf = df.toPandas()
        runs.append(op)
        out = pdf if out is None else out
    ref = oracle.probe_replay(inputs["rec"])
    fail.check(
        oracle.frame_hash(out.sort_values("url").reset_index(drop=True))
        == oracle.frame_hash(ref.sort_values("url").reset_index(drop=True)),
        "probe channel scores",
    )
    fail.check(ref.attrs["segments"] == inputs["bursts"], "probe segments vs generated bursts")

    res = {}
    if traced:
        # step costs: time each chain prefix to a no-op sink, difference
        prefix = []
        for upto in range(1, 5):
            with t.op(f"prefix{upto}", "steps") as op:
                probe_chain(spark, rec_path, upto).write.format("noop").mode("overwrite").save()
            prefix.append(op.ms / 1000.0)
        names = ("operators.vad_split_segments_s", "operators.snr_from_wav_s",
                 "operators.classify_segments_s", "plans.quality_records_s")
        res["probe_steps"] = {n: b - a for n, a, b in zip(names, [0.0] + prefix, prefix)}
        res["segments_kept_ratio"] = float(out["n_snr_ok"].sum()) / max(float(out["n_total"].sum()), 1.0)

    cur = t.ops("curate")
    return res | {
        "e2e": {
            "setup_s": (sum(o.net_ms for o in t.ops("setup")) / 1000.0, "s"),
            "latency_gm_p50_ms": (gmean_of_medians(cur), "ms"),
            "throughput_per_s": (median([inputs["audio_s"] * 1000.0 / o.net_ms for o in runs]), "items/s"),
        },
        "raw": {
            "setup_s": sum(o.ms for o in t.ops("setup")) / 1000.0,
            "latency_gm_p50_ms": gmean_of_medians(cur, lambda o: o.ms),
            "throughput_per_s": median([inputs["audio_s"] * 1000.0 / o.ms for o in runs]),
        },
        "samples": {"latency": len(cur), "curate_passes": passes, "probe_runs": len(runs)},
        "fail": fail,
    }

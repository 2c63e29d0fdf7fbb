"""Single-process reference answers the benchmark checks the engine against.

- BM25 and exact-phrase serve results: DuckDB over the live corpus.
- IVF top-k at nprobe = every cell: numpy brute force.
- Registered queries: their DuckDB oracle SQL from ``all_oracles()``.
- The probe chain: a numpy replay of the same audio kernels.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

BM25_K1 = 1.2
BM25_B = 0.75


def _lit_list(xs) -> str:
    return "[" + ", ".join("'" + str(x).replace("'", "''") + "'" for x in xs) + "]"


class LiveCorpus:
    """The corpus state a serve must reflect: one DuckDB table of the
    documents alive at the moment of the check."""

    def __init__(self, docs: pa.Table):
        self.con = duckdb.connect()
        self.set(docs)

    def set(self, docs: pa.Table) -> None:
        self.con.register("live_arrow", docs.select(["doc_id", "text"]))
        self.con.execute(
            "CREATE OR REPLACE TABLE live AS SELECT doc_id, "
            "string_split(text, ' ') AS toks FROM live_arrow"
        )
        self.con.unregister("live_arrow")

    def bm25(self, terms, limit: int = 10) -> list[tuple[int, float]]:
        sql = f"""
        WITH tot AS (SELECT count(*)::DOUBLE AS n_docs,
                            sum(len(toks))::DOUBLE AS n_tokens FROM live),
        x AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok FROM live),
        p AS (SELECT tok, doc_id, dl, count(*) AS c FROM x
              WHERE tok IN (SELECT unnest({_lit_list(terms)}))
              GROUP BY tok, doc_id, dl),
        d AS (SELECT tok, count(*) AS df FROM p GROUP BY tok)
        SELECT doc_id, round(sum(
            ln(1 + (n_docs - df + 0.5) / (df + 0.5))
            * (c * {BM25_K1 + 1}) / (c + {BM25_K1}
              * (1 - {BM25_B} + {BM25_B} * dl / (n_tokens / n_docs)))), 6) AS s
        FROM p JOIN d USING (tok), tot
        GROUP BY doc_id ORDER BY s DESC, doc_id LIMIT {int(limit)}
        """
        return [(int(a), float(b)) for a, b in self.con.execute(sql).fetchall()]

    def phrase(self, terms, limit: int = 10) -> list[tuple[int, int]]:
        k = len(terms)
        sql = f"""
        SELECT doc_id, n FROM (
          SELECT doc_id, len(list_filter(range(1, len(toks) - {k} + 2),
                 i -> toks[i : i + {k - 1}] = {_lit_list(terms)})) AS n
          FROM live)
        WHERE n > 0 ORDER BY n DESC, doc_id LIMIT {int(limit)}
        """
        return [(int(a), int(b)) for a, b in self.con.execute(sql).fetchall()]

    def close(self) -> None:
        self.con.close()


def ann_topk(ids: np.ndarray, vecs: np.ndarray, q, n: int = 10) -> list[tuple[int, float]]:
    """Exact cosine top-n, ties broken by id — what ivf_candidates
    returns when every cell is probed."""
    v = vecs.astype(np.float64)
    qv = np.asarray(q, dtype=np.float64)
    qn = math.sqrt(float(qv @ qv)) or 1.0
    cos = (v @ qv) / (np.linalg.norm(v, axis=1) * qn)
    order = np.lexsort((ids, -cos))[:n]
    return [(int(ids[i]), float(cos[i])) for i in order]


def same_ranked(got, want, tol: float) -> bool:
    """Equal id lists and scores within ``tol``; rows whose score sits
    within ``tol`` of a neighbour may swap places (a tie at rounding
    precision has no defined order)."""
    if len(got) != len(want):
        return False
    for (gi, gs), (wi, ws) in zip(got, want):
        if abs(gs - ws) > tol:
            return False
    if [g[0] for g in got] == [w[0] for w in want]:
        return True
    # tolerate reorderings/substitutions only inside a tied score band
    cut = want[-1][1]
    strict_g = {i for i, s in got if abs(s - cut) > tol}
    strict_w = {i for i, s in want if abs(s - cut) > tol}
    return strict_g == strict_w


# ------------------------------------------------------ registered queries


def _norm_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, (np.floating, float)):
        return repr(round(float(v), 9) + 0.0)
    if isinstance(v, (np.integer,)):
        return repr(int(v))
    if isinstance(v, np.bool_):
        return repr(bool(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm_cell(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def frame_hash(pdf: pd.DataFrame) -> tuple:
    """Order-insensitive, column-name-keyed canonical form of a result."""
    cols = sorted(pdf.columns)
    rows = sorted(tuple(_norm_cell(v) for v in r) for r in pdf[cols].itertuples(index=False))
    return tuple(cols), len(rows), hash(tuple(rows))


def oracle_frames(data_dir: str, sqls: dict[str, str]) -> dict[str, pd.DataFrame]:
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        return {name: con.execute(sql).fetchdf() for name, sql in sqls.items()}
    finally:
        con.close()


# --------------------------------------------------------------- the probe


def probe_replay(rec: pa.Table) -> pd.DataFrame:
    """The probe chain replayed in one process with the engine's own
    numpy kernels: VAD spans → WADA SNR → FakeAcClassifier → speech
    probability → per-channel (n_total, n_snr_ok, n_ac_ok, score)."""
    from se_data_pipeline_spark.functions.arrays import SPEECH_NEGATIVE, SPEECH_POSITIVE
    from se_data_pipeline_spark.operators.audio import (
        VAD_SR,
        EnergyVad,
        decode_wav,
        encode_wav,
        resample_sinc,
        wada_snr,
    )
    from se_data_pipeline_spark.operators.classify import FakeAcClassifier
    from se_data_pipeline_spark.plans.channel_ranking import (
        SNR_THRESHOLD,
        SPEECH_PROB_THRESHOLD,
    )

    vad, clf = EnergyVad(), FakeAcClassifier()
    per: dict[str, list] = {}
    seg_counts: dict[str, int] = {}
    for url, vid, data in zip(
        rec.column("channel_url").to_pylist(),
        rec.column("video_id").to_pylist(),
        rec.column("audio").to_pylist(),
    ):
        x, sr = decode_wav(data)
        x16 = resample_sinc(x, sr, VAD_SR)
        scale = sr / VAD_SR
        spans = vad.speech_spans(x16, VAD_SR)
        seg_counts[vid] = len(spans)
        for s16, e16 in spans:
            s, e = int(s16 * scale), min(int(e16 * scale), len(x))
            seg, _ = decode_wav(encode_wav(x[s:e], sr))
            snr = wada_snr(seg)
            preds = clf.predict_batch([seg], sr)[0]
            sp = 0.0
            for p in preds:
                if p["label"] in SPEECH_POSITIVE:
                    sp += p["score"]
                elif p["label"] in SPEECH_NEGATIVE:
                    sp -= p["score"]
            per.setdefault(url, []).append((snr, sp))
    rows = []
    for url, segs in per.items():
        rows.append(
            (
                url,
                len(segs),
                sum(1 for s, _ in segs if s > SNR_THRESHOLD),
                sum(1 for _, p in segs if p > SPEECH_PROB_THRESHOLD),
            )
        )
    df = pd.DataFrame(rows, columns=["url", "n_total", "n_snr_ok", "n_ac_ok"])
    mx_s, mx_a = df["n_snr_ok"].max(), df["n_ac_ok"].max()
    df["score"] = (df["n_snr_ok"] / mx_s if mx_s > 0 else 0.0) + (
        df["n_ac_ok"] / mx_a if mx_a > 0 else 0.0
    )
    df.attrs["segments"] = seg_counts
    return df

"""Seeded, Spark-free input generator for the benchmark workloads.

Everything here is numpy + pyarrow: the same seed writes byte-identical
files, and the engine only ever sees the files.
"""

from __future__ import annotations

import hashlib
import io
import os
import wave

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# forty language codes: per-language groups stay small, as in a
# multilingual web corpus
LANGS = tuple(
    "en de fr zh es it pt nl ru ja ko ar hi bn ur fa tr pl uk cs "
    "sv da no fi el he hu ro bg sr hr sk sl lt lv et vi th id ms".split()
)
N_SOURCES = 12
DIM = 64
SR = 16_000

# the engine's documents / embeddings contracts (catalog.RELATIONAL_SCHEMAS)
DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
VEC_SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)
REC_SCHEMA = pa.schema(
    [
        ("channel_id", pa.string()),
        ("video_id", pa.string()),
        ("channel_url", pa.string()),
        ("audio", pa.binary()),
    ]
)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, purpose): adding a stream
    never shifts the draws of another."""
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def vocabulary(n: int) -> list[str]:
    """n distinct lowercase words built from consonant-vowel syllables."""
    cons, vows = "bdfgklmnprstvz", "aeiou"
    syl = [c + v for c in cons for v in vows]  # 70 syllables
    words = []
    for i in range(n):
        k, w = i, ""
        while True:
            w += syl[k % len(syl)]
            k //= len(syl)
            if k == 0:
                break
        words.append(w + "x" if len(w) == 2 else w)
    return words


class Corpus:
    """A Zipf-vocabulary document generator with duplicate, near-duplicate,
    PII and benchmark-contamination injection."""

    def __init__(self, vocab_size: int, zipf_s: float = 1.1):
        self.vocab = np.array(vocabulary(vocab_size), dtype=object)
        ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
        p = ranks**-zipf_s
        self.p = p / p.sum()

    def draw_tokens(self, rng: np.random.Generator, n: int) -> np.ndarray:
        return rng.choice(len(self.vocab), size=n, p=self.p)

    def texts(self, rng: np.random.Generator, n_docs: int) -> list[str]:
        lens = np.clip(rng.lognormal(3.4, 0.5, n_docs).astype(int), 4, 160)
        flat = self.vocab[self.draw_tokens(rng, int(lens.sum()))]
        out, i = [], 0
        for ln in lens:
            out.append(" ".join(flat[i : i + ln]))
            i += ln
        return out

    def documents(
        self,
        rng: np.random.Generator,
        first_id: int,
        n_docs: int,
        dup_rate: float = 0.0,
        near_dup_rate: float = 0.0,
        pii_rate: float = 0.0,
        contam_rate: float = 0.0,
    ) -> pa.Table:
        texts = self.texts(rng, n_docs)
        ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
        bench = [i for i in range(n_docs) if ids[i] % 97 == 0]
        for i in range(n_docs):
            u = rng.random(4)
            if i > 0 and u[0] < dup_rate:
                texts[i] = texts[int(rng.integers(0, i))]
                continue
            if i > 0 and u[1] < near_dup_rate:
                toks = texts[int(rng.integers(0, i))].split(" ")
                j = int(rng.integers(0, len(toks)))
                toks[j] = str(self.vocab[int(rng.integers(0, len(self.vocab)))])
                texts[i] = " ".join(toks)
            if u[2] < pii_rate:
                toks = texts[i].split(" ")
                j = int(rng.integers(0, len(toks) + 1))
                if rng.random() < 0.5:
                    pii = f"{toks[0]}.{int(rng.integers(0, 1000))}@mail{int(rng.integers(0, 9))}.com"
                else:
                    pii = f"+1-555-{int(rng.integers(0, 10000)):04d}"
                toks.insert(j, pii)
                texts[i] = " ".join(toks)
            if bench and u[3] < contam_rate and ids[i] % 97 != 0:
                src = texts[bench[int(rng.integers(0, len(bench)))]].split(" ")
                if len(src) >= 8:
                    a = int(rng.integers(0, len(src) - 7))
                    toks = texts[i].split(" ")
                    j = int(rng.integers(0, len(toks) + 1))
                    texts[i] = " ".join(toks[:j] + src[a : a + 8] + toks[j:])
        lang = rng.integers(0, len(LANGS), n_docs)
        src = rng.integers(0, N_SOURCES, n_docs)
        return pa.table(
            {
                "doc_id": ids,
                "text": texts,
                "lang": [LANGS[k] for k in lang],
                "source": [f"src{k}" for k in src],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            },
            schema=DOC_SCHEMA,
        )


def centers(seed: int, n_clusters: int) -> np.ndarray:
    c = _rng(seed, "centers").normal(size=(n_clusters, DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def embeddings(
    rng: np.random.Generator,
    ctr: np.ndarray,
    first_id: int,
    n: int,
    dup_rate: float = 0.0,
) -> pa.Table:
    """Clustered unit-ish vectors labelled with their cluster (the IVF
    cell key); a ``dup_rate`` share are tiny perturbations of an earlier
    vector (semantic near-duplicates)."""
    lab = rng.integers(0, len(ctr), n)
    v = ctr[lab] + rng.normal(scale=0.35, size=(n, DIM))
    for i in range(1, n):
        if rng.random() < dup_rate:
            j = int(rng.integers(0, i))
            v[i] = v[j] + rng.normal(scale=1e-3, size=DIM)
            lab[i] = lab[j]
    v = v.astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": lab.astype(np.int32),
        },
        schema=VEC_SCHEMA,
    )


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# ------------------------------------------------------------------ audio


def _wav_bytes(x: np.ndarray) -> bytes:
    pcm16 = (np.clip(x, -1.0, 1.0) * 32767.0).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(SR)
        w.writeframes(pcm16.tobytes())
    return buf.getvalue()


def recording(rng: np.random.Generator, snr_db: float) -> tuple[bytes, int, float]:
    """A speech-like recording: voiced bursts (a harmonic stack under a
    syllable-rate envelope) separated by pauses, plus white noise at
    ``snr_db`` below the burst level. Returns (wav, n_bursts, seconds).
    Bursts last 0.8-2.5 s and pauses 0.5-1.2 s, far from the VAD's
    0.5 s minimum-speech and 0.15 s minimum-silence limits, so the
    energy VAD finds exactly one segment per burst."""
    n_bursts = int(rng.integers(2, 6))
    parts = [np.zeros(int(rng.uniform(0.4, 0.9) * SR))]
    for _ in range(n_bursts):
        n = int(rng.uniform(0.8, 2.5) * SR)
        t = np.arange(n) / SR
        f0 = rng.uniform(110, 240)
        voiced = sum(np.sin(2 * np.pi * f0 * k * t) / k for k in (1, 2, 3, 4))
        env = 0.6 + 0.4 * np.sin(2 * np.pi * rng.uniform(3, 6) * t) ** 2
        ramp = np.minimum(1.0, np.minimum(t, t[::-1]) / 0.02)
        parts.append(0.3 * voiced * env * ramp / 1.6)
        parts.append(np.zeros(int(rng.uniform(0.5, 1.2) * SR)))
    x = np.concatenate(parts)
    burst_rms = 0.3 / 1.6 * np.sqrt(np.sum(1 / np.arange(1, 5) ** 2) / 2) * 0.8
    x = x + rng.normal(scale=burst_rms * 10 ** (-snr_db / 20), size=len(x))
    return _wav_bytes(x), n_bursts, len(x) / SR


def recordings(seed: int, n_channels: int, per_channel: int) -> tuple[pa.Table, dict]:
    rng = _rng(seed, "audio")
    rows: dict[str, list] = {k: [] for k in REC_SCHEMA.names}
    bursts: dict[str, int] = {}
    seconds = 0.0
    for c in range(n_channels):
        for v in range(per_channel):
            wav, nb, sec = recording(rng, float(rng.uniform(22, 45)))
            vid = f"v{c:03d}_{v:02d}"
            rows["channel_id"].append(f"ch{c:03d}")
            rows["video_id"].append(vid)
            rows["channel_url"].append(f"https://example.com/c/ch{c:03d}")
            rows["audio"].append(wav)
            bursts[vid] = nb
            seconds += sec
    return pa.table(rows, schema=REC_SCHEMA), {"bursts": bursts, "audio_s": seconds}


# --------------------------------------------------------------- streams


def serve_requests(seed: int, corpus: Corpus, docs: pa.Table, ctr: np.ndarray, n: int) -> list[dict]:
    """A seeded mix of BM25 (1-4 Zipf-drawn terms), exact-phrase (a
    2-3-token span of a corpus document) and IVF top-10 requests."""
    rng = _rng(seed, "requests")
    texts = docs.column("text").to_pylist()
    out = []
    for _ in range(n):
        kind = ("bm25", "phrase", "ann")[int(rng.integers(0, 3))]
        if kind == "bm25":
            k = int(rng.integers(1, 5))
            terms = sorted({str(t) for t in corpus.vocab[corpus.draw_tokens(rng, k)]})
            out.append({"kind": "bm25", "terms": terms})
        elif kind == "phrase":
            while True:
                toks = texts[int(rng.integers(0, len(texts)))].split(" ")
                k = int(rng.integers(2, 4))
                if len(toks) > k:
                    break
            a = int(rng.integers(0, len(toks) - k))
            out.append({"kind": "phrase", "terms": toks[a : a + k]})
        else:
            c = ctr[int(rng.integers(0, len(ctr)))]
            q = c + rng.normal(scale=0.3, size=DIM)
            out.append(
                {
                    "kind": "ann",
                    "vec": [float(x) for x in q.astype(np.float32)],
                    "nprobe": int(rng.integers(1, 4)),
                }
            )
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def content_hash(path: str) -> str:
    """sha256 over every file under ``path`` (relative name + bytes)."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()

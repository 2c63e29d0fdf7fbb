"""Text-analysis & deduplication queries over the `documents` table —
the training-data-pipeline operator family (SURVEY M8 north star):
token stats, quality scoring, language-ID heuristic, fingerprinting,
exact dedup, n-gram Jaccard near-dup, MinHash-LSH candidates.

Everything is Catalyst-expression based (split/transform/aggregate/
md5); the DuckDB oracles recompute the same semantics in SQL so the
driver can hash-compare results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from se_data_pipeline_spark.catalog import load_table
from se_data_pipeline_spark.functions.text import (
    BM25_B,
    BM25_K1,
    LANG_MARKERS,
    SEARCH_TERMS,
    SIMHASH_BITS,
    distinct_token_ratio,
    lang_marker_score,
    mean_token_length,
    positional_windows_udf,
    rolling_hash,
    simhash_udf,
    token_count,
    tokens,
    word_shingles,  # noqa: F401 — expression form kept for parity tests
    word_shingles_udf,
)
from se_data_pipeline_spark.queries import query

# Shared SQL fragment: tokenized documents (DuckDB side).
_SQL_TOKS = "SELECT doc_id, string_split(text, ' ') AS toks FROM documents"


# --------------------------------------------------------------------------
# Token statistics (token counting — whitespace tokenizer).
# --------------------------------------------------------------------------
@query(
    "doc_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(toks) AS INTEGER)                          AS n_tokens,
           CAST(len(list_distinct(toks)) AS INTEGER)           AS n_distinct,
           ROUND(CAST(list_sum([length(t) for t in toks]) AS DOUBLE)
                 / len(toks), 6)                               AS mean_token_len,
           ROUND(CAST(len(list_distinct(toks)) AS DOUBLE)
                 / len(toks), 6)                               AS distinct_ratio
    FROM ({_SQL_TOKS})
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + lexical-diversity stats, all HOF
    expressions over the token array (no UDF, no shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.size(F.array_distinct(tokens(F.col("text")))).alias("n_distinct"),
        F.round(mean_token_length(F.col("text")), 6).alias("mean_token_len"),
        F.round(distinct_token_ratio(F.col("text")), 6).alias("distinct_ratio"),
    )


# --------------------------------------------------------------------------
# Text normalization: the first pass of every corpus cleaning
# pipeline — casefold, strip control characters, collapse runs of
# whitespace, trim — plus the fingerprint of the normalized form
# (what exact-dedup should hash, so trivially-reformatted copies
# collapse).
# --------------------------------------------------------------------------
@query(
    "doc_normalized",
    oracle=r"""
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(lower(text), '[\x00-\x1F\x7F]', ' ', 'g'),
             ' +', ' ', 'g')) AS norm_text,
           md5(trim(regexp_replace(
             regexp_replace(lower(text), '[\x00-\x1F\x7F]', ' ', 'g'),
             ' +', ' ', 'g'))) AS norm_fp,
           length(text) - length(trim(regexp_replace(
             regexp_replace(lower(text), '[\x00-\x1F\x7F]', ' ', 'g'),
             ' +', ' ', 'g'))) AS n_chars_removed
    FROM documents
    """,
)
def doc_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (row-local, whole-stage codegen,
    zero shuffles): casefold → control chars to spaces → collapse
    whitespace runs → trim, with the md5 of the normalized form as
    the dedup fingerprint and a removed-chars count as the cleaning
    signal. Unicode NFC belongs here too for non-ASCII corpora — add
    it as an Arrow-batched unicodedata kernel when needed (Spark has
    no builtin normalizer; this fixture corpus is ASCII)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.lower(F.col("text")), "[\\x00-\\x1F\\x7F]", " "
            ),
            " +",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.md5(norm).alias("norm_fp"),
        (F.length("text") - F.length(norm)).alias("n_chars_removed"),
    )


# --------------------------------------------------------------------------
# Corpus vocabulary profile: the one-row corpus health check run
# before/after every curation pass — vocabulary size, hapax share
# (tokens seen once: OCR noise / garbled extraction inflate it),
# token mass concentration in the head.
# --------------------------------------------------------------------------
@query(
    "corpus_vocab_profile",
    oracle=f"""
    WITH tok AS (SELECT unnest(toks) AS t FROM ({_SQL_TOKS})),
    vocab AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    tot AS (SELECT SUM(c) AS total FROM vocab),
    top AS (SELECT SUM(c) AS head FROM (
              SELECT c FROM vocab ORDER BY c DESC, t LIMIT 10))
    SELECT (SELECT COUNT(*) FROM vocab) AS vocab_size,
           (SELECT COUNT(*) FROM vocab WHERE c = 1) AS hapax_count,
           (SELECT CAST(total AS BIGINT) FROM tot) AS total_tokens,
           ROUND((SELECT head FROM top) * 1.0
                 / (SELECT total FROM tot), 6) AS top10_token_share
    """,
)
def corpus_vocab_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus vocabulary profile: |vocab|, hapax count, total
    token mass, and the share held by the 10 most frequent tokens.

    Scale: one explode + one token-keyed aggregate (combiner-friendly
    counts), then three tiny aggregates over the vocab table — the
    head share uses a TakeOrderedAndProject top-10, never a full
    sort. Everything after the vocab groupBy is vocabulary-sized,
    not corpus-sized."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    profile = vocab.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("hapax_count"),
        F.sum("c").alias("total_tokens"),
    )
    head = (
        vocab.orderBy(F.desc("c"), F.asc("t"))
        .limit(10)
        .agg(F.sum("c").alias("head"))
    )
    return profile.crossJoin(F.broadcast(head)).select(
        "vocab_size",
        "hapax_count",
        "total_tokens",
        F.round(F.col("head") * 1.0 / F.col("total_tokens"), 6).alias(
            "top10_token_share"
        ),
    )


# --------------------------------------------------------------------------
# BPE-ish token estimation: GPT-2-style pre-tokenizer regex splits
# (contractions / letter runs / digit runs / punctuation runs, each
# with optional leading space), then ceil(len/4) subword units per
# pre-token — the standard chars-per-token budgeting heuristic when
# the real tokenizer isn't on the cluster.
# --------------------------------------------------------------------------
_BPE_SPLIT = "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


@query(
    "doc_bpe_token_estimate",
    oracle=f"""
    WITH pt AS (
      SELECT doc_id,
             regexp_extract_all(text,
               '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')
               AS toks
      FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_pretokens,
           CAST(list_sum([(length(t) + 3) // 4 for t in toks]) AS BIGINT)
             AS est_subwords,
           ROUND(CAST(list_sum([length(t) for t in toks]) AS DOUBLE)
                 / NULLIF(list_sum([(length(t) + 3) // 4 for t in toks]), 0),
                 6) AS chars_per_subword
    FROM pt
    """,
)
def doc_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token-count estimation (the training-budget signal):
    GPT-2's pre-tokenizer split as a pure regexp_extract_all
    expression, each pre-token contributing ceil(len/4) estimated
    subwords. Row-local, zero shuffles, whole-stage codegen; swap the
    heuristic for a real tokenizer via the Arrow batch path only if
    exact counts are worth the Python stage."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(_BPE_SPLIT), 0)
    sub = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.floor((F.length(t) + 3) / 4).cast("long"),
    )
    chars = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.length(t),
    )
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_pretokens"),
        sub.alias("est_subwords"),
        # try_divide: an empty/whitespace-only doc has zero subwords
        F.round(F.try_divide(chars.cast("double"), sub), 6).alias(
            "chars_per_subword"
        ),
    )


# --------------------------------------------------------------------------
# Quality scoring (length/diversity/stopword mix) — the curation
# filter a 100 TB text pipeline runs before training.
# --------------------------------------------------------------------------
@query(
    "doc_quality_score",
    oracle=f"""
    SELECT doc_id,
           ROUND(0.4 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
               + 0.3 * least(1.0, len(toks) / 150.0)
               + 0.3 * (CAST(len(list_filter(toks,
                     t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
                        / len(toks)), 6) AS quality
    FROM ({_SQL_TOKS})
    """,
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score: lexical diversity + length saturation
    + stopword hit-rate (the reference's probe-score shape A8, applied
    to text curation)."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    quality = (
        0.4 * distinct_token_ratio(text)
        + 0.3 * F.least(F.lit(1.0), token_count(text) / 150.0)
        + 0.3 * lang_marker_score(text, ["the", "a", "of", "and", "to"])
    )
    return docs.select("doc_id", F.round(quality, 6).alias("quality"))


# --------------------------------------------------------------------------
# Language-ID heuristic: marker-token hit-rates per language, ordered
# argmax. (The corpus is synthetic; the mechanism is the deliverable.)
# --------------------------------------------------------------------------
@query(
    "doc_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
        CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to')))
             AS DOUBLE) / len(toks)  AS s_en,
        CAST(len(list_filter(toks, t -> t IN ('der','die','das','und','ist')))
             AS DOUBLE) / len(toks)  AS s_de,
        CAST(len(list_filter(toks, t -> t IN ('le','la','et','les','des')))
             AS DOUBLE) / len(toks)  AS s_fr,
        CAST(len(list_filter(toks, t -> t IN ('el','la','de','y','que')))
             AS DOUBLE) / len(toks)  AS s_es
      FROM ({_SQL_TOKS}))
    SELECT doc_id,
           CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                WHEN s_fr >= s_es THEN 'fr'
                ELSE 'es' END AS lang_pred,
           ROUND(greatest(s_en, s_de, s_fr, s_es), 6) AS lang_score
    FROM scored
    """,
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/stopword language-ID: per-language marker hit-rate,
    deterministic ordered argmax."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    scored = docs.select(
        "doc_id",
        *[
            lang_marker_score(text, markers).alias(f"s_{lang}")
            for lang, markers in LANG_MARKERS.items()
        ],
    )
    s = {lang: F.col(f"s_{lang}") for lang in LANG_MARKERS}
    lang_pred = (
        F.when(
            (s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["es"]), "en"
        )
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["es"]), "de")
        .when(s["fr"] >= s["es"], "fr")
        .otherwise("es")
    )
    return scored.select(
        "doc_id",
        lang_pred.alias("lang_pred"),
        F.round(F.greatest(*s.values()), 6).alias("lang_score"),
    )


# --------------------------------------------------------------------------
# CCNet-style unigram-LM perplexity: score every document under the
# corpus's own unigram distribution; high perplexity = rare-token
# soup (boilerplate, garbled extraction), the classic LM-based
# quality-filter signal when no external KenLM is available.
# --------------------------------------------------------------------------
@query(
    "doc_unigram_perplexity",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents),
    tf AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    n AS (SELECT COUNT(*) AS nn FROM toks)
    SELECT doc_id, COUNT(*) AS n_tokens,
           ROUND(EXP(-AVG(LN(c * 1.0 / nn))), 4) AS ppl
    FROM toks JOIN tf USING (tok) CROSS JOIN n
    GROUP BY doc_id
    """,
)
def doc_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity per document (CCNet's quality-filter
    shape with the corpus itself as the LM): ppl(d) =
    exp(-mean_t ln p(t)), p(t) = corpus count / corpus tokens.

    Scale: pass 1 aggregates token counts (vocab-sized result,
    broadcast — natural-language vocab is millions of rows at 100 TB,
    still broadcastable; fall back to a shuffle join keyed on the
    token if a tokenizer explodes the vocab); the 1-row total rides a
    broadcast crossJoin. Pass 2 rejoins tokens to their frequencies
    map-side and aggregates per doc — one shuffle on doc_id. Hot
    tokens skew nothing: the join fans out per occurrence, which is
    the row count already."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    tf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n = toks.agg(F.count(F.lit(1)).alias("nn"))
    return (
        toks.join(F.broadcast(tf), "tok")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.exp(-F.avg(F.log(F.col("c") * 1.0 / F.col("nn")))), 4
            ).alias("ppl"),
        )
    )


# --------------------------------------------------------------------------
# Document fingerprinting: md5 (collision-resistant) + polynomial
# rolling hash (cheap, oracle-reproducible).
# --------------------------------------------------------------------------
@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) AS fp_md5,
           CAST(list_reduce(
             list_prepend(0, [ascii(c) for c in string_split(text, '')]),
             (acc, c) -> (acc * 31 + c) % 1000003) AS BIGINT) AS fp_roll
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup fingerprints: md5 + rolling hash, both computed
    JVM-side. The rolling hash stays modular at each step (ANSI-safe,
    engine-portable)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("fp_md5"),
        rolling_hash(F.col("text")).alias("fp_roll"),
    )


# --------------------------------------------------------------------------
# Exact deduplication: hash-groupBy on content fingerprint, canonical
# survivor = min doc_id (deterministic).
# --------------------------------------------------------------------------
@query(
    "dedup_exact_groups",
    oracle="""
    SELECT md5(text) AS fp, COUNT(*) AS n_copies,
           MIN(doc_id) AS canonical_doc_id
    FROM documents
    GROUP BY fp
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as a hash aggregate on md5(text): one shuffle on
    the fingerprint, survivor = min(doc_id). At 100 TB this is the
    cheapest dedup pass and runs before any near-dup machinery."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


# --------------------------------------------------------------------------
# Deduplicated corpus materialization: the actual output of the dedup
# pass — canonical survivors only.
# --------------------------------------------------------------------------
@query(
    "dedup_canonical_corpus",
    oracle="""
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id IN (
      SELECT MIN(doc_id) FROM documents GROUP BY md5(text))
    """,
)
def dedup_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus a training run actually consumes: exact-dedup
    survivors (min doc_id per content hash), selected with a
    left-semi join against the canonical-id set. At 100 TB the
    survivor set is written back partitioned and becomes the input to
    the near-dup passes."""
    docs = load_table(spark, sf_dir, "documents")
    canonical = (
        docs.select(F.md5("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return docs.join(canonical, "doc_id", "left_semi").select(
        "doc_id", "lang", "source", "n_chars"
    )


# --------------------------------------------------------------------------
# SimHash near-dup: 16-bit sign-of-bit-sums fingerprint over token
# rolling hashes; equal fingerprints = Hamming-0 near-dup groups.
# --------------------------------------------------------------------------
_SIMHASH_SQL = " + ".join(
    f"(CASE WHEN list_sum([CASE WHEN (h >> {k}) & 1 = 1 THEN 1 ELSE -1 END"
    f" for h in hs]) > 0 THEN {1 << k} ELSE 0 END)"
    for k in range(SIMHASH_BITS)
)

@query(
    "dedup_simhash",
    oracle=f"""
    WITH hs AS (
      SELECT doc_id,
             [CAST(list_reduce(
                list_prepend(0, [ascii(c) for c in string_split(t, '')]),
                (acc, c) -> (acc * 31 + c) % 1000003) AS BIGINT)
              for t in string_split(text, ' ')] AS hs
      FROM documents),
    fp AS (SELECT doc_id, CAST({_SIMHASH_SQL} AS BIGINT) AS simhash FROM hs)
    SELECT doc_id, simhash,
           COUNT(*) OVER (PARTITION BY simhash) AS n_same
    FROM fp
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprinting (near-dup dedup family #3): per-token
    rolling hashes → signed bit-count per position → sign bits form
    the fingerprint; docs sharing a fingerprint are near-dup
    candidates (Hamming radius 0; band the bits for radius > 0).

    Scale: the fingerprint is one long per document computed row-local
    in the scan stage (vectorized Arrow-batched kernel — the pure
    Catalyst expression form in functions.text.simhash computes the
    same values but pays 16 interpreted aggregate passes per row);
    the only shuffle is the tiny group on the 16-bit key. This is the
    cheapest near-dup pass after exact-hash.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    par = max(spark.sparkContext.defaultParallelism, 8)
    fp = docs.repartition(par).select(
        "doc_id", simhash_udf()(F.col("text")).alias("simhash")
    )
    return fp.withColumn(
        "n_same", F.count(F.lit(1)).over(Window.partitionBy("simhash"))
    )


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs: 5-token shingles, inverted-index
# self-join, exact Jaccard on candidates.
# --------------------------------------------------------------------------
_JACCARD_THRESHOLD = 0.8

# Stop-shingle / hot-bucket guard (same rationale as events.py's
# MAX_EVENTS_PER_KEY): the inverted-index bucket builders below hold
# one collect_list buffer per shingle/fingerprint, and ObjectHash
# aggregation buffers do not spill — a boilerplate shingle shared by
# millions of documents at 100 TB would OOM its task (and its
# C(m,2) pair fan-out is noise for Jaccard anyway). Posting lists
# are therefore bounded BEFORE the aggregate: the row_number
# pre-filter rides the same hash partitioning the groupBy reuses
# (ONE shuffle total), its per-key sort spills, and only the first
# MAX_DOCS_PER_BUCKET doc_ids per bucket generate pairs. Fixture
# buckets sit 3+ orders of magnitude below the cap, so all oracles
# stay exact; above it the documented semantics are "a shingle
# shared by more than the cap is treated as a stop-shingle past its
# first N docs" — hot-bucket truncation is the standard LSH/inverted
# -index mitigation (docs truncated from one bucket still meet in
# every other shared, colder bucket).
MAX_DOCS_PER_BUCKET = 10_000


def _cap_bucket(
    e: DataFrame,
    key: str,
    cap: int = MAX_DOCS_PER_BUCKET,
    strict: bool = False,
) -> DataFrame:
    """Keep only the first `cap` docs per inverted-index key (by
    doc_id, deterministic) — the spill-safe mega-bucket guard.

    ``strict=True`` turns silent truncation into a raise_error the
    moment any bucket EXCEEDS the cap (ADVICE r9): queries whose
    brute-force SQL oracle has no cap (multimodal_phash_pairs) would
    otherwise silently drop pairs the oracle reports on a degenerate
    flooding corpus — strict mode keeps engine and oracle an EQUALITY
    contract by failing loudly instead, telling the operator to route
    the degenerate payloads out first. The row_number window still
    bounds memory (per-key sort spills; nothing is collected), so the
    guard itself is flood-safe."""
    w = Window.partitionBy(key).orderBy("doc_id")
    e = e.withColumn("_rn", F.row_number().over(w))
    if strict:
        e = e.filter(
            F.when(
                F.col("_rn") > cap,
                F.raise_error(
                    F.lit(
                        f"bucket flood: a '{key}' bucket exceeded "
                        f"cap={cap}; the brute-force oracle has no "
                        "cap so results would silently diverge — "
                        "route degenerate payloads out first"
                    )
                ).cast("boolean"),
            ).otherwise(F.col("_rn") <= cap)
        )
    else:
        e = e.filter(F.col("_rn") <= cap)
    return e.drop("_rn")


def _hashed_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared near-dup currency: (doc_id, n_chars, hset) with hset the
    document's distinct 5-token shingles hashed to 8 bytes — ONE
    Arrow shingle pass, localCheckpoint'ed eagerly so every consumer
    (and every method inside dedup_method_recall_report) reads the
    materialized blocks instead of replaying the Python kernel. The
    hash-before-checkpoint order matters: the checkpoint stores
    8-byte longs, never the ~40-byte shingle strings."""
    docs = load_table(spark, sf_dir, "documents")
    par = max(spark.sparkContext.defaultParallelism, 8)
    hs = docs.repartition(par).select(
        "doc_id",
        "n_chars",
        F.transform(
            word_shingles_udf(5)(F.col("text")), lambda x: F.xxhash64(x)
        ).alias("hset"),
    )
    return hs.localCheckpoint(eager=True)


def _shingle_base(sets: DataFrame) -> DataFrame:
    """Filtered + measured view of _hashed_shingle_sets: drops
    short-doc empties, adds m = |hset| (cheap JVM expressions over
    the checkpointed blocks)."""
    return sets.filter(F.size("hset") > 0).withColumn(
        "m", F.size("hset")
    )


def _shingle_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared inverted-index builder: (doc_id, n, sh) — one row per
    distinct 5-token shingle, with the document's shingle count
    carried alongside (so Jaccard needs no extra join back to the
    documents). The scan is repartitioned first: the local fixture is
    one parquet row-group (1 input split), and the shingling must
    parallelize; on a real multi-file table this is a no-op cost.

    The join key is xxhash64(shingle), not the ~40-byte shingle
    string: the self-join shuffles ~8 bytes/row instead of the text,
    and 64-bit collisions are negligible at any corpus size that fits
    a cluster (birthday bound ~(n^2)/2^65). The Jaccard counts are
    over distinct shingles either way, so the DuckDB string-keyed
    oracle still matches exactly."""
    docs = load_table(spark, sf_dir, "documents")
    par = max(spark.sparkContext.defaultParallelism, 8)
    sh = docs.repartition(par).select(
        "doc_id", word_shingles_udf(5)(F.col("text")).alias("s")
    )
    # explode_outer while RETAINING the array, then size() the
    # retained column. Two traps make the naive form run the UDF
    # twice: size(s)+explode(s) in one projection each inline the UDF
    # after CollapseProject, and plain explode() infers a
    # `size(udf(text))>0` pre-filter that evaluates the UDF in its
    # own ArrowEvalPython stage. explode_outer infers no filter; the
    # short-doc null rows are dropped on the generated attribute
    # instead, so the UDF feeds only the Generate and runs once.
    return (
        sh.select("doc_id", "s", F.explode_outer("s").alias("sh_str"))
        .filter(F.col("sh_str").isNotNull())
        .select(
            "doc_id", F.size("s").alias("n"), F.xxhash64("sh_str").alias("sh")
        )
    )

@query(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, list_distinct(
        [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         toks[i+3] || ' ' || toks[i+4] for i in range(1, len(toks) - 3)]) AS s
      FROM ({_SQL_TOKS})),
    e AS (SELECT doc_id, unnest(s) AS sh FROM sh),
    cnt AS (SELECT doc_id, len(s) AS n FROM sh),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT p.doc_a, p.doc_b, p.n_common,
           ROUND(p.n_common * 1.0 / (ca.n + cb.n - p.n_common), 6) AS jaccard
    FROM pairs p
    JOIN cnt ca ON ca.doc_id = p.doc_a
    JOIN cnt cb ON cb.doc_id = p.doc_b
    WHERE p.n_common * 1.0 / (ca.n + cb.n - p.n_common) >= {_JACCARD_THRESHOLD}
    """,
)
def ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, sets: DataFrame | None = None
) -> DataFrame:
    """Near-dup detection: explode distinct 5-token shingles into an
    inverted index, group docs per shingle, generate the co-occurring
    pairs array-locally inside each shingle bucket, count
    intersections, compute exact Jaccard, threshold. Docs sharing no
    shingle never meet, so Jaccard-0 pairs never materialize.

    Scale: groupBy(shingle)+collect_list replaces the former
    self-join — the shingling Python stage and the documents scan run
    ONCE (the aliased self-join re-executed both per side: 4 Arrow
    stages, 4 exchanges → now 1 and 2), and pair generation is a
    row-local HOF over each bucket. A shingle shared by m docs still
    yields m·(m-1)/2 pairs — that blowup is inherent to inverted-index
    Jaccard, identical in the join form; at 100 TB run
    minhash_lsh_candidates first and exact-verify only its candidates
    (this query is the verifier). Buckets are hard-bounded at
    MAX_DOCS_PER_BUCKET via _cap_bucket (spill-safe row_number
    pre-filter, no extra shuffle), so a boilerplate stop-shingle can
    neither OOM its aggregation buffer nor emit a quadratic pair
    storm. Sorting each bucket by doc_id keeps doc_a < doc_b
    without per-pair comparisons.
    """
    if sets is None:
        e = _shingle_index(spark, sf_dir)
    else:  # shared checkpointed shingle sets (recall report path)
        e = _shingle_base(sets).select(
            "doc_id",
            F.col("m").alias("n"),
            F.explode("hset").alias("sh"),
        )
    buckets = (
        _cap_bucket(e, "sh")
        .groupBy("sh")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n"))).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("ds"),
                lambda x, i: F.transform(
                    F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                    lambda y: F.struct(
                        x["doc_id"].alias("doc_a"),
                        y["doc_id"].alias("doc_b"),
                        x["n"].alias("na"),
                        y["n"].alias("nb"),
                    ),
                ),
            )
        )
    ).alias("p")
    pairs = (
        buckets.select(pair)
        .groupBy("p.doc_a", "p.doc_b", "p.na", "p.nb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        pairs.filter(jac >= _JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "n_common", F.round(jac, 6).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# MinHash + LSH banding: k=16 hash permutations over shingle rolling
# hashes, 4 bands × 4 rows; docs sharing any band signature are
# candidate near-dups. Fully deterministic → oracle-checkable.
# --------------------------------------------------------------------------
_MINHASH_K = 16
_MINHASH_BAND_ROWS = 4
_MH_P = 1_000_003


def _mh_signature(text: str):
    """16-component MinHash signature of one document, or None if it
    has fewer than 5 tokens: shingle rolling-hashes (vectorized
    prefix-hash kernel, scalar fallback for non-ASCII) → k universal
    hash permutations (a_i·h + b_i mod p) → per-perm min. Skips
    string-dedup of shingles: min over a multiset equals min over
    its set, so duplicates can't change a MinHash."""
    import numpy as np

    from se_data_pipeline_spark.functions.text import (
        ROLLING_HASH_BASE,
        ROLLING_HASH_MOD,
        TOKEN_SEP,
        shingle_hashes_np,
    )

    if text is None:  # NULL text -> no signature (row skipped)
        return None
    arr = shingle_hashes_np(text, 5)
    if arr is None:  # non-ASCII fallback: scalar fold
        toks = text.split(TOKEN_SEP)
        hs = []
        for i in range(max(len(toks) - 4, 0)):
            h = 0
            for ch in TOKEN_SEP.join(toks[i : i + 5]):
                h = (h * ROLLING_HASH_BASE + ord(ch)) % ROLLING_HASH_MOD
            hs.append(h)
        arr = np.asarray(hs, dtype=np.int64)
    if not len(arr):
        return None
    return _mh_sig_from_hashes(arr)


def _mh_sig_from_hashes(arr):
    """k universal hash permutations over a (multi)set of shingle
    hashes → per-permutation min. Exact algebra (property-tested):
    sig(A ∪ B) = elementwise min(sig(A), sig(B)); invariant under
    element order and duplication — the mergeability that lets
    signatures combine across partitions/shards without rescanning
    text."""
    import numpy as np

    ks = np.arange(_MINHASH_K, dtype=np.int64)
    ph = ((2 * ks + 1) * arr[:, None] + 31 * ks + 7) % _MH_P
    return ph.min(axis=0)


def _mh_band_rows(batches):
    """mapInPandas kernel: one row per (doc, band) with the band's
    joined signature string."""
    import pandas as pd

    for pdf in batches:
        out_doc, out_band, out_sig = [], [], []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            mh = _mh_signature(text)
            if mh is None:
                continue
            for band in range(_MINHASH_K // _MINHASH_BAND_ROWS):
                lo = band * _MINHASH_BAND_ROWS
                out_doc.append(doc_id)
                out_band.append(band)
                out_sig.append(
                    "-".join(str(v) for v in mh[lo : lo + _MINHASH_BAND_ROWS])
                )
        yield pd.DataFrame(
            {"doc_id": out_doc, "band": out_band, "sig": out_sig}
        )


def _mh_band_sig_rows(batches):
    """As _mh_band_rows but carrying the full 16-long signature on
    every band row (for signature-agreement estimates)."""
    import pandas as pd

    for pdf in batches:
        rows = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            mh = _mh_signature(text)
            if mh is None:
                continue
            full = [int(v) for v in mh]
            for band in range(_MINHASH_K // _MINHASH_BAND_ROWS):
                lo = band * _MINHASH_BAND_ROWS
                rows.append(
                    (
                        doc_id,
                        band,
                        "-".join(
                            str(v) for v in full[lo : lo + _MINHASH_BAND_ROWS]
                        ),
                        full,
                    )
                )
        yield pd.DataFrame(rows, columns=["doc_id", "band", "sig", "mh"])

@query(
    "minhash_lsh_candidates",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, list_distinct(
        [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         toks[i+3] || ' ' || toks[i+4] for i in range(1, len(toks) - 3)]) AS s
      FROM ({_SQL_TOKS})),
    e AS (
      SELECT doc_id,
             CAST(list_reduce(
               list_prepend(0, [ascii(c) for c in string_split(x.sh, '')]),
               (acc, c) -> (acc * 31 + c) % {_MH_P}) AS BIGINT) AS h
      FROM (SELECT doc_id, unnest(s) AS sh FROM sh) x),
    perms AS (SELECT unnest(range({_MINHASH_K})) AS perm),
    mins AS (
      SELECT e.doc_id, p.perm,
             MIN((CAST(2 * p.perm + 1 AS BIGINT) * e.h
                  + 31 * p.perm + 7) % {_MH_P}) AS mh
      FROM e CROSS JOIN perms p
      GROUP BY e.doc_id, p.perm),
    bands AS (
      SELECT doc_id, CAST(perm // {_MINHASH_BAND_ROWS} AS BIGINT) AS band,
             string_agg(CAST(mh AS VARCHAR), '-' ORDER BY perm) AS sig
      FROM mins GROUP BY doc_id, band)
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    """,
)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate generation:
    shingle → rolling-hash → k universal-hash permutations
    (a_i·h + b_i mod p) → per-doc per-perm min (the MinHash signature)
    → band signatures (4 rows/band) → docs sharing any band bucket.

    Scale: signatures are 16 longs/doc regardless of document size,
    so the candidate join shuffles tiny rows; the quadratic blowup of
    the naive shingle self-join never happens. This is the 100 TB
    front-end for ngram_jaccard_pairs' exact verification. The
    signature kernel runs on BOTH self-join sides: in the executed
    plan (sf0.1) AQE's ReusedExchange sits below MapInPandas and
    reuses only the round-robin input, so every document is signed
    twice. Running it once per row needs a banding shape without
    the self-join (groupBy(band, sig) → doc-id lists → pairs); for a
    multi-query dedup campaign, materialize the band table once and
    share it.

    The signature is computed row-locally in one Arrow-batched numpy
    pass (shingle-hash → k permutations → per-band min-signature).
    The explode(shingles)×explode(k)→groupBy form shuffles ~800
    mechanical rows per document for what is a per-row kernel — 5×
    slower at sf0.1 and pure shuffle waste at 100 TB. Shingle hashes
    come from the vectorized prefix-hash kernel (no per-char Python
    loop); it skips string-dedup because min over a multiset equals
    min over its set, so duplicate shingles can't change a MinHash.
    """
    docs = load_table(spark, sf_dir, "documents")
    par = max(spark.sparkContext.defaultParallelism, 8)
    bands = docs.repartition(par).mapInPandas(
        _mh_band_rows, "doc_id long, band long, sig string"
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


@query(
    "minhash_jaccard_estimates",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, list_distinct(
        [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         toks[i+3] || ' ' || toks[i+4] for i in range(1, len(toks) - 3)]) AS s
      FROM ({_SQL_TOKS})),
    e AS (
      SELECT doc_id,
             CAST(list_reduce(
               list_prepend(0, [ascii(c) for c in string_split(x.sh, '')]),
               (acc, c) -> (acc * 31 + c) % {_MH_P}) AS BIGINT) AS h
      FROM (SELECT doc_id, unnest(s) AS sh FROM sh) x),
    perms AS (SELECT unnest(range({_MINHASH_K})) AS perm),
    mins AS (
      SELECT e.doc_id, p.perm,
             MIN((CAST(2 * p.perm + 1 AS BIGINT) * e.h
                  + 31 * p.perm + 7) % {_MH_P}) AS mh
      FROM e CROSS JOIN perms p
      GROUP BY e.doc_id, p.perm),
    sigs AS (
      SELECT doc_id, array_agg(mh ORDER BY perm) AS sig
      FROM mins GROUP BY doc_id),
    bands AS (
      SELECT doc_id, CAST(perm // {_MINHASH_BAND_ROWS} AS BIGINT) AS band,
             string_agg(CAST(mh AS VARCHAR), '-' ORDER BY perm) AS sig
      FROM mins GROUP BY doc_id, band),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
    SELECT c.doc_a, c.doc_b,
           CAST(len([i for i in range(1, {_MINHASH_K + 1})
                     if sa.sig[i] = sb.sig[i]]) AS BIGINT) AS n_agree,
           ROUND(len([i for i in range(1, {_MINHASH_K + 1})
                      if sa.sig[i] = sb.sig[i]]) / {_MINHASH_K}.0, 6)
             AS est_jaccard
    FROM cand c
    JOIN sigs sa ON sa.doc_id = c.doc_a
    JOIN sigs sb ON sb.doc_id = c.doc_b
    """,
)
def minhash_jaccard_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The estimation stage between LSH candidate generation and
    exact verification: for every candidate pair, estimated Jaccard =
    fraction of the 16 MinHash components that agree. At 100 TB this
    prunes the candidate set before the expensive exact
    ngram_jaccard_pairs verification touches documents again —
    signatures are 16 longs however long the documents are, and the
    agreement count is a row-local HOF (zip_with + filter) on the
    already-joined pair, no extra shuffle beyond the candidate join
    itself."""
    docs = load_table(spark, sf_dir, "documents")
    par = max(spark.sparkContext.defaultParallelism, 8)
    rows = docs.repartition(par).mapInPandas(
        _mh_band_sig_rows,
        "doc_id long, band long, sig string, mh array<long>",
    )
    a = rows.alias("a")
    b = rows.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.mh").alias("mh_a"),
            F.col("b.mh").alias("mh_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    n_agree = F.size(
        F.filter(
            F.zip_with("mh_a", "mh_b", lambda x, y: x == y), lambda v: v
        )
    ).cast("long")
    return pairs.select(
        "doc_a",
        "doc_b",
        n_agree.alias("n_agree"),
        F.round(n_agree / float(_MINHASH_K), 6).alias("est_jaccard"),
    )


# --------------------------------------------------------------------------
# Near-dup canonical corpus: the END PRODUCT of the LSH pipeline —
# drop every document that shares a MinHash band bucket with an
# earlier document, keep the survivors.
# --------------------------------------------------------------------------
@query(
    "dedup_near_canonical",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, list_distinct(
        [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         toks[i+3] || ' ' || toks[i+4] for i in range(1, len(toks) - 3)]) AS s
      FROM ({_SQL_TOKS})),
    e AS (
      SELECT doc_id,
             CAST(list_reduce(
               list_prepend(0, [ascii(c) for c in string_split(x.sh, '')]),
               (acc, c) -> (acc * 31 + c) % {_MH_P}) AS BIGINT) AS h
      FROM (SELECT doc_id, unnest(s) AS sh FROM sh) x),
    perms AS (SELECT unnest(range({_MINHASH_K})) AS perm),
    mins AS (
      SELECT e.doc_id, p.perm,
             MIN((CAST(2 * p.perm + 1 AS BIGINT) * e.h
                  + 31 * p.perm + 7) % {_MH_P}) AS mh
      FROM e CROSS JOIN perms p
      GROUP BY e.doc_id, p.perm),
    bands AS (
      SELECT doc_id, CAST(perm // {_MINHASH_BAND_ROWS} AS BIGINT) AS band,
             string_agg(CAST(mh AS VARCHAR), '-' ORDER BY perm) AS sig
      FROM mins GROUP BY doc_id, band),
    dupes AS (
      SELECT DISTINCT b.doc_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
    SELECT d.doc_id, d.source, d.lang, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM dupes)
    """,
)
def dedup_near_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup survivor materialization: a document survives unless
    it shares any MinHash band bucket with an EARLIER (lower doc_id)
    document — the keep-first policy over the LSH candidate relation,
    i.e. what the corpus actually trains on after dedup.

    Scale: the dupe set derives from the same 16-long signatures as
    minhash_lsh_candidates (tiny shuffle rows); the removal itself is
    a left-anti join of documents against the dupe ids — one
    broadcast-or-shuffle anti-join, no text comparison at all."""
    docs = load_table(spark, sf_dir, "documents")
    par = max(spark.sparkContext.defaultParallelism, 8)
    bands = docs.repartition(par).mapInPandas(
        _mh_band_rows, "doc_id long, band long, sig string"
    )
    a = bands.alias("a")
    b = bands.alias("b")
    dupes = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("b.doc_id").alias("doc_id"))
        .distinct()
    )
    return docs.join(dupes, "doc_id", "left_anti").select(
        "doc_id", "source", "lang", "n_chars"
    )


# --------------------------------------------------------------------------
# Deterministic stratified sampling: rebalance the corpus by language
# with a multiplicative hash — reproducible across runs/engines,
# unlike rand()-based sampling.
# --------------------------------------------------------------------------
@query(
    "doc_stratified_sample",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE ((doc_id % 1000003) * 2654435761) % 1000 <
          CASE lang WHEN 'en' THEN 300 WHEN 'zh' THEN 600 ELSE 1000 END
    """,
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus rebalancing (downsample high-resource en/zh,
    keep the rest) via Knuth multiplicative hashing on doc_id: fully
    deterministic, so the sample is stable across runs, engines, and
    repartitions — sample(fraction) is not (it depends on partition
    layout). The doc_id is reduced mod a prime first so the product
    stays in int64 under ANSI overflow checking at any id scale. The
    predicate pushes to the parquet scan; no shuffle at all."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(1000003)) * F.lit(2654435761),
        F.lit(1000),
    )
    rate = (
        F.when(F.col("lang") == "en", 300)
        .when(F.col("lang") == "zh", 600)
        .otherwise(1000)
    )
    return docs.filter(h < rate).select("doc_id", "lang", "n_chars")


# --------------------------------------------------------------------------
# The end-to-end curation pass: exact-dedup survivors ∩ quality gates.
# What actually feeds a training run.
# --------------------------------------------------------------------------
@query(
    "corpus_curation_pipeline",
    oracle="""
    WITH survivors AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    stats AS (
      SELECT doc_id, lang, n_chars,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS diversity
      FROM documents)
    SELECT s.doc_id, s.lang, s.n_tokens, s.n_chars
    FROM stats s JOIN survivors USING (doc_id)
    WHERE s.n_chars BETWEEN 120 AND 2000
      AND s.n_tokens >= 15
      AND s.diversity >= 0.3
    """,
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite curation: exact-dedup survivor selection (left-semi
    against min-doc_id-per-hash) AND length / token-count / lexical-
    diversity gates, in one plan. The n_chars bound is a plain column
    predicate — it pushes to the parquet scan and prunes rows BEFORE
    the md5 shuffle; the HOF-based gates are row-local. One shuffle
    total (the dedup groupBy) — the shape to keep at 100 TB, where
    every extra pass over the corpus is hours."""
    docs = load_table(spark, sf_dir, "documents")
    gated = docs.filter(F.col("n_chars").between(120, 2000)).filter(
        (token_count(F.col("text")) >= 15)
        & (distinct_token_ratio(F.col("text")) >= 0.3)
    )
    canonical = (
        docs.groupBy(F.md5("text").alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return gated.join(canonical, "doc_id", "left_semi").select(
        "doc_id",
        "lang",
        token_count(F.col("text")).alias("n_tokens"),
        "n_chars",
    )


# --------------------------------------------------------------------------
# Near-dup CLUSTERS: connected components over the verified pair
# graph — the step that turns pairwise candidates into dedup groups
# (A~B, B~C => {A,B,C} even when A!~C directly).
# --------------------------------------------------------------------------
_SQL_JACCARD_EDGES = f"""
    sh AS (
      SELECT doc_id, list_distinct(
        [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         toks[i+3] || ' ' || toks[i+4] for i in range(1, len(toks) - 3)]) AS s
      FROM ({_SQL_TOKS})),
    e0 AS (SELECT doc_id, unnest(s) AS sh FROM sh),
    cnt AS (SELECT doc_id, len(s) AS n FROM sh),
    jp AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM e0 a JOIN e0 b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    good AS (
      SELECT p.doc_a, p.doc_b
      FROM jp p
      JOIN cnt ca ON ca.doc_id = p.doc_a
      JOIN cnt cb ON cb.doc_id = p.doc_b
      WHERE p.n_common * 1.0 / (ca.n + cb.n - p.n_common)
            >= {_JACCARD_THRESHOLD}),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM good
              UNION ALL SELECT doc_b, doc_a FROM good)
"""


@query(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE
    {_SQL_JACCARD_EDGES},
    nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
    reach(src, node) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node)
    SELECT src AS doc_id, MIN(node) AS cluster_id
    FROM reach GROUP BY src
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup clustering: min-label propagation over the
    verified near-dup pair graph until fixpoint (the canonical id of
    each cluster is its smallest member).

    This is the iterative-algorithm shape (Pregel-style): the DRIVER
    loops over ROUNDS, but every round is a fully distributed
    join+groupBy — no data ever collects. Rounds needed = graph
    diameter (near-dup clusters are shallow; typically 1-3). Each
    round localCheckpoints the label frame: iterative plans otherwise
    grow lineage linearly and replan from scratch every round — at
    100 TB, that is the difference between O(d) passes and O(d^2).
    The DuckDB oracle computes the same components independently with
    a recursive CTE. Singleton documents (no near-dup edge) are not
    emitted — dedup only acts on connected docs.
    """
    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return _min_label_components(pairs)


def _min_label_components(pairs: DataFrame) -> DataFrame:
    """Pregel-style min-label propagation to fixpoint over an
    undirected pair frame (columns doc_a, doc_b) — the shared
    clustering engine of dedup_connected_components and the semantic
    twin (vectors.semantic_dedup_canonical_corpus). Returns (doc_id,
    cluster_id) for every CONNECTED node; the cluster id is its
    smallest member. Per-round localCheckpoints cut the iterative
    lineage (O(d) passes, not O(d^2) replans)."""
    edges = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).localCheckpoint(eager=True)

    labels = (
        edges.select(F.col("doc_a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    while True:
        neigh = (
            edges.join(labels, edges.doc_a == labels.node)
            .groupBy(F.col("doc_b").alias("node"))
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neigh, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nlabel", "label")
                ).alias("label2"),
            )
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.join(labels, "node")
            .filter(F.col("label2") < F.col("label"))
            .count()
        )
        labels = new_labels.select(
            "node", F.col("label2").alias("label")
        ).localCheckpoint(eager=True)
        if changed == 0:
            break
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


# --------------------------------------------------------------------------
# TF-IDF term search: the inverted-index retrieval op (BM25-lite) —
# tokenize, term-filter BEFORE any shuffle, tf × idf, top-k.
# --------------------------------------------------------------------------
_SEARCH_TERMS = SEARCH_TERMS  # shared via functions.text (no cycle)


@query(
    "doc_tfidf_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS c
      FROM toks WHERE tok IN {_SEARCH_TERMS!r}
      GROUP BY 1, 2),
    dfreq AS (SELECT tok, COUNT(DISTINCT doc_id) AS d FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS nn FROM documents)
    SELECT t.doc_id,
           ROUND(SUM(t.c * ln(nn * 1.0 / d)), 6) AS score
    FROM tf t JOIN dfreq USING (tok) CROSS JOIN n
    GROUP BY t.doc_id
    ORDER BY score DESC, t.doc_id
    LIMIT 20
    """,
)
def doc_tfidf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-term TF-IDF ranking: the term filter lands right after
    the token explode (rows shrink to matching terms before the tf
    shuffle), document frequency is a tiny aggregate joined back
    broadcast, and the corpus count is a 1-row crossJoin — so the
    only fact-sized shuffle is the (doc, term) tf groupBy. Top-k via
    TakeOrderedAndProject. At 100 TB the tf/df tables ARE the
    inverted index; materialize them partitioned by term."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok").isin(*_SEARCH_TERMS))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    dfreq = tf.groupBy("tok").agg(
        F.countDistinct("doc_id").alias("d")
    )
    n = docs.agg(F.count(F.lit(1)).alias("nn"))
    return (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("c") * F.log(F.col("nn") * 1.0 / F.col("d"))), 6
            ).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Hybrid-search fusion: reciprocal-rank fusion (RRF) of a lexical
# (TF-IDF) ranking with a document prior (length) — the standard
# combiner for lexical + semantic retrieval.
# --------------------------------------------------------------------------
_RRF_K = 60
_RRF_CANDIDATES = 200  # top-K candidate cut per retriever


def _rank_bounded(df: DataFrame, sort_key, out_col: str) -> DataFrame:
    """Dense 1-based rank of an already-bounded (<=K rows, post-LIMIT)
    frame with no WindowExec: collect to ONE sorted array of structs
    (struct comparison is lexicographic by field order, so pass a
    negated key for descending) and posexplode. Single-task O(K log K)
    regardless of upstream corpus size — only use after a LIMIT."""
    # BOUNDED: callers pass a post-LIMIT frame (<= K rows), so the
    # single collect buffer holds at most K entries
    agg = df.agg(
        F.sort_array(
            F.collect_list(F.struct(sort_key.alias("k"), F.col("doc_id")))
        ).alias("a")
    )
    return agg.select(
        F.posexplode("a").alias("pos", "s")
    ).select(
        F.col("s.doc_id").alias("doc_id"),
        (F.col("pos") + 1).cast("int").alias(out_col),
    )


@query(
    "doc_rank_fusion",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS c
      FROM toks WHERE tok IN {_SEARCH_TERMS!r}
      GROUP BY 1, 2),
    dfreq AS (SELECT tok, COUNT(DISTINCT doc_id) AS d FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS nn FROM documents),
    lex AS (
      SELECT t.doc_id, SUM(t.c * ln(nn * 1.0 / d)) AS score
      FROM tf t JOIN dfreq USING (tok) CROSS JOIN n
      GROUP BY t.doc_id),
    ra AS (
      SELECT * FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id) AS r
        FROM lex) WHERE r <= {_RRF_CANDIDATES}),
    rb AS (
      SELECT * FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r
        FROM documents) WHERE r <= {_RRF_CANDIDATES})
    SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
           ROUND(COALESCE(1.0 / ({_RRF_K} + ra.r), 0)
                 + COALESCE(1.0 / ({_RRF_K} + rb.r), 0), 6) AS rrf
    FROM ra FULL JOIN rb ON ra.doc_id = rb.doc_id
    ORDER BY rrf DESC, doc_id
    LIMIT 20
    """,
)
def doc_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion: rrf(d) = Σ_systems 1/(k + rank_s(d))
    with k=60, fusing a TF-IDF lexical ranking with a length prior
    (stand-in for the semantic ranking an embedding model produces).
    Each retriever contributes only its top-{_RRF_CANDIDATES}
    candidates — real RRF fuses candidate lists, never whole-corpus
    rankings; docs outside both lists are excluded, docs in one list
    contribute 0 for the other.

    Scale: each retriever cut is `orderBy().limit(K)` — Spark plans
    TakeOrderedAndProject (per-partition top-K, driver merge; no
    global sort, no full-corpus shuffle). The row_number windows run
    over the ≤K-row LIMIT output, so the single-partition WindowExec
    touches K rows regardless of corpus size. Fusion is a join of
    two K-row frames. This removes the round-2 scale-killer: no
    unbounded unpartitioned window remains."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok").isin(*_SEARCH_TERMS))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    dfreq = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("d"))
    n = docs.agg(F.count(F.lit(1)).alias("nn"))
    lex = (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("c") * F.log(F.col("nn") * 1.0 / F.col("d"))
            ).alias("score")
        )
    )
    # TakeOrderedAndProject candidate cut FIRST, then rank the K rows.
    lex_top = lex.orderBy(F.desc("score"), F.asc("doc_id")).limit(
        _RRF_CANDIDATES
    )
    len_top = docs.select("doc_id", "n_chars").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    ).limit(_RRF_CANDIDATES)
    # Rank the bounded candidate frame without a WindowExec: fold the
    # <=K rows into one sorted array (struct sorts lexicographically,
    # so negate the score for DESC) and posexplode — position+1 is the
    # rank. Work is O(K log K) on one task by construction, not
    # corpus-sized.
    ra = _rank_bounded(lex_top, F.col("score") * -1, "ra")
    rb = _rank_bounded(
        len_top, (F.col("n_chars") * -1).cast("double"), "rb"
    )
    return (
        ra.join(rb, "doc_id", "full")
        .select(
            "doc_id",
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("ra")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("rb")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Intra-document repetition signals (Gopher-style quality rules):
# top-bigram share and duplicate-trigram fraction.
# --------------------------------------------------------------------------
@query(
    "doc_repetition_stats",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
    bi AS (
      SELECT doc_id, t[i] || ' ' || t[i + 1] AS g
      FROM toks, UNNEST(range(1, len(t))) AS r(i)),
    bi_cnt AS (
      SELECT doc_id, g, COUNT(*) AS c FROM bi GROUP BY doc_id, g),
    bi_doc AS (
      SELECT doc_id,
             ROUND(MAX(c) * 1.0 / SUM(c), 6) AS top_bigram_share
      FROM bi_cnt GROUP BY doc_id),
    tri AS (
      SELECT doc_id, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS g
      FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)),
    tri_cnt AS (
      SELECT doc_id, g, COUNT(*) AS c FROM tri GROUP BY doc_id, g),
    tri_doc AS (
      SELECT doc_id,
             ROUND(CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
                   / SUM(c), 6) AS dup_trigram_frac
      FROM tri_cnt GROUP BY doc_id)
    SELECT b.doc_id, b.top_bigram_share, t.dup_trigram_frac
    FROM bi_doc b JOIN tri_doc t ON t.doc_id = b.doc_id
    """,
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher repetition rules
    restated over whitespace tokens): the most frequent bigram's
    share of all bigrams, and the fraction of trigram occurrences
    whose trigram appears more than once in the same document.

    Plan: n-gram arrays are built JVM-side with transform() over a
    sequence (no Python), then exploded and counted with a hash
    aggregate keyed (doc_id, gram) — the natural distributed shape:
    the key space is per-document so the count aggregate partial-
    aggregates map-side, and the per-doc reduction that follows is
    tiny. No window functions needed (max and conditional sum per
    doc); 100 TB behavior is two shuffle rounds over (doc_id, gram)
    → (doc_id), both combiner-friendly."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    )
    # transform(sequence(1, size-1), i -> concat(t[i], ' ', t[i+1]))
    # written with element_at (1-based) so Spark and DuckDB index
    # identically. The size guard matters: Spark's sequence(1, 0) is
    # the DESCENDING [1, 0] (DuckDB's range(1, 0) is empty), so a
    # 1-token document would index out of bounds without it; guarded,
    # such docs simply produce no n-grams — same as the oracle.
    bi = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 2 THEN "
                "transform(sequence(1, size(t) - 1), "
                "i -> concat(element_at(t, i), ' ', element_at(t, i + 1))) "
                "ELSE array() END"
            )
        ).alias("g"),
    )
    tri = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 3 THEN "
                "transform(sequence(1, size(t) - 2), "
                "i -> concat(element_at(t, i), ' ', element_at(t, i + 1), "
                "' ', element_at(t, i + 2))) "
                "ELSE array() END"
            )
        ).alias("g"),
    )
    bi_doc = (
        bi.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.round(F.max("c") / F.sum("c"), 6).alias("top_bigram_share")
        )
    )
    tri_doc = (
        tri.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).cast(
                    "double"
                )
                / F.sum("c"),
                6,
            ).alias("dup_trigram_frac")
        )
    )
    return bi_doc.join(tri_doc, "doc_id")


# --------------------------------------------------------------------------
# Exact duplicated-passage detection (substring-level dedup).
# --------------------------------------------------------------------------
_PASSAGE_K = 5


@query(
    "doc_duplicate_passages",
    oracle=f"""
    WITH toks AS ({_SQL_TOKS}),
    w AS (
      SELECT doc_id, pos,
             array_to_string(toks[pos:pos + {_PASSAGE_K - 1}], ' ') AS win
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - {_PASSAGE_K} + 1))
                     AS pos
            FROM toks)
    ),
    d AS (SELECT win FROM w GROUP BY win
          HAVING COUNT(DISTINCT doc_id) >= 2),
    m AS (SELECT w.doc_id, w.pos FROM w JOIN d USING (win)),
    f AS (SELECT doc_id, pos,
                 CASE WHEN pos - lag(pos) OVER
                        (PARTITION BY doc_id ORDER BY pos) <= {_PASSAGE_K}
                      THEN 0 ELSE 1 END AS new_span
          FROM m),
    s AS (SELECT doc_id, pos,
                 SUM(new_span) OVER
                   (PARTITION BY doc_id ORDER BY pos) AS span_id
          FROM f),
    ps AS (SELECT doc_id, span_id,
                  MAX(pos) - MIN(pos) + {_PASSAGE_K} AS span_tokens,
                  COUNT(*) AS n_windows
           FROM s GROUP BY doc_id, span_id),
    pd AS (SELECT doc_id,
                  CAST(SUM(n_windows) AS BIGINT)    AS n_dup_windows,
                  CAST(COUNT(*) AS BIGINT)          AS n_dup_spans,
                  CAST(SUM(span_tokens) AS BIGINT)  AS dup_tokens
           FROM ps GROUP BY doc_id)
    SELECT b.doc_id,
           COALESCE(pd.n_dup_windows, 0) AS n_dup_windows,
           COALESCE(pd.n_dup_spans, 0)   AS n_dup_spans,
           COALESCE(pd.dup_tokens, 0)    AS dup_tokens,
           ROUND(CASE WHEN b.nt > 0
                      THEN CAST(COALESCE(pd.dup_tokens, 0) AS DOUBLE) / b.nt
                      ELSE 0.0 END, 6)   AS dup_coverage
    FROM (SELECT doc_id,
                 COALESCE(len(string_split(text, ' ')), 0) AS nt
          FROM documents) b
    LEFT JOIN pd USING (doc_id)
    ORDER BY doc_id
    """,
)
def doc_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-PASSAGE detection: which token spans of each
    document also appear verbatim in at least one other document
    (Lee et al. 2022, ExactSubstr dedup — here over k-token windows
    instead of a suffix array, the standard dataflow re-expression).

    Plan, built for 100 TB:
      1. positional k-token windows per doc (Arrow-batched UDF +
         `posexplode` — one row per window occurrence);
      2. windows travel the shuffle as an 8-byte `xxhash64`, never as
         strings (the hash is only a join key; the output exposes no
         hash, so oracle parity is unaffected by the hash function);
      3. inverted index: group windows by hash, keep hashes seen in
         ≥2 DISTINCT docs — partial map-side aggregation applies, no
         doc×doc pair blowup anywhere;
      4. hits join back (both sides hash-partitioned on the same key)
         and overlapping/adjacent windows merge into MAXIMAL
         duplicated spans per doc with the gaps-and-islands pattern
         (lag → new-span flag → running sum), windowed per doc_id —
         no global window;
      5. per-doc rollup LEFT-joined onto `documents` so clean docs
         report zeros (coverage ratio is ANSI-safe on empty docs).

    Extends the reference's whole-item dedup (ledger membership,
    data_pipeline.py:27-439,576) to sub-document granularity — the
    form that matters for LLM training corpora."""
    docs = load_table(spark, sf_dir, "documents")
    k = _PASSAGE_K
    from pyspark.sql import Window as W

    w = (
        docs.select(
            "doc_id",
            F.posexplode(positional_windows_udf(k)(F.col("text"))).alias(
                "pos", "win"
            ),
        )
        .select("doc_id", "pos", F.xxhash64("win").alias("h"))
    )
    dup_h = (
        w.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    win_doc = W.partitionBy("doc_id").orderBy("pos")
    spans = (
        w.join(dup_h, "h")
        .select("doc_id", "pos")
        .withColumn(
            "new_span",
            F.when(
                F.col("pos") - F.lag("pos").over(win_doc) <= k, F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .withColumn("span_id", F.sum("new_span").over(win_doc))
    )
    per_span = spans.groupBy("doc_id", "span_id").agg(
        (F.max("pos") - F.min("pos") + k).alias("span_tokens"),
        F.count(F.lit(1)).alias("n_windows"),
    )
    per_doc = per_span.groupBy("doc_id").agg(
        F.sum("n_windows").cast("long").alias("n_dup_windows"),
        F.count(F.lit(1)).cast("long").alias("n_dup_spans"),
        F.sum("span_tokens").cast("long").alias("dup_tokens"),
    )
    base = docs.select(
        "doc_id",
        F.coalesce(token_count(F.col("text")), F.lit(0)).alias("nt"),
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_dup_windows", F.lit(0).cast("long")).alias(
                "n_dup_windows"
            ),
            F.coalesce("n_dup_spans", F.lit(0).cast("long")).alias(
                "n_dup_spans"
            ),
            F.coalesce("dup_tokens", F.lit(0).cast("long")).alias("dup_tokens"),
            F.round(
                F.when(
                    F.col("nt") > 0,
                    F.coalesce("dup_tokens", F.lit(0).cast("long"))
                    / F.col("nt"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_coverage"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Corpus-wide exact span dedup TRANSFORM: the removal half of
# ExactSubstr dedup — doc_duplicate_passages detects duplicated
# spans; this op actually REWRITES the corpus with all but the first
# occurrence removed (Lee et al. 2022 "Deduplicating Training Data
# Makes Language Models Better"; the line-level variant is
# MassiveText/C4 sentence-span dedup — this corpus has no
# line/sentence boundaries, so the unit is the K-token chunk).
# --------------------------------------------------------------------------
_SPAN_DEDUP_K = _PASSAGE_K


def _span_chunk_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, cidx, chunk, ck): every document split into
    non-overlapping _SPAN_DEDUP_K-token chunks with the chunk's
    xxhash64 — row-local HOFs only (sequence + slice + array_join),
    so it runs identically on a batch frame and a readStream frame.
    Shared by the batch rewrite (doc_span_dedup) and its stateful
    streaming twin (streaming/jobs.span_dedup_stream).

    NULL text is normalized to '' (one empty chunk) BEFORE chunking:
    without it, size(NULL) = -1 under the session default makes
    ceil(-1/K) produce sequence(1, 0) — Spark's DESCENDING [1, 0] —
    i.e. two bogus NULL-chunk rows whose xxhash64(NULL) collides
    across every NULL-text doc (r9 review find; the oracle mirrors
    the COALESCE)."""
    k = _SPAN_DEDUP_K
    toks = tokens(F.coalesce(F.col("text"), F.lit("")))
    n_chunks = F.ceil(F.size(toks) / float(k)).cast("int")
    chunk_arr = F.transform(
        F.sequence(F.lit(1), n_chunks),
        lambda i: F.array_join(F.slice(toks, (i - 1) * k + 1, k), " "),
    )
    return docs.select(
        "doc_id",
        F.posexplode(chunk_arr).alias("cidx", "chunk"),
    ).select(
        "doc_id", "cidx", "chunk", F.xxhash64("chunk").alias("ck")
    )


@query(
    "doc_span_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS toks
      FROM documents),
    c AS (
      SELECT doc_id, i - 1 AS cidx,
             array_to_string(
               toks[(i-1)*{_SPAN_DEDUP_K}+1:(i-1)*{_SPAN_DEDUP_K}
                    +{_SPAN_DEDUP_K}], ' ') AS chunk
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(
                     1, CAST(ceil(len(toks) / {_SPAN_DEDUP_K}.0) AS BIGINT)))
                     AS i
            FROM toks)),
    kept AS (
      SELECT doc_id, cidx, chunk
      FROM (SELECT doc_id, cidx, chunk,
                   row_number() OVER
                     (PARTITION BY chunk ORDER BY doc_id, cidx) AS rn
            FROM c)
      WHERE rn = 1),
    agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS INTEGER) AS n_kept,
             string_agg(chunk, ' ' ORDER BY cidx) AS text_dedup
      FROM kept GROUP BY doc_id)
    SELECT b.doc_id,
           b.n_chunks,
           CAST(b.n_chunks - COALESCE(a.n_kept, 0) AS INTEGER) AS n_removed,
           COALESCE(a.text_dedup, '') AS text_dedup
    FROM (SELECT doc_id,
                 CAST(ceil(len(string_split(COALESCE(text, ''), ' '))
                           / {_SPAN_DEDUP_K}.0) AS INTEGER) AS n_chunks
          FROM documents) b
    LEFT JOIN agg a USING (doc_id)
    ORDER BY b.doc_id
    """,
)
def doc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact span dedup as a corpus REWRITE: split every document
    into non-overlapping K-token chunks (K=_SPAN_DEDUP_K, matching
    the detection report's window size), keep only the globally
    FIRST occurrence of each exact chunk (ordered by doc_id, then
    position — the deterministic winner rule), and reassemble each
    document from its surviving chunks. The removal counterpart of
    `doc_duplicate_passages`' detection report; extends the
    reference's whole-item ledger dedup (data_pipeline.py:27-439,576)
    to sub-document rewriting, the form LLM corpora need (Lee et al.
    2022; C4/MassiveText span dedup).

    Scale shape (100 TB-safe, no pair blowup):
      1. chunking is row-local (sequence + slice + array_join HOFs,
         whole-stage codegen, zero Python);
      2. the exploded occurrence frame is repartitioned on the
         chunk's xxhash64. The scan+explode subtree still runs once
         per join side: the winner side prunes the chunk text, so
         its exchange differs from the occurrence side's and the
         executed plan (sf0.1) has no ReusedExchange. Only the
         8-byte hash is the shuffle/group key, never the chunk
         string;
      3. the winner per chunk is min(struct(doc_id, cidx)) — partial
         map-side aggregation applies (never a window over a hot
         key); occurrences join the 1-row-per-chunk winner table
         co-partitioned (AQE splits skewed hot-chunk keys) and carry
         a keep FLAG instead of being filtered, so the per-doc totals
         need no second scan and no left join back to the base table;
      4. per-doc reassembly is one conditional collect_list
         (collect_list skips the NULLs of dropped chunks) bounded by
         the document's own length — the same bound as any doc
         rebuild. Docs whose every chunk was seen earlier reassemble
         to ''.
    The oracle groups by the chunk TEXT instead of the hash (DuckDB
    has no xxhash64); identical semantics absent 64-bit collisions —
    the established convention from doc_duplicate_passages, where the
    hash is only ever a grouping/join key, never an output value.
    """
    docs = load_table(spark, sf_dir, "documents")
    c = _span_chunk_frame(docs).repartition(
        "ck"
    )  # the winner agg and the join each shuffle their own copy
    winners = c.groupBy("ck").agg(
        F.min(F.struct("doc_id", "cidx")).alias("w")
    )
    keep = F.struct("doc_id", "cidx") == F.col("w")
    return (
        c.join(winners, "ck")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_chunks"),
            F.sum(F.when(keep, 1).otherwise(0)).alias("nk"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        # BOUNDED: one entry per surviving K-token
                        # chunk of ONE document — the buffer is the
                        # document's own length, the same bound as
                        # any doc rebuild (collect_list skips the
                        # NULLs of dropped chunks)
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
            (F.col("n_chunks") - F.col("nk")).cast("int").alias("n_removed"),
            "text_dedup",
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Corpus heavy hitters: top-k tokens by occurrence count.
# --------------------------------------------------------------------------
@query(
    "doc_top_tokens",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest(toks) AS token FROM ({_SQL_TOKS})),
    td AS (SELECT token, doc_id, COUNT(*) AS c
           FROM t WHERE token <> '' GROUP BY token, doc_id),
    g AS (SELECT token,
                 CAST(SUM(c) AS BIGINT)   AS n_occurrences,
                 CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM td GROUP BY token)
    SELECT token, n_occurrences, n_docs
    FROM g ORDER BY n_occurrences DESC, token LIMIT 50
    """,
)
def doc_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level heavy hitters: the 50 most frequent tokens with
    their document frequency — the vocabulary-pruning / stopword-
    mining primitive.

    Scale shape: the (token, doc_id) pre-aggregation runs with
    map-side partial combine, the per-token rollup then aggregates
    ~|vocab| rows (sum + count instead of a COUNT(DISTINCT) expand —
    document frequency falls out of the first level for free), and
    the final ORDER BY ... LIMIT 50 is a TakeOrderedAndProject
    (per-partition top-k, never a global sort). Deterministic
    tiebreak (count desc, token asc) keeps the cut oracle-stable."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    ).filter(F.length("token") > 0)
    td = t.groupBy("token", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    g = td.groupBy("token").agg(
        F.sum("c").cast("long").alias("n_occurrences"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    return g.orderBy(F.desc("n_occurrences"), F.asc("token")).limit(50)


# --------------------------------------------------------------------------
# Leakage-safe train/val/test splits: split assignment is a function
# of the NEAR-DUP CLUSTER, never the individual document.
# --------------------------------------------------------------------------
@query(
    "leakage_safe_splits",
    oracle=f"""
    WITH RECURSIVE
    {_SQL_JACCARD_EDGES},
    nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
    reach(src, node) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node),
    cc AS (SELECT src AS doc_id, MIN(node) AS cluster_id
           FROM reach GROUP BY src)
    SELECT d.doc_id,
           COALESCE(cc.cluster_id, d.doc_id) AS group_id,
           CASE WHEN COALESCE(cc.cluster_id, d.doc_id) % 10 <= 7
                  THEN 'train'
                WHEN COALESCE(cc.cluster_id, d.doc_id) % 10 = 8
                  THEN 'val'
                ELSE 'test' END AS split
    FROM documents d LEFT JOIN cc USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment that cannot leak near-duplicates
    across splits: documents are first grouped into near-dup clusters
    (transitive closure over the verified n-gram-Jaccard pair graph,
    same machinery as `dedup_connected_components`), then the SPLIT
    IS A DETERMINISTIC FUNCTION OF THE CLUSTER ID (mod-10 bucketing:
    8/1/1) — so two near-identical documents always land in the same
    split. Hash-the-document splitting, the naive approach, puts ~2×
    near-dups of every train doc into eval at web scale; this is the
    standard fix (cluster- or URL-grouped splitting).

    Singleton docs (no near-dup edge) form their own group. All
    joins are key-partitioned; the iterative closure is the
    localCheckpoint-per-round loop documented on
    `dedup_connected_components`."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cc = dedup_connected_components(spark, sf_dir)
    g = docs.join(cc, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("group_id")
    )
    return g.select(
        "doc_id",
        "group_id",
        F.when(F.col("group_id") % 10 <= 7, F.lit("train"))
        .when(F.col("group_id") % 10 == 8, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Hashing-trick linear quality classifier (fastText-style scorer).
# --------------------------------------------------------------------------
@query(
    "doc_hash_classifier_score",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             [x for x in string_split(text, ' ') if x <> ''] AS toks
      FROM documents),
    h AS (
      SELECT doc_id, len(toks) AS n_tokens,
             [ (CAST(list_reduce(
                   list_prepend(0, [ascii(c) for c in string_split(tk, '')]),
                   (acc, c) -> (acc * 31 + c) % 1000003) AS BIGINT)
                * 2654435761) % 1000003 - 501001
               for tk in toks] AS ws
      FROM t)
    SELECT doc_id,
           CAST(n_tokens AS INTEGER) AS n_tokens,
           ROUND(1.0 / (1.0 + exp(
             -(CAST(list_sum(ws) AS DOUBLE))
              / (289000.0 * sqrt(n_tokens)))), 6) AS score,
           CASE WHEN list_sum(ws) >= 0 THEN 'keep' ELSE 'drop' END AS label
    FROM h WHERE n_tokens > 0
    ORDER BY doc_id
    """,
)
def doc_hash_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick linear text classifier (the fastText/VW recipe):
    token → feature bucket via the portable rolling hash, bucket →
    fixed pseudo-random weight (a public Knuth-multiplicative mix of
    the bucket id — standing in for trained weights, which would ship
    as a broadcast array), document score = sigmoid of the normalized
    weight sum. This is how production quality/toxicity filters run
    at corpus scale: O(tokens) per doc, embarrassingly parallel.

    Engineered for exactness: the weight SUM is integer arithmetic
    (order-independent — a float sum would make the result depend on
    Spark's partition-merge order vs the oracle's sequential fold),
    floats appear only in the final per-row sigmoid, and the
    keep/drop label thresholds on the exact integer sum. Everything
    is one Catalyst HOF pass per row: no UDF, no shuffle, no join."""
    from se_data_pipeline_spark.catalog import parallelize_scan

    # row-local integer scoring: partition-invariant, so a one-split
    # scan may fan out to every core (catalog.parallelize_scan)
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    toks_nz = F.filter(tokens(F.col("text")), lambda t: F.length(t) > 0)

    def w(t):
        h = F.aggregate(
            F.split(t, ""),
            F.lit(0).cast("long"),
            lambda acc, c: (acc * 31 + F.ascii(c)) % 1_000_003,
        )
        return (h * 2654435761) % 1_000_003 - 501_001

    # ONE struct-accumulator fold carries (count, weight-sum): HOFs
    # are CodegenFallback (no CSE), so the earlier separate-
    # expression form re-tokenized and re-hashed every row 3-4x
    # (1.2s -> 0.5s warm at sf0.1; the DSIR query documents the
    # general trap). The empty-doc filter tests the text directly so
    # pushdown cannot inline the fold into a second evaluation.
    st = F.aggregate(
        toks_nz,
        F.struct(F.lit(0).alias("n"), F.lit(0).cast("long").alias("sw")),
        lambda acc, t: F.struct(
            (acc["n"] + F.lit(1)).alias("n"),
            (acc["sw"] + w(t)).alias("sw"),
        ),
    )
    n = F.col("st.n")
    sw = F.col("st.sw")
    score = F.round(
        F.lit(1.0)
        / (
            F.lit(1.0)
            + F.exp(
                -sw.cast("double") / (F.lit(289000.0) * F.sqrt(n))
            )
        ),
        6,
    )
    return (
        docs.filter(F.length(F.translate(F.col("text"), " ", "")) > 0)
        .select("doc_id", st.alias("st"))
        .select(
            "doc_id",
            n.alias("n_tokens"),
            score.alias("score"),
            F.when(sw >= 0, F.lit("keep"))
            .otherwise(F.lit("drop"))
            .alias("label"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Per-source quantile-calibrated quality filtering (FineWeb-style).
# --------------------------------------------------------------------------
@query(
    "doc_quality_percentile_by_source",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
               FROM documents),
    q AS (
      SELECT doc_id, source,
             ROUND(
               0.4 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
             + 0.3 * least(1.0, len(toks) / 150.0)
             + 0.3 * (CAST(len(list_filter(toks,
                   t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
                      / len(toks)), 6) AS quality
      FROM t)
    SELECT doc_id, source, quality,
           ROUND(percent_rank() OVER
                   (PARTITION BY source
                    ORDER BY quality, doc_id), 6) AS quality_pct,
           percent_rank() OVER
             (PARTITION BY source ORDER BY quality, doc_id)
             >= 0.5 AS keep_top_half
    FROM q
    ORDER BY doc_id
    """,
)
def doc_quality_percentile_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-SOURCE quantile calibration of the quality score: each
    document's percentile rank is computed within its own source
    (domain), and the keep-gate thresholds on that rank — so a noisy
    source and a clean source each contribute their best half instead
    of one absolute threshold silently dropping whole domains (the
    FineWeb/CCNet practice of per-dump, per-language thresholds).

    Window is PARTITIONED BY SOURCE — bounded state per domain, never
    a global sort; tiebreak on doc_id makes percent_rank
    deterministic under equal scores. Weight column is the pinned
    6dp-rounded quality, so the rank order is engine-identical."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    q = doc_quality_score(spark, sf_dir).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    w = W.partitionBy("source").orderBy("quality", "doc_id")
    pct = F.percent_rank().over(w)
    return q.select(
        "doc_id",
        "source",
        "quality",
        F.round(pct, 6).alias("quality_pct"),
        (pct >= 0.5).alias("keep_top_half"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Feature-hashing document embeddings (text -> vector bridge).
# --------------------------------------------------------------------------
_FH_DIMS = 16


@query(
    "doc_hashed_embeddings",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             [x for x in string_split(text, ' ') if x <> ''] AS toks
      FROM documents),
    h AS (
      SELECT doc_id, len(toks) AS n,
             unnest([CAST(list_reduce(
               list_prepend(0, [ascii(c) for c in string_split(tk, '')]),
               (acc, c) -> (acc * 31 + c) % 1000003) AS BIGINT)
               % {_FH_DIMS} for tk in toks]) AS dim
      FROM t WHERE len(toks) > 0)
    SELECT doc_id, CAST(dim AS INTEGER) AS dim,
           COUNT(*) AS n_tokens,
           ROUND(COUNT(*) * 1.0 / ANY_VALUE(n), 6) AS weight
    FROM h GROUP BY doc_id, dim
    ORDER BY doc_id, dim
    """,
)
def doc_hashed_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing document vectors (the hashing-trick featurizer,
    Weinberger et al. 2009): token → portable rolling hash → one of
    {_FH_DIMS} buckets; a document's vector is its L1-normalized
    bucket histogram, emitted EXPLODED as (doc_id, dim, weight) rows
    — the layout every sparse-vector consumer (ANN index builder,
    linear model trainer) ingests directly, and the layout that
    hash-compares engine-to-engine (array columns don't).

    This is the bridge from the text table into the vector family:
    corpora without model embeddings still get dedup/ANN/clustering
    over these hashed vectors. One explode + one combiner-friendly
    (doc_id, dim) aggregate; dimensionality is a constant, so the
    shuffle is bounded by docs × min(tokens, dims) rows."""
    from se_data_pipeline_spark.functions.text import token_hash_dims_udf

    docs = load_table(spark, sf_dir, "documents")
    # vectorized numpy kernel, not the interpreted per-char HOF fold
    # (same integer math — the oracle pins equivalence). The UDF
    # result is materialized in its OWN select first: referencing a
    # UDF call from two expressions of one projection (size +
    # explode) makes Catalyst evaluate it per consumer — measured
    # ~100x slower than the materialize-once form.
    base = docs.select(
        "doc_id", token_hash_dims_udf(_FH_DIMS)(F.col("text")).alias("ds")
    ).select(
        "doc_id", F.size("ds").alias("n"), F.explode("ds").alias("dim")
    )
    return (
        base.groupBy("doc_id", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.count(F.lit(1)) * 1.0 / F.any_value(F.col("n")), 6
            ).alias("weight"),
        )
        .select(
            "doc_id",
            F.col("dim").cast("int").alias("dim"),
            "n_tokens",
            "weight",
        )
        .orderBy("doc_id", "dim")
    )


# --------------------------------------------------------------------------
# Temporal n-gram novelty: what share of a doc's shingles is NEW
# relative to all earlier docs (corpus-growth / contribution curve).
# --------------------------------------------------------------------------
@query(
    "doc_ngram_novelty",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, list_distinct(
        [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         toks[i+3] || ' ' || toks[i+4] for i in range(1, len(toks) - 3)])
        AS s
      FROM ({_SQL_TOKS})),
    e AS (SELECT doc_id, unnest(s) AS g FROM sh),
    firsts AS (SELECT g, MIN(doc_id) AS first_doc FROM e GROUP BY g)
    SELECT e.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_novel,
           ROUND(SUM(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS novelty
    FROM e JOIN firsts f USING (g)
    GROUP BY e.doc_id
    ORDER BY e.doc_id
    """,
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal NOVELTY score: the share of a document's distinct
    5-token shingles whose FIRST occurrence (min doc_id, the
    ingestion-order proxy) is this document — i.e. how much genuinely
    new text a doc contributes vs recombining what the corpus already
    holds. Summed over ingestion order this is the corpus-growth
    curve; per-doc it is the keep-signal incremental crawls use
    (a doc that is 95% previously-seen shingles adds little even if
    it is no one's near-duplicate).

    Same inverted-index scale shape as the dedup family: shingles
    shuffle as xxhash64 keys, first-occurrence is a combiner-friendly
    MIN per shingle, and the verdict join is key-partitioned on the
    same hash — no pair materialization at all here, so this is the
    CHEAPEST of the cross-doc text signals."""
    from se_data_pipeline_spark.catalog import parallelize_scan

    # the Arrow shingle kernel is the cost; its per-row output is
    # partition-invariant and the aggregates are exact integers, so
    # a one-split scan may fan out (catalog.parallelize_scan)
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    e = docs.select(
        "doc_id",
        F.explode(word_shingles_udf(5)(F.col("text"))).alias("g"),
    ).select("doc_id", F.xxhash64("g").alias("h"))
    firsts = e.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    return (
        e.join(firsts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("n_novel"),
            F.round(
                F.sum(
                    F.when(
                        F.col("first_doc") == F.col("doc_id"), 1
                    ).otherwise(0)
                )
                * 1.0
                / F.count(F.lit(1)),
                6,
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Readability scoring (Flesch reading ease, vowel-group syllables).
# --------------------------------------------------------------------------
@query(
    "doc_readability",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             len([x for x in string_split(text, ' ') if x <> ''])
               AS n_words,
             len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS n_syllables,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
               AS n_sentences
      FROM documents)
    SELECT doc_id,
           CAST(n_words AS INTEGER)     AS n_words,
           CAST(n_syllables AS INTEGER) AS n_syllables,
           CAST(n_sentences AS INTEGER) AS n_sentences,
           ROUND(206.835
                 - 1.015 * (n_words * 1.0 / n_sentences)
                 - 84.6  * (n_syllables * 1.0 / n_words), 6)
             AS flesch_score
    FROM m WHERE n_words > 0
    ORDER BY doc_id
    """,
)
def doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document, with the standard cheap
    syllable proxy (maximal vowel-group runs — the heuristic every
    at-scale readability pass uses, since true syllabification needs
    a dictionary). Words/sentences/syllables are all single-pass
    regexp/HOF counts in codegen — zero shuffles, zero UDFs — and
    the formula is row-local arithmetic. Readability joins length /
    repetition / perplexity in the quality-signal family; unlike
    them it is sentence-structure-aware, which is what catches
    boilerplate lists and keyword stuffing that token stats miss."""
    docs = load_table(spark, sf_dir, "documents")
    toks_nz = F.filter(tokens(F.col("text")), lambda t: F.length(t) > 0)
    n_words = F.size(toks_nz)
    n_syll = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), F.lit(0))
    )
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), F.lit(0))),
        F.lit(1),
    )
    m = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_syll.alias("n_syllables"),
        n_sent.alias("n_sentences"),
    ).filter(F.col("n_words") > 0)
    return m.select(
        "doc_id",
        "n_words",
        "n_syllables",
        "n_sentences",
        F.round(
            F.lit(206.835)
            - 1.015 * (F.col("n_words") * 1.0 / F.col("n_sentences"))
            - 84.6 * (F.col("n_syllables") * 1.0 / F.col("n_words")),
            6,
        ).alias("flesch_score"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Exact set-similarity join with PREFIX FILTERING (PPJoin family,
# Xiao et al. 2008): the deterministic alternative to MinHash-LSH
# candidate generation. For shingle-Jaccard >= t, two docs must
# share a shingle within the first m - ceil(t*m) + 1 of their
# shingles in ANY consistent global order — index only that prefix
# (rarest-first order shrinks candidate lists most), then verify
# candidates exactly. Zero false negatives by construction; the
# oracle proves it by computing the full inverted-index answer
# (same SQL as ngram_jaccard_pairs — two different algorithms, one
# ground truth).
# --------------------------------------------------------------------------
@query(
    "jaccard_prefix_filter_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, list_distinct(
        [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         toks[i+3] || ' ' || toks[i+4] for i in range(1, len(toks) - 3)]) AS s
      FROM ({_SQL_TOKS})),
    e AS (SELECT doc_id, unnest(s) AS sh FROM sh),
    cnt AS (SELECT doc_id, len(s) AS n FROM sh),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT p.doc_a, p.doc_b, p.n_common,
           ROUND(p.n_common * 1.0 / (ca.n + cb.n - p.n_common), 6) AS jaccard
    FROM pairs p
    JOIN cnt ca ON ca.doc_id = p.doc_a
    JOIN cnt cb ON cb.doc_id = p.doc_b
    WHERE p.n_common * 1.0 / (ca.n + cb.n - p.n_common) >= {_JACCARD_THRESHOLD}
    ORDER BY p.doc_a, p.doc_b
    """,
)
def jaccard_prefix_filter_pairs(
    spark: SparkSession, sf_dir: str, sets: DataFrame | None = None
) -> DataFrame:
    """Near-dup pairs (5-gram shingle Jaccard >= 0.8) via prefix
    filtering — same answer as `ngram_jaccard_pairs`, candidates
    generated deterministically instead of via the full inverted
    index:

    1. distinct shingle set per doc (Arrow-batched kernel shared
       with the MinHash family), hashed to 8 bytes for the shuffle;
    2. global document frequency per shingle — the rarity order;
    3. each doc indexes only its m - ceil(t*m) + 1 rarest shingles
       (row_number per doc over (df, hash)): a qualifying pair has
       overlap >= ceil(t*m) on each side, which forces a shared
       shingle into both prefixes under any consistent global order
       — at t=0.8 that is ~20% of each doc's shingles;
    4. candidates = equi-join of the prefix index (distinct pairs) —
       sized by prefix collisions, not docs², and immune to the
       false-negative risk a banded MinHash carries;
    5. exact verify on full hash sets: one array_intersect per
       candidate pair.

    Production guidance: prefix filtering when misses are
    unacceptable (decontamination, legal dedup); MinHash-LSH when
    the corpus is too shingle-dense for exact verify and a
    quantified miss rate is fine."""
    from pyspark.sql import Window as W

    t = _JACCARD_THRESHOLD
    # The shingle stream feeds FIVE consumers (df counts, the two
    # prefix-index sides, the two verify sides); without a
    # materialization bound the Arrow shingle kernel re-executes in
    # each subtree (12 Python stages in the static plan — measured
    # 2.9 s at sf0.1). The shared checkpointed set frame runs it
    # ONCE; every consumer reads (doc, m, hash) blocks. At cluster
    # scale this is a deliberate dataset-sized cache — the standard
    # trade for multi-consumer candidate generation.
    if sets is None:
        sets = _hashed_shingle_sets(spark, sf_dir)
    base = _shingle_base(sets)
    e = base.select("doc_id", "m", F.explode("hset").alias("h"))
    df_sh = e.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    rank_w = W.partitionBy("doc_id").orderBy("df", "h")
    prefix = (
        e.join(df_sh, "h")
        .withColumn("rn", F.row_number().over(rank_w))
        .filter(
            F.col("rn")
            <= F.col("m") - F.ceil(F.lit(t) * F.col("m")) + 1
        )
        .select("doc_id", "h")
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # Verify sides come straight from the checkpointed set frame —
    # no collect_set re-aggregation shuffle (hset is already the
    # distinct-shingle hash array).
    hs = base.select("doc_id", "hset", "m")
    ha = hs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hset").alias("hset_a"),
        F.col("m").alias("m_a"),
    )
    hb = hs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hset").alias("hset_b"),
        F.col("m").alias("m_b"),
    )
    common = F.size(F.array_intersect("hset_a", "hset_b"))
    jac = common / (F.col("m_a") + F.col("m_b") - common)
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .withColumn("n_common", common.cast("bigint"))
        .withColumn("__jac", jac)
        .filter(F.col("__jac") >= t)  # threshold on the UNROUNDED
        # value, exactly like the oracle's WHERE
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.round("__jac", 6).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# Sorted-neighborhood dedup (Hernandez & Stolfo 1995): the third
# candidate-generation paradigm next to MinHash-LSH (probabilistic)
# and prefix filtering (exact): sort by a blocking key, compare only
# rows within a w-row window. Recall depends on the blocking key —
# the method IS the sort+window, so the oracle replays it verbatim
# and the result is fully deterministic.
# --------------------------------------------------------------------------
@query(
    "sorted_neighborhood_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, n_chars, list_distinct(
        [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         toks[i+3] || ' ' || toks[i+4] for i in range(1, len(toks) - 3)]) AS s
      FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS toks
            FROM documents)),
    nz AS (
      SELECT doc_id, n_chars, s,
             ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rnk
      FROM sh WHERE len(s) > 0),
    cand AS (
      SELECT a.doc_id AS ida, b.doc_id AS idb, a.s AS sa, b.s AS sb
      FROM nz a JOIN nz b ON b.rnk - a.rnk BETWEEN 1 AND 5),
    scored AS (
      SELECT LEAST(ida, idb) AS doc_a, GREATEST(ida, idb) AS doc_b,
             len(list_intersect(sa, sb)) AS n_common,
             len(list_intersect(sa, sb)) * 1.0
               / (len(sa) + len(sb) - len(list_intersect(sa, sb)))
               AS jac
      FROM cand)
    SELECT doc_a, doc_b, CAST(n_common AS BIGINT) AS n_common,
           ROUND(jac, 6) AS jaccard
    FROM scored WHERE jac >= {_JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def sorted_neighborhood_pairs(
    spark: SparkSession, sf_dir: str, sets: DataFrame | None = None
) -> DataFrame:
    """Near-dup pairs found by SORTED-NEIGHBORHOOD blocking: rank
    all docs by (n_chars, doc_id) — near-identical docs have
    near-identical lengths — and verify only pairs within 5 ranks
    of each other: O(n·w) comparisons total, zero shuffled pair
    blowup even on a corpus that is one giant near-dup family
    (the case that floods LSH buckets and prefix-filter candidate
    lists).

    The global rank is built WITHOUT a global window:
    repartitionByRange on the sort key + per-partition counts +
    driver prefix sum + partitioned row_number (the doc_stable_ids
    machinery). Neighbor pairs come from an explode of the w rank
    offsets + one equi-join on rank; verification is one
    array_intersect per candidate on 8-byte shingle hashes."""
    from pyspark.sql import Window as W

    w_sz = 5
    t = _JACCARD_THRESHOLD
    own_sets = sets is None
    if own_sets:
        sets = _hashed_shingle_sets(spark, sf_dir)
    hs = _shingle_base(sets).select("doc_id", "n_chars", "hset")
    ranged = hs.repartitionByRange(32, "n_chars", "doc_id").withColumn(
        "pid", F.spark_partition_id()
    )
    # Standalone: materialize the range-placed rows once so neither
    # the shingle checkpoint read nor the range exchange replays per
    # consumer (counts action + both self-join sides). Inside the
    # recall report (shared sets) the extra barrier costs more than
    # the recompute saves — the big fused plan overlaps subtrees.
    if own_sets:
        ranged = ranged.localCheckpoint(eager=True)
    counts = ranged.groupBy("pid").count().collect()
    acc = 0
    offsets = []
    for row in sorted(counts, key=lambda r: r["pid"]):
        offsets.append((row["pid"], acc))
        acc += row["count"]
    offsets_df = spark.createDataFrame(offsets, "pid: int, offset: bigint")
    w_rank = W.partitionBy("pid").orderBy("n_chars", "doc_id")
    ranked = (
        ranged.withColumn("lr", F.row_number().over(w_rank))
        .join(F.broadcast(offsets_df), "pid")
        .select(
            "doc_id",
            "hset",
            (F.col("offset") + F.col("lr")).alias("rnk"),
        )
    )
    probes = ranked.select(
        F.col("doc_id").alias("ida"),
        F.col("hset").alias("ha"),
        F.explode(
            F.sequence(
                F.col("rnk") + 1, F.col("rnk") + F.lit(w_sz)
            )
        ).alias("rnk"),
    )
    cand = probes.join(
        ranked.select(
            F.col("doc_id").alias("idb"),
            F.col("hset").alias("hb"),
            "rnk",
        ),
        "rnk",
    )
    common = F.size(F.array_intersect("ha", "hb"))
    jac = common / (
        F.size("ha") + F.size("hb") - common
    )
    return (
        cand.withColumn("n_common", common.cast("bigint"))
        .withColumn("__jac", jac)
        .filter(F.col("__jac") >= t)
        .select(
            F.least("ida", "idb").alias("doc_a"),
            F.greatest("ida", "idb").alias("doc_b"),
            "n_common",
            F.round("__jac", 6).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# Dedup-method accuracy contract: measured recall of all three
# candidate-generation paradigms against the exact ground truth —
# the dedup twin of ann_recall_report. The oracle COMPOSES the
# already-registered oracles of each method, so both engines replay
# the exact same four pipelines.
# --------------------------------------------------------------------------
def _registered_oracle(name: str) -> str:
    from se_data_pipeline_spark.queries import all_oracles

    return all_oracles()[name]


@query(
    "dedup_method_recall_report",
    oracle=None,  # composed below, after all method oracles exist
)
def dedup_method_recall_report(
    spark: SparkSession, sf_dir: str, broadcast_truth: bool = True
) -> DataFrame:
    """Recall of each near-dup candidate paradigm vs the exact
    inverted-index ground truth (pairs at Jaccard >= 0.8):

    - minhash_lsh: banded-signature bucket collisions (probabilistic
      — recall < 1 when a true pair agrees in no band);
    - prefix_filter: rarest-shingle prefix index (exact — recall 1
      by construction, the report PROVES it);
    - sorted_neighborhood: length-rank window blocking (recall is
      whatever length-adjacency buys on this corpus);
    - winnowing: MOSS local-min fingerprint sampling at overlap
      >= 0.5 (samples ~1/w of the shingle index — its recall is the
      price of that compression, measured here).

    One plan: the three method frames are tagged and unioned, the
    broadcast truth set joined once, per-method counts aggregated
    together (the per-method form would re-evaluate the truth
    subtree per method — same single-plan rationale as
    ann_recall_report).

    SIZE BOUND (VERDICT r5): the truth PAIR set is broadcast, and
    pairs scale with the square of the largest near-dup cluster — on
    a pathological all-dup corpus it is data-sized, not
    dimension-sized. This is a monitoring query meant to run on a
    SAMPLE (the operational pattern: recall measured on ~10^4-10^5
    docs generalizes to the corpus); on a full pathological corpus
    pass broadcast_truth=False so the truth join falls back to a
    shuffled hash join AQE can size."""
    sets = _hashed_shingle_sets(spark, sf_dir)
    truth = ngram_jaccard_pairs(spark, sf_dir, sets=sets).select(
        "doc_a", "doc_b"
    )
    methods = {
        "minhash_lsh": minhash_lsh_candidates(spark, sf_dir).select(
            "doc_a", "doc_b"
        ),
        "prefix_filter": jaccard_prefix_filter_pairs(
            spark, sf_dir, sets=sets
        ).select("doc_a", "doc_b"),
        "sorted_neighborhood": sorted_neighborhood_pairs(
            spark, sf_dir, sets=sets
        ).select("doc_a", "doc_b"),
        "winnowing": winnowing_fingerprint_pairs(spark, sf_dir).select(
            "doc_a", "doc_b"
        ),
    }
    tagged = None
    for m, df in sorted(methods.items()):
        t = df.select(F.lit(m).alias("method"), "doc_a", "doc_b")
        tagged = t if tagged is None else tagged.unionByName(t)
    truth_tagged = truth.withColumn("hit", F.lit(1))
    if broadcast_truth:
        truth_tagged = F.broadcast(truth_tagged)
    hits = tagged.join(truth_tagged, ["doc_a", "doc_b"], "left")
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    return (
        hits.groupBy("method")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count("hit").alias("n_true_found"),
        )
        .crossJoin(F.broadcast(n_true))
        .select(
            "method",
            "n_pairs",
            "n_true_found",
            "n_true_pairs",
            F.when(
                F.col("n_true_pairs") > 0,
                F.round(
                    F.col("n_true_found") / F.col("n_true_pairs"), 6
                ),
            ).alias("recall"),
        )
        .orderBy("method")
    )


def _compose_recall_oracle() -> None:
    from se_data_pipeline_spark.queries import _REGISTRY, QueryDef

    truth = _registered_oracle("ngram_jaccard_pairs")
    mh = _registered_oracle("minhash_lsh_candidates")
    pf = _registered_oracle("jaccard_prefix_filter_pairs")
    sn = _registered_oracle("sorted_neighborhood_pairs")
    wn = _registered_oracle("winnowing_fingerprint_pairs")
    sql = f"""
    WITH truth AS (SELECT doc_a, doc_b FROM ({truth})),
    mh AS (SELECT doc_a, doc_b FROM ({mh})),
    pf AS (SELECT doc_a, doc_b FROM ({pf})),
    sn AS (SELECT doc_a, doc_b FROM ({sn})),
    wn AS (SELECT doc_a, doc_b FROM ({wn})),
    m AS (
      SELECT 'minhash_lsh' AS method,
             (SELECT COUNT(*) FROM mh) AS n_pairs,
             (SELECT COUNT(*) FROM mh JOIN truth
                USING (doc_a, doc_b)) AS n_true_found
      UNION ALL
      SELECT 'prefix_filter',
             (SELECT COUNT(*) FROM pf),
             (SELECT COUNT(*) FROM pf JOIN truth USING (doc_a, doc_b))
      UNION ALL
      SELECT 'sorted_neighborhood',
             (SELECT COUNT(*) FROM sn),
             (SELECT COUNT(*) FROM sn JOIN truth USING (doc_a, doc_b))
      UNION ALL
      SELECT 'winnowing',
             (SELECT COUNT(*) FROM wn),
             (SELECT COUNT(*) FROM wn JOIN truth USING (doc_a, doc_b)))
    SELECT method, n_pairs, n_true_found,
           (SELECT COUNT(*) FROM truth) AS n_true_pairs,
           CASE WHEN (SELECT COUNT(*) FROM truth) > 0
                THEN ROUND(n_true_found * 1.0
                     / (SELECT COUNT(*) FROM truth), 6) END AS recall
    FROM m ORDER BY method
    """
    qd = _REGISTRY["dedup_method_recall_report"]
    _REGISTRY["dedup_method_recall_report"] = QueryDef(
        qd.name, qd.fn, sql, qd.doc
    )


# _compose_recall_oracle() runs at MODULE END: it needs every
# method query (incl. winnowing, defined below) registered first.


# --------------------------------------------------------------------------
# PMI collocations: adjacent-token pairs whose co-occurrence beats
# the independence assumption — the classic phrase-mining statistic
# (Church & Hanks 1990), over the whitespace token stream.
# --------------------------------------------------------------------------
_PMI_MIN_COUNT = 5


@query(
    "doc_pmi_collocations",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    u AS (
      SELECT unnest(toks) AS w,
             generate_subscripts(toks, 1) AS i, doc_id
      FROM t),
    bg AS (
      SELECT a.w AS w1, b.w AS w2, COUNT(*) AS c_xy
      FROM u a JOIN u b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      GROUP BY a.w, b.w),
    uni AS (SELECT w, COUNT(*) AS c FROM u GROUP BY w),
    tot AS (SELECT CAST(SUM(c_xy) AS DOUBLE) AS n_bg FROM bg),
    totu AS (SELECT CAST(SUM(c) AS DOUBLE) AS n_uni FROM uni)
    SELECT bg.w1, bg.w2, CAST(bg.c_xy AS BIGINT) AS n_pair,
           ROUND(ln((bg.c_xy / tot.n_bg) /
                    ((u1.c / totu.n_uni) * (u2.c / totu.n_uni))), 6)
             AS pmi
    FROM bg
    JOIN uni u1 ON u1.w = bg.w1
    JOIN uni u2 ON u2.w = bg.w2
    CROSS JOIN tot CROSS JOIN totu
    WHERE bg.c_xy >= {_PMI_MIN_COUNT}
    ORDER BY pmi DESC, bg.w1, bg.w2
    LIMIT 50
    """,
)
def doc_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 pointwise-mutual-information bigrams over the corpus:
    PMI = ln( P(w1,w2) / (P(w1) P(w2)) ) with bigram probability from
    the adjacent-pair stream and unigram probabilities from the token
    stream, gated at c_xy >= 5 (the standard sparse-PMI guard).

    Scale: bigrams are built ROW-LOCALLY with a zip of the token
    array against its tail (transform over indices — pure codegen, no
    self-join on token position like the oracle needs); the only
    shuffles are the two hash aggregates (bigram counts, unigram
    counts) and the two vocab-keyed joins that attach marginals. The
    1-row totals broadcast. Top-50 is TakeOrderedAndProject. The PMI
    expression evaluates with identical op order in both engines
    (double divisions in the same association), so ROUND(...,6)
    hash-matches."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.filter(
            F.split(F.col("text"), " "), lambda x: x != F.lit("")
        ).alias("toks")
    )
    # Adjacent pairs keyed on 8-byte token hashes: the bigram count
    # shuffle carries (h1, h2) longs instead of two strings (measured
    # 7.1x at 10x data with string keys -> the shuffle was the
    # bottleneck); the strings come back via the vocab-keyed marginal
    # joins, which the PMI math needs anyway. 64-bit collisions are
    # birthday-negligible at any corpus a cluster holds.
    bigrams = toks.select(
        F.explode(
            F.expr(
                "transform(slice(toks, 1, greatest(size(toks) - 1, 0)), "
                "(w, i) -> struct(xxhash64(w) AS h1, "
                "xxhash64(toks[i + 1]) AS h2))"
            )
        ).alias("p")
    ).select("p.h1", "p.h2")
    unigrams = toks.select(F.explode("toks").alias("w"))
    bg = bigrams.groupBy("h1", "h2").agg(F.count(F.lit(1)).alias("c_xy"))
    uni = unigrams.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = bg.agg(F.sum("c_xy").cast("double").alias("n_bg"))
    totu = uni.agg(F.sum("c").cast("double").alias("n_uni"))
    gated = bg.filter(F.col("c_xy") >= _PMI_MIN_COUNT)
    joined = (
        gated.join(
            uni.select(
                F.xxhash64("w").alias("h1"),
                F.col("w").alias("w1"),
                F.col("c").alias("c1"),
            ),
            "h1",
        )
        .join(
            uni.select(
                F.xxhash64("w").alias("h2"),
                F.col("w").alias("w2"),
                F.col("c").alias("c2"),
            ),
            "h2",
        )
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(totu))
    )
    pmi = F.log(
        (F.col("c_xy") / F.col("n_bg"))
        / ((F.col("c1") / F.col("n_uni")) * (F.col("c2") / F.col("n_uni")))
    )
    return (
        joined.select(
            "w1",
            "w2",
            F.col("c_xy").cast("long").alias("n_pair"),
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(50)
    )


# --------------------------------------------------------------------------
# Zipf's-law fit: OLS slope of log(freq) vs log(rank) over the top
# 200 corpus tokens — the standard power-law diagnostic for corpus
# health (natural text ~ -1; templated/bot text diverges).
# --------------------------------------------------------------------------
_ZIPF_TOP = 200


@query(
    "doc_zipf_fit",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split(text, ' '),
                    x -> x <> '')) AS w
      FROM documents),
    cnt AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
    top AS (SELECT w, c FROM cnt ORDER BY c DESC, w LIMIT {_ZIPF_TOP}),
    r AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rnk
      FROM top)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens_fit,
           ROUND(regr_slope(ln(c), ln(rnk)), 6) AS zipf_slope,
           ROUND(regr_intercept(ln(c), ln(rnk)), 6) AS zipf_intercept,
           ROUND(regr_r2(ln(c), ln(rnk)), 6) AS fit_r2
    FROM r
    """,
)
def doc_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope of the corpus: token frequencies -> top-200 cut ->
    log-log OLS via the built-in regression aggregates.

    Scale: the corpus-sized work is ONE unigram count shuffle; the
    top-200 cut is TakeOrderedAndProject. Rank is then assigned on
    the 200-row frame WITHOUT a global sort-window (the banned
    plan class): rank(w) = 1 + |{{tokens ordered strictly before w}}|
    via an inequality self-join of the broadcast 200-row frame —
    O(top^2) comparisons on a constant-size frame, zero shuffles.
    The regression itself is three running moments."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.filter(
                F.split(F.col("text"), " "), lambda x: x != F.lit("")
            )
        ).alias("w")
    )
    top = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(_ZIPF_TOP)
    )
    a, b = top.alias("a"), top.alias("b")
    ranked = (
        a.join(
            F.broadcast(b),
            (F.col("b.c") > F.col("a.c"))
            | ((F.col("b.c") == F.col("a.c")) & (F.col("b.w") < F.col("a.w"))),
            "left",
        )
        .groupBy(F.col("a.w"), F.col("a.c"))
        .agg((F.count(F.col("b.w")) + 1).alias("rnk"))
    )
    lc, lr = F.log(F.col("c")), F.log(F.col("rnk"))
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens_fit"),
        F.round(F.regr_slope(lc, lr), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(lc, lr), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(lc, lr), 6).alias("fit_r2"),
    )


# --------------------------------------------------------------------------
# Per-document keyword extraction: top-3 TF-IDF terms per doc — the
# per-item companion of doc_tfidf_search's corpus-level retrieval.
# --------------------------------------------------------------------------
@query(
    "doc_keywords_topk",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                    x -> x <> '')) AS w
      FROM documents),
    tf AS (SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY doc_id, w),
    dfreq AS (SELECT w, COUNT(*) AS dfn FROM tf GROUP BY w),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.w,
             tf.c * ln(n.n_docs * 1.0 / dfreq.dfn) AS s
      FROM tf JOIN dfreq USING (w) CROSS JOIN n),
    r AS (
      SELECT doc_id, w, s,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY s DESC, w) AS rnk
      FROM scored)
    SELECT doc_id, CAST(rnk AS INTEGER) AS kw_rank, w AS term,
           ROUND(s, 6) AS tfidf
    FROM r WHERE rnk <= 3
    ORDER BY doc_id, kw_rank
    """,
)
def doc_keywords_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document: term frequency per (doc,
    term), document frequency from the same aggregate, idf =
    ln(N/df), per-doc rank window.

    Scale: two hash aggregates (tf, df) + one vocab-keyed join; the
    rank window is PARTITIONED BY doc_id (thousands of small groups —
    the scalable window class, unlike a global rank); the 1-row doc
    count broadcasts. Tie-break on the term string keeps both
    engines' top-3 identical; scores order on the unrounded double,
    which is bit-identical because both engines evaluate
    c * ln((N * 1.0) / df) in the same association."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.col("text"), " "), lambda x: x != F.lit("")
            )
        ).alias("w"),
    )
    tf = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("dfn"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "w")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "s",
            F.col("c") * F.log(F.col("n_docs") * 1.0 / F.col("dfn")),
        )
    )
    w_rank = W.partitionBy("doc_id").orderBy(F.desc("s"), F.asc("w"))
    return (
        scored.withColumn("kw_rank", F.row_number().over(w_rank))
        .filter(F.col("kw_rank") <= 3)
        .select(
            "doc_id",
            "kw_rank",
            F.col("w").alias("term"),
            F.round("s", 6).alias("tfidf"),
        )
        .orderBy("doc_id", "kw_rank")
    )


# --------------------------------------------------------------------------
# Language-ID confusion matrix: heuristic predictions vs the corpus's
# true lang labels — the accuracy report that tells a curation
# operator whether the cheap classifier is safe to route on. The
# oracle COMPOSES doc_lang_id's registered oracle, so both engines
# replay the identical classifier.
# --------------------------------------------------------------------------
@query(
    "doc_langid_confusion",
    oracle=None,  # composed below once doc_lang_id's oracle exists
)
def doc_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion counts (true lang x predicted lang) with each cell's
    share of its true-lang row.

    Scale: the classifier is row-local (marker hit-rates + ordered
    argmax), the join back to truth is on doc_id (one shuffle — or
    zero if predictions are written lang-partitioned), and the
    matrix is |langs|^2 rows with a broadcast row-total join."""
    docs = load_table(spark, sf_dir, "documents")
    preds = doc_lang_id(spark, sf_dir).select("doc_id", "lang_pred")
    m = (
        docs.select("doc_id", F.col("lang").alias("lang_true"))
        .join(preds, "doc_id")
        .groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = m.groupBy("lang_true").agg(F.sum("n_docs").alias("tot"))
    return (
        m.join(F.broadcast(tot), "lang_true")
        .select(
            "lang_true",
            "lang_pred",
            "n_docs",
            F.round(F.col("n_docs") * 1.0 / F.col("tot"), 6).alias(
                "row_share"
            ),
        )
        .orderBy("lang_true", "lang_pred")
    )


def _compose_langid_confusion_oracle() -> None:
    from se_data_pipeline_spark.queries import _REGISTRY, QueryDef

    langid = _registered_oracle("doc_lang_id")
    sql = f"""
    WITH pred AS (SELECT doc_id, lang_pred FROM ({langid})),
    j AS (
      SELECT d.lang AS lang_true, p.lang_pred
      FROM documents d JOIN pred p USING (doc_id)),
    m AS (
      SELECT lang_true, lang_pred, COUNT(*) AS n_docs
      FROM j GROUP BY lang_true, lang_pred),
    t AS (SELECT lang_true, SUM(n_docs) AS tot FROM m GROUP BY lang_true)
    SELECT m.lang_true, m.lang_pred, m.n_docs,
           ROUND(m.n_docs * 1.0 / t.tot, 6) AS row_share
    FROM m JOIN t USING (lang_true)
    ORDER BY m.lang_true, m.lang_pred
    """
    qd = _REGISTRY["doc_langid_confusion"]
    _REGISTRY["doc_langid_confusion"] = QueryDef(
        qd.name, qd.fn, sql, qd.doc
    )


_compose_langid_confusion_oracle()


# --------------------------------------------------------------------------
# Cross-source duplication matrix: which sources copy from which —
# near-dup pairs rolled up by (source_a, source_b). The provenance
# readout that decides which feeds get de-prioritized in the mix.
# Oracle composes ngram_jaccard_pairs' registered oracle.
# --------------------------------------------------------------------------
@query(
    "dedup_cross_source_matrix",
    oracle=None,  # composed below
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair counts between source pairs (unordered,
    least/greatest-normalized) with the mean Jaccard per cell.

    Scale: the pair stream is the inverted-index join (already
    index-shaped); the source attach is a broadcast of the
    (doc_id, source) dimension twice; the matrix is |sources|^2
    rows."""
    docs = load_table(spark, sf_dir, "documents")
    src = docs.select("doc_id", "source")
    pairs = ngram_jaccard_pairs(spark, sf_dir)
    j = (
        pairs.join(
            F.broadcast(
                src.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("source").alias("sa"),
                )
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                src.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("source").alias("sb"),
                )
            ),
            "doc_b",
        )
    )
    return (
        j.groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


def _compose_cross_source_oracle() -> None:
    from se_data_pipeline_spark.queries import _REGISTRY, QueryDef

    pairs = _registered_oracle("ngram_jaccard_pairs")
    sql = f"""
    WITH pairs AS ({pairs}),
    j AS (
      SELECT LEAST(da.source, db.source) AS source_a,
             GREATEST(da.source, db.source) AS source_b,
             p.jaccard
      FROM pairs p
      JOIN documents da ON da.doc_id = p.doc_a
      JOIN documents db ON db.doc_id = p.doc_b)
    SELECT source_a, source_b, COUNT(*) AS n_pairs,
           ROUND(AVG(jaccard), 6) AS avg_jaccard
    FROM j GROUP BY source_a, source_b
    ORDER BY source_a, source_b
    """
    qd = _REGISTRY["dedup_cross_source_matrix"]
    _REGISTRY["dedup_cross_source_matrix"] = QueryDef(
        qd.name, qd.fn, sql, qd.doc
    )


_compose_cross_source_oracle()


# --------------------------------------------------------------------------
# Incremental dedup: a NEW shard (one source) screened against the
# existing corpus with an ASYMMETRIC inverted-index join — the
# production shape for continuous ingest, where the corpus index is
# maintained and only the new shard's shingles probe it (never a
# full self-join of old x old).
# --------------------------------------------------------------------------
_INCREMENTAL_SHARD = "src18"


@query(
    "dedup_incremental_new_shard",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, list_distinct(
        [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         toks[i+3] || ' ' || toks[i+4] for i in range(1, len(toks) - 3)]) AS s
      FROM ({_SQL_TOKS})),
    e AS (
      SELECT s.doc_id, len(s.s) AS m, unnest(s.s) AS sh, d.source
      FROM sh s JOIN documents d USING (doc_id)
      WHERE len(s.s) > 0),
    a AS (SELECT * FROM e WHERE source = '{_INCREMENTAL_SHARD}'),
    b AS (SELECT * FROM e WHERE source <> '{_INCREMENTAL_SHARD}'),
    p AS (
      SELECT a.doc_id AS new_doc, b.doc_id AS corpus_doc,
             a.m AS ma, b.m AS mb, COUNT(*) AS n_common
      FROM a JOIN b ON a.sh = b.sh
      GROUP BY new_doc, corpus_doc, ma, mb)
    SELECT new_doc, corpus_doc, CAST(n_common AS BIGINT) AS n_common,
           ROUND(n_common * 1.0 / (ma + mb - n_common), 6) AS jaccard
    FROM p
    WHERE n_common * 1.0 / (ma + mb - n_common) >= {_JACCARD_THRESHOLD}
    ORDER BY new_doc, corpus_doc
    """,
)
def dedup_incremental_new_shard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-dups of the newest shard against the rest of the corpus:
    shingle index filtered to the shard on the probe side, to its
    complement on the build side, one equi-join on the 8-byte
    shingle hash.

    Scale: this is the INCREMENTAL ingest path — cost is
    |new shard| x collision fan-out, independent of corpus-pair
    count; the corpus side of the join is the (maintained) inverted
    index, and the shard probe is tiny, so a daily ingest screens in
    minutes where the full self-join recomputes everything. The
    shard filter prunes BEFORE the join shuffle on both sides."""
    docs = load_table(spark, sf_dir, "documents")
    sets = _hashed_shingle_sets(spark, sf_dir)
    src = docs.select("doc_id", "source")
    base = (
        _shingle_base(sets)
        .join(F.broadcast(src), "doc_id")
        .select(
            "doc_id", "m", "source", F.explode("hset").alias("h")
        )
    )
    a = base.filter(F.col("source") == _INCREMENTAL_SHARD).select(
        F.col("doc_id").alias("new_doc"),
        F.col("m").alias("ma"),
        "h",
    )
    b = base.filter(F.col("source") != _INCREMENTAL_SHARD).select(
        F.col("doc_id").alias("corpus_doc"),
        F.col("m").alias("mb"),
        "h",
    )
    p = (
        a.join(b, "h")
        .groupBy("new_doc", "corpus_doc", "ma", "mb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (
        F.col("ma") + F.col("mb") - F.col("n_common")
    )
    return (
        p.filter(jac >= _JACCARD_THRESHOLD)
        .select(
            "new_doc",
            "corpus_doc",
            F.col("n_common").cast("long").alias("n_common"),
            F.round(jac, 6).alias("jaccard"),
        )
        .orderBy("new_doc", "corpus_doc")
    )


# --------------------------------------------------------------------------
# Source drift: Jensen-Shannon divergence (bits) between each
# source's token distribution and the corpus distribution — the
# distribution-shift monitor a mixing pipeline alarms on. The
# out-of-support mass is folded in CLOSED FORM (sum_{w not in s}
# Q ln2 = ln2 (1 - coverage)), so the computation stays on the
# SPARSE (source, token) frame — never a dense source x vocab grid.
# --------------------------------------------------------------------------
@query(
    "doc_source_js_divergence",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(list_filter(string_split(text, ' '),
                    x -> x <> '')) AS w
      FROM documents),
    sc AS (SELECT source, w, COUNT(*) AS c FROM toks
           GROUP BY source, w),
    ns AS (SELECT source, SUM(c) AS n_s FROM sc GROUP BY source),
    gw AS (SELECT w, SUM(c) AS c_w FROM sc GROUP BY w),
    nn AS (SELECT SUM(c) AS n FROM sc),
    terms AS (
      SELECT sc.source,
             sc.c * 1.0 / ns.n_s AS p,
             gw.c_w * 1.0 / nn.n AS q
      FROM sc JOIN ns USING (source) JOIN gw USING (w) CROSS JOIN nn),
    per_src AS (
      SELECT source,
             SUM(p * ln(p / ((p + q) / 2))) AS t1,
             SUM(q * ln(q / ((p + q) / 2))) AS t2,
             SUM(q) AS qcov
      FROM terms GROUP BY source)
    SELECT source,
           ROUND((0.5 * t1 + 0.5 * (t2 + ln(2.0) * (1 - qcov)))
                 / ln(2.0), 6) AS jsd_bits,
           ROUND(qcov, 6) AS vocab_coverage
    FROM per_src ORDER BY source
    """,
)
def doc_source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSD(source || corpus) in bits per source, plus the share of
    global token mass the source's vocabulary covers.

    Scale: two hash aggregates (source-term counts, global term
    counts) + one vocab-keyed join; the tokens a source DOESN'T use
    never materialize — their contribution collapses to
    ln2 * (1 - coverage). Identical expression order in both engines,
    rounded at the end."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.col("text"), " "), lambda x: x != F.lit("")
            )
        ).alias("w"),
    )
    sc = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    ns = sc.groupBy("source").agg(F.sum("c").alias("n_s"))
    gw = sc.groupBy("w").agg(F.sum("c").alias("c_w"))
    nn = sc.agg(F.sum("c").alias("n"))
    terms = (
        sc.join(F.broadcast(ns), "source")
        .join(gw, "w")
        .crossJoin(F.broadcast(nn))
        .select(
            "source",
            (F.col("c") * 1.0 / F.col("n_s")).alias("p"),
            (F.col("c_w") * 1.0 / F.col("n")).alias("q"),
        )
    )
    m = (F.col("p") + F.col("q")) / 2
    per_src = terms.groupBy("source").agg(
        F.sum(F.col("p") * F.log(F.col("p") / m)).alias("t1"),
        F.sum(F.col("q") * F.log(F.col("q") / m)).alias("t2"),
        F.sum("q").alias("qcov"),
    )
    ln2 = F.log(F.lit(2.0))
    return per_src.select(
        "source",
        F.round(
            (
                0.5 * F.col("t1")
                + 0.5 * (F.col("t2") + ln2 * (1 - F.col("qcov")))
            )
            / ln2,
            6,
        ).alias("jsd_bits"),
        F.round("qcov", 6).alias("vocab_coverage"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# Dedup threshold calibration: precision/recall of the MinHash
# ESTIMATE as the dedup decision rule, swept over candidate
# thresholds against the exact >=0.8 ground truth — how an operator
# picks the estimate cutoff before turning off exact verification.
# Oracle composes the estimates' and the truth's registered oracles.
# --------------------------------------------------------------------------
_SWEEP_THRESHOLDS = [0.5, 0.625, 0.75, 0.8125, 0.875]


@query(
    "dedup_threshold_sweep",
    oracle=None,  # composed below
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision / recall of `est_jaccard >= t` per candidate
    threshold t (grid chosen on 1/16 boundaries — the 16-perm
    estimator only takes values k/16, so midpoints would be
    indistinguishable).

    Scale: the estimate and truth pair streams are both
    index-shaped; the sweep is a 5-row broadcast cross join over the
    estimate frame, one aggregate per threshold — no recomputation
    of signatures per threshold."""
    est = minhash_jaccard_estimates(spark, sf_dir).select(
        "doc_a", "doc_b", "est_jaccard"
    )
    truth = ngram_jaccard_pairs(spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    thr = spark.createDataFrame(
        [(t,) for t in _SWEEP_THRESHOLDS], "threshold double"
    )
    pred = est.crossJoin(F.broadcast(thr)).filter(
        F.col("est_jaccard") >= F.col("threshold")
    )
    hits = pred.join(
        F.broadcast(truth.withColumn("hit", F.lit(1))),
        ["doc_a", "doc_b"],
        "left",
    )
    return (
        hits.groupBy("threshold")
        .agg(
            F.count(F.lit(1)).alias("n_predicted"),
            F.count("hit").alias("n_hits"),
        )
        .crossJoin(F.broadcast(n_true))
        .select(
            "threshold",
            "n_predicted",
            "n_hits",
            "n_true",
            F.round(
                F.col("n_hits") * 1.0 / F.col("n_predicted"), 6
            ).alias("precision"),
            F.when(
                F.col("n_true") > 0,
                F.round(F.col("n_hits") * 1.0 / F.col("n_true"), 6),
            ).alias("recall"),
        )
        .orderBy("threshold")
    )


def _compose_threshold_sweep_oracle() -> None:
    from se_data_pipeline_spark.queries import _REGISTRY, QueryDef

    est = _registered_oracle("minhash_jaccard_estimates")
    truth = _registered_oracle("ngram_jaccard_pairs")
    grid = ", ".join(f"({t})" for t in _SWEEP_THRESHOLDS)
    sql = f"""
    WITH est AS (SELECT doc_a, doc_b, est_jaccard FROM ({est})),
    truth AS (SELECT doc_a, doc_b FROM ({truth})),
    thr(threshold) AS (VALUES {grid}),
    pred AS (
      SELECT t.threshold, e.doc_a, e.doc_b
      FROM est e CROSS JOIN thr t
      WHERE e.est_jaccard >= t.threshold),
    agg AS (
      SELECT p.threshold,
             COUNT(*) AS n_predicted,
             CAST(SUM(CASE WHEN tr.doc_a IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      FROM pred p
      LEFT JOIN truth tr ON tr.doc_a = p.doc_a AND tr.doc_b = p.doc_b
      GROUP BY p.threshold),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM truth)
    SELECT agg.threshold, agg.n_predicted, agg.n_hits, nt.n_true,
           ROUND(agg.n_hits * 1.0 / agg.n_predicted, 6) AS precision,
           CASE WHEN nt.n_true > 0
                THEN ROUND(agg.n_hits * 1.0 / nt.n_true, 6)
           END AS recall
    FROM agg CROSS JOIN nt
    ORDER BY agg.threshold
    """
    qd = _REGISTRY["dedup_threshold_sweep"]
    _REGISTRY["dedup_threshold_sweep"] = QueryDef(
        qd.name, qd.fn, sql, qd.doc
    )


_compose_threshold_sweep_oracle()


# --------------------------------------------------------------------------
# Per-source curation scorecard: the one-table health report a data
# operator reads per feed — volume, quality, duplication, token
# supply, and the projected keep rate under the standard gates.
# Composes the quality, token and near-dup oracles.
# --------------------------------------------------------------------------
@query(
    "source_curation_scorecard",
    oracle=None,  # composed below
)
def source_curation_scorecard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per source: doc count, mean quality, share above the global
    median quality, near-dup incidence, mean tokens, and the keep
    rate under (quality >= global median) AND (not a near-dup-pair
    member).

    Scale: quality/token features are row-local; the global median
    is a 1-row broadcast; near-dup membership is the index-shaped
    pair stream exploded to distinct doc ids (broadcast-joined — dup
    members are a small fraction by construction); one |sources|-row
    rollup out."""
    docs = load_table(spark, sf_dir, "documents")
    q = doc_quality_score(spark, sf_dir)
    tok = doc_token_stats(spark, sf_dir).select("doc_id", "n_tokens")
    pairs = ngram_jaccard_pairs(spark, sf_dir)
    dup_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    med = q.agg(
        F.round(F.expr("percentile(quality, 0.5)"), 6).alias("med_q")
    )
    base = (
        docs.select("doc_id", "source")
        .join(q, "doc_id")
        .join(tok, "doc_id")
        .join(F.broadcast(dup_docs), "doc_id", "left")
        .crossJoin(F.broadcast(med))
    )
    passing = (F.col("quality") >= F.col("med_q")) & F.col(
        "is_dup"
    ).isNull()
    return (
        base.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality"), 6).alias("mean_quality"),
            F.round(
                F.avg(
                    F.when(
                        F.col("quality") >= F.col("med_q"), 1.0
                    ).otherwise(0.0)
                ),
                6,
            ).alias("above_median_share"),
            F.round(
                F.avg(
                    F.when(F.col("is_dup").isNotNull(), 1.0).otherwise(
                        0.0
                    )
                ),
                6,
            ).alias("dup_share"),
            F.round(F.avg("n_tokens"), 6).alias("mean_tokens"),
            F.round(
                F.avg(F.when(passing, 1.0).otherwise(0.0)), 6
            ).alias("keep_rate"),
        )
        .orderBy("source")
    )


def _compose_scorecard_oracle() -> None:
    from se_data_pipeline_spark.queries import _REGISTRY, QueryDef

    q = _registered_oracle("doc_quality_score")
    tok = _registered_oracle("doc_token_stats")
    pairs = _registered_oracle("ngram_jaccard_pairs")
    sql = f"""
    WITH q AS ({q}),
    tok AS (SELECT doc_id, n_tokens FROM ({tok})),
    pairs AS ({pairs}),
    dup_docs AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL SELECT doc_b FROM pairs)),
    med AS (SELECT ROUND(quantile_cont(quality, 0.5), 6) AS med_q
            FROM q),
    base AS (
      SELECT d.source, q.quality, tok.n_tokens, med.med_q,
             dd.doc_id IS NOT NULL AS is_dup
      FROM documents d
      JOIN q USING (doc_id)
      JOIN tok USING (doc_id)
      LEFT JOIN dup_docs dd USING (doc_id)
      CROSS JOIN med)
    SELECT source,
           COUNT(*) AS n_docs,
           ROUND(AVG(quality), 6) AS mean_quality,
           ROUND(AVG(CASE WHEN quality >= med_q
                          THEN 1.0 ELSE 0.0 END), 6)
             AS above_median_share,
           ROUND(AVG(CASE WHEN is_dup THEN 1.0 ELSE 0.0 END), 6)
             AS dup_share,
           ROUND(AVG(n_tokens), 6) AS mean_tokens,
           ROUND(AVG(CASE WHEN quality >= med_q AND NOT is_dup
                          THEN 1.0 ELSE 0.0 END), 6) AS keep_rate
    FROM base GROUP BY source
    ORDER BY source
    """
    qd = _REGISTRY["source_curation_scorecard"]
    _REGISTRY["source_curation_scorecard"] = QueryDef(
        qd.name, qd.fn, sql, qd.doc
    )


_compose_scorecard_oracle()


# --------------------------------------------------------------------------
# Per-source hapax profile: share of a source's vocabulary seen only
# once in it — the vocabulary-freshness/noise signal (high hapax =
# OCR junk or genuinely diverse text; read with the JSD drift).
# --------------------------------------------------------------------------
@query(
    "doc_hapax_by_source",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(list_filter(string_split(text, ' '),
                    x -> x <> '')) AS w
      FROM documents),
    sc AS (SELECT source, w, COUNT(*) AS c FROM toks
           GROUP BY source, w)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           ROUND(SUM(CASE WHEN c = 1 THEN 1.0 ELSE 0.0 END)
                 / COUNT(*), 6) AS hapax_share,
           CAST(SUM(c) AS BIGINT) AS n_tokens
    FROM sc GROUP BY source
    ORDER BY source
    """,
)
def doc_hapax_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary size, hapax-legomenon count/share, and token volume
    per source.

    Scale: one (source, token) aggregate with map-side partials, then
    a |sources|-row rollup — the same two-level shape as
    doc_top_tokens."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.col("text"), " "), lambda x: x != F.lit("")
            )
        ).alias("w"),
    )
    sc = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    return (
        sc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("vocab_size"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_hapax"),
            F.round(
                F.sum(
                    F.when(F.col("c") == 1, 1.0).otherwise(0.0)
                )
                / F.count(F.lit(1)),
                6,
            ).alias("hapax_share"),
            F.sum("c").cast("long").alias("n_tokens"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Interpolated bigram-LM perplexity per document.
# --------------------------------------------------------------------------
_BIGRAM_LAMBDA = 0.7  # weight on the bigram MLE vs the unigram floor


@query(
    "doc_bigram_perplexity",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    u AS (
      SELECT doc_id, unnest(toks) AS w,
             generate_subscripts(toks, 1) AS i
      FROM t),
    pairs AS (
      SELECT a.doc_id, a.w AS w1, b.w AS w2
      FROM u a JOIN u b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
    bg AS (SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY w1, w2),
    uni AS (SELECT w, COUNT(*) AS c FROM u GROUP BY w),
    tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n_tok FROM uni),
    scored AS (
      SELECT p.doc_id,
             ln({_BIGRAM_LAMBDA} * (bg.c12 / CAST(u1.c AS DOUBLE))
                + {1 - _BIGRAM_LAMBDA} * (u2.c / tot.n_tok)) AS lp
      FROM pairs p
      JOIN bg ON bg.w1 = p.w1 AND bg.w2 = p.w2
      JOIN uni u1 ON u1.w = p.w1
      JOIN uni u2 ON u2.w = p.w2
      CROSS JOIN tot)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(exp(-AVG(lp)), 4) AS perplexity
    FROM scored GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def doc_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under a corpus-trained interpolated
    bigram LM: P(w2|w1) = 0.7 * c(w1,w2)/c(w1) + 0.3 * c(w2)/N, doc
    perplexity = exp(-mean ln P) over its adjacent pairs — the
    KenLM-style fluency score curation stacks use to drop gibberish
    (high ppl) and boilerplate (abnormally low ppl), self-trained so
    no external model ships.

    Scale: bigrams are built ROW-LOCALLY (transform over the token
    array against its tail — no positional self-join; that's only the
    oracle's spelling). Counts are two hash aggregates keyed on 8-byte
    xxhash64 token keys; the doc pair stream joins the count tables on
    those same hashed keys (the heavy shuffles carry longs, not
    strings — assumes no 64-bit hash collision between distinct
    tokens, the same negligible-probability convention as the other
    hash-keyed queries; the oracle joins raw strings), then one
    groupBy(doc_id) folds log-scores. The unigram
    total is a 1-row broadcast. Vocab tables are Zipf-bounded —
    far smaller than the corpus — so at 100 TB the count-table joins
    broadcast or AQE-sort-merge on keys that are already uniform."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.col("text"), " "), lambda x: x != F.lit("")
        ).alias("toks"),
    )
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(toks, 1, greatest(size(toks) - 1, 0)), "
                "(w, i) -> struct(xxhash64(w) AS h1, "
                "xxhash64(toks[i + 1]) AS h2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.h1", "p.h2")
    unigrams = toks.select(F.explode("toks").alias("w")).select(
        F.xxhash64("w").alias("h"), F.lit(1).alias("one")
    )
    uni = unigrams.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    bg = pairs.groupBy("h1", "h2").agg(F.count(F.lit(1)).alias("c12"))
    tot = uni.agg(F.sum("c").cast("double").alias("n_tok"))
    lam = F.lit(_BIGRAM_LAMBDA)
    scored = (
        pairs.join(bg, ["h1", "h2"])
        .join(uni.select(F.col("h").alias("h1"), F.col("c").alias("c1")), "h1")
        .join(uni.select(F.col("h").alias("h2"), F.col("c").alias("c2")), "h2")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.log(
                lam * (F.col("c12") / F.col("c1").cast("double"))
                + (1 - _BIGRAM_LAMBDA) * (F.col("c2") / F.col("n_tok"))
            ).alias("lp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.exp(-F.avg("lp")), 4).alias("perplexity"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Containment near-dup pairs: the asymmetric-inclusion complement of
# ngram_jaccard_pairs (quotes / partial copies of a small doc inside a
# bigger one score low Jaccard but high containment).
# --------------------------------------------------------------------------
_CONTAINMENT_THRESHOLD = 0.9


@query(
    "ngram_containment_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, list_distinct(
        [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         toks[i+3] || ' ' || toks[i+4] for i in range(1, len(toks) - 3)]) AS s
      FROM ({_SQL_TOKS})),
    e AS (SELECT doc_id, unnest(s) AS sh FROM sh),
    cnt AS (SELECT doc_id, len(s) AS n FROM sh),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT p.doc_a, p.doc_b, p.n_common,
           ROUND(p.n_common * 1.0 / LEAST(ca.n, cb.n), 6) AS containment,
           ROUND(p.n_common * 1.0 / (ca.n + cb.n - p.n_common), 6) AS jaccard
    FROM pairs p
    JOIN cnt ca ON ca.doc_id = p.doc_a
    JOIN cnt cb ON cb.doc_id = p.doc_b
    WHERE p.n_common * 1.0 / LEAST(ca.n, cb.n) >= {_CONTAINMENT_THRESHOLD}
    """,
)
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection: containment(A,B) =
    |A ∩ B| / min(|A|, |B|) over distinct 5-token shingle sets — the
    measure that catches a short document quoted or embedded inside a
    long one, which symmetric Jaccard dilutes below threshold (the
    jaccard column is emitted alongside to make the gap visible).
    Same inverted-index candidate generation as ngram_jaccard_pairs:
    docs sharing no shingle never meet.

    Scale: identical shape to ngram_jaccard_pairs — one Arrow
    shingling pass, groupBy(shingle-hash) bucket pair-generation
    (row-local HOF), one pair-count aggregate; shuffles carry 8-byte
    hashes. Containment needs no new joins: both set sizes already
    ride the inverted index rows. Buckets are bounded at
    MAX_DOCS_PER_BUCKET (_cap_bucket) like every posting-list
    builder here."""
    e = _shingle_index(spark, sf_dir)
    buckets = (
        _cap_bucket(e, "sh")
        .groupBy("sh")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n"))).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("ds"),
                lambda x, i: F.transform(
                    F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                    lambda y: F.struct(
                        x["doc_id"].alias("doc_a"),
                        y["doc_id"].alias("doc_b"),
                        x["n"].alias("na"),
                        y["n"].alias("nb"),
                    ),
                ),
            )
        )
    ).alias("p")
    pairs = (
        buckets.select(pair)
        .groupBy("p.doc_a", "p.doc_b", "p.na", "p.nb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    cont = F.col("n_common") / F.least("na", "nb")
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return pairs.filter(cont >= _CONTAINMENT_THRESHOLD).select(
        "doc_a",
        "doc_b",
        "n_common",
        F.round(cont, 6).alias("containment"),
        F.round(jac, 6).alias("jaccard"),
    )


# --------------------------------------------------------------------------
# Tokenizer fertility per language (training-budget planning).
# --------------------------------------------------------------------------
@query(
    "doc_tokenizer_fertility",
    oracle=f"""
    WITH pt AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> x <> '') AS words,
             regexp_extract_all(text,
               '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')
               AS toks
      FROM documents),
    per_doc AS (
      SELECT lang,
             len(words) AS n_words,
             list_sum([(length(t) + 3) // 4 for t in toks]) AS n_sub,
             list_sum([length(t) for t in toks]) AS n_chars
      FROM pt)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
           ROUND(SUM(n_sub) * 1.0 / SUM(n_words), 6) AS fertility,
           ROUND(SUM(n_chars) * 1.0 / SUM(n_sub), 6) AS chars_per_subword
    FROM per_doc GROUP BY lang
    ORDER BY lang
    """,
)
def doc_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: estimated subwords per
    whitespace word (and chars per subword) using the GPT-2-style
    pre-tokenizer + ceil(len/4) subword estimate of
    doc_bpe_token_estimate — the budgeting number that decides how
    many TOKENS a language's share of the corpus actually costs
    (high-fertility languages eat budget faster than their text size
    suggests).

    Scale: both tokenizations are row-local codegen expressions
    (regexp_extract_all + HOF folds); the only shuffle is the final
    5-row language rollup, pre-aggregated map-side. Integer
    counts make every ratio exact-input; one ROUND at the end."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(_BPE_SPLIT), 0)
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    sub = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.floor((F.length(t) + 3) / 4).cast("long"),
    )
    chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    per_doc = docs.select(
        "lang",
        F.size(words).cast("long").alias("n_words"),
        sub.alias("n_sub"),
        chars.alias("n_chars"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_subwords"),
            F.round(
                F.sum("n_sub") * 1.0 / F.sum("n_words"), 6
            ).alias("fertility"),
            F.round(
                F.sum("n_chars") * 1.0 / F.sum("n_sub"), 6
            ).alias("chars_per_subword"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Policy-lexicon tagger (denylist hit-rate flagging).
# --------------------------------------------------------------------------
_POLICY_LEXICON = ["slow", "dup", "error"]
_POLICY_PER_MILLE = 25  # flag docs above 25 hits per 1000 tokens


@query(
    "doc_policy_lexicon_tags",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    h AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(toks,
               x -> list_contains(['slow', 'dup', 'error'], x)))
               AS BIGINT) AS n_hits
      FROM t)
    SELECT doc_id, n_tokens, n_hits,
           ROUND(n_hits * 1000.0 / n_tokens, 4) AS hits_per_1k,
           n_hits * 1000 > {_POLICY_PER_MILLE} * n_tokens AS flagged
    FROM h WHERE n_tokens > 0
    ORDER BY doc_id
    """,
)
def doc_policy_lexicon_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based policy tagger: per-document hit rate against a
    configurable denylist (placeholder terms here; swap in a real
    toxicity/PII/spam lexicon), flagging docs above 25 hits per 1000
    tokens — the Dolma/C4-style tagger stage that annotates rather
    than drops, so downstream mixes can choose their own strictness.

    Scale: pure row-local HOF filtering against a broadcast-constant
    array — zero shuffles, pipelines with the scan. The flag
    comparison is INTEGER cross-multiplication (hits*1000 vs
    25*tokens), so no float boundary exists to straddle."""
    docs = load_table(spark, sf_dir, "documents")
    lex = F.array(*[F.lit(x) for x in _POLICY_LEXICON])
    toks = F.filter(
        F.split(F.col("text"), " "), lambda x: x != F.lit("")
    )
    h = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(
            F.filter(toks, lambda x: F.array_contains(lex, x))
        )
        .cast("long")
        .alias("n_hits"),
    )
    return (
        h.filter(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "n_tokens",
            "n_hits",
            F.round(
                F.col("n_hits") * 1000.0 / F.col("n_tokens"), 4
            ).alias("hits_per_1k"),
            (
                F.col("n_hits") * 1000
                > F.lit(_POLICY_PER_MILLE) * F.col("n_tokens")
            ).alias("flagged"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Winnowing fingerprint near-dup pairs (MOSS-style local-min sampling).
# --------------------------------------------------------------------------
_WINNOW_K = 4  # tokens per k-gram
_WINNOW_W = 5  # k-grams per winnowing window
_WINNOW_RATIO = 0.5


@query(
    "winnowing_fingerprint_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    kg AS (
      SELECT doc_id,
             [CAST('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' ' ||
                                      toks[i+2] || ' ' || toks[i+3]), 1, 12)
                   AS BIGINT)
              for i in range(1, len(toks) - 2)] AS hs
      FROM t),
    fps AS (
      SELECT doc_id,
             list_distinct([list_min(hs[j:j+4])
                            for j in range(1, greatest(len(hs) - 4, 1) + 1)])
               AS fp
      FROM kg WHERE len(hs) >= 1),
    e AS (SELECT doc_id, len(fp) AS m, unnest(fp) AS f FROM fps),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             ANY_VALUE(a.m) AS ma, ANY_VALUE(b.m) AS mb,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM e a JOIN e b ON a.f = b.f AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b)
    SELECT doc_a, doc_b, n_common,
           ROUND(n_common * 1.0 / LEAST(ma, mb), 6) AS overlap
    FROM pairs
    WHERE n_common >= 2
      AND n_common * 1.0 / LEAST(ma, mb) >= {_WINNOW_RATIO}
    ORDER BY doc_a, doc_b
    """,
)
def winnowing_fingerprint_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MOSS-style winnowing near-dup detection: hash every 4-token
    k-gram, slide a 5-gram window and keep each window's MINIMUM hash
    — the classic guarantee that any shared run of >= k+w-1 tokens
    yields at least one shared fingerprint, at ~1/w the index size of
    full shingling (the jaccard/containment family indexes every
    shingle; winnowing samples them content-deterministically).
    Pairs sharing >= 2 fingerprints with overlap >= 0.5 of the
    smaller set emerge, via the same inverted-index bucket walk.

    Scale: fingerprinting is row-local (two HOF passes over the token
    array); the index explode carries ~n_shingles/w rows — a 5x
    smaller shuffle than the shingle index for the same detection
    floor. The k-gram hash is md5-prefix-48-bit (portable: both
    engines hash identical strings to identical BIGINTs, so the
    min-sampling SELECTS the same fingerprints — xxhash64 would pick
    different minima per engine). Fingerprint buckets are bounded at
    MAX_DOCS_PER_BUCKET (_cap_bucket) like every posting-list
    builder here."""
    from se_data_pipeline_spark.functions.text import (
        winnow_fingerprints_udf,
    )

    docs = load_table(spark, sf_dir, "documents")
    # whole fingerprint pass in ONE Arrow kernel: building k-grams
    # with element_at inside HOF lambdas re-evaluated the tokenizer
    # per access, and a JVM hash transform inlines into every window
    # slice (no CSE inside lambdas) — measured 43s -> ~1s at sf0.01
    par = max(spark.sparkContext.defaultParallelism, 8)
    # no size() filter: the predicate pushes below the projection and
    # re-evaluates the UDF in its own Arrow stage; exploding an empty
    # fingerprint array emits no rows anyway
    fps = docs.repartition(par).select(
        "doc_id",
        winnow_fingerprints_udf(_WINNOW_K, _WINNOW_W)(
            F.col("text")
        ).alias("fp"),
    )
    # explode_outer + null-drop on the GENERATED attribute: plain
    # explode infers a size(udf(text))>0 pre-filter that runs the
    # kernel in a second Arrow stage (same trap _shingle_index
    # documents); size() reads the retained array attribute
    e = (
        fps.select("doc_id", "fp", F.explode_outer("fp").alias("f"))
        .filter(F.col("f").isNotNull())
        .select("doc_id", F.size("fp").alias("m"), "f")
    )
    buckets = (
        _cap_bucket(e, "f")
        .groupBy("f")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "m"))).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("ds"),
                lambda x, i: F.transform(
                    F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                    lambda y: F.struct(
                        x["doc_id"].alias("doc_a"),
                        y["doc_id"].alias("doc_b"),
                        x["m"].alias("ma"),
                        y["m"].alias("mb"),
                    ),
                ),
            )
        )
    ).alias("p")
    pairs = (
        buckets.select(pair)
        .groupBy("p.doc_a", "p.doc_b", "p.ma", "p.mb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    overlap = F.col("n_common") * 1.0 / F.least("ma", "mb")
    return (
        pairs.filter(
            (F.col("n_common") >= 2) & (overlap >= _WINNOW_RATIO)
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.round(overlap, 6).alias("overlap"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# Per-source semantic dispersion over hashed document vectors.
# --------------------------------------------------------------------------
@query(
    "doc_source_semantic_dispersion",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             [x for x in string_split(text, ' ') if x <> ''] AS toks
      FROM documents),
    h AS (
      SELECT doc_id, source, len(toks) AS n,
             unnest([CAST(list_reduce(
               list_prepend(0, [ascii(c) for c in string_split(tk, '')]),
               (acc, c) -> (acc * 31 + c) % 1000003) AS BIGINT)
               % {_FH_DIMS} for tk in toks]) AS dim
      FROM t WHERE len(toks) > 0),
    doc_vec AS (
      SELECT doc_id, ANY_VALUE(source) AS source, dim,
             COUNT(*) * 1.0 / ANY_VALUE(n) AS pd
      FROM h GROUP BY doc_id, dim),
    src_tot AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS sn FROM h GROUP BY source),
    src_vec AS (
      SELECT h.source, h.dim,
             COUNT(*) * 1.0 / ANY_VALUE(st.sn) AS ps
      FROM h JOIN src_tot st ON st.source = h.source
      GROUP BY h.source, h.dim),
    joined AS (
      SELECT d.doc_id, d.source,
             SUM(ABS(d.pd - s.ps)) AS l1_common,
             SUM(d.pd) AS pd_common, SUM(s.ps) AS ps_common
      FROM doc_vec d
      JOIN src_vec s ON s.source = d.source AND s.dim = d.dim
      GROUP BY d.doc_id, d.source),
    per_doc AS (
      SELECT source,
             l1_common + (1 - pd_common) + (1 - ps_common) AS l1
      FROM joined)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(l1), 6) AS mean_l1_to_centroid,
           ROUND(MIN(l1), 6) AS min_l1,
           ROUND(MAX(l1), 6) AS max_l1
    FROM per_doc GROUP BY source
    ORDER BY source
    """,
)
def doc_source_semantic_dispersion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Within-source semantic homogeneity: L1 distance between each
    document's hashed-feature distribution and its source's pooled
    distribution (the hashing-trick centroid), aggregated per source
    — low dispersion flags template farms / scraped mirrors whose
    documents all look alike, high dispersion flags incoherent
    grab-bag sources; both are curation signals no single-doc score
    sees. Out-of-support mass is closed-form (distributions sum to
    1), so the sparse join only touches shared dims.

    Scale: the hashed featurizer is the same one-Arrow-pass kernel
    as doc_hashed_embeddings; the distance join keys on
    (source, dim) — dims are a 64-bucket constant, so the source
    vector side is tiny and broadcastable; the (doc, dim) aggregate
    (shuffled once per consumer, see below) and one source rollup
    are the only data-sized shuffles."""
    from se_data_pipeline_spark.functions.text import token_hash_dims_udf

    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.select(
            "doc_id",
            "source",
            token_hash_dims_udf(_FH_DIMS)(F.col("text")).alias("ds"),
        )
        .select(
            "doc_id",
            "source",
            F.size("ds").alias("n"),
            F.explode("ds").alias("dim"),
        )
    )
    # ONE (doc_id, dim) aggregate feeds every downstream view
    # (doc_vec, src_tot, src_vec). Their (doc_id, dim) exchanges are
    # NOT reused: the consumers prune columns (`n`) and push filters
    # (isnotnull(dim)) into them differently, so the executed plan
    # (sf0.1) has three scans, each with two ArrowEvalPython nodes
    # (the explode's non-empty filter and the projection): the
    # featurizer runs six times per document.
    # c/n is the per-doc dim share, Σc the per-source token count.
    doc_dim = base.groupBy("doc_id", "dim").agg(
        F.any_value(F.col("source")).alias("source"),
        F.count(F.lit(1)).alias("c"),
        F.any_value(F.col("n")).alias("n"),
    )
    doc_vec = doc_dim.select(
        "doc_id", "dim", "source", (F.col("c") * 1.0 / F.col("n")).alias("pd")
    )
    src_tot = doc_dim.groupBy("source").agg(
        F.sum("c").cast("long").alias("sn")
    )
    src_vec = (
        doc_dim.join(F.broadcast(src_tot), "source")
        .groupBy("source", "dim")
        .agg(
            (F.sum("c") * 1.0 / F.any_value(F.col("sn"))).alias(
                "ps"
            )
        )
    )
    joined = (
        doc_vec.join(F.broadcast(src_vec), ["source", "dim"])
        .groupBy("doc_id", "source")
        .agg(
            F.sum(F.abs(F.col("pd") - F.col("ps"))).alias("l1_common"),
            F.sum("pd").alias("pd_common"),
            F.sum("ps").alias("ps_common"),
        )
    )
    l1 = (
        F.col("l1_common")
        + (1 - F.col("pd_common"))
        + (1 - F.col("ps_common"))
    )
    return (
        joined.select("source", l1.alias("l1"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("l1"), 6).alias("mean_l1_to_centroid"),
            F.round(F.min("l1"), 6).alias("min_l1"),
            F.round(F.max("l1"), 6).alias("max_l1"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Heaps' law: vocabulary-growth curve and power-law fit.
# --------------------------------------------------------------------------
_HEAPS_POINTS = 20


@query(
    "doc_heaps_law_fit",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    u AS (SELECT doc_id, unnest(toks) AS w FROM t),
    first_occ AS (
      SELECT w, MIN(doc_id) AS fd FROM u GROUP BY w),
    per_doc AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks FROM t),
    span AS (
      SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM per_doc),
    cuts AS (
      SELECT g.k,
             CAST(floor(s.mn + (s.mx - s.mn) * g.k /
                        {_HEAPS_POINTS}.0) AS BIGINT) AS cut_doc
      FROM (SELECT unnest(generate_series(1, {_HEAPS_POINTS})) AS k) g
      CROSS JOIN span s),
    curve AS (
      SELECT c.k, c.cut_doc,
             (SELECT CAST(SUM(p.n_toks) AS DOUBLE) FROM per_doc p
              WHERE p.doc_id <= c.cut_doc) AS n_total,
             (SELECT CAST(COUNT(*) AS DOUBLE) FROM first_occ f
              WHERE f.fd <= c.cut_doc) AS vocab
      FROM cuts c),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pts,
             AVG(ln(n_total)) AS mx, AVG(ln(vocab)) AS my,
             AVG(ln(n_total) * ln(vocab)) AS mxy,
             AVG(ln(n_total) * ln(n_total)) AS mxx
      FROM curve WHERE n_total > 0 AND vocab > 0)
    SELECT n_pts,
           ROUND((mxy - mx * my) / (mxx - mx * mx), 6) AS heaps_beta,
           ROUND(exp(my - (mxy - mx * my) / (mxx - mx * mx) * mx), 4)
             AS heaps_k
    FROM m
    """,
)
def doc_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: V(N) = K * N^beta fitted by
    log-log OLS over {pts} cumulative corpus prefixes (by doc_id
    order) — the projection that answers "how big does the tokenizer
    vocab get at 10x the corpus" (beta ~ 0.5 typical for natural
    text; near-0 means a closed vocabulary, near-1 endless novelty).

    Scale: each token's FIRST-occurrence doc comes from one
    token-keyed min aggregate (vocab-sized result); prefix vocab
    counts are then {pts} broadcast threshold comparisons against
    that frame — the corpus is never re-scanned per prefix, and the
    thresholds are VALUE-range cuts from a 1-row (min, max) span (a
    rank-based prefix would need a global window or a doc x doc
    join). Fit is a 4-moment aggregate over {pts} points.
    """.format(pts=_HEAPS_POINTS)
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    base = docs.select("doc_id", toks.alias("toks")).localCheckpoint(
        eager=True
    )
    u = base.select("doc_id", F.explode("toks").alias("w"))
    first_occ = u.groupBy("w").agg(F.min("doc_id").alias("fd"))
    per_doc = base.select(
        "doc_id", F.size("toks").cast("long").alias("n_toks")
    )
    # value-range prefixes (doc_id thresholds), NOT rank-based: a
    # rank needs either a global window or a doc x doc join — both
    # break at data-sized doc counts; any nested increasing corpus
    # sequence serves Heaps' fit equally
    span = per_doc.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    )
    ks = spark.range(1, _HEAPS_POINTS + 1).select(
        F.col("id").cast("int").alias("k")
    )
    cuts = (
        ks.crossJoin(F.broadcast(span))
        .select(
            "k",
            F.floor(
                F.col("mn")
                + (F.col("mx") - F.col("mn"))
                * F.col("k")
                / float(_HEAPS_POINTS)
            )
            .cast("long")
            .alias("cut_doc"),
        )
        .localCheckpoint(eager=True)
    )
    totals = (
        per_doc.crossJoin(F.broadcast(cuts))
        .filter(F.col("doc_id") <= F.col("cut_doc"))
        .groupBy("k", "cut_doc")
        .agg(F.sum("n_toks").cast("double").alias("n_total"))
    )
    vocabs = (
        first_occ.crossJoin(F.broadcast(cuts))
        .filter(F.col("fd") <= F.col("cut_doc"))
        .groupBy(F.col("k").alias("k2"))
        .agg(F.count(F.lit(1)).cast("double").alias("vocab"))
    )
    curve = totals.join(vocabs, F.col("k") == F.col("k2"))
    m = curve.filter(
        (F.col("n_total") > 0) & (F.col("vocab") > 0)
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pts"),
        F.avg(F.log("n_total")).alias("mx"),
        F.avg(F.log("vocab")).alias("my"),
        F.avg(F.log("n_total") * F.log("vocab")).alias("mxy"),
        F.avg(F.log("n_total") * F.log("n_total")).alias("mxx"),
    )
    beta = F.try_divide(
        F.col("mxy") - F.col("mx") * F.col("my"),
        F.col("mxx") - F.col("mx") * F.col("mx"),
    )
    return m.select(
        "n_pts",
        F.round(beta, 6).alias("heaps_beta"),
        F.round(F.exp(F.col("my") - beta * F.col("mx")), 4).alias(
            "heaps_k"
        ),
    )


# --------------------------------------------------------------------------
# Okapi BM25 ranking — the saturated-tf upgrade of doc_tfidf_search
# (the de-facto lexical retrieval scorer; reference's notebooks rank by
# raw counts, analysis.ipynb cells 2-4 — BM25 is the standard form of
# the same "score documents by term statistics" op).
# --------------------------------------------------------------------------
_BM25_K1 = BM25_K1  # shared via functions.text (no cycle)
_BM25_B = BM25_B


@query(
    "doc_bm25_search",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text, len(string_split(text, ' ')) AS dl
      FROM documents),
    toks AS (
      SELECT doc_id, dl, unnest(string_split(text, ' ')) AS tok
      FROM d),
    tf AS (
      SELECT doc_id, dl, tok, COUNT(*) AS c
      FROM toks WHERE tok IN {_SEARCH_TERMS!r}
      GROUP BY 1, 2, 3),
    dfreq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    stats AS (
      SELECT COUNT(*) AS nn, AVG(len(string_split(text, ' '))) AS avgdl
      FROM documents)
    SELECT t.doc_id,
           ROUND(SUM(
             ln(1 + (nn - df + 0.5) / (df + 0.5))
             * (c * ({_BM25_K1} + 1))
             / (c + {_BM25_K1}
                    * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))
           ), 6) AS bm25
    FROM tf t JOIN dfreq USING (tok) CROSS JOIN stats
    GROUP BY t.doc_id
    ORDER BY bm25 DESC, t.doc_id
    LIMIT 20
    """,
)
def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 (k1=1.2, b=0.75): document length is computed
    ROW-LOCALLY (`size(split(text))`) so it rides the token explode and
    the (doc, term) tf groupBy — the only fact-sized shuffle in the
    plan; no separate per-doc length aggregate. Document frequency and
    the corpus (N, avgdl) stats are tiny aggregates joined back
    broadcast. Term filter lands immediately after the explode, so
    non-query tokens never shuffle. Top-k via TakeOrderedAndProject.
    At 100 TB the tf table IS the posting list — materialize it
    partitioned by term and this query becomes a posting-list lookup.
    """
    docs = load_table(spark, sf_dir, "documents")
    # split once into a carried array (size(split)+explode(split) in
    # one projection re-runs the split per exploded row — the same
    # CollapseProject trap documented for UDF arrays above)
    toks = (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            F.size("toks").alias("dl"),
            F.explode("toks").alias("tok"),
        )
        .filter(F.col("tok").isin(*_SEARCH_TERMS))
    )
    tf = toks.groupBy("doc_id", "dl", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    dfreq = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    stats = docs.agg(
        F.count(F.lit(1)).alias("nn"),
        F.avg(F.size(F.split("text", " "))).alias("avgdl"),
    )
    idf = F.log(
        1
        + (F.col("nn") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    sat = (F.col("c") * (_BM25_K1 + 1)) / (
        F.col("c")
        + _BM25_K1
        * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * sat), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# BPE merge-candidate counting — the inner loop of byte-pair-encoding
# tokenizer training, distributed the way production trainers do it:
# count over the UNIQUE-WORD vocabulary weighted by word frequency,
# never over raw token occurrences.
# --------------------------------------------------------------------------


@query(
    "bpe_merge_candidates",
    oracle="""
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    vocab AS (
      SELECT w, COUNT(*) AS wc FROM words WHERE len(w) >= 2 GROUP BY 1),
    pairs AS (
      SELECT substr(w, CAST(i AS INT), 2) AS pair, wc
      FROM vocab, UNNEST(range(1, len(w))) AS t(i))
    SELECT pair, CAST(SUM(wc) AS BIGINT) AS merge_count
    FROM pairs
    GROUP BY pair
    ORDER BY merge_count DESC, pair
    LIMIT 20
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-symbol merge candidates for BPE tokenizer
    training. The scale trick is VOCABULARY COMPRESSION: pair counts
    are computed over unique words weighted by word frequency — the
    corpus-sized token stream collapses to a vocab-sized frame in one
    map-side-combined groupBy BEFORE any pair generation, exactly how
    production BPE trainers (HF tokenizers, SentencePiece) structure
    the count step. Pair generation is then a row-local higher-order
    function over the (tiny) vocab: `transform(sequence(...))` —
    no UDF, no second corpus scan. The `length >= 2` filter also
    guarantees `sequence(1, length-1)` is ascending (Spark's sequence
    REVERSES when start > stop — a single-char word would silently
    yield [1, 0]). One merge step of a full training loop = this
    query + re-segmentation; the count stage shown here is the only
    corpus-sized work either way."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pairs = vocab.select(
        "wc",
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").cast("long").alias("merge_count"))
        .orderBy(F.desc("merge_count"), F.asc("pair"))
        .limit(20)
    )


_compose_recall_oracle()


def bm25_from_term_stats(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str,
    terms: tuple = _SEARCH_TERMS,
) -> DataFrame:
    """Okapi BM25 served from the INCREMENTAL statistics store
    (streaming/jobs.maintain_term_stats) instead of recomputing
    df/N/avgdl from the corpus: the store's folded term rows supply
    document frequency, its corpus totals supply N and avgdl
    (n_tokens / n_docs), and the only corpus-sized work left is the
    per-document tf pass over the query terms — i.e. the serving-time
    cost after the heavy statistics were maintained stream-side.
    Parity-tested against doc_bm25_search (identical scores when the
    store was built from the same corpus)."""
    from se_data_pipeline_spark.streaming.jobs import read_term_stats

    term_stats, totals = read_term_stats(spark, store_dir)
    dfreq = term_stats.filter(F.col("tok").isin(*terms)).select(
        "tok", F.col("doc_freq").alias("df")
    )
    stats = totals.select(
        F.col("n_docs").alias("nn"),
        (F.col("n_tokens") / F.col("n_docs")).alias("avgdl"),
    )
    docs = load_table(spark, sf_dir, "documents")
    # split once into a carried array (see doc_bm25_search)
    toks = (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            F.size("toks").alias("dl"),
            F.explode("toks").alias("tok"),
        )
        .filter(F.col("tok").isin(*terms))
    )
    tf = toks.groupBy("doc_id", "dl", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    idf = F.log(
        1
        + (F.col("nn") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    sat = (F.col("c") * (_BM25_K1 + 1)) / (
        F.col("c")
        + _BM25_K1
        * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * sat), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


@query(
    "corpus_stoplist_mining",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents),
    dfreq AS (SELECT tok, COUNT(*) AS df FROM toks
              WHERE tok <> '' GROUP BY 1),
    n AS (SELECT COUNT(*) AS nn FROM documents)
    SELECT tok, df, ROUND(df * 1.0 / nn, 6) AS doc_ratio
    FROM dfreq CROSS JOIN n
    WHERE df * 1.0 / nn >= 0.5
    ORDER BY df DESC, tok
    """,
)
def corpus_stoplist_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop-list mining: terms present in >= 50% of documents — the
    corpus statistic that feeds both retrieval stop-lists and the
    posting-list stop-shingle policy (_cap_bucket's semantics above
    the cap). One explode -> per-(doc, term) distinct -> term
    groupBy; corpus size rides a 1-row broadcast crossJoin. The
    distinct is term+doc keyed (vocabulary x doc incidence, the
    inverted-index row count), so the shuffle carries each incidence
    once regardless of in-document frequency."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("nn"))
    ratio = F.col("df") * 1.0 / F.col("nn")
    return (
        dfreq.crossJoin(F.broadcast(n))
        .filter(ratio >= 0.5)
        .select("tok", "df", F.round(ratio, 6).alias("doc_ratio"))
        .orderBy(F.desc("df"), F.asc("tok"))
    )


# --------------------------------------------------------------------------
# DSIR data selection (Xie et al., "Data Selection for Language Models
# via Importance Resampling", NeurIPS 2023): hashed-n-gram importance
# weights of a target domain against the raw corpus, the standard
# cheap alternative to classifier-based quality filtering when you
# have examples OF the distribution you want rather than labels.
# --------------------------------------------------------------------------
_DSIR_B = 1024
_DSIR_TARGET = ("src0", "src1", "src2", "src3")


def _dsir_bucket(tok):
    """Hashed feature bucket of one token: the portable rolling hash
    -> Knuth multiplicative mix -> mod B. All modular integer
    arithmetic, reproduced verbatim by the DuckDB oracle."""
    h = F.aggregate(
        F.split(tok, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % 1_000_003,
    )
    return ((h * 2654435761) % 1_000_003) % _DSIR_B


@query(
    "doc_dsir_selection",
    oracle="""
    WITH b AS (
      SELECT doc_id, source,
             ((CAST(list_reduce(
                 list_prepend(0, [ascii(c) for c in string_split(tok, '')]),
                 (acc, c) -> (acc * 31 + c) % 1000003) AS BIGINT)
               * 2654435761) % 1000003) % 1024 AS bk
      FROM (SELECT doc_id, source,
                   unnest([x for x in string_split(text, ' ')
                           if x <> '']) AS tok
            FROM documents)),
    counts AS (
      SELECT bk, COUNT(*) AS r_c,
             COUNT(*) FILTER (
               WHERE source IN ('src0','src1','src2','src3')) AS t_c
      FROM b GROUP BY bk),
    tot AS (SELECT SUM(r_c) AS rr, SUM(t_c) AS tt FROM counts),
    lam AS (
      SELECT bk,
             LN((t_c + 1.0) / (tt + 1024.0))
               - LN((r_c + 1.0) / (rr + 1024.0)) AS lam
      FROM counts CROSS JOIN tot),
    perdoc AS (
      SELECT doc_id, COUNT(*) AS n_tokens, SUM(lam) AS raw_logw
      FROM b JOIN lam USING (bk) GROUP BY doc_id)
    SELECT doc_id,
           CAST(n_tokens AS INTEGER) AS n_tokens,
           ROUND(raw_logw, 4) AS logw,
           ROUND(raw_logw / n_tokens, 6) AS logw_per_tok,
           ROUND(raw_logw, 4) > 0 AS selected
    FROM perdoc
    ORDER BY doc_id
    """,
)
def doc_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: features are unigrams hashed into
    B=1024 buckets; the estimator is add-1-smoothed bucket
    distributions of the TARGET domain (sources src0-src3, standing
    in for "the high-quality corpus you want more of") vs the RAW
    corpus; a document's log importance weight is the sum over its
    tokens of ln p_target(bucket) - ln p_raw(bucket). `selected` is
    the target-leaning decision (logw > 0); real pipelines resample
    by these weights (see `weighted_corpus_sample` for the sampling
    half of the recipe).

    Scale shape (this IS the 100 TB plan, not a toy): pass 1 is one
    explode+groupBy whose result is B=1024 rows — a bounded driver
    collect (EAGER_OK-adjudicated, same class as the PQ codebook) —
    from which the per-bucket log-ratio table lam is built and
    embedded as a 1024-double array LITERAL. Pass 2 — the returned
    plan — is a single fact scan with NO shuffle and NO join: each
    doc folds its hashed-bucket array through element_at(lam, b),
    entirely inside whole-stage codegen. Two passes over the corpus
    is the algorithm's own minimum (estimate, then score).

    Determinism: bucket ids are exact modular integer arithmetic;
    floats enter only at the ln() of integer-ratio inputs, and the
    per-doc sum is rounded (4/6 dp) on both sides — the same
    contract doc_unigram_perplexity has run green since r4."""
    import math

    from se_data_pipeline_spark.catalog import parallelize_scan

    # both passes are row-local HOF folds over exact integer bucket
    # ids (floats only in the rounded per-doc output), so the
    # one-split scan may fan out (catalog.parallelize_scan)
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    toks_nz = F.filter(tokens(F.col("text")), lambda t: F.length(t) > 0)
    bks = F.transform(toks_nz, _dsir_bucket)

    # Pass 1 (eager, bounded): the 1024-bucket importance estimator.
    rows = (
        docs.select(
            F.explode(bks).alias("bk"),
            F.col("source").isin(*_DSIR_TARGET).alias("is_t"),
        )
        .groupBy("bk")
        .agg(
            F.count(F.lit(1)).alias("r_c"),
            F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("t_c"),
        )
        .collect()
    )
    r_tot = sum(r["r_c"] for r in rows)
    t_tot = sum(r["t_c"] for r in rows)
    r_by = {r["bk"]: r["r_c"] for r in rows}
    t_by = {r["bk"]: r["t_c"] for r in rows}
    lam = [
        math.log((t_by.get(b, 0) + 1.0) / (t_tot + _DSIR_B))
        - math.log((r_by.get(b, 0) + 1.0) / (r_tot + _DSIR_B))
        for b in range(_DSIR_B)
    ]
    lam_lit = F.lit(lam)

    # Pass 2: one fact scan, zero shuffles — per-doc fold over the
    # tokens against the broadcast-literal lam table. ONE struct
    # accumulator carries (count, weight-sum) so the whole HOF chain
    # is evaluated exactly once per row: HOFs are CodegenFallback
    # (interpreted, no common-subexpression elimination), so the
    # naive form — size() + aggregate() as separate expressions, a
    # filter on the computed count, and three output columns over the
    # raw sum — re-tokenized and re-hashed every document 3-5x
    # (measured 2.6s -> 0.11s warm at sf0.1 for this form). The
    # empty-doc filter tests text directly (any non-space char), not
    # the computed count, so predicate pushdown cannot inline the
    # fold into a second evaluation.
    st = F.aggregate(
        toks_nz,
        F.struct(F.lit(0).alias("n"), F.lit(0.0).alias("s")),
        lambda acc, t: F.struct(
            (acc["n"] + F.lit(1)).alias("n"),
            (
                acc["s"]
                + F.element_at(lam_lit, (_dsir_bucket(t) + 1).cast("int"))
            ).alias("s"),
        ),
    )
    # Float-order caveat (ADVICE r8, documented): the per-doc
    # log-weight is a float sum — Spark folds lam in token order
    # while the oracle's SUM(lam) may accumulate in another order, so
    # a doc whose raw sum sits EXACTLY on a 4dp/6dp rounding boundary
    # (or at logw == 0 for `selected`) could in principle flake the
    # hash compare. The integer-sum trick (doc_hash_classifier_score)
    # doesn't apply: lam entries are true logs, not fixed-point. The
    # round-both-sides contract (established r4) keeps this green on
    # the fixed testdata; at a boundary regression, compare with a
    # tolerance rather than re-deriving the fold.
    return (
        docs.filter(F.length(F.translate(F.col("text"), " ", "")) > 0)
        .select("doc_id", st.alias("st"))
        .select(
            "doc_id",
            F.col("st.n").alias("n_tokens"),
            F.round(F.col("st.s"), 4).alias("logw"),
            F.round(F.col("st.s") / F.col("st.n"), 6).alias(
                "logw_per_tok"
            ),
            (F.round(F.col("st.s"), 4) > 0).alias("selected"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Late-interaction (multi-vector) retrieval — ColBERT-style MaxSim
# (r12): score(doc) = sum over query tokens q of max over doc tokens
# t of cos(e_q, e_t). Production late-interaction runs over learned
# per-token embeddings; the deterministic twin here derives each
# token's vector from the portable rolling hash (the
# doc_hash_classifier_score stand-in convention), so every cosine is
# exact integer arithmetic + one double divide and the oracle can
# replay it bit-for-bit. The SCORING ALGEBRA — per-query-token max
# over the document's token vectors, summed — is exactly the
# production operator; swap the hash embedding for a model's token
# vectors (a mapInPandas encode) and nothing else changes.
# --------------------------------------------------------------------------
_LI_D = 8  # embedding dims
_LI_P = 1_000_003  # the shared rolling-hash modulus
_LI_OFF = 501_001  # re-centers hash values on ~0


def _li_embed_py(term: str) -> list:
    """Driver-side twin of the per-token embedding: pure integer
    arithmetic over OUR OWN rolling hash, so no engine-specific
    hash function is involved (the reason xxhash64 is unusable
    here: DuckDB cannot replay it)."""
    h = 0
    for ch in term:
        h = (h * 31 + ord(ch)) % _LI_P
    return [
        (h * (2 * d + 3) + 11 * d + 5) % _LI_P - _LI_OFF
        for d in range(_LI_D)
    ]


def _li_oracle() -> str:
    import math

    from se_data_pipeline_spark.functions.text import SEARCH_TERMS

    def e_sql(d: int) -> str:
        return (
            f"((hh * {2 * d + 3} + {11 * d + 5}) % {_LI_P})"
            f" - {_LI_OFF}"
        )

    nsq = " + ".join(f"({e_sql(d)}) * ({e_sql(d)})" for d in range(_LI_D))
    qs = [_li_embed_py(t) for t in SEARCH_TERMS]
    qnorms = [math.sqrt(sum(x * x for x in q)) for q in qs]
    dots = [
        " + ".join(
            f"({e_sql(d)}) * ({q[d]})" for d in range(_LI_D)
        )
        for q in qs
    ]
    m_cols = ",\n             ".join(
        f"list_max([CAST(x.d{k} AS DOUBLE)"
        f" / (sqrt(CAST(x.nsq AS DOUBLE)) * {qnorms[k]!r})"
        f" for x in ss if x.nsq > 0]) AS m{k}"
        for k in range(len(qs))
    )
    total = " + ".join(f"m{k}" for k in range(len(qs)))
    struct = (
        "{'nsq': " + nsq + ", "
        + ", ".join(f"'d{k}': {dots[k]}" for k in range(len(qs)))
        + "}"
    )
    return f"""
    WITH t AS (
      SELECT doc_id,
             [x for x in string_split(text, ' ') if x <> ''] AS toks
      FROM documents),
    h AS (
      SELECT doc_id,
             [CAST(list_reduce(
                list_prepend(0, [ascii(c) for c in string_split(tk, '')]),
                (acc, c) -> (acc * 31 + c) % {_LI_P}) AS BIGINT)
              for tk in toks] AS hs
      FROM t),
    s AS (
      SELECT doc_id, [{struct} for hh in hs] AS ss FROM h),
    m AS (
      SELECT doc_id,
             {m_cols}
      FROM s)
    SELECT doc_id, ROUND({total}, 6) AS maxsim
    FROM m WHERE m0 IS NOT NULL
    ORDER BY ({total}) DESC, doc_id
    LIMIT 20
    """


@query("doc_late_interaction_topk", oracle=_li_oracle())
def doc_late_interaction_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ColBERT-style late-interaction retrieval: each document is a
    BAG OF TOKEN VECTORS, and the score is the sum over query tokens
    of the maximum cosine against any document token (MaxSim) — the
    query class between single-vector ANN (one dot product, loses
    token identity) and cross-encoders (quadratic attention, cannot
    pre-compute). Token vectors here are deterministic hash
    embeddings (integer arithmetic end-to-end; cos = exact long dot
    / one double divide), so the DuckDB oracle replays every pair
    bit-for-bit — swap in a model's token vectors and only the
    embedding changes.

    Scale: the whole score is ONE row-local Catalyst pass — token
    hashes via a HOF fold, per-token (nsq, q-dots) structs, a filter
    + array_max per query token, a fixed-order sum — no UDF, no
    shuffle, no join; top-20 is TakeOrderedAndProject. At 100 TB
    this is a map-only scan whose cost is O(tokens x K x D) integer
    ops per document; the 2^53-exactness of the long dot products is
    what keeps partition order out of the result."""
    import math

    from se_data_pipeline_spark.functions.text import (
        SEARCH_TERMS,
        token_hashes,
    )

    from se_data_pipeline_spark.catalog import parallelize_scan

    # per-char HOF folds × per-token dot products are the cost; the
    # scoring is row-local integer math (partition-invariant), so
    # engaging every core on a one-split scan is free of result risk
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    qs = [_li_embed_py(t) for t in SEARCH_TERMS]
    qnorms = [math.sqrt(sum(x * x for x in q)) for q in qs]

    def _es(h):
        return [
            (h * (2 * d + 3) + 11 * d + 5) % _LI_P - _LI_OFF
            for d in range(_LI_D)
        ]

    def _tok_struct(h):
        es = _es(h)
        nsq = es[0] * es[0]
        for e in es[1:]:
            nsq = nsq + e * e
        fields = [nsq.alias("nsq")]
        for k, q in enumerate(qs):
            dot = es[0] * int(q[0])
            for d in range(1, _LI_D):
                dot = dot + es[d] * int(q[d])
            fields.append(dot.alias(f"d{k}"))
        return F.struct(*fields)

    # hs: one rolling-hash fold per non-empty token (HOF, row-local)
    hs = F.transform(
        F.filter(
            F.split(F.col("text"), " "), lambda t: F.length(t) > 0
        ),
        lambda t: F.aggregate(
            F.split(t, ""),
            F.lit(0).cast("long"),
            lambda acc, c: (acc * 31 + F.ascii(c)) % _LI_P,
        ),
    )
    ss = F.filter(
        F.transform(hs, _tok_struct), lambda s: s["nsq"] > 0
    )
    scored = docs.select("doc_id", ss.alias("ss"))
    def _m_col(k: int):
        # factory keeps the transform lambda SINGLE-argument — a
        # second parameter (even defaulted) becomes the ARRAY INDEX
        # (the phrase_from_postings _shifted gotcha)
        return F.array_max(
            F.transform(
                F.col("ss"),
                lambda s: s[f"d{k}"].cast("double")
                / (
                    F.sqrt(s["nsq"].cast("double"))
                    * F.lit(float(qnorms[k]))
                ),
            )
        ).alias(f"m{k}")

    m_cols = [_m_col(k) for k in range(len(qs))]
    m = scored.select("doc_id", *m_cols)
    total = F.col("m0")
    for k in range(1, len(qs)):
        total = total + F.col(f"m{k}")
    return (
        m.filter(F.col("m0").isNotNull())
        .select("doc_id", total.alias("_raw"))
        .orderBy(F.desc("_raw"), F.asc("doc_id"))
        .limit(20)
        .select("doc_id", F.round("_raw", 6).alias("maxsim"))
    )

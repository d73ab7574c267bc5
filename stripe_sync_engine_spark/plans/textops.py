"""Text-analysis operators over the ``documents`` table — the pieces a
large-scale training-data pipeline needs: token counting, quality scoring,
language-ID heuristics, and document fingerprinting.

All hot-path expressions are Spark built-ins (JVM-side, whole-stage
codegen); no Python UDFs. Division results are IEEE doubles computed from
identical integer inputs on both engines, so value hashes are stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stripe_sync_engine_spark.operators.export import _shard_col, shard_sql, sql_h32
from stripe_sync_engine_spark.operators.packing import assign_packs
from stripe_sync_engine_spark.plans.registry import register
from stripe_sync_engine_spark.tables import load_table, spread_small_scan

# Marker stopwords for the language-ID heuristic (deterministic; the
# synthetic corpus is a word soup, the point is the operator shape).
EN_MARKERS = ("the", "a", "of", "and")

# Deterministic corpus split — hash-bucket boundaries on md5(doc_id):
# [0, TRAIN_LT) → train, [TRAIN_LT, VAL_LT) → val, rest → test. A pure
# row predicate, so the split is reproducible across runs, engines, and
# cluster layouts, rows never migrate between splits as the corpus
# grows, and membership composes with every other filter.
SPLIT_TRAIN_LT = 96
SPLIT_VAL_LT = 98


# PII patterns: explicit character classes (no \\d / \\b) so Java regex
# (Spark) and RE2 (DuckDB) agree byte-for-byte.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
PII_PHONE = r"\+1-[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"
PII_SSN = r"[0-9][0-9][0-9]-[0-9][0-9]-[0-9][0-9][0-9][0-9]"
PII_IP = r"10\.[0-9]+\.[0-9]+\.[0-9]+"

# (pattern, replacement-tag) in the order the redaction chain applies them —
# email first so phone/SSN digit runs inside an address can't pre-empt it.
PII_DETECTORS = (
    (PII_EMAIL, "[EMAIL]"),
    (PII_PHONE, "[PHONE]"),
    (PII_SSN, "[SSN]"),
    (PII_IP, "[IP]"),
)


def pii_redact_expr(text_col):
    """Chained ``regexp_replace`` over :data:`PII_DETECTORS` — THE
    redaction expression, shared by the ``txt_doc_profile`` fold and any
    library caller scrubbing a text column. Pure per-row JVM regexps
    inside whole-stage codegen: zero shuffle, zero Python, linear scan;
    the detector set extends by adding patterns, not passes."""
    out = text_col
    for pat, tag in PII_DETECTORS:
        out = F.regexp_replace(out, pat, tag)
    return out


def pii_injected_text():
    """Deterministic PII spans synthesized from ``doc_id`` appended to
    ``text`` (the mm_media_probe pattern: build → process → oracle states
    what was built). The synthetic corpus is digit-free word soup, so
    without injection every detector count would be trivially zero: %4∈
    {0,1} docs gain an email, %4==1 adds a phone, %4==2 an SSN + IP,
    %4==3 stays clean (the negative case). Mirrored by
    :data:`PII_AUG_SQL`."""
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    email = F.concat(
        F.lit(" reach user"), s(did), F.lit("@corp-"), s(did % 7), F.lit(".example.com now")
    )
    phone = F.concat(
        F.lit(" call +1-"), s(did % 400 + 500),
        F.lit("-"), s(did % 900 + 100),
        F.lit("-"), s(did % 9000 + 1000),
    )
    ssn_ip = F.concat(
        F.lit(" ssn "), s(did % 900 + 100),
        F.lit("-"), s(did % 90 + 10),
        F.lit("-"), s(did % 9000 + 1000),
        F.lit(" from 10."), s(did % 256), F.lit("."), s(did % 250), F.lit("."), s(did % 100),
    )
    m = did % 4
    return F.concat(
        F.col("text"),
        F.when(m.isin(0, 1), email).otherwise(F.lit("")),
        F.when(m == 1, phone).otherwise(F.lit("")),
        F.when(m == 2, ssn_ip).otherwise(F.lit("")),
    )


# DuckDB mirror of pii_injected_text() — substituted into the
# txt_doc_profile oracle's aug CTE.
PII_AUG_SQL = """
    text
    || CASE WHEN doc_id % 4 IN (0, 1)
            THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@corp-'
                 || CAST(doc_id % 7 AS VARCHAR) || '.example.com now'
            ELSE '' END
    || CASE WHEN doc_id % 4 = 1
            THEN ' call +1-' || CAST(doc_id % 400 + 500 AS VARCHAR)
                 || '-' || CAST(doc_id % 900 + 100 AS VARCHAR)
                 || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
            ELSE '' END
    || CASE WHEN doc_id % 4 = 2
            THEN ' ssn ' || CAST(doc_id % 900 + 100 AS VARCHAR)
                 || '-' || CAST(doc_id % 90 + 10 AS VARCHAR)
                 || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
                 || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                 || '.' || CAST(doc_id % 250 AS VARCHAR)
                 || '.' || CAST(doc_id % 100 AS VARCHAR)
            ELSE '' END
"""


def _pii_redact_sql(col: str) -> str:
    """DuckDB mirror of :func:`pii_redact_expr`: the same detector chain,
    same order, as nested ``regexp_replace(..., 'g')`` calls."""
    out = col
    for pat, tag in PII_DETECTORS:
        out = f"regexp_replace({out}, '{pat}', '{tag}', 'g')"
    return out


@register(
    "txt_doc_profile",
    oracle=f"""
        WITH aug AS (
            SELECT doc_id, n_chars, text, lang,
                   {PII_AUG_SQL} AS atext
            FROM documents
        ),
        red AS (
            SELECT *, {_pii_redact_sql("atext")} AS rtext FROM aug
        )
        SELECT doc_id,
               n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_distinct,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS lexical_diversity,
               CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_token_len,
               len(list_filter(string_split(text, ' '),
                               t -> t IN {EN_MARKERS!r})) AS en_marker_hits,
               CASE WHEN len(list_filter(string_split(text, ' '),
                                          t -> t IN {EN_MARKERS!r})) >= 2
                    THEN 'en' ELSE 'unknown' END AS predicted_lang,
               lang AS labeled_lang,
               CASE WHEN {shard_sql("CAST(doc_id AS VARCHAR)", 100)}
                         < {SPLIT_TRAIN_LT} THEN 'train'
                    WHEN {shard_sql("CAST(doc_id AS VARCHAR)", 100)}
                         < {SPLIT_VAL_LT} THEN 'val'
                    ELSE 'test' END AS split,
               CAST(len(regexp_extract_all(atext, '{PII_EMAIL}')) AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(atext, '{PII_PHONE}')) AS BIGINT) AS n_phone,
               CAST(len(regexp_extract_all(atext, '{PII_SSN}')) AS BIGINT) AS n_ssn,
               CAST(len(regexp_extract_all(atext, '{PII_IP}')) AS BIGINT) AS n_ip,
               CAST(length(atext) - length(rtext) AS BIGINT) AS chars_redacted,
               md5(rtext) AS redacted_fp
        FROM red
    """,
    operators="TDP-text,TDP-quality,TDP-langid,TDP-split,TDP-pii,§2.8",
)
def txt_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text profile in ONE pass: whitespace token counting,
    quality features (lexical diversity + mean token length), the
    marker-token language-ID heuristic (n-gram/stopword voting shape),
    the deterministic train/val/test split (md5 hash buckets — see
    SPLIT_TRAIN_LT: reproducible, growth-stable, engine-independent), and
    PII detection + redaction — the scrubbing pass every training-data
    pipeline runs before a corpus ships: four detector classes (email,
    NANP phone, SSN, internal IPv4) counted on PII-injected text (see
    :func:`pii_injected_text` — the synthetic corpus is digit-free, so
    detectors are exercised on deterministic injected spans, %4==3 docs
    staying clean as the negative case), with the chained-redaction
    output value-checked via md5 + removed-char count.

    These were FIVE separate registry queries (txt_token_count,
    txt_quality_score, txt_lang_id in r4; txt_pii_redact in r12); they
    are all per-row map-side expressions over the same documents scan, so
    one scan computes everything — at 100 TB that's a fraction of the
    I/O and still zero shuffle. (The r12 pii fold keeps the registry
    inside the driver's 50-row correctness window — see
    ``__spark_entry__.py``'s DRIVER_QUERY_CAP guard.)"""
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    hits = F.size(F.filter(toks, lambda t: t.isin(*EN_MARKERS))).cast("long")
    split_bucket = _shard_col("doc_id", 100)
    atext = pii_injected_text()
    rtext = pii_redact_expr(atext)
    n_of = lambda pat: F.size(F.regexp_extract_all(atext, F.lit(pat), F.lit(0))).cast("long")  # noqa: E731
    return docs.select(
        "doc_id",
        "n_chars",
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        (n_distinct.cast("double") / n_tokens.cast("double")).alias("lexical_diversity"),
        ((F.col("n_chars") - (n_tokens - 1)).cast("double") / n_tokens.cast("double")).alias("mean_token_len"),
        hits.alias("en_marker_hits"),
        F.when(hits >= 2, F.lit("en")).otherwise(F.lit("unknown")).alias("predicted_lang"),
        F.col("lang").alias("labeled_lang"),
        F.when(split_bucket < SPLIT_TRAIN_LT, F.lit("train"))
        .when(split_bucket < SPLIT_VAL_LT, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
        n_of(PII_EMAIL).alias("n_email"),
        n_of(PII_PHONE).alias("n_phone"),
        n_of(PII_SSN).alias("n_ssn"),
        n_of(PII_IP).alias("n_ip"),
        (F.length(atext) - F.length(rtext)).cast("long").alias("chars_redacted"),
        F.md5(rtext).alias("redacted_fp"),
    )


WINNOW_K = 3  # word-gram size for the rolling fingerprint
WINNOW_W = 4  # winnowing window (MOSS-style: one fingerprint per window)

# md5-hex → int64 bridge — the shared copy in operators/export
_SQL_H32_OF = sql_h32


@register(
    "txt_fingerprint",
    oracle=f"""
        WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        g AS (
            SELECT doc_id,
                   CASE WHEN len(toks) >= {WINNOW_K}
                        THEN list_transform(
                                 generate_series(1, len(toks) - {WINNOW_K - 1}),
                                 i -> array_to_string(toks[i:i+{WINNOW_K - 1}], ' '))
                        ELSE CAST([] AS VARCHAR[]) END AS grams
            FROM t
        ),
        h AS (SELECT doc_id, list_transform(grams, g -> {_SQL_H32_OF('g')}) AS hs FROM g),
        w AS (
            SELECT doc_id,
                   CASE WHEN len(hs) >= 1
                        THEN list_transform(
                                 generate_series(1, len(hs) - least({WINNOW_W}, len(hs)) + 1),
                                 j -> list_min(hs[j:j+least({WINNOW_W}, len(hs))-1]))
                        ELSE CAST([] AS BIGINT[]) END AS wins
            FROM h
        ),
        b AS (
            SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                                                 i -> toks[i] || ' ' || toks[i+1])) AS bg
            FROM t WHERE len(toks) >= 2
        ),
        bc AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY doc_id, bg),
        rep AS (
            SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_n,
                   CAST(sum(c) AS BIGINT) AS n_bigrams
            FROM bc GROUP BY doc_id
        )
        SELECT t.doc_id,
               md5(t.text) AS content_fp,
               md5(lower(trim(t.text))) AS normalized_fp,
               CAST(len(list_distinct(w.wins)) AS BIGINT) AS n_fingerprints,
               md5(array_to_string(list_transform(list_sort(list_distinct(w.wins)),
                                                  v -> CAST(v AS VARCHAR)), ',')) AS fp_sig,
               COALESCE(rep.top_bigram_n, 0) AS top_bigram_n,
               COALESCE(rep.n_bigrams, 0) AS n_bigrams,
               CAST(len(g.grams) - len(list_distinct(g.grams)) AS BIGINT) AS dup_kgram_n
        FROM w JOIN t USING (doc_id) JOIN g USING (doc_id)
        LEFT JOIN rep USING (doc_id)
    """,
    operators="TDP-fingerprint,TDP-fingerprint-winnow,TDP-repetition",
)
def txt_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting in ONE scan: exact content hashes (raw +
    normalized md5 — JVM expressions, both engines emit the same lowercase
    hex) AND the rolling-hash winnowing signature (MOSS-style): hash every
    word {WINNOW_K}-gram in ORDER, slide a {WINNOW_W}-window over the
    hash sequence, keep each window's minimum — the classic
    position-robust near-dup signature (insertions shift positions but
    local minima survive) — PLUS Gopher-style repetition signals from the
    same tokenization (top word-bigram count / total bigrams and
    duplicated k-gram occurrences; kept as integers so value hashes stay
    exact — consumers divide for the fraction cuts). Subsumes the former
    separate txt_fingerprint / txt_winnow_fingerprint registry entries
    (same input scan, union of their oracles — a consolidation, not a
    coverage cut).

    Physical shape: doc-local work in an Arrow-batched ``mapInPandas`` —
    ZERO shuffle at any scale (the explode+window formulation would
    shuffle every gram to order it per doc). NOT higher-order functions:
    interpreted HOF lambdas re-evaluate the referenced hash-array
    expression per window, turning the O(n·w) algorithm into O(n²) md5
    calls (measured 18s vs <1s at sf0.001) — the same HOF-vs-worker
    tradeoff plans/similarity.py measured, here on hashing instead of
    arithmetic. The worker closure is stdlib-only and self-contained."""
    docs = spread_small_scan(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        "text",
        F.md5(F.col("text")).alias("content_fp"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("normalized_fp"),
    )

    k, w = WINNOW_K, WINNOW_W

    def winnow(batches):
        import hashlib
        from collections import Counter

        import pandas as pd  # noqa: PLC0415 - worker-local import

        def fingerprints(text: str) -> tuple[int, str, int, int, int]:
            toks = text.split(" ")
            grams = [
                " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
            ]
            hs = [
                int(hashlib.md5(g.encode("utf-8")).hexdigest()[:8], 16) for g in grams
            ]
            if not hs:
                sel: list[int] = []
            else:
                wl = min(w, len(hs))
                # O(n·w) sliding min; a deque-based O(n) pass is the next
                # step if w ever grows — at w=4 the md5s dominate regardless
                sel = sorted({min(hs[j : j + wl]) for j in range(len(hs) - wl + 1)})
            digest = hashlib.md5(",".join(str(v) for v in sel).encode()).hexdigest()
            # repetition signals (Gopher-style quality rules) from the same
            # tokenization: most-frequent word bigram count / total bigrams
            # (top-2-gram fraction) and duplicated k-gram occurrences
            # (beyond each gram's first) — integers, so hashes stay exact
            bigrams = Counter(zip(toks, toks[1:]))
            top_bg = max(bigrams.values()) if bigrams else 0
            n_bg = sum(bigrams.values())
            dup_k = len(grams) - len(set(grams))
            return len(sel), digest, top_bg, n_bg, dup_k

        for pdf in batches:
            out = [fingerprints(t) for t in pdf["text"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content_fp": pdf["content_fp"],  # JVM md5s pass through
                    "normalized_fp": pdf["normalized_fp"],
                    "n_fingerprints": [r[0] for r in out],
                    "fp_sig": [r[1] for r in out],
                    "top_bigram_n": [r[2] for r in out],
                    "n_bigrams": [r[3] for r in out],
                    "dup_kgram_n": [r[4] for r in out],
                }
            )

    return docs.mapInPandas(
        winnow,
        schema=(
            "doc_id long, content_fp string, normalized_fp string, "
            "n_fingerprints long, fp_sig string, top_bigram_n long, "
            "n_bigrams long, dup_kgram_n long"
        ),
    )


CONTAM_N = 3  # word-gram size; production benchmark decontamination uses 8-13
EVAL_MOD = 97  # every 97th doc stands in for the held-out benchmark set


def contam_grams_for(docs: DataFrame, n: int = CONTAM_N) -> DataFrame:
    """DF-generic core shared by the corpus plan (txt_contamination) and
    the incremental gate (operators/incremental_dedup.ContaminationGate):
    per-doc DISTINCT word n-grams, all JVM-side (split / transform /
    slice / array_join), zero Python. Docs shorter than n grams to an
    empty array."""
    toks = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select("doc_id", F.array_distinct(grams).alias("grams"))


@register(
    "txt_contamination",
    oracle=f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        g AS (
            SELECT doc_id,
                   list_distinct(CASE WHEN len(toks) >= {CONTAM_N}
                        THEN list_transform(generate_series(1, len(toks) - {CONTAM_N - 1}),
                                            i -> array_to_string(toks[i:i+{CONTAM_N - 1}], ' '))
                        ELSE CAST([] AS VARCHAR[]) END) AS grams
            FROM t
        ),
        eg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % {EVAL_MOD} = 0),
        hits AS (
            SELECT x.doc_id, count(*) AS n_hit
            FROM (SELECT doc_id, unnest(grams) AS gram FROM g) x
            JOIN eg USING (gram)
            GROUP BY x.doc_id
        )
        SELECT g.doc_id,
               CAST(len(g.grams) AS BIGINT) AS n_grams,
               CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_contaminated,
               CASE WHEN len(g.grams) = 0 THEN NULL
                    ELSE CAST(coalesce(h.n_hit, 0) AS DOUBLE) / len(g.grams) END AS contamination,
               g.doc_id % {EVAL_MOD} = 0 AS is_eval
        FROM g LEFT JOIN hits h ON g.doc_id = h.doc_id
    """,
    operators="TDP-contamination,J2,A4",
)
def txt_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: the fraction of each document's
    distinct word {CONTAM_N}-grams that also occur in a held-out eval set
    (here: every {EVAL_MOD}th document stands in for the benchmark; a real
    pipeline unions its actual eval suites). The classic decontamination
    gate run before training — docs above a threshold are dropped or
    reported.

    100 TB shape: benchmark suites are MBs while the corpus is TBs, so the
    eval gram set is built once, deduplicated, and BROADCAST — the corpus
    side never shuffles for the join. Gram explosion stays partition-local
    and the per-doc count is map-side partial-aggregated before the one
    groupBy(doc_id) exchange (rows arrive at the shuffle already reduced
    to ~one per doc). All gram construction is JVM-side (split /
    transform / slice / array_join) — zero Python in the hot path."""
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    per_doc = contam_grams_for(docs, CONTAM_N)
    eval_grams = (
        per_doc.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select(F.explode("grams").alias("gram"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    exploded = per_doc.select(
        "doc_id", F.size("grams").alias("n_grams"), F.explode_outer("grams").alias("gram")
    )
    joined = exploded.join(F.broadcast(eval_grams), "gram", "left")
    agg = joined.groupBy("doc_id").agg(
        F.max("n_grams").cast("long").alias("n_grams"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_contaminated"),
    )
    return agg.select(
        "doc_id",
        "n_grams",
        "n_contaminated",
        F.when(
            F.col("n_grams") > 0,
            F.col("n_contaminated").cast("double") / F.col("n_grams"),
        ).alias("contamination"),
        (F.col("doc_id") % EVAL_MOD == 0).alias("is_eval"),
    )


BPE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

# Sequence packing (training-batch assembly): docs are concatenated in
# deterministic order and cut every PACK_BUDGET subword tokens — the
# standard pretraining "concat and chunk" layout. Packing is per SHARD
# (md5-bucket of doc_id), not global: a global cumulative sum is a
# single-partition window (the 100 TB anti-pattern), while N_PACK_SHARDS
# independent windows run in parallel and each shard's packs are
# self-contained. Locally 8 shards; at cluster scale raise it to
# O(executors) — pack semantics are per-shard either way.
PACK_BUDGET = 2048
N_PACK_SHARDS = 8


@register(
    "txt_bpe_tokens",
    oracle=rf"""
        WITH toks AS (
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_pieces,
                   CAST(list_sum(list_transform(
                        regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'),
                        x -> (length(x) + 3) // 4)) AS BIGINT) AS n_subwords,
                   {shard_sql("CAST(doc_id AS VARCHAR)", N_PACK_SHARDS)} AS shard
            FROM documents
        ), c AS (
            SELECT *,
                   CAST(COALESCE(SUM(n_subwords) OVER (
                        PARTITION BY shard ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
            FROM toks
        )
        SELECT doc_id, n_pieces, n_subwords, shard,
               start // {PACK_BUDGET} AS pack_id,
               start % {PACK_BUDGET} AS pack_offset,
               ((start + GREATEST(n_subwords, 1) - 1) // {PACK_BUDGET})
                 - (start // {PACK_BUDGET}) + 1 AS packs_spanned
        FROM c
    """,
    operators="TDP-text-bpe,TDP-packing",
)
def txt_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting + sequence packing. Counting: GPT-style
    pre-tokenizer regex (letter runs, single digits, punctuation) plus a
    ceil(len/4) subword estimate per piece — all JVM-side
    (regexp_extract_all + higher-order aggregate), zero Python. Packing:
    concat-and-chunk training layout — docs concatenate in doc_id order
    within their md5 shard and cut every PACK_BUDGET tokens; each doc
    learns its pack id, its offset inside the pack, and how many packs it
    spans (boundary docs straddle). One shuffle total (the per-shard
    window's exchange); the cumulative sum never crosses shards, so
    parallelism is N_PACK_SHARDS regardless of corpus size."""
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    pieces = F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), F.lit(0))
    subwords = F.aggregate(
        F.transform(pieces, lambda x: F.floor((F.length(x) + 3) / 4).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    toks = docs.select(
        "doc_id",
        F.size(pieces).cast("long").alias("n_pieces"),
        subwords.alias("n_subwords"),
    )
    # The packing layout (shard → per-shard cumulative window → pack
    # columns) is operators/packing.assign_packs — ONE implementation, so
    # the "a document's export shard IS its pack shard" invariant can't
    # drift between this query, the generic packer, and the exporter.
    return assign_packs(toks, "n_subwords", PACK_BUDGET, N_PACK_SHARDS)


# BM25 constants (the standard Robertson/Spärck-Jones defaults)
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_part(tf, dl, df, n_docs, avgdl, log):
    """One posting's BM25 contribution — THE formula the one-shot scan
    and both placements of the persisted index's ``topk`` share. Plain
    arithmetic, so the arguments may be Spark Columns (``log=F.log``) or
    numpy/pandas arrays and scalars (``log=np.log``); ``tf`` must already
    be a double (or float array)."""
    idf = log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    return idf * (tf * (BM25_K1 + 1)) / (tf + BM25_K1 * (1 - BM25_B + BM25_B * dl / avgdl))


def tokens_nonempty(text_col: str):
    """Whitespace tokens with empties dropped — THE tokenization the BM25
    scan, the persisted postings index, and span dedup share (one
    expression: a tweak here moves those consumers together, which the
    index↔scan score parity depends on). The LM scorer follows the same
    empties-dropped CONVENTION but tokenizes inside its own Arrow worker."""
    return F.filter(F.split(F.col(text_col), " "), lambda t: t != "")


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, score)`` — BM25 score per matching document (unranked).

    The shared scoring pipeline behind :func:`bm25_topk` (raw-float
    top-k for library callers) and the driver-registered
    ``txt_bm25_topk`` (e9-rounded for cross-engine hash stability).

    Plan shape (the 100 TB story): term frequencies come from ONE
    tokenized scan filtered to the query's terms BEFORE the explode's
    aggregation — per-doc work is O(|query| ∩ doc), the groupBy carries
    only (doc, term) hits, never the vocabulary. Document frequencies
    and the average length are tiny aggregates of that same scan
    (broadcast back). Scoring is pure float64 column math
    (ln/divisions), so DuckDB reproduces it to ~1 ulp.

    Reference analog: none (training-data-pipeline extension; ranking
    math per Robertson et al., BM25 with the usual k1/b defaults).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted(set(query_terms))
    toks = tokens_nonempty(text_col)
    base = docs.select(
        F.col(id_col), F.size(toks).cast("long").alias("dl"), toks.alias("_toks")
    )
    n_and_avg = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    hits = (
        base.select(
            id_col,
            "dl",
            F.explode(
                F.filter(F.col("_toks"), lambda t: t.isin(*terms))
            ).alias("term"),
        )
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfreq = hits.groupBy("term").agg(
        F.count_distinct(F.col(id_col)).cast("double").alias("df")
    )
    scored = (
        hits.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(n_and_avg))
        .withColumn(
            "part",
            bm25_part(
                F.col("tf"), F.col("dl"), F.col("df"), F.col("n_docs"), F.col("avgdl"), F.log
            ),
        )
        .groupBy(id_col)
        .agg(F.sum("part").alias("score"))
    )
    return scored


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, score)`` — top-k documents by BM25 against a bag of
    query terms: the text-retrieval counterpart of the embedding ANN
    family (sparse lexical ranking vs dense cosine). See
    :func:`bm25_scores` for the scoring plan; the final top-k is a
    global TakeOrderedAndProject — no full sort."""
    scored = bm25_scores(docs, query_terms, id_col=id_col, text_col=text_col)
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def sql_bm25_topk(query_terms: list[str], k: int = 20, rounded: bool = False) -> str:
    """DuckDB mirror of ``bm25_topk`` (``rounded=False``) or of the driver
    registry's e9-rounded ``txt_bm25_topk`` (``rounded=True``) over the
    ``documents`` view — ONE SQL body so the pytest tolerance oracle and
    the driver hash oracle can't drift."""
    terms = sorted(set(query_terms))
    # '' -escape each term: an apostrophe would otherwise end the SQL
    # literal (the Spark side takes terms verbatim, so the oracle must too)
    terms_sql = ", ".join("'{}'".format(t.replace("'", "''")) for t in terms)
    if rounded:
        # JVM ln and libm ln differ by ~1 ulp; round(score*1e9) is identical
        # on both sides (both round half away from zero for positives) and
        # ranking by the ROUNDED value keeps the k-boundary deterministic.
        select = "CAST(round(score * 1e9) AS BIGINT) AS score_e9"
        order = "score_e9"
    else:
        select = "score"
        order = "score"
    return f"""
        WITH base AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS dl,
                   list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents
        ),
        g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(dl) AS avgdl FROM base),
        hits AS (
            SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
            FROM (SELECT doc_id, dl, unnest(list_filter(toks, t -> t IN ({terms_sql}))) AS term FROM base)
            GROUP BY doc_id, dl, term
        ),
        dfreq AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM hits GROUP BY term),
        scored AS (
            SELECT doc_id, SUM(
                       ln(1.0 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                       * (hits.tf * ({BM25_K1} + 1))
                       / (hits.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * hits.dl / g.avgdl))
                   ) AS score
            FROM hits JOIN dfreq USING (term) CROSS JOIN g
            GROUP BY doc_id
        )
        SELECT doc_id, {select}
        FROM scored
        ORDER BY {order} DESC, doc_id ASC
        LIMIT {k}
    """


# The driver-registered BM25 probe: fixed terms (present in the synthetic
# corpus vocabulary) so the Spark query and oracle SQL agree by construction.
BM25_QUERY_TERMS = ["spark", "query", "join"]
BM25_TOPK_K = 20


@register(
    "txt_bm25_topk",
    oracle=sql_bm25_topk(BM25_QUERY_TERMS, k=BM25_TOPK_K, rounded=True),
    operators="TDP-text-bm25,O3",
)
def txt_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval, driver-gated: BM25 top-k over ``documents`` with
    the score rounded to integer nano-units (``score_e9``) on BOTH engines
    so the value hash is stable (raw float would differ ~1 ulp via ln).
    Ranking uses the rounded score, so the k-boundary can't flip between
    engines; ties break on doc_id. The persisted-index variant
    (operators/postings.PersistedPostingsIndex) is pinned against this
    same scoring in tests/test_operators.py."""
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    scored = bm25_scores(docs, BM25_QUERY_TERMS)
    return (
        scored.select(
            "doc_id",
            F.round(F.col("score") * 1e9).cast("long").alias("score_e9"),
        )
        .orderBy(F.col("score_e9").desc(), F.col("doc_id").asc())
        .limit(BM25_TOPK_K)
    )


# The driver-registered mixture draw: FIXED rates (the solver is
# pytest/hypothesis-gated — what the oracle must pin is the DRAW, the one
# salted h32-threshold formula on both engines) over the synthetic
# corpus's language labels.
MIXTURE_RATES = {"en": 0.5, "fr": 1.0, "de": 0.25, "es": 0.0, "zh": 0.1}
MIXTURE_SALT = "driver-epoch-1"

# The LENGTH-STRATIFIED weighted draw's driver gate rides the same row
# (r13, VERDICT #1): FIXED per-(category, weight-stratum) thresholds —
# the solver is pytest/hypothesis-gated; what the oracle must pin is
# the DRAW, the one (category, stratum)->threshold h32 predicate on
# both engines. Strata span the corpus's n_chars bands (5-9 at every
# SF) plus absent bands, exercising rate 1.0, exact binary fractions,
# round-to-int32 fractions, rate 0.0, and un-recipe'd categories/strata
# (which must draw NOTHING on both engines).
MIXTURE_STRATA = {
    "en": {5: 1.0, 6: 0.75, 7: 0.5, 8: 0.25, 9: 0.0},
    "de": {4: 1.0, 5: 1.0, 6: 0.6, 7: 0.3, 8: 0.125, 9: 1.0},
    "zh": {7: 0.35, 8: 0.15},
}
MIXTURE_STRATA_SALT = "driver-strata-1"


def _mixture_oracle() -> str:
    from stripe_sync_engine_spark.operators.mixing import (
        mixture_where_sql,
        stratified_where_sql,
    )

    return f"""
        SELECT doc_id, lang, 'flat' AS draw_kind
        FROM documents
        WHERE {mixture_where_sql(MIXTURE_RATES, salt=MIXTURE_SALT)}
        UNION ALL
        SELECT doc_id, lang, 'stratified' AS draw_kind
        FROM documents
        WHERE {stratified_where_sql(
            MIXTURE_STRATA, weight_col="n_chars", salt=MIXTURE_STRATA_SALT
        )}
    """


@register(
    "txt_mixture_draw",
    oracle=_mixture_oracle(),
    operators="TDP-mixing",
)
def txt_mixture_draw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted corpus mixing, driver-gated: BOTH draw
    formulas — the flat salted hash-threshold draw
    (operators/mixing.sample_mixture) and the length-stratified weighted
    draw (sample_stratified_mixture, whose threshold is selected by the
    row's (category, weight-stratum)) — must each select the
    byte-identical row set DuckDB's mirror predicates select, the
    reproducibility contract that makes a training mixture auditable and
    re-derivable forever. ONE scan, zero shuffle: both membership
    predicates are computed as codegen'd columns on the same pass and a
    2-element inline array explodes into the draw_kind tags (a union of
    two filtered scans would read the corpus twice — a real 2× at 100
    TB). Rates/thresholds are fixed constants here; the waterline and
    stratified SOLVERS and the incremental maintained folds are gated in
    tests/test_mixing.py (hypothesis-swept)."""
    from stripe_sync_engine_spark.operators.mixing import (
        mixture_member_col,
        stratified_member_col,
    )

    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(
            "doc_id",
            "lang",
            F.explode(
                F.array(
                    F.when(
                        mixture_member_col(MIXTURE_RATES, salt=MIXTURE_SALT),
                        F.lit("flat"),
                    ),
                    F.when(
                        stratified_member_col(
                            MIXTURE_STRATA,
                            weight_col="n_chars",
                            salt=MIXTURE_STRATA_SALT,
                        ),
                        F.lit("stratified"),
                    ),
                )
            ).alias("draw_kind"),
        )
        .where(F.col("draw_kind").isNotNull())
    )

"""N-gram language-model quality scoring — the perplexity filter of a
training-data pipeline (the KenLM-shaped stage), in the same scalable
split as the BPE trainer:

1. **Distributed counts** — ONE pass: per-doc word arrays yield unigram
   and bigram counts via explode + groupBy (map-side combined).
   ``min_count`` + deterministic frequency cuts bound the driver collect
   (Heaps' law again: n-gram TYPES grow sublinearly).
2. **Driver model** — interpolated bigram with add-k smoothing over the
   counted vocabulary: plain dicts, a pure function of the counts.
3. **Distributed scoring** — the model broadcasts via the closure; each
   Arrow batch computes mean log-probability per document (zero
   shuffle). Low scores = improbable word sequences (boilerplate, word
   salad, wrong-language text) — the cut a quality gate applies.

Scores are deterministic: same corpus → same counts → same model → same
scores, independent of partitioning (sums are commutative; scoring is
per-row).

Reference analog: none — training-data-pipeline extension next to
``txt_doc_profile``'s surface heuristics (this scores SEQUENCES, which
length/diversity ratios cannot see).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

#: Sentence-boundary pseudo-token (counted once per document).
BOS = "<s>"

#: Out-of-vocabulary pseudo-token every unseen word maps to.
UNK = "<unk>"


def ngram_counts(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 2,
    max_types: int = 200_000,
) -> tuple[DataFrame, DataFrame]:
    """(unigrams, bigrams) count DataFrames from one tokenized scan.

    Unigrams: (w, n). Bigrams: (a, b, n) including the (BOS, first-word)
    transition. Both frequency-cut deterministically (count desc, key
    asc) to at most ``max_types`` rows so the driver collect is bounded
    at any corpus size."""
    toks = F.split(F.col(text_col), " ")
    uni = (
        docs.select(F.explode(toks).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .filter(F.col("n") >= min_count)
        .orderBy(F.col("n").desc(), F.col("w").asc())
        .limit(max_types)
    )
    # Drop empty tokens BEFORE pairing, exactly as NgramLM.score filters
    # its word list — pairing first and then discarding pairs that touch
    # an empty token would never count (hello, world) from "hello  world"
    # while scoring queries exactly that transition.
    toks_nonempty = F.filter(toks, lambda t: t != "")
    with_bos = F.concat(F.array(F.lit(BOS)), toks_nonempty)
    # zip_with pads the shorter side with null: [BOS, w1..wn] zipped with
    # [w1..wn] yields exactly the n transitions (BOS,w1)..(w(n-1),wn)
    # plus a (wn, null) tail the filter drops.
    pairs = F.filter(
        F.zip_with(
            with_bos,
            toks_nonempty,
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        ),
        lambda p: p["b"].isNotNull(),
    )
    bi = (
        docs.select(F.explode(pairs).alias("p"))
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .filter(F.col("n") >= min_count)
        .orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(max_types)
    )
    return uni, bi


@dataclass(frozen=True)
class NgramLM:
    """Interpolated bigram LM with add-k unigram smoothing (plain dicts —
    broadcasts as a closure capture like the BPE merge table).

    log P(b|a) = log( λ·P_bi(b|a) + (1−λ)·P_uni(b) ), unseen words → UNK
    mass. Interpolation (not backoff) keeps scoring one dict lookup per
    token pair, and λ is fixed — no tuning loop to make deterministic."""

    uni: dict
    bi: dict
    total: int
    vocab_size: int
    lam: float = 0.75
    add_k: float = 1.0

    def __post_init__(self) -> None:
        # λ = 1 leaves zero unigram mass: any unseen bigram would hit
        # log(0) inside a Spark worker and fail the whole scan instead of
        # scoring low. add_k ≤ 0 likewise zeroes the unseen-word floor.
        if not 0.0 <= self.lam < 1.0:
            raise ValueError(f"lam must be in [0, 1), got {self.lam}")
        if self.add_k <= 0.0:
            raise ValueError(f"add_k must be > 0, got {self.add_k}")

    def logp_word(self, w: str) -> float:
        n = self.uni.get(w, 0)
        return math.log(
            (n + self.add_k) / (self.total + self.add_k * (self.vocab_size + 1))
        )

    def logp(self, a: str, b: str) -> float:
        p_uni = math.exp(self.logp_word(b))
        na = self.uni.get(a, 0) if a != BOS else self.bi.get((BOS, None), 0)
        nab = self.bi.get((a, b), 0)
        p_bi = (nab / na) if na > 0 else 0.0
        return math.log(self.lam * p_bi + (1.0 - self.lam) * p_uni)

    def score(self, text: str) -> float:
        """Mean per-token log-probability (0 tokens → the UNK floor)."""
        words = [w for w in text.split(" ") if w]
        if not words:
            return self.logp_word(UNK)
        prev, total = BOS, 0.0
        for w in words:
            total += self.logp(prev, w)
            prev = w
        return total / len(words)


def train_ngram_lm(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 2,
    max_types: int = 200_000,
    lam: float = 0.75,
) -> NgramLM:
    uni_df, bi_df = ngram_counts(docs, text_col, min_count, max_types)
    uni = {r["w"]: int(r["n"]) for r in uni_df.collect()}
    bi = {(r["a"], r["b"]): int(r["n"]) for r in bi_df.collect()}
    # BOS "unigram" count = number of documents = sum of BOS-led bigrams;
    # stored under (BOS, None) so logp's denominator covers sentence starts
    n_bos = sum(n for (a, _b), n in bi.items() if a == BOS)
    bi[(BOS, None)] = n_bos
    return NgramLM(
        uni=uni,
        bi=bi,
        total=sum(uni.values()),
        vocab_size=len(uni),
        lam=lam,
    )


SCORE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("lm_score", DoubleType()),
    ]
)


def score_documents(
    docs: DataFrame,
    lm: NgramLM,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, lm_score): mean per-token log-prob, one Arrow pass, zero
    shuffle. Feed the score to a threshold cut exactly like the document
    stream's quality knobs."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "lm_score": pd.Series(
                        [lm.score(t or "") for t in pdf[text_col]], dtype="float64"
                    ),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(run, SCORE_SCHEMA)

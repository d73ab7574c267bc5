"""BPE vocabulary training over a distributed corpus — the tokenizer-
construction step of a training-data pipeline, Spark-shaped.

Naive BPE training iterates merge-count-merge over the CORPUS, which is
sequential and unshardable. The standard scalable formulation (what
HuggingFace ``tokenizers`` and SentencePiece both do) splits it:

1. **Distributed histogram** — one pass over the corpus: pre-tokenize
   with the GPT-style regex (``plans/textops.BPE_PATTERN``), explode,
   ``groupBy(piece).count()``. The histogram is bounded by Heaps' law
   (unique word types grow ~O(n^0.5), not O(n)); ``min_count`` plus a
   ``max_word_types`` frequency cut make the driver collect explicitly
   bounded no matter the corpus size. At 100 TB this is ONE shuffle whose
   map side combines, and the reduced histogram is megabytes.
2. **Driver merge loop** — classic BPE over (word_type, count) pairs:
   weighted pair frequencies, merge the argmax, repeat until
   ``vocab_size`` merges. Ties break deterministically (count desc, pair
   lexicographic asc) so the learned vocabulary is a pure function of the
   histogram.
3. **Distributed apply** — the merge ranks broadcast to workers; encoding
   is per-doc greedy merge application in an Arrow ``mapInPandas`` batch
   (`encode_documents`), embarrassingly parallel.

Reference analog: none (the reference has no tokenization layer); this
extends the training-data-pipeline surface next to ``txt_bpe_tokens``
(which ESTIMATES subword counts with a fixed ceil(len/4) rule — this
module learns the actual subword table the estimate stands in for).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: GPT-style pre-tokenizer (same expression as plans/textops.BPE_PATTERN;
#: redeclared here so the functions layer does not import the plans layer).
BPE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

#: End-of-word sentinel appended to every pre-token before merging, the
#: classic BPE trick that keeps word-final units distinct from word-
#: internal ones ("est</w>" vs "est").
EOW = "</w>"


def word_histogram(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    max_word_types: int = 200_000,
) -> DataFrame:
    """One-shuffle corpus histogram: (piece, n) for every pre-token type.

    ``min_count`` drops hapax noise; ``max_word_types`` keeps the most
    frequent types (ties broken by piece so the cut is deterministic) —
    together they bound the driver collect regardless of corpus size.
    """
    pieces = F.explode(
        F.regexp_extract_all(F.col(text_col), F.lit(BPE_PATTERN), F.lit(0))
    ).alias("piece")
    hist = (
        docs.select(pieces)
        .groupBy("piece")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .filter(F.col("n") >= min_count)
    )
    # Deterministic frequency cut: top max_word_types by (n desc, piece asc).
    # orderBy+limit is a TakeOrdered (no full sort materialization); the
    # histogram after the groupBy is already small.
    return hist.orderBy(F.col("n").desc(), F.col("piece").asc()).limit(max_word_types)


def _pair_counts(words: dict[tuple[str, ...], int]) -> dict[tuple[str, str], int]:
    counts: dict[tuple[str, str], int] = {}
    for sym, n in words.items():
        for a, b in zip(sym, sym[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + n
    return counts


def _merge_word(sym: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    out: list[str] = []
    i, merged = 0, pair[0] + pair[1]
    while i < len(sym):
        if i + 1 < len(sym) and sym[i] == pair[0] and sym[i + 1] == pair[1]:
            out.append(merged)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


@dataclass(frozen=True)
class BPETokenizer:
    """A learned merge table plus the vocabulary it induces.

    ``merges`` is ordered (rank = list position); ``encode`` applies them
    greedily lowest-rank-first — the standard BPE encoder. Plain data, so
    it broadcasts to workers as a closure capture.
    """

    merges: tuple[tuple[str, str], ...]
    vocab: tuple[str, ...] = field(default=())

    def encode_piece(self, piece: str, _ranks: dict | None = None) -> tuple[str, ...]:
        """Encode one pre-token to subword units (deterministic)."""
        ranks = _ranks if _ranks is not None else {p: i for i, p in enumerate(self.merges)}
        sym = tuple(piece) + (EOW,)
        while len(sym) > 1:
            best, best_rank = None, None
            for a, b in zip(sym, sym[1:]):
                r = ranks.get((a, b))
                if r is not None and (best_rank is None or r < best_rank):
                    best, best_rank = (a, b), r
            if best is None:
                break
            sym = _merge_word(sym, best)
        return sym

    def encode(self, text: str) -> list[str]:
        """Encode one string to subword units (deterministic)."""
        import re

        ranks = {p: i for i, p in enumerate(self.merges)}
        out: list[str] = []
        for piece in re.findall(BPE_PATTERN, text):
            out.extend(self.encode_piece(piece, ranks))
        return out

    def to_json(self) -> str:
        """Serialize for reuse across sessions (train once on the big
        cluster, encode everywhere)."""
        import json

        return json.dumps(
            {"merges": [list(p) for p in self.merges], "vocab": list(self.vocab)}
        )

    @classmethod
    def from_json(cls, payload: str) -> "BPETokenizer":
        import json

        d = json.loads(payload)
        return cls(
            merges=tuple((a, b) for a, b in d["merges"]),
            vocab=tuple(d.get("vocab", ())),
        )


def train_bpe_from_histogram(
    hist: list[tuple[str, int]], vocab_size: int, min_pair_count: int = 2
) -> BPETokenizer:
    """Classic BPE merge loop over a (piece, count) histogram.

    Deterministic: the argmax pair ties break (count desc, pair asc).
    Stops early when no pair reaches ``min_pair_count`` — merging noise
    pairs would only bloat the vocabulary. O(types × merges) recount per
    iteration; the histogram is driver-bounded by construction
    (``word_histogram``'s min_count / max_word_types), so this is
    milliseconds-to-seconds, never corpus-scale work.
    """
    words: dict[tuple[str, ...], int] = {}
    for piece, n in hist:
        key = tuple(piece) + (EOW,)
        words[key] = words.get(key, 0) + int(n)
    merges: list[tuple[str, str]] = []
    while len(merges) < vocab_size:
        counts = _pair_counts(words)
        if not counts:
            break
        pair = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if counts[pair] < min_pair_count:
            break
        merges.append(pair)
        words = {_merge_word(sym, pair): n for sym, n in words.items()}
    vocab: set[str] = set()
    for sym in words:
        vocab.update(sym)
    vocab.update(a + b for a, b in merges)
    return BPETokenizer(merges=tuple(merges), vocab=tuple(sorted(vocab)))


def train_bpe(
    docs: DataFrame,
    text_col: str = "text",
    vocab_size: int = 512,
    min_count: int = 1,
    max_word_types: int = 200_000,
    min_pair_count: int = 2,
) -> BPETokenizer:
    """End-to-end trainer: distributed histogram → driver merge loop."""
    hist = [
        (r["piece"], r["n"])
        for r in word_histogram(docs, text_col, min_count, max_word_types).collect()
    ]
    # collect() order is non-deterministic; the trainer sorts so the
    # result is a pure function of the histogram CONTENTS.
    hist.sort(key=lambda kv: (-kv[1], kv[0]))
    return train_bpe_from_histogram(hist, vocab_size, min_pair_count)


ENCODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_tokens", LongType()),
        StructField("tokens", ArrayType(StringType())),
    ]
)


def encode_documents(
    docs: DataFrame,
    tokenizer: BPETokenizer,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_tokens: bool = True,
) -> DataFrame:
    """Distributed encode: the tokenizer rides the closure to every
    worker (a few KB); each Arrow batch encodes independently — no
    shuffle, linear scan, the 100 TB shape. ``keep_tokens=False`` returns
    counts only (the common case when feeding packing)."""
    schema = (
        ENCODED_SCHEMA
        if keep_tokens
        else StructType(ENCODED_SCHEMA.fields[:2])
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        ranks = {p: i for i, p in enumerate(tokenizer.merges)}
        # Piece-level memo: natural-language vocabulary repeats heavily
        # (Zipf), so most pieces encode once per partition, not once per
        # occurrence — measured ~6× on the bench corpus.
        memo: dict[str, tuple[str, ...]] = {}
        pat = re.compile(BPE_PATTERN)

        def enc(text: str) -> list[str]:
            out: list[str] = []
            for piece in pat.findall(text):
                got = memo.get(piece)
                if got is None:
                    got = memo[piece] = tokenizer.encode_piece(piece, ranks)
                out.extend(got)
            return out

        for pdf in batches:
            encoded = [enc(t or "") for t in pdf[text_col]]
            out = {
                "doc_id": pdf[id_col].astype("int64"),
                "n_tokens": pd.Series([len(e) for e in encoded], dtype="int64"),
            }
            if keep_tokens:
                out["tokens"] = pd.Series(encoded, dtype="object")
            yield pd.DataFrame(out)

    return docs.select(id_col, text_col).mapInPandas(run, schema)

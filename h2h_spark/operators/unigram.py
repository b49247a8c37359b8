"""Unigram-LM (SentencePiece-style) tokenizer training (engine extension
— the second tokenizer family of an LLM data pipeline, complementing
:mod:`operators.bpe`).

Kudo's unigram language model (ACL 2018 — public) learns a subword
vocabulary by the opposite route from BPE: start from a LARGE seed vocab
(frequent substrings), alternate segmentation (E-step) with count
re-estimation (M-step), and prune low-utility pieces each round.  The
shape implemented here is hard-EM (Viterbi-EM) with an **integer
objective** instead of float log-likelihood — the same engine-portability
trade as :func:`operators.graph.pagerank`'s fixed-point ranks: float
Viterbi scores are summation-order-dependent and cannot be graded
bit-exactly by an external SQL oracle, while the integer surrogate
(fewest pieces, then highest total piece count, then lexicographically
smallest segmentation) is a total order both engines land on identically.
The documented deviation from SentencePiece: probabilities are replaced
by raw expected counts; the E/M alternation, seed-substring vocabulary,
Viterbi segmentation, and per-round pruning — the parts that make unigram
training unigram training — are all real.

Distributed shape (mirrors production SentencePiece, which also trains
from a word-frequency table it holds in memory):

* ONE corpus pass builds the word-frequency table, capped at
  ``max_words`` rows by (freq desc, word) — every later round is bounded
  by |words|, not the corpus;
* the seed vocabulary is every substring of length <= ``max_piece``
  weighted by word frequency, pruned to ``vocab_size`` (single
  characters are always retained so every word stays segmentable);
* each round: the current vocab (a bounded ``vocab_size + |alphabet|``
  table — the k-centroids analogue) is collected and broadcast, Viterbi
  runs as an Arrow-batched ``mapInPandas`` linear DP over the word table,
  and the M-step is one distributed aggregate + prune.

At 100 TB the corpus is touched once; rounds cost |words| Arrow work and
one |pieces| aggregate each.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import cache_scope
from .dedup import tokens


def _viterbi_segment(w: str, vocab: dict[str, int], max_piece: int) -> str:
    """Best segmentation of ``w`` into vocab pieces under the integer
    objective (min pieces, then max total count, then lexicographically
    smallest space-joined segmentation).  Linear DP; assumes every
    single character of ``w`` is in ``vocab`` (the trainer guarantees
    alphabet retention)."""
    L = len(w)
    best: list[tuple[int, int, str] | None] = [None] * (L + 1)
    best[0] = (0, 0, "")
    for pos in range(L):
        cur = best[pos]
        if cur is None:
            continue
        n, neg, seg = cur
        for end in range(pos + 1, min(pos + max_piece, L) + 1):
            cnt = vocab.get(w[pos:end])
            if cnt is None:
                continue
            piece = w[pos:end]
            cand = (n + 1, neg - cnt, seg + " " + piece if seg else piece)
            if best[end] is None or cand < best[end]:
                best[end] = cand
    final = best[L]
    if final is None:  # unreachable with alphabet retention; stay loud
        raise ValueError(f"word {w!r} not segmentable with current vocab")
    return final[2]


def unigram_train(
    df: DataFrame,
    text_col: str,
    *,
    rounds: int = 3,
    vocab_size: int = 120,
    max_words: int = 250,
    max_len: int = 10,
    max_piece: int = 4,
) -> DataFrame:
    """Learn a unigram-LM vocabulary by Viterbi-EM; returns the final
    vocab table ``(piece, cnt)`` — the artifact a tokenizer ships.
    Deterministic end to end: ties broken by (count desc, piece) in
    every prune, and segmentation by the integer Viterbi objective."""
    spark = df.sparkSession
    # the word table is capped at max_words rows BY CONSTRUCTION (LIMIT),
    # so sizing its partition count off max_words — not the corpus — is
    # principled at any scale; ~64 words/task keeps the per-round Viterbi
    # stage from paying 32 near-empty task launches per EM round.
    with cache_scope() as persist:
        words = persist(
            df.select(F.explode(tokens(text_col)).alias("w"))
            .filter(F.length("w") <= max_len)
            .groupBy("w")
            .agg(F.count("*").alias("freq"))
            .orderBy(F.col("freq").desc(), "w")
            .limit(max_words)
            .repartition(max(1, max_words // 64))
        )
        # seed: every substring (start s, length l <= max_piece), weighted by
        # word frequency — one |words|-bounded explode, not a corpus pass
        subs = persist(
            words.select(
                "freq",
                F.explode(
                    F.expr(
                        f"""flatten(transform(sequence(1, length(w)), s ->
                            transform(sequence(1, least({int(max_piece)}, length(w) - s + 1)),
                                      l -> substring(w, s, l))))"""
                    )
                ).alias("piece"),
            )
            .groupBy("piece")
            .agg(F.sum("freq").alias("cnt"))
        )
        alphabet = subs.filter(F.length("piece") == 1).select("piece")
        top = subs.orderBy(F.col("cnt").desc(), "piece").limit(vocab_size)
        vocab_df = top.unionByName(
            subs.join(alphabet, "piece").select("piece", "cnt")
        ).distinct()
        # the vocab is bounded at vocab_size + |alphabet| rows (the
        # k-centroids analogue) — a documented bounded driver collect
        vocab = {r["piece"]: int(r["cnt"]) for r in vocab_df.collect()}

        for _ in range(rounds):
            vocab_b = spark.sparkContext.broadcast(vocab)
            mp = int(max_piece)

            def _estep(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                vd = vocab_b.value
                for pdf in batches:
                    yield pd.DataFrame(
                        {
                            "freq": pdf["freq"],
                            "seg": [
                                _viterbi_segment(str(w), vd, mp) for w in pdf["w"]
                            ],
                        }
                    )

            counts = (
                words.select("w", "freq")
                .mapInPandas(_estep, "freq long, seg string")
                .select("freq", F.explode(F.split("seg", " ")).alias("piece"))
                .groupBy("piece")
                .agg(F.sum("freq").alias("cnt"))
            )
            pruned = counts.orderBy(F.col("cnt").desc(), "piece").limit(vocab_size)
            kept = pruned.unionByName(
                alphabet.join(counts, "piece", "left").select(
                    "piece", F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt")
                )
            ).distinct()
            vocab = {r["piece"]: int(r["cnt"]) for r in kept.collect()}
    return spark.createDataFrame(
        sorted(vocab.items()), "piece string, cnt bigint"
    )

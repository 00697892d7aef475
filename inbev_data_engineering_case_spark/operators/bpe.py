"""Distributed byte-pair-encoding: train merge rules on a corpus and
tokenize with them — the real subword tokenizer the training pipeline's
token budgets ultimately come from (``textops.bpe_token_count`` is the
cheap regex proxy; this is the genuine algorithm).

Scale shape (the industrial one, cf. the original BPE formulation):

- The corpus is scanned ONCE: tokenize → explode → word-frequency
  vocabulary. Everything after runs on the vocab table, which grows
  sublinearly with the corpus (Heaps' law) — at 100 TB the vocab is
  millions of rows, not billions of documents.
- Each round is one pair-count aggregation over the vocab
  (adjacent-pair explode weighted by word frequency → groupBy → ranked
  top) plus one merge application, and learns up to ``batch_size``
  pairwise-disjoint merges (standard batched BPE — ``_select_batch``):
  a 32k-merge production vocab is ~32k/K rounds, not 32k sequential
  Spark jobs. The per-round collect is a few driver-sized rows — the
  same model-state move as Lloyd's k-means in
  ``similarity.train_ivf_centroids``.
- Merge application rewrites the symbol arrays via Arrow-batched
  ``mapInPandas`` — the documented exception to the no-Python-UDF policy
  (like multimodal decode): left-to-right greedy pair merging is
  sequential within a word, which Spark's higher-order array functions
  can't express. Batches are vocab rows (small), never corpus rows.
- Lineage is truncated per round (``session.materialize``), exactly like the
  components loop — round N's plan must not replay rounds 1..N-1.
- Tokenizing a corpus afterward is a single ``mapInPandas`` pass with the
  learned merge list shipped in the task closure (it is a model artifact
  of KBs–MBs, broadcast by Spark's task serialization).

End-of-word marker ``</w>`` follows the classic formulation so merges
distinguish word-final from word-internal pairs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inbev_data_engineering_case_spark.functions import tokens
from inbev_data_engineering_case_spark.session import materialize

EOW = "</w>"


def build_word_vocab(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """One corpus pass → (word, n) frequency vocabulary over lowercased
    whitespace tokens. This is the only stage that touches corpus-sized
    data; its shuffle carries one row per distinct word."""
    return (
        docs.select(
            F.explode(tokens(F.lower(F.col(text_col)))).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def _merge_seq(seq: list, left: str, right: str) -> list:
    """Greedy left-to-right merge of adjacent (left, right) into one
    symbol — the sequential step Spark arrays can't express."""
    out, i, merged = [], 0, left + right
    while i < len(seq):
        if i + 1 < len(seq) and seq[i] == left and seq[i + 1] == right:
            out.append(merged)
            i += 2
        else:
            out.append(seq[i])
            i += 1
    return out


def _apply_merges(
    vocab_syms: DataFrame, rules: list[tuple[str, str]]
) -> DataFrame:
    """Rewrite every vocab row's symbol array under an ordered list of
    merge rules in ONE Arrow-batched pass (rows are vocab entries, not
    documents). Rules apply sequentially within each word, so a batch of
    pairwise-disjoint rules is exactly equivalent to applying them in
    ``len(rules)`` separate Spark jobs."""
    schema = vocab_syms.schema

    def apply(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            batch = batch.copy()
            out = []
            for s in batch["syms"]:
                seq = list(s)
                for left, right in rules:
                    seq = _merge_seq(seq, left, right)
                out.append(seq)
            batch["syms"] = out
            yield batch

    return vocab_syms.mapInPandas(apply, schema=schema)


def _select_batch(
    ranked_pairs: list, k: int
) -> list[tuple[str, str]]:
    """Greedy top-K NON-OVERLAPPING batch selection from pairs ranked by
    (count desc, left, right). A pair (l, r) is admitted only if applying
    the batch's earlier merges cannot change its count: an instance of
    (l, r) overlaps an instance of an earlier (a, b) only when ``r == a``
    (…l a b… — the a is consumed) or ``l == b`` (a b r… — the b is
    consumed), so those are the exclusions — sharing left-with-left
    (e·s / e·r) or right-with-right is provably count-invariant and IS
    batched. Operands equal to a merged symbol minted this round are
    also excluded (their counts could only grow mid-batch). Every
    admitted pair's count — and therefore its min_pair_count admission —
    is thus exactly the count sequential BPE would have seen at its
    turn. The approximation (standard batched BPE) is only that pairs
    built FROM this round's new symbols wait for the next round's count;
    selection within a round can't see them."""
    selected: list[tuple[str, str]] = []
    lefts: set[str] = set()
    rights: set[str] = set()
    minted: set[str] = set()
    for row in ranked_pairs:
        if len(selected) == k:
            break
        left, right = row["left"], row["right"]
        if (
            right in lefts
            or left in rights
            or left in minted
            or right in minted
        ):
            continue
        selected.append((left, right))
        lefts.add(left)
        rights.add(right)
        minted.add(left + right)
    return selected


def train_bpe_with_stats(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    min_pair_count: int = 2,
    batch_size: int = 1,
) -> tuple[list[tuple[str, str]], int]:
    """``train_bpe`` returning ``(merges, rounds)`` — the round count is
    the number of (pair-count aggregation + merge application) Spark-job
    cycles, the quantity batching exists to cut."""
    vocab = build_word_vocab(docs, text_col)
    syms = materialize(
        vocab.select(
            F.concat(
                F.split(F.col("word"), ""), F.array(F.lit(EOW))
            ).alias("syms"),
            "n",
        ),
        eager=False,
    )
    merges: list[tuple[str, str]] = []
    rounds = 0
    while len(merges) < n_merges:
        rounds += 1
        k = min(batch_size, n_merges - len(merges))
        pairs = syms.select(
            F.posexplode(F.slice("syms", 1, F.size("syms") - 1)).alias(
                "i", "left"
            ),
            F.col("syms"),
            "n",
        ).select(
            "left",
            F.element_at("syms", F.col("i") + 2).alias("right"),
            "n",
        )
        # over-fetch 4k ranked rows so the greedy non-overlap scan has
        # slack to skip conflicting pairs; still one driver-sized collect
        # per ROUND (k merges), not per merge
        top = (
            pairs.groupBy("left", "right")
            .agg(F.sum("n").alias("cnt"))
            .filter(F.col("cnt") >= min_pair_count)
            .orderBy(F.desc("cnt"), "left", "right")
            .limit(max(4 * k, k))
            .collect()
        )
        if not top:
            break
        batch = _select_batch(top, k)
        merges.extend(batch)
        syms = materialize(_apply_merges(syms, batch), eager=False)
    return merges, rounds


def train_bpe(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    min_pair_count: int = 2,
    batch_size: int = 1,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merge rules from the corpus. Returns the
    ordered merge list (the model). Deterministic: ranking tie-breaks
    lexicographically, so the same corpus always yields the same rules.

    ``batch_size=1`` is classic sequential BPE (exact argmax per merge).
    ``batch_size=K`` learns up to K pairwise-disjoint merges per
    pair-count round (see ``_select_batch``): a production 32k-merge
    vocab becomes ~32k/K aggregation rounds instead of 32k sequential
    Spark jobs — scheduling overhead, not data volume, dominates this
    loop, so cutting rounds is the scale lever. Batched selection is the
    standard batched-BPE approximation: admitted pairs' counts are exact
    (disjointness), but pairs built FROM a new symbol can only be learned
    in a later round.

    Stops early when no adjacent pair reaches ``min_pair_count`` — further
    merges would memorize hapax words."""
    merges, _ = train_bpe_with_stats(
        docs, n_merges, text_col, min_pair_count, batch_size
    )
    return merges


def bpe_tokenize(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    cache_size: int = 1 << 17,
) -> DataFrame:
    """Tokenize a corpus under learned merges → (id, bpe_tokens,
    n_bpe_tokens). One Arrow-batched pass; the merge list rides the task
    closure. Within a task, each distinct word is tokenized once and
    LRU-cached, capped at ``cache_size`` entries — unbounded, a
    long-lived task over a billion-word corpus would accumulate every
    distinct word's tokenization in Python memory, while Zipf means a
    bounded LRU keeps nearly all of the hit rate."""
    from functools import lru_cache

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField(
                "bpe_tokens", T.ArrayType(T.StringType()), True
            ),
            T.StructField("n_bpe_tokens", T.LongType(), True),
        ]
    )
    rules = list(merges)

    def tokenize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        @lru_cache(maxsize=cache_size)
        def encode_word(word: str) -> list[str]:
            seq = list(word) + [EOW]
            for left, right in rules:
                seq = _merge_seq(seq, left, right)
            return seq

        for batch in batches:
            ids, toks_out, counts = [], [], []
            for doc_id, text in zip(batch[id_col], batch[text_col]):
                words = (text or "").lower().split()
                doc_toks: list[str] = []
                for w in words:
                    doc_toks.extend(encode_word(w))
                ids.append(doc_id)
                toks_out.append(doc_toks)
                counts.append(len(doc_toks))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "bpe_tokens": toks_out,
                    "n_bpe_tokens": counts,
                }
            )

    return docs.select(id_col, text_col).mapInPandas(
        tokenize, schema=out_schema
    )

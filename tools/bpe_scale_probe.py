"""BPE training scale probe: vocabulary growth and per-merge round cost
on corpora 1-10x the bench fixture.

The claim it checks: BPE training cost is governed by the VOCABULARY, not
the corpus — the corpus is scanned once (word counting) and every merge
round aggregates over vocab rows only. Replicas rotate 5+-char words (as
in the other probes), which is the adversarial case for this claim: each
replica mints new word forms, so the vocab grows ~linearly with the
multiplier — the pathological ceiling, while real corpora grow
sublinearly (Heaps' law). Even under that ceiling, per-round time should
stay flat (it tracks vocab size, tiny either way) while docs grow 10x.
The merge fingerprint is printed for visibility — it legitimately shifts
with the multiplier here because the rotation's digit suffixes add new
pair mass (e.g. '1</w>'), which is itself evidence the counts are real.

Reported per multiplier: docs, vocab size, corpus-scan time, total train
time for 6 merges, per-round time, and the merge list fingerprint.

Usage: python tools/bpe_scale_probe.py [multiplier ...]  (default: 1 4 10)
       python tools/bpe_scale_probe.py --vocab
           vocab-scale mode: n_merges=500 at batch_size 1/16/64 on the
           sf0.1 corpus, reporting rounds, wall time, and the
           extrapolated Spark-round count for a 32k-merge vocabulary —
           the evidence behind the batched trainer's claim.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.bpe import (
        build_word_vocab,
        train_bpe,
        train_bpe_with_stats,
    )
    from inbev_data_engineering_case_spark.session import get_spark

    vocab_mode = "--vocab" in sys.argv[1:]
    multipliers = [
        int(a) for a in sys.argv[1:] if not a.startswith("--")
    ] or [1, 4, 10]
    spark = get_spark("bpe-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(
        "/root/testdata/sf0.1/documents.parquet"
    ).select("doc_id", "text")

    if vocab_mode:
        # vocab-scale: a production tokenizer learns 32k+ merges; the
        # binding cost is SPARK ROUNDS (each round = one ~vocab-sized
        # collect + one distributed merge apply), so the batched trainer's
        # worth is measured in rounds-per-merge at a real merge budget.
        base = docs.localCheckpoint()
        n = 500
        target = 32_000
        for bs in (1, 16, 64):
            t0 = time.perf_counter()
            merges, rounds = train_bpe_with_stats(
                base, n_merges=n, batch_size=bs
            )
            dt = time.perf_counter() - t0
            eff = len(merges) / max(rounds, 1)
            print(
                f"vocab-scale: batch_size={bs} merges={len(merges)} "
                f"rounds={rounds} wall={dt:.1f}s "
                f"merges_per_round={eff:.1f} "
                f"extrapolated_rounds_at_{target}={int(target / eff):,}",
                flush=True,
            )
        spark.stop()
        return

    for mult in multipliers:
        corpus = None
        for r in range(mult):
            text = (
                F.col("text")
                if r == 0
                else F.regexp_replace("text", r"(\w{5,})", f"$1{r}")
            )
            rep = docs.select(
                (F.col("doc_id") + r * 1_000_000).alias("doc_id"),
                text.alias("text"),
            )
            corpus = rep if corpus is None else corpus.unionByName(rep)
        corpus = corpus.localCheckpoint()
        n_docs = corpus.count()

        t0 = time.perf_counter()
        n_vocab = build_word_vocab(corpus).count()
        t_scan = time.perf_counter() - t0

        t0 = time.perf_counter()
        merges = train_bpe(corpus, n_merges=6)
        t_train = time.perf_counter() - t0

        fp = "|".join(a + b for a, b in merges)
        print(
            f"mult={mult}: docs={n_docs} vocab={n_vocab} "
            f"scan={t_scan:.1f}s train6={t_train:.1f}s "
            f"per_round={t_train / max(len(merges), 1):.2f}s "
            f"merges={fp}",
            flush=True,
        )

    # batched-BPE probe: the scheduling-overhead cut. Classic sequential
    # training runs one (count + apply) Spark cycle per merge; batched
    # learns up to K disjoint merges per cycle — same corpus, same merge
    # budget, >=5x fewer rounds. Also reports how many of the classic
    # merges the batched list reproduces (batched defers pairs built on
    # this round's new symbols; on real corpora the lists largely agree).
    base = docs.localCheckpoint()
    n = 16
    t0 = time.perf_counter()
    seq_merges, seq_rounds = train_bpe_with_stats(base, n_merges=n)
    t_seq = time.perf_counter() - t0
    t0 = time.perf_counter()
    bat_merges, bat_rounds = train_bpe_with_stats(
        base, n_merges=n, batch_size=8
    )
    t_bat = time.perf_counter() - t0
    shared = len(set(seq_merges) & set(bat_merges))
    print(
        f"batched-BPE: merges={n} sequential_rounds={seq_rounds} "
        f"({t_seq:.1f}s) batched_rounds={bat_rounds} ({t_bat:.1f}s) "
        f"round_reduction={seq_rounds / max(bat_rounds, 1):.1f}x "
        f"shared_merges={shared}/{n}",
        flush=True,
    )

    spark.stop()


if __name__ == "__main__":
    main()

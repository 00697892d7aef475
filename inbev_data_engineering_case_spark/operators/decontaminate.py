"""Benchmark decontamination: find (and drop) training documents that
overlap an evaluation/benchmark set by word n-grams.

The standard LLM-pipeline hygiene step (the reference has no analogue; this
extends the training-data operator family of SURVEY.md §7.2): a training
corpus is "contaminated" where it contains any n-gram (n=8 words is the
common published choice) that also appears in a held-out benchmark. At
100 TB the only viable shape is the one implemented here:

- The benchmark side is SMALL by construction (eval sets are 10²-10⁵
  short rows). Its distinct n-gram hashes are computed once and
  **broadcast** — the corpus is never shuffled against it.
- The corpus side is a single projection pass: tokenize → n-gram windows →
  60-bit portable hash → explode. Narrow rows (id + 8-byte hash) feed a
  broadcast hash join that filters to contaminated grams immediately, so
  the only exchange in the plan carries *matches only* (≈0 rows for a
  clean corpus) into the per-document count.
- Hashes default to ``portable_hash64`` (md5-based) so the DuckDB
  oracle computes the identical join keys — any collision behaves
  identically in both engines. Pass ``portable=False`` in production for
  ``xxhash64``: same plan shape, ~3x cheaper per gram on the corpus-side
  pass that dominates the job at 100 TB (no oracle needs to reproduce it
  there).

``decontaminate`` then drops flagged docs with a left-anti join against
the (tiny) report — again broadcast, again shuffle-free for the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inbev_data_engineering_case_spark.functions import (
    portable_hash64,
    word_ngrams,
)
from inbev_data_engineering_case_spark.session import materialize

DEFAULT_NGRAM_WORDS = 8


def _gram_hash(col: str, portable: bool):
    return portable_hash64(col) if portable else F.xxhash64(col)


def _gram_hash_sql(expr: str, portable: bool) -> str:
    from inbev_data_engineering_case_spark.functions import (
        portable_hash64_spark_sql,
    )

    return (
        portable_hash64_spark_sql(expr)
        if portable
        else f"xxhash64({expr})"
    )


def benchmark_ngram_hashes(
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM_WORDS,
    portable: bool = True,
) -> DataFrame:
    """Distinct 60-bit hashes of every lowercased word n-gram in the
    benchmark set → single-column ``gram_h`` DataFrame. Small enough to
    broadcast; persist it when scanning multiple corpus shards.

    Built as SQL text parsed once per projection (r16 — the
    score_documents/minhash discipline): identical parsed tree, ~10× less
    driver-side py4j plan-build per run."""
    from inbev_data_engineering_case_spark.functions import (
        require_default_string_escapes,
        sql_ident,
        word_ngrams_spark_sql,
    )

    require_default_string_escapes(
        benchmark.sparkSession, "benchmark_ngram_hashes"
    )
    grams = word_ngrams_spark_sql(f"lower({sql_ident(text_col)})", n)
    return (
        benchmark.selectExpr(f"explode({grams}) AS gram")
        .selectExpr(f"{_gram_hash_sql('gram', portable)} AS gram_h")
        .distinct()
    )


def contamination_report(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = DEFAULT_NGRAM_WORDS,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable: bool = True,
) -> DataFrame:
    """Per-document contamination: ``(id_col, matched_ngrams)`` for every
    training document sharing ≥1 word n-gram with the benchmark, where
    ``matched_ngrams`` counts the document's *distinct* overlapping grams
    (``array_distinct`` before the explode, so repeated phrases within one
    document don't inflate the count).

    The corpus side inherits the signature stages' parallelism guard
    (``dedup._ensure_parallelism``): the gram pass is compute-bound per
    row (tokenize → n-gram windows → md5 per gram), so a small input
    file would otherwise pin it to 1-2 cores (measured 3.2s single-core
    vs 0.5s guarded on the sf0.1 fixture); at cluster scan sizes the
    guard is a metadata-only no-op (r15 optimization round, guide §2)."""
    from inbev_data_engineering_case_spark.functions import (
        require_default_string_escapes,
        sql_ident,
        word_ngrams_spark_sql,
    )
    from inbev_data_engineering_case_spark.operators.dedup import (
        _ensure_parallelism,
    )

    require_default_string_escapes(
        documents.sparkSession, "contamination_report"
    )
    bench = benchmark_ngram_hashes(benchmark, text_col, n, portable)
    grams = word_ngrams_spark_sql(f"lower({sql_ident(text_col)})", n)
    doc_grams = (
        _ensure_parallelism(documents)
        .selectExpr(
            sql_ident(id_col),
            f"explode(array_distinct({grams})) AS gram",
        )
        .selectExpr(
            sql_ident(id_col),
            f"{_gram_hash_sql('gram', portable)} AS gram_h",
        )
    )
    return (
        doc_grams.join(F.broadcast(bench), "gram_h")
        .groupBy(id_col)
        .agg(F.count("*").alias("matched_ngrams"))
    )


def boilerplate_report(
    documents: DataFrame,
    n: int = 5,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable: bool = True,
    broadcast_hot: bool = True,
) -> DataFrame:
    """Cross-corpus boilerplate profiling (C4/RefinedWeb-style hygiene —
    headers, footers, license blurbs shared verbatim across pages): for
    each document, how much of it is word n-grams that also appear in at
    least ``min_docs - 1`` OTHER documents.

    Returns ``(id_col, n_grams, n_hot, boiler_ppm)`` over documents with
    ≥ n words (shorter docs have no n-gram and no row); ``boiler_ppm =
    n_hot * 1e6 div n_grams`` in exact int64.

    Scale shape: grams are DISTINCT per document before the explode, so
    the gram-keyed exchange carries one (doc, gram-hash) row per distinct
    gram — 8-byte keys, never gram text. The "hot" set (grams in ≥
    min_docs docs) is derived by a partial-aggregated count over that
    exchange and is SMALL for real corpora (true boilerplate vocabulary,
    not the gram universe) — it broadcasts back onto the gram stream, so
    the per-document re-aggregation is the only second exchange. For a
    corpus whose hot set is too big to broadcast (pathologically
    templated data), ``broadcast_hot=False`` keeps the same plan with a
    planner-decided shuffle join; both exchanges hash on ``gram_h``, so
    AQE aligns them.

    The gram stream has TWO consumers (hot-set aggregation + the
    per-doc join), so it is materialized once — without this the
    tokenize→shingle→hash subtree, the dominant cost, runs twice
    (measured 10.1s → 4.5s at sf0.1).
    """
    from inbev_data_engineering_case_spark.operators.dedup import (
        _ensure_parallelism,
    )

    grams = materialize(
        _ensure_parallelism(documents).select(
            F.col(id_col),
            F.explode(
                F.array_distinct(word_ngrams(F.lower(F.col(text_col)), n))
            ).alias("gram"),
        ).select(id_col, _gram_hash("gram", portable).alias("gram_h")),
        eager=False,
    )
    hot = (
        grams.groupBy("gram_h")
        .agg(F.count("*").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("gram_h", F.lit(1).alias("_hot"))
    )
    if broadcast_hot:
        hot = F.broadcast(hot)
    return (
        grams.join(hot, "gram_h", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("_hot"), F.lit(0)))
            .cast("bigint")
            .alias("n_hot"),
        )
        .withColumn("boiler_ppm", F.expr("(n_hot * 1000000) div n_grams"))
    )


def decontaminate(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = DEFAULT_NGRAM_WORDS,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable: bool = True,
) -> DataFrame:
    """The corpus with contaminated documents removed: left-anti join
    against the contamination report. The report is tiny (flagged docs
    only), so the anti join broadcasts and the corpus passes through
    without a shuffle. ``curate_corpus(halo_hops=...)`` extends the drop
    set transitively over the pipeline's own near-dup pair graph."""
    flagged = contamination_report(
        documents, benchmark, n, id_col, text_col, portable
    ).select(id_col)
    return documents.join(F.broadcast(flagged), id_col, "left_anti")


def semantic_contamination(
    corpus_emb: DataFrame,
    bench_emb: DataFrame,
    threshold: float = 0.9,
    num_planes: int = 8,
    n_probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space contamination: ``(corpus_id, bench_id, sim)`` for
    every corpus vector within cosine ``threshold`` of a benchmark
    vector — the SEMANTIC complement of the n-gram overlap check above
    (paraphrased eval questions share no 8-gram but sit next to the
    original in embedding space).

    Same scale shape as the n-gram path: the benchmark side is an eval
    set (thousands of vectors) and BROADCASTS with its sign-LSH bucket
    ids, so the corpus never shuffles — one scan, bucket-equi-join
    against the broadcast, cosine verify on same-bucket candidates
    only (never all-pairs). ``n_probes`` re-buckets under independent
    hyperplane seeds for recall, exactly like
    ``dedup.embedding_near_dup_pairs``; no hot-bucket guard is needed
    because the broadcast join never exchanges on the bucket key.
    """
    from inbev_data_engineering_case_spark.functions import cosine
    from inbev_data_engineering_case_spark.operators.similarity import (
        _vec_dim,
        signlsh_bucket,
    )

    dim = _vec_dim(corpus_emb, vec_col)  # literal plane weights (r15)
    per_probe = []
    for seed in range(n_probes):
        c = corpus_emb.select(
            F.col(id_col).alias("corpus_id"),
            F.col(vec_col).alias("_cv"),
            signlsh_bucket(
                vec_col, num_planes, seed=seed, dim=dim
            ).alias("bucket"),
        )
        b = bench_emb.select(
            F.col(id_col).alias("bench_id"),
            F.col(vec_col).alias("_bv"),
            signlsh_bucket(
                vec_col, num_planes, seed=seed, dim=dim
            ).alias("bucket"),
        )
        sim = F.round(cosine(F.col("_cv"), F.col("_bv")), 6)
        per_probe.append(
            c.join(F.broadcast(b), "bucket")
            .select("corpus_id", "bench_id", sim.alias("sim"))
            .filter(F.col("sim") >= threshold)
        )
    pairs = per_probe[0]
    for p in per_probe[1:]:
        pairs = pairs.unionByName(p)
    if n_probes > 1:  # a pair caught by several probes reports once
        pairs = pairs.dropDuplicates(["corpus_id", "bench_id"])
    return pairs

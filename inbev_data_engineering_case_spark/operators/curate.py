"""End-to-end training-corpus curation: the composition a 100 TB data
pipeline actually runs, built from the operator library —

    documents → language filter → quality filter → exact dedup
              → MinHash near-dedup → connected components → keep-list
              → curated corpus

plus the INCREMENTAL form: dedupe a new crawl against an existing corpus's
stored signature table without re-reading the corpus text.

Scale shape:
- the lang/quality stage is pure Column expressions (one codegen'd scan);
- exact dedup shuffles 8-byte fingerprints; near-dedup shuffles band keys;
- the keep-list join is a broadcast (keep-lists of duplicate ids are tiny
  relative to the corpus) or a shuffle join on doc_id when they aren't;
- incremental dedup joins new signatures against the stored signature
  table on band keys — the corpus side is read from its (bucketed)
  signature table, so a daily crawl never re-hashes the historical corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inbev_data_engineering_case_spark.operators.dedup import (
    DEFAULT_NUM_HASHES,
    DEFAULT_SHINGLE_WORDS,
    _MINHASH_EST,
    _bucket_pairs,
    _ensure_parallelism,
    _minhash_bands,
    dedup_components,
    dedup_components_incremental,
    exact_dedup,
    minhash_dedup_pairs,
    minhash_signatures,
)
from inbev_data_engineering_case_spark.operators.textops import (
    score_documents,
)
from inbev_data_engineering_case_spark.session import materialize


def _resolve_bloom_bits(
    left: DataFrame,
    keys: DataFrame,
    bloom_prefilter_bits: int | str | None,
) -> int | None:
    """``"auto"`` → a size-gated bit count (or None when the plain
    join wins: keys broadcastable, or fact under the amortization
    floor — ``joins.auto_bloom_bits``); int/None pass through."""
    if bloom_prefilter_bits != "auto":
        if isinstance(bloom_prefilter_bits, str):
            raise ValueError(
                "bloom_prefilter_bits must be an int, None, or the"
                f" literal string 'auto'; got {bloom_prefilter_bits!r}"
            )
        return bloom_prefilter_bits
    from inbev_data_engineering_case_spark.operators.joins import (
        auto_bloom_bits,
    )

    return auto_bloom_bits(left, keys)


def _keep_semi(
    left: DataFrame,
    keep: DataFrame,
    id_col: str,
    bloom_prefilter_bits: int | str | None,
) -> DataFrame:
    """The pipeline's keep-join in one place: a plain left-semi, or the
    Bloom-prefiltered exact form when ``bloom_prefilter_bits`` is set
    (same rows either way — the prefilter only slims the corpus-side
    shuffle when the keep list can't broadcast). ``"auto"`` gates on
    plan-stats selectivity per join (``_resolve_bloom_bits``)."""
    bits = _resolve_bloom_bits(left, keep, bloom_prefilter_bits)
    if bits is None:
        return left.join(keep, on=id_col, how="left_semi")
    from inbev_data_engineering_case_spark.operators.joins import (
        bloom_semi_join,
    )

    return bloom_semi_join(left, keep, id_col, num_bits=bits)


def _drop_anti(
    left: DataFrame,
    drop: DataFrame,
    id_col: str,
    bloom_prefilter_bits: int | str | None,
) -> DataFrame:
    """The pipeline's drop-join twin of ``_keep_semi``: a plain
    left-anti, or ``joins.bloom_anti_join`` when the prefilter is
    engaged — rows the bitmap CLEARS (provably not in the drop list)
    bypass the exact join entirely, so at scale the anti-join shuffle
    carries only true drops + fp·rest instead of every kept row.
    Result identical either way (false positives die in the exact
    anti join, false negatives cannot exist).

    The anti form evaluates ``left`` twice (cleared + might
    branches); every pipeline call site feeds a materialized
    frame, and ``bloom_anti_join``'s ``pin_lineage="auto"`` guard
    additionally pins any nondeterministic lineage it is handed — the
    dual-consumer determinism requirement documented at its
    definition."""
    bits = _resolve_bloom_bits(left, drop, bloom_prefilter_bits)
    if bits is None:
        return left.join(drop, on=id_col, how="left_anti")
    from inbev_data_engineering_case_spark.operators.joins import (
        bloom_anti_join,
    )

    return bloom_anti_join(left, drop, id_col, num_bits=bits)


def curate_corpus(
    documents: DataFrame,
    languages: tuple[str, ...] = ("en",),
    min_quality: float = 0.3,
    near_dup_threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    benchmark: DataFrame | None = None,
    decontaminate_ngram: int = 8,
    max_docs_per_source: int | None = None,
    source_col: str = "source",
    bloom_prefilter_bits: int | str | None = None,
    split_weights: dict[str, float] | None = None,
    split_salt: str = "split",
    split_buckets: int = 10_000,
    split_threshold: float | None = None,
    classifier_model: DataFrame | None = None,
    min_score_micro: int = 0,
    halo_hops: int | None = None,
) -> DataFrame:
    """Full curation pass returning the kept documents with their curation
    metadata (lang, quality). Survivor policy is deterministic end to end:
    exact dedup keeps min id per fingerprint; near-dup clusters keep the
    component id (= min doc id in the cluster).

    ``split_weights`` (default None = off) appends a leakage-safe
    train/val/test ``split`` column. With ``split_threshold=None`` the
    guarantee comes FREE: near-dedup already collapsed every cluster
    to exactly one survivor (the components run is upgraded to
    ``require_convergence=True``, so minimal labels make "one rep per
    cluster" a guarantee, not a hope), which means every kept document
    IS its own cluster representative and the cluster-keyed assignment
    provably equals the plain deterministic ``hash_split`` keyed by
    id — the pipeline keys directly and skips the no-op join, while
    staying row-identical to standalone ``leakage_safe_split(kept,
    pairs)`` (parity-tested).

    ``split_threshold`` (must be ≤ ``near_dup_threshold``) is where
    the composed split earns its keep: pairs are generated ONCE at
    the looser threshold (banding is threshold-independent, so the
    signature/banding pass is shared), the dedup drop list uses the
    ``near_dup_threshold`` subset, and the split keys by the
    components of the FULL loose graph — documents similar enough to
    leak (est_jaccard in [split_threshold, near_dup_threshold)) but
    not similar enough to dedup are then guaranteed one split, the
    case a post-dedup split cannot see. One extra pair-node-sized
    components run; the corpus is never re-hashed.

    Passing an eval/benchmark set adds a decontamination stage between the
    filters and the dedups: documents sharing any ``decontaminate_ngram``
    word n-gram with ``benchmark`` are dropped. It runs after the cheap
    lang/quality predicate (fewer docs to n-gram-hash) and before the
    materialization barrier, so the n-gram pass still happens exactly
    once.

    The scored-eligible corpus and the near-dedup signature table are
    shared across their consumers through ``session.materialize``: the
    cluster-safe swap (parquet scratch table instead of executor-local
    blocks) is the session's checkpoint dir, not a code edit.

    ``max_docs_per_source`` (default None = off) appends the
    RefinedWeb §3.1-style domain cap (``sample.cap_per_source``) as
    the LAST stage: at most that many documents per ``source_col``
    survive, the highest-quality ones (deterministic rank:
    quality rounded to 6 decimals DESC, id ASC). Capping runs AFTER
    the dedup chain so duplicates cannot consume quota slots, and it
    reuses the pipeline's one-pass quality score (``quality_col`` —
    no second tokenization scan); the kept set is identical to
    standalone ``cap_per_source`` over the deduped corpus
    (identity-tested). When capping, ``source_col`` is carried through
    the scoring projection and appears in the output.

    ``bloom_prefilter_bits`` (default None = off) routes the three
    id-keyed keep-joins (classifier keep list, exact-dedup survivors,
    cap winners) through ``joins.bloom_semi_join`` AND the near-dedup
    drop-join through ``joins.bloom_anti_join``: the corpus side
    probes a compact bitmap before the exact join, so when the
    keep/drop list is too big to broadcast, the corpus-side shuffle
    carries only (true matches + fp·rest) rows instead of everything.
    The kept set is hash-identical to the plain pipeline at ANY bit
    count (identity-tested) — false positives die in the exact join,
    false negatives cannot exist — so sizing (``≈ 10·|key list|`` for
    ~1% fp) affects throughput only. Builds past 2^23 bits bank
    automatically (``joins.bloom_filter_build``).

    ``classifier_model`` (default None = off) adds a model-based
    quality gate after the cheap predicates: every eligible document is
    scored against the trained hashed-BOW model
    (``classify.score_bow_classifier`` — a ``train_bow_classifier``/
    ``bow_weights_from_counts`` table) and kept iff ``score_micro >=
    min_score_micro``. Scores are exact integers, so the threshold is
    deterministic across engines and re-runs. This is the
    RefinedWeb/FineWeb-style learned filter composed where the
    heuristics end and before any dedup work is spent on documents
    the model would drop.

    ``halo_hops`` (default None = off; requires ``benchmark``) upgrades
    the decontamination stage to the TRANSITIVE contamination-halo
    guard: the direct n-gram flags are computed at the same spot but
    the drop is deferred — flagged documents stay in the corpus through
    the dedup chain so they appear as nodes in the pipeline's OWN
    near-dup pair graph, then a multi-source BFS seeds from the flags
    and every kept document within ``halo_hops`` near-dup hops of one
    is dropped alongside them (a paraphrase of a contaminated document
    shares no 8-gram with the benchmark but sits one pair-edge away
    from a document that does). EXACTLY ONE pairs computation: the BFS
    walks the same (materialized) pair table the dedup components run
    consumes — the ``split_threshold`` reuse discipline. Use
    ``halo_hops >= 1``: at 0 the drop set is the direct flags alone,
    but near-dup twins a flagged document shadowed in dedup are
    dropped with their representative (they are 1-hop contaminated by
    construction — the halo at >= 1 makes that principled). Equals the
    composed ``contamination_report`` → ``graph.multi_source_bfs`` chain
    over the same graph (parity-tested).

    ``bloom_prefilter_bits="auto"`` gates each join on plan-stats
    selectivity (``joins.auto_bloom_bits``): the prefilter engages
    only when the key list exceeds the broadcast threshold AND the
    corpus side clears the ~1 GiB amortization floor, with bits sized
    from the estimated key count. Below the crossover — e.g. the
    whole sf0.1 bench — "auto" resolves to the plain plan, so small
    runs never pay the bitmap build the r10 bench measured at 13%;
    at the 100 TB design point both gates flip on. ``"auto"`` is the
    recommended production setting."""
    # score_documents: one tokenization pass for lang + quality (the
    # standalone expressions would re-split the text per reference);
    # the cap stage needs the source column, carried as a pure
    # projection passthrough
    scored = score_documents(
        documents,
        text_col,
        id_col,
        extra_cols=(
            (source_col,) if max_docs_per_source is not None else ()
        ),
    )
    eligible = scored.filter(
        F.col("lang").isin(*languages) & (F.col("quality") >= min_quality)
    )
    if halo_hops is not None and benchmark is None:
        raise ValueError(
            "curate_corpus: halo_hops requires benchmark (the halo"
            " seeds are the direct n-gram contamination flags)"
        )
    halo_seeds = None
    pre_materialized = False
    if benchmark is not None:
        from inbev_data_engineering_case_spark.operators.decontaminate import (
            contamination_report,
            decontaminate,
        )

        if halo_hops is None:
            eligible = decontaminate(
                eligible, benchmark, n=decontaminate_ngram,
                id_col=id_col, text_col=text_col,
            )
        else:
            # halo mode: flags are computed HERE (on the same
            # lang/quality-eligible corpus the plain stage would drop
            # from — a contaminated document later removed by the
            # classifier filter still seeds its halo) but the drop is
            # deferred past the dedup chain, so flagged documents
            # appear as nodes in the pipeline's own pair graph. The
            # report is a second consumer of `eligible` — materialize
            # first (the classifier stage's discipline).
            eligible = materialize(eligible, eager=False)
            pre_materialized = True
            halo_seeds = contamination_report(
                eligible, benchmark, n=decontaminate_ngram,
                id_col=id_col, text_col=text_col,
            ).select(id_col)
    if classifier_model is not None:
        from inbev_data_engineering_case_spark.operators.classify import (
            score_bow_classifier,
        )

        # model-based quality gate (after the cheap predicates, before
        # the dedup chain): score against the TRAINED hashed-BOW model
        # (``classify.py`` — weights broadcast, exact integer scores)
        # and keep documents at or above ``min_score_micro``. Scoring
        # + the keep-join read `eligible` twice — materialize first.
        eligible = materialize(eligible, eager=False)
        keep_clf = (
            score_bow_classifier(
                eligible.select(id_col, text_col),
                classifier_model,
                text_col=text_col,
                id_col=id_col,
            )
            .filter(F.col("score_micro") >= min_score_micro)
            .select(id_col)
        )
        eligible = _keep_semi(
            eligible, keep_clf, id_col, bloom_prefilter_bits
        )
        pre_materialized = False
    # Three downstream consumers read `eligible` (exact-dedup keep list,
    # near-dedup signatures, final keep anti-join): without materializing
    # it once, each consumer re-runs the full corpus scan + lang/quality
    # scoring (+ decontamination) — three 100 TB passes instead of one.
    if split_threshold is not None:
        if split_weights is None:
            raise ValueError(
                "curate_corpus: split_threshold without split_weights"
                " has no effect — pass split_weights to emit the split"
            )
        if split_threshold > near_dup_threshold:
            raise ValueError(
                "curate_corpus: split_threshold"
                f" ({split_threshold}) must not exceed"
                f" near_dup_threshold ({near_dup_threshold}) — the"
                " loose split graph must CONTAIN the dedup graph"
            )
    if not pre_materialized:  # the halo stage may have done it already
        eligible = materialize(eligible, eager=False)
    _, final, split_clusters, dedup_pairs = _dedup_chain(
        eligible, text_col, id_col, near_dup_threshold,
        bloom_prefilter_bits=bloom_prefilter_bits,
        require_convergence=split_weights is not None,
        # the validation above already rejected split_threshold
        # without split_weights, so this forwards verbatim
        split_threshold=split_threshold,
        materialize_pairs=halo_seeds is not None,
    )
    if halo_seeds is not None:
        from inbev_data_engineering_case_spark.operators.graph import (
            multi_source_bfs,
        )

        # the deferred decontamination drop, halo-extended: BFS from
        # the direct flags over the pipeline's OWN dedup-threshold pair
        # graph (materialized once above — the components run and this
        # walk read the same table), then drop every node within
        # halo_hops. Runs BEFORE the cap so contaminated documents
        # never consume quota slots (the plain stage's ordering).
        halo_nodes = multi_source_bfs(
            dedup_pairs.select(
                F.col("id_a").alias("src"), F.col("id_b").alias("dst")
            ),
            halo_seeds,
            max_hops=halo_hops,
        ).select(F.col("node").alias(id_col))
        final = _drop_anti(final, halo_nodes, id_col, bloom_prefilter_bits)
    if max_docs_per_source is not None:
        from inbev_data_engineering_case_spark.operators.sample import (
            cap_per_source,
        )

        # last stage BY DESIGN: duplicates must not consume quota
        # slots, so the cap ranks the deduped survivors. quality_col
        # reuses the one-pass score (bit-identical to the standalone
        # expression), so the cap costs one hash exchange on source +
        # a rank window — never a second corpus tokenization.
        kept = cap_per_source(
            final,
            max_docs=max_docs_per_source,
            group_col=source_col,
            id_col=id_col,
            text_col=text_col,
            quality_col="quality",
        ).select(id_col)
        final = _keep_semi(final, kept, id_col, bloom_prefilter_bits)
    if split_weights is not None:
        # No clobber guard needed here: the scoring projection already
        # reduced the frame to (id, text, lang, quality[, source]), so
        # no input 'split' column can reach this point.
        if split_threshold is None:
            # PROVABLE identity, so no join: near-dedup (with observed
            # convergence) kept exactly the minimal representative of
            # every cluster, so each surviving row's component key IS
            # its own id — coalesce(comp, id) == id for every kept
            # row, and the cluster-keyed assignment equals the plain
            # hash split keyed by id (parity-tested against standalone
            # leakage_safe_split). Keying directly drops a dead
            # id-keyed join from the plan.
            final = hash_split(
                final, weights=split_weights, id_col=id_col,
                salt=split_salt, buckets=split_buckets,
            )
        else:
            # loose-graph keying: kept documents may genuinely share a
            # component below the dedup threshold — the non-vacuous
            # case — so the representative attaches through the
            # (pair-node-sized) loose components table
            keyed = final.join(
                split_clusters.select(
                    F.col("node").alias(id_col),
                    F.col("comp").alias("_split_key"),
                ),
                on=id_col,
                how="left",
            ).withColumn(
                "_split_key", F.coalesce("_split_key", F.col(id_col))
            )
            final = hash_split(
                keyed, weights=split_weights, id_col="_split_key",
                salt=split_salt, buckets=split_buckets,
            ).drop("_split_key")
    return final


def _dedup_chain(
    eligible: DataFrame,
    text_col: str,
    id_col: str,
    near_dup_threshold: float,
    bloom_prefilter_bits: int | str | None = None,
    require_convergence: bool = False,
    split_threshold: float | None = None,
    materialize_pairs: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame | None, DataFrame]:
    """The shared dedup tail of the curation pipeline: exact fingerprint
    dedup (min-id survivor) then MinHash near-dedup via components.
    Returns ``(after_exact, final, split_clusters)`` — ONE
    implementation consumed by both ``curate_corpus`` and
    ``curation_report``, so the report's funnel counts are structurally
    the pipeline's own cardinalities, not a hand-synchronized copy.

    ``split_threshold`` (None = off) additionally labels the LOOSER
    similarity graph for the leakage-safe split: pairs are generated
    ONCE at ``split_threshold`` (banding is threshold-independent —
    the expensive signature/banding pass is shared), the dedup drop
    list derives from the subset at ``near_dup_threshold``, and
    ``split_clusters`` carries the components of the full loose graph
    — the keying that makes the composed split non-vacuous (documents
    similar enough to leak but not enough to dedup stay in one
    split). None when not requested.

    The returned fourth element is the dedup-threshold pair graph
    itself — the halo composition's edge list. ``materialize_pairs``
    forces the one-materialization discipline when a second consumer
    (the halo BFS) will read it and ``split_threshold`` didn't already
    trigger it."""
    # exact dedup: survivors only (min id per fingerprint)
    exact_keep = exact_dedup(eligible, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    after_exact = materialize(
        _keep_semi(eligible, exact_keep, id_col, bloom_prefilter_bits),
        eager=False,
    )

    # near-dedup: drop every cluster member except the component id
    pair_thresh = (
        near_dup_threshold if split_threshold is None else split_threshold
    )
    pairs = minhash_dedup_pairs(
        after_exact, text_col, id_col, threshold=pair_thresh,
    )
    if split_threshold is None:
        split_clusters = None
        if materialize_pairs:
            # a second consumer (the halo BFS) will read the pair
            # graph beside the components run — 24-byte rows,
            # materialize once (the split branch's discipline)
            pairs = materialize(pairs, eager=False)
        dedup_pairs = pairs
    else:
        # two consumers (dedup subset + loose split graph): pair rows
        # are 24 bytes, materialize once
        pairs = materialize(pairs, eager=False)
        dedup_pairs = pairs.filter(
            F.col("est_jaccard") >= near_dup_threshold
        )
        split_clusters = dedup_components(
            pairs, require_convergence=True
        )
    clusters = dedup_components(  # (node, comp)
        dedup_pairs, require_convergence=require_convergence
    )
    drop = clusters.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias(id_col)
    )
    # the drop side of the prefilter family: after_exact is
    # materialized above, satisfying bloom_anti_join's dual-consumer
    # determinism requirement
    final = _drop_anti(after_exact, drop, id_col, bloom_prefilter_bits)
    return after_exact, final, split_clusters, dedup_pairs


def curate_incremental(
    old_snapshot: DataFrame,
    new_snapshot: DataFrame,
    stored_sigs: DataFrame,
    stored_fps: DataFrame,
    languages: tuple[str, ...] = ("en",),
    min_quality: float = 0.3,
    near_dup_threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    stored_components: DataFrame | None = None,
    artifacts_out: dict | None = None,
    token_budget: dict[str, int] | None = None,
    source_col: str = "source",
) -> DataFrame:
    """The composed daily-crawl pipeline: diff a new snapshot against the
    previous one and curate ONLY the delta against the stored corpus
    artifacts — the historical corpus text is never re-read, re-scored,
    or re-hashed. Returns the newly-kept documents with (id, text, lang,
    quality), the same schema ``curate_corpus`` emits, so the curated
    corpus advances as ``kept ∪ result`` (and the signature/fingerprint
    tables as their unions with the delta's).

    ``token_budget`` (default None = off) is the spend stage applied to
    TODAY'S delta: after every dedup drop, the surviving delta spends
    each ``source_col`` stratum's budget on its best rows
    (``sample.select_within_budget_by_stratum``, exact int64 boundary
    discipline, no global sort), with ``source_col`` carried through the
    scoring projection only when a budget is set. The cost
    is the survivors' in-row character mass — never a second corpus
    scan. Spend is the LAST stage, so a daily loop caps "today's
    emission" in one pass (identity-tested against the standalone
    composition over the same survivors); note budgets are per RUN —
    a multi-day spend ledger is the caller's to keep (subtract
    yesterday's actual spend from tomorrow's budget).

    Stages, each reusing the batch operator it mirrors:

    1. ``layers.snapshot_diff`` finds inserts+updates (deletes are
       ignored: curation keep-decisions are append-only). The exchange
       carries key + 8-byte hash, never documents.
    2. lang/quality scoring on the delta only (one codegen'd scan of the
       delta — the 100 TB corpus is not touched).
    3. exact dedup: delta fingerprints anti-joined against the stored
       fingerprint table (tiny vs corpus: broadcast-able), then min-id
       per fingerprint within the delta.
    4. near-dedup: ``incremental_minhash_pairs`` bands the delta
       signatures against the STORED signature table; connected
       components assign cluster representatives and every delta doc
       that is not its component's min id is dropped.

    Keep-decision parity with ``curate_corpus`` on the full union holds
    when stored ids precede delta ids and delta near-dups link DIRECTLY
    to kept corpus docs (the common case). The documented divergence of
    every append-only incremental dedup: a delta doc whose only
    similarity path to the kept corpus runs THROUGH a previously-dropped
    document may be kept here where a full rebatch would drop it, and a
    delta doc bridging two kept docs never retro-drops either of them.

    ``stored_sigs`` is (id, sig) from ``minhash_signatures`` over the
    kept corpus; ``stored_fps`` any table with the kept corpus's ``fp``
    fingerprint column (``exact_dedup`` output works as-is). An updated
    doc re-enters curation under its (unchanged) id; the self-pair guard
    keeps it from matching its own stale stored signature. Advance the
    stored artifact tables after each run with
    ``advance_corpus_artifacts`` — mode ``"append"`` keeps an updated
    doc's old rows (append-only emission semantics, the default) and
    ``"replace"`` sheds them (current-state semantics); see its
    docstring for when each is right.

    ``stored_components`` (default None) plugs the maintained
    ``(node, comp)`` label artifact into the near-dedup stage: the
    cluster representatives come from
    ``dedup.dedup_components_incremental`` — the delta pairs contract
    through the stored labels and the closure runs on the delta-sized
    meta-graph — instead of a from-scratch ``dedup_components`` over
    the delta pair graph. Keep decisions are identical under the
    SAME id discipline the batch-parity note above states (stored ids
    precede delta ids): any delta doc linked to a stored node loses
    the min to that node's id in the plain path and to its (never
    larger) label in the contracted path — dropped either way — and a
    stored-free component sees identical graphs. Parity-tested,
    including a dropped bridge doc merging two kept clusters (after
    which a kept doc's label is no longer its own id — the labels
    REMEMBER the merge). When ids are NOT ascending the two paths can
    genuinely differ, and the contracted one is the safer: a delta
    doc whose id undercuts an emitted near-dup cluster's members is
    dropped here (it duplicates emitted content) where the plain
    per-day closure would crown it a "new" representative and re-emit
    it. Beyond semantics, the closure's iteration count is bounded by
    the DELTA's structure alone, and the loop gets a maintained
    global labeling to advance instead of a per-day throwaway.

    ``artifacts_out`` (default None) — pass a dict and the run
    deposits ``artifacts_out["pairs"]``: today's (materialized) delta
    pair table, exactly what ``advance_corpus_artifacts``'s
    ``delta_pairs`` and ``advance_halo_artifacts``'s ``new_pairs``
    consume — the banding pass is computed once and shared between
    the keep decision and the artifact advance. With
    ``stored_components`` it also deposits
    ``artifacts_out["components"]``: the ADVANCED label table
    (``dedup_components_incremental(stored, pairs)`` — the identical
    frame ``advance_corpus_artifacts`` would rebuild), so the
    production loop hands it back as ``kept_comps=`` and the
    contracted delta closure runs once per day, not twice
    (parity-tested: reused == recomputed)."""
    from inbev_data_engineering_case_spark.layers import snapshot_diff
    from inbev_data_engineering_case_spark.operators.textops import (
        fingerprint,
    )

    # the budget spends per source stratum — carry source_col through
    # the projection chain only then
    extra_cols = () if token_budget is None else (source_col,)
    if extra_cols and source_col not in new_snapshot.columns:
        raise ValueError(
            f"curate_incremental: token_budget is per-stratum but the"
            f" new snapshot has no {source_col!r} column — pass"
            " source_col"
        )
    changed = snapshot_diff(
        old_snapshot.select(id_col, text_col),
        new_snapshot.select(id_col, text_col),
        key_cols=[id_col],
    ).filter(F.col("change") != "delete")
    delta = new_snapshot.select(id_col, text_col, *extra_cols).join(
        changed.select(id_col), on=id_col, how="left_semi"
    )

    scored = score_documents(delta, text_col, id_col, extra_cols=extra_cols)
    eligible = materialize(
        scored.filter(
            F.col("lang").isin(*languages)
            & (F.col("quality") >= min_quality)
        ),
        eager=False,
    )

    # exact dedup: against the stored corpus (anti-join on the 8-byte
    # fingerprint — the fp table is tiny next to the corpus text and
    # broadcast-able), then min-id survivor within the delta itself
    fps = eligible.select(
        F.col(id_col), fingerprint(text_col).alias("fp")
    ).join(
        stored_fps.select("fp").distinct(), on="fp", how="left_anti"
    )
    exact_keep = fps.groupBy("fp").agg(F.min(id_col).alias(id_col))
    eligible = materialize(
        eligible.join(
            exact_keep.select(id_col), on=id_col, how="left_semi"
        ),
        eager=False,
    )

    # near-dedup vs stored signatures + within the delta; drop every
    # delta member that is not its component's min id (stored docs are
    # never dropped — keep decisions are append-only)
    pairs = incremental_minhash_pairs(
        eligible,
        stored_sigs,
        text_col=text_col,
        id_col=id_col,
        threshold=near_dup_threshold,
    )
    if artifacts_out is not None:
        # the artifact advance will read the pair table beside the
        # drop decision — 24-byte rows, materialize once (the
        # _dedup_chain discipline)
        pairs = materialize(pairs, eager=False)
        artifacts_out["pairs"] = pairs
    if stored_components is None:
        clusters = dedup_components(pairs)
        drop = clusters.filter(F.col("node") != F.col("comp")).select(
            F.col("node").alias(id_col)
        )
    else:
        # contract the delta through the maintained labels: the
        # closure runs on the delta-sized meta-graph, and only DELTA
        # nodes are drop candidates (stored docs keep their
        # append-only emission — the updated labels cover them, the
        # drop never does)
        clusters = dedup_components_incremental(
            stored_components.select("node", "comp"), pairs
        )
        if artifacts_out is not None:
            # the advanced label table, beside the pair delta: the
            # production loop hands BOTH to advance_corpus_artifacts
            # (delta_pairs= + kept_comps=) so the contracted delta
            # closure is computed once — here, for the keep decision —
            # not re-run by the advance (identity: this IS
            # dedup_components_incremental(stored, pairs), the exact
            # frame the advance would build; parity-tested)
            artifacts_out["components"] = clusters
        drop = (
            clusters.filter(F.col("node") != F.col("comp"))
            .join(
                eligible.select(F.col(id_col).alias("node")),
                on="node",
                how="left_semi",
            )
            .select(F.col("node").alias(id_col))
        )
    kept = eligible.join(drop, on=id_col, how="left_anti")
    if token_budget is not None:
        from inbev_data_engineering_case_spark.operators.sample import (
            select_within_budget_by_stratum,
        )

        # spend stage LAST: every dedup drop has already happened, so
        # duplicates cannot consume budget; cost is the surviving
        # delta's in-row character mass
        costed = kept.withColumn(
            "_tb_cost", F.length(text_col).cast("bigint")
        )
        kept = select_within_budget_by_stratum(
            costed,
            source_col,
            token_budget,
            cost_col="_tb_cost",
            quality_col="quality",
            id_col=id_col,
        ).drop("_tb_cost")
    return kept


def advance_corpus_artifacts(
    kept_delta: DataFrame,
    stored_sigs: DataFrame,
    stored_fps: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_words: int = DEFAULT_SHINGLE_WORDS,
    mode: str = "append",
    delta_ids: DataFrame | None = None,
    stored_components: DataFrame | None = None,
    delta_pairs: DataFrame | None = None,
    kept_comps: DataFrame | None = None,
) -> tuple[DataFrame, ...]:
    """The post-run step of the daily-crawl loop: advance the stored
    artifact tables by the newly-kept delta, so tomorrow's
    ``curate_incremental`` dedups against today's corpus without ever
    re-reading it. Returns ``(signatures, fingerprints)`` — signatures as
    (id, sig), fingerprints as (fp, keep_id) — in production, write both
    back to their (bucketed-by-id / by-fp) tables; only the delta's rows
    are new, so the write is delta-sized.

    ``mode`` states what an UPDATED document (same id, new text) means:

    - ``"append"`` (default): the stored rows for that id stay alongside
      the new ones. This is the right semantics for training-data
      curation, where emission is append-only — the old text was already
      shipped into the corpus and cannot be retracted, so a future
      document that near-dups the OLD text must still be dropped. Stale
      signatures here are not a leak; they are the memory of everything
      ever emitted.
    - ``"replace"``: the stored artifact rows for the changed ids are
      anti-joined away before the union — current-state semantics, for
      corpora maintained as a live snapshot rather than an append log.
      Removal keys on ``delta_ids`` when given (pass the FULL changed-id
      set, so an updated doc whose new version got dropped in curation
      also sheds its stale artifacts), else on the kept delta's ids.
      Fingerprint rows with a null ``keep_id`` (from a legacy fp-only
      store) cannot be attributed to an id and are never removed.

    The signature pass runs over the kept delta only — the invariant the
    whole incremental design exists for: historical text is hashed
    exactly once, on the day it arrives.

    ``stored_components`` + ``delta_pairs`` (both or neither) add the
    CONNECTED-COMPONENTS LABEL table to the advanced set: the return
    grows to ``(signatures, fingerprints, components)`` with the labels
    maintained by ``dedup.dedup_components_incremental`` — the stored
    ``(node, comp)`` table contracts today's pair delta, the closure
    runs on the delta-sized meta-graph only, and the result is
    row-identical to re-closing the union pair graph from scratch
    (the operator's parity contract). ``delta_pairs`` is today's pair
    table — ``curate_incremental(..., artifacts_out=...)`` hands it
    out so the banding pass is never repeated, and hands the advanced
    label table out too (``artifacts_out["components"]``) so a loop
    that already paid the keep decision's closure passes it back as
    ``kept_comps=`` and the contraction is never re-run; bootstrap
    ``stored_components`` from a CONVERGED ``dedup_components`` run
    over the day-0 batch pair graph (``require_convergence=True`` —
    the incremental operator's provider contract). The label table is
    append-only GRAPH MEMORY regardless of ``mode``: un-knowing an
    edge would take a full re-closure, and like the append-mode sigs
    the labels remember everything ever seen in the pair graph — so
    ``"replace"`` sheds sig/fp rows but never label rows.

    Concurrent writers: this function is a pure transformation; the
    WRITE of its outputs back to the artifact tables is where two
    overlapping runs (a retry racing its original) could interleave and
    lose a delta. Publish through ``layers.commit_snapshot`` — read the
    parent snapshot, compute, commit against that parent, recompute-and-
    retry on ``SnapshotConflictError`` — so exactly one advance wins and
    the loser replays on top of it."""
    from inbev_data_engineering_case_spark.operators.textops import (
        fingerprint,
    )

    if mode not in ("append", "replace"):
        raise ValueError(f"mode must be 'append' or 'replace'; got {mode!r}")
    if (stored_components is None) != (delta_pairs is None):
        raise ValueError(
            "advance_corpus_artifacts: stored_components and"
            " delta_pairs come together — the labels advance by"
            " contracting today's pair delta (pass both or neither)"
        )
    if kept_comps is not None and stored_components is None:
        raise ValueError(
            "advance_corpus_artifacts: kept_comps without"
            " stored_components/delta_pairs — the precomputed labels"
            " would be silently dropped; pass all three"
        )

    old_sigs = stored_sigs.select("id", "sig")
    if "keep_id" in stored_fps.columns:
        old_fps = stored_fps.select("fp", "keep_id")
    else:  # legacy fp-only store: rows have no owner to replace by
        old_fps = stored_fps.select(
            "fp", F.lit(None).cast("long").alias("keep_id")
        )
    if mode == "replace":
        changed = (
            delta_ids.select(F.col(delta_ids.columns[0]).alias("id"))
            if delta_ids is not None
            else kept_delta.select(F.col(id_col).alias("id"))
        ).distinct()
        old_sigs = old_sigs.join(changed, on="id", how="left_anti")
        old_fps = old_fps.join(
            changed.select(F.col("id").alias("keep_id")),
            on="keep_id",
            how="left_anti",
        )

    sigs = old_sigs.unionByName(
        minhash_signatures(
            kept_delta, text_col, id_col, num_hashes, shingle_words
        )
    )
    fps = old_fps.unionByName(
        kept_delta.select(
            fingerprint(text_col).alias("fp"),
            F.col(id_col).cast("long").alias("keep_id"),
        )
    ).dropDuplicates(["fp", "keep_id"])
    if stored_components is not None:
        # kept_comps: the advanced label table precomputed by a caller
        # that also needed it for the keep decision
        # (curate_incremental(artifacts_out=...)["components"]) — the
        # contracted delta closure runs once, not twice. Must be
        # dedup_components_incremental output over exactly
        # (stored_components, delta_pairs).
        comps = (
            kept_comps
            if kept_comps is not None
            else dedup_components_incremental(
                stored_components.select("node", "comp"), delta_pairs
            )
        )
        return sigs, fps, comps
    return sigs, fps


def advance_halo_artifacts(
    stored_pairs: DataFrame,
    stored_dist: DataFrame,
    new_pairs: DataFrame,
    new_seeds: DataFrame,
    max_hops: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """The contamination halo's post-run step of the daily-crawl loop:
    advance the stored halo state by a crawl's delta, so the next
    day's contamination guard is a table read plus change-sized work —
    never a from-scratch BFS over the full pair graph.

    The halo state is a PAIR of tables (persist both, one atomic
    generation — the sigs/fps discipline):

    - ``stored_pairs`` — the near-dup pair graph over everything ever
      curated, ``(id_a, id_b)`` canonical (``id_a < id_b``): the edge
      set distances relax over. Advanced as ``stored ∪ new_pairs``
      (distinct — a re-crawled id can re-emit an edge the store
      already has, so the artifact stays distinct-by-construction;
      16-byte rows, the cheapest dedup exchange in the set).
    - ``stored_dist`` — ``(node, dist)``: every document within
      ``max_hops`` near-dup hops of any contamination flag ever
      raised, with its hop distance. Advanced by
      ``graph.multi_source_bfs_incremental``: unit-weight
      min-relaxation from the change set alone (the new seeds plus
      new-edge endpoints that already carry a distance), row-identical
      to re-running the batch BFS over the union graph + union seeds
      (the operator's parity contract).

    ``new_pairs`` is today's delta pair table —
    ``curate_incremental(..., artifacts_out=...)`` hands it out, so
    the banding pass is shared with the keep decision. ``new_seeds``
    is today's newly flagged documents (first column; typically
    ``decontaminate.contamination_report`` over the delta against the
    current benchmark — a benchmark UPDATE instead re-flags
    historically: re-run the report over the stored corpus and feed
    the new flags here; distances only ever tighten). Like the
    components labels, halo state is append-only graph memory: flags
    and distances remember everything ever emitted, which is exactly
    the guard's job (an emitted document's contamination never
    un-happens).

    Consume the advanced state by dropping (or quarantining) kept
    documents whose id appears in the dist table — the composed
    ``curate_corpus(halo_hops=k)`` drop stage, fed from storage."""
    from inbev_data_engineering_case_spark.operators.graph import (
        multi_source_bfs_incremental,
    )

    edges_old = stored_pairs.select("id_a", "id_b")
    edges_new = new_pairs.select("id_a", "id_b")
    # "delta pairs touch a new document" does NOT make them disjoint
    # from the stored graph: a RE-CRAWLED id (same id, edited text)
    # rides the new batch and can re-emit an edge the store already
    # has — a naive append would then grow the artifact with
    # duplicates forever. One distinct over the union keeps the
    # artifact distinct-by-construction; this is the same
    # stored-sized dedup exchange the sig/fp advances already pay
    # (dropDuplicates), and any exact already-stored check costs a
    # stored-sized pass regardless of phrasing.
    pairs = edges_old.unionByName(edges_new).distinct()
    dist = multi_source_bfs_incremental(
        edges_old,
        edges_new,
        stored_dist.select("node", "dist"),
        new_seeds,
        max_hops=max_hops,
        src_col="id_a",
        dst_col="id_b",
    )
    return pairs, dist


def hash_split(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    salt: str = "split",
    buckets: int = 10_000,
) -> DataFrame:
    """Deterministic train/val/test assignment: each row lands in a split
    by ``portable_hash64(salt || id) % buckets`` against cumulative weight
    boundaries. Pure per-row expression — no shuffle, no RNG state, stable
    under retries/AQE and across engines (the property a random() split
    lacks: a re-run must put every document in the SAME split, or eval
    contaminates train). Changing ``salt`` re-draws the assignment.

    Weights are fractions summing to 1.0; boundaries are exact integer
    bucket counts so both engines agree bit-for-bit."""
    from inbev_data_engineering_case_spark.functions import portable_hash64

    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    bucket = portable_hash64(
        F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
    ) % F.lit(buckets)
    expr = None
    lo = 0
    for name, w in weights.items():
        hi = lo + int(round(w * buckets))
        cond = bucket < F.lit(hi)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
        lo = hi
    # rounding shortfall (boundaries not covering all buckets) falls into
    # the LAST named split rather than a null
    expr = expr.otherwise(F.lit(list(weights)[-1]))
    return df.withColumn("split", expr)


def leakage_safe_split(
    documents: DataFrame,
    pairs: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    salt: str = "split",
    buckets: int = 10_000,
    max_iter: int = 25,
) -> DataFrame:
    """``hash_split`` with the eval-contamination guard: near-duplicate
    documents NEVER straddle splits.

    A per-document hash split puts two near-identical pages on opposite
    sides of the train/test boundary — the eval set then scores
    memorization, not generalization (the reason pretraining pipelines
    dedup ACROSS the split boundary, not just within train). This
    operator assigns splits per near-dup CLUSTER: connected components
    over ``pairs`` (any dedup family's (id_a, id_b) output — MinHash,
    SimHash, embedding, containment), each document keyed by its
    component representative (its own id when it has no near-dup), then
    the same deterministic ``hash_split`` expression over that key. The
    split is a pure function of the representative, so every member of
    a cluster lands in ONE split by construction, and singletons get
    exactly the assignment plain ``hash_split`` would give them.

    Why at 100 TB: the component iteration is PAIR-NODE-sized — the
    (typically >95%) of the corpus with no near-dup never enters the
    O(log diameter) pointer-jumping loop; the representative attaches
    through one ``id``-keyed left join; the split itself is a pure
    column expression (no shuffle, no RNG state, re-run-stable). No
    stage touches document text.

    Extension operator (SURVEY.md §2.6 dedup/curation family); the
    reference has no split machinery at all.

    The components run REQUIRES observed convergence: non-minimal
    labels would give one cluster several representatives — exactly
    the straddle this operator exists to prevent, silently — so an
    exhausted ``max_iter`` raises instead of returning (raise
    ``max_iter``; pointer jumping covers diameter ~2^max_iter).
    """
    keyed, _ = _component_keyed(
        documents, pairs, id_col, max_iter,
        "leakage_safe_split",
        # same symmetry as the incremental twin: a pre-existing
        # 'split' column would be silently clobbered by hash_split's
        # withColumn — reject loudly (drop it first to re-split)
        reserved=("_split_key", "split"),
    )
    return hash_split(
        keyed, weights=weights, id_col="_split_key", salt=salt,
        buckets=buckets,
    ).drop("_split_key")


def _component_keyed(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    max_iter: int,
    op_name: str,
    reserved: tuple[str, ...] = ("_split_key",),
) -> tuple[DataFrame, DataFrame]:
    """Shared keying stage of the two leakage-split twins: converged
    components over ``pairs``, each doc staged under ``_split_key`` =
    its component representative (own id for singletons). Returns
    ``(keyed docs, (node, comp) labels)``. One definition keeps the
    batch and incremental operators' keying identical — the parity
    their tests promise."""
    clash = [c for c in reserved if c in docs.columns]
    if clash:
        raise ValueError(
            "%s: input already carries %s — rename; the operator"
            " stages/emits columns under those names" % (op_name, clash)
        )
    comp = dedup_components(
        pairs,
        max_iter=max_iter,
        require_convergence=True,
    )
    keyed = docs.join(
        comp.select(
            F.col("node").alias(id_col),
            F.col("comp").alias("_split_key"),
        ),
        on=id_col,
        how="left",
    ).withColumn("_split_key", F.coalesce("_split_key", F.col(id_col)))
    return keyed, comp


def incremental_leakage_split(
    new_docs: DataFrame,
    stored_assignments: DataFrame,
    pairs: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    salt: str = "split",
    buckets: int = 10_000,
    max_iter: int = 25,
) -> DataFrame:
    """``leakage_safe_split``'s delta twin: assign splits to a NEW crawl
    batch without touching — or re-splitting — history.

    History is FROZEN by definition: moving a stored document's split
    would contaminate whatever already trained on it. So the operator
    emits ``(id, split, n_linked_splits)`` for the new batch only,
    under a deterministic inheritance rule per new-side component
    (connected components over ``pairs`` — any delta dedup family's
    output covering new×new and new×stored edges, e.g.
    ``incremental_minhash_pairs``):

    - component touches NO stored document → the fresh-cluster case:
      the plain hash split keyed by the component representative —
      byte-identical to what ``leakage_safe_split`` assigns when run
      with no history (parity-tested), so bootstrapping incrementally
      from an empty corpus equals the batch operator.
    - component touches stored documents with ONE distinct split → the
      new members inherit it (the no-straddle guarantee extends across
      the batch boundary).
    - component touches ≥2 distinct stored splits → a BRIDGE: the new
      document reveals a near-dup link between already-frozen train
      and eval docs, so history leaks REGARDLESS of this assignment.
      The new members deterministically take the minimum-id stored
      member's split, and ``n_linked_splits`` carries the distinct
      count — the honest telemetry a caller must alert on, never a
      silent repair (frozen history cannot be re-split).

    ``n_linked_splits`` is 0 / 1 / n for the three cases. New ids must
    be disjoint from stored ids (re-crawled ids keep their frozen
    assignment upstream); overlap raises.

    Why at 100 TB: the component iteration is pair-node-sized, the
    stored side joins only for documents that actually appear in the
    pair graph (near-dup rate sized, not corpus sized), and the fresh
    path is the same pure-column hash expression as the batch
    operator. Yesterday's text is never re-read — pairs come from the
    signature-table delta machinery.
    """
    overlap = (
        new_docs.select(id_col)
        .join(stored_assignments.select(id_col), on=id_col, how="left_semi")
        .limit(1)
        .count()
    )
    if overlap:
        raise ValueError(
            "incremental_leakage_split: new_docs shares ids with"
            " stored_assignments — already-assigned documents keep"
            " their frozen split; feed only genuinely new ids"
        )
    keyed, comp = _component_keyed(
        new_docs, pairs, id_col, max_iter,
        "incremental_leakage_split",
        reserved=(
            "_split_key", "split", "n_linked_splits",
            "_inherited", "_n_linked",
        ),
    )
    # stored members of each component: the inherited split is the
    # minimum-id stored member's (deterministic under re-runs), the
    # distinct count is the bridge telemetry
    stored_in_graph = stored_assignments.join(
        comp.select(F.col("node").alias(id_col), "comp"), on=id_col
    )
    per_comp = stored_in_graph.groupBy("comp").agg(
        F.min_by(F.col("split"), F.col(id_col)).alias("_inherited"),
        F.countDistinct("split").alias("_n_linked"),
    )
    keyed = keyed.join(
        per_comp.select(
            F.col("comp").alias("_split_key"),
            "_inherited",
            "_n_linked",
        ),
        on="_split_key",
        how="left",
    )
    return (
        hash_split(keyed, weights=weights, id_col="_split_key",
                   salt=salt, buckets=buckets)
        .select(
            *new_docs.columns,
            F.coalesce("_inherited", "split").alias("split"),
            F.coalesce("_n_linked", F.lit(0))
            .cast("int")
            .alias("n_linked_splits"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 256,
    overlap: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    standard pretraining/RAG prep for documents longer than the model
    context. Returns (doc_id, chunk_idx, chunk_text, n_tokens): chunk i
    covers tokens [i*stride, i*stride + chunk_tokens) with
    stride = chunk_tokens - overlap, so consecutive chunks share
    ``overlap`` tokens and no token is dropped; a doc at or under the
    window is one chunk.

    Scale shape: pure Column expressions — tokenize once per doc,
    explode a per-doc chunk-index sequence, slice + rejoin per chunk.
    Zero shuffle; output rows ~ corpus_tokens / stride. Whitespace
    tokens (``functions.tokens``) keep the exact DuckDB oracle; swap in
    the BPE tokenizer offline for model-true boundaries."""
    from inbev_data_engineering_case_spark.functions import tokens

    if overlap >= chunk_tokens:
        raise ValueError(
            f"overlap ({overlap}) must be smaller than chunk_tokens "
            f"({chunk_tokens})"
        )
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.ceil((n - chunk_tokens) / F.lit(float(stride))).cast("int") + 1
    )
    start = F.col("chunk_idx") * stride
    return (
        docs.select(
            F.col(id_col),
            toks.alias("_t"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias(
                "chunk_idx"
            ),
        )
        .select(
            id_col,
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.concat_ws(
                " ", F.slice("_t", start + 1, chunk_tokens)
            ).alias("chunk_text"),
            F.least(F.lit(chunk_tokens), F.size("_t") - start)
            .cast("long")
            .alias("n_tokens"),
        )
    )


def pack_sequences(
    docs: DataFrame,
    ctx_len: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_packers: int = 64,
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are concatenated in id
    order and sliced into ``ctx_len``-token training sequences; each doc is
    assigned to the bin its FIRST token falls in. Returns
    (packer, bin_id, doc_id, n_tokens).

    Scale shape: a single global running sum would serialize the corpus
    through one partition, so docs are salted into ``n_packers``
    independent packer streams (deterministic hash of id) and the running
    token count is a window per packer — shuffle on packer id, ~|corpus|/
    n_packers rows per state, embarrassingly parallel. This is how
    pretraining shards pack in practice: order only needs to be stable
    WITHIN a shard, not global. Token counts use the whitespace tokenizer
    (``textops.token_count``); swap in the BPE-ish proxy for closer
    budgets."""
    from pyspark.sql import Window

    from inbev_data_engineering_case_spark.functions import portable_hash64
    from inbev_data_engineering_case_spark.operators.textops import token_count

    packer = portable_hash64(
        F.concat(F.lit("pack:"), F.col(id_col).cast("string"))
    ) % F.lit(n_packers)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        packer.alias("packer"),
        token_count(text_col).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("packer")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return toks.select(
        "packer",
        F.floor(cum_before / ctx_len).cast("long").alias("bin_id"),
        "doc_id",
        "n_tokens",
    )


def incremental_minhash_pairs(
    new_docs: DataFrame,
    stored_sigs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs of a NEW batch against itself AND against an existing
    corpus represented only by its stored signature table (id, sig) —
    yesterday's corpus text is never re-read or re-hashed.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b — exactly the
    ``minhash_dedup_pairs(stored ∪ new)`` rows that touch a new doc: the
    banded candidates come from ``_bucket_pairs``' delta mode, whose
    hot-bucket guard and min-id star representatives evaluate over the
    combined band population. A doc re-crawled verbatim (same id in
    ``stored_sigs`` and the new batch) yields no (x, x) self-pair, and
    stored-vs-new pairs come out canonical whichever side holds the
    smaller id. When ``stored_sigs`` reads from a table bucketed by id
    the signature fetch itself is exchange-free."""
    # parallelism guard like minhash_dedup_pairs: a small delta arriving
    # as 1-2 scan splits would pin the compute-bound shingle+hash stage
    # to 1-2 cores
    new_sigs = materialize(
        minhash_signatures(_ensure_parallelism(new_docs), text_col, id_col),
        eager=False,
    )
    sigs = stored_sigs.select("id", "sig", F.lit(False).alias("_new"))
    sigs = sigs.unionByName(new_sigs.withColumn("_new", F.lit(True)))
    # ONE distinct over both directed joins: dedups multi-band repeats
    # AND a re-crawled doc's pair found on both its stored and new row
    return _bucket_pairs(
        _minhash_bands(sigs),
        ["band_idx", "band_key"],
        F.expr(_MINHASH_EST).alias("est_jaccard"),
        F.col("est_jaccard") >= threshold,
        delta=True,
    ).distinct()


def curation_report(
    documents: DataFrame,
    languages: tuple[str, ...] = ("en",),
    min_quality: float = 0.3,
    near_dup_threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    benchmark: DataFrame | None = None,
    decontaminate_ngram: int = 8,
    halo_hops: int | None = None,
) -> DataFrame:
    """Pipeline observability for ``curate_corpus``: one row per stage
    with the surviving document count — ``(stage_idx, stage,
    survivors)`` for input → lang → quality → exact_dedup → near_dedup.
    The funnel every curation run should log: a sudden stage-level drop
    (a lang-ID regression, an exploding near-dup cluster) shows up as a
    step change here long before anyone inspects the corpus itself.

    ``benchmark`` adds the decontamination stage the composed pipeline
    runs, in its own position: without ``halo_hops`` a
    ``decontaminate`` row between quality and exact_dedup (the direct
    n-gram drop's spot); with ``halo_hops`` the drop defers past the
    dedup chain exactly as in ``curate_corpus`` — flagged documents
    stay in the pair graph — and a final ``halo`` row counts the
    survivors of the transitive drop. Without it, a ``halo_hops`` run's
    contamination drop would be INVISIBLE to the day-over-day
    ``curation_drift`` alarm: a benchmark update that suddenly halos
    10% of the corpus must trip the stage z-score, so the stage must
    be a funnel row. Stage indices are positional (names are the
    drift alarm's key), and ``halo_hops`` requires ``benchmark`` —
    same validation as the pipeline.

    Shares the engine's own stages (``score_documents``,
    ``decontaminate``/``contamination_report``, the ``_dedup_chain``
    helper, and the BFS halo walk ``curate_corpus`` itself runs) with
    identical parameters, so its counts are STRUCTURALLY the
    cardinalities of ``curate_corpus``'s intermediate frames — the
    final row always equals ``curate_corpus(...)`` with the same
    arguments ``.count()``. The scored corpus materializes once and the three filter-stage counts
    come from ONE conditional aggregation over it; invoked standalone
    it costs roughly one curation run (it IS the pipeline,
    instrumented).
    """
    if halo_hops is not None and benchmark is None:
        raise ValueError(
            "curation_report: halo_hops requires benchmark (the halo"
            " seeds are the direct n-gram contamination flags)"
        )
    scored = materialize(
        score_documents(documents, text_col, id_col), eager=False
    )
    lang_ok = F.col("lang").isin(*languages)
    quality_ok = lang_ok & (F.col("quality") >= min_quality)
    head = scored.agg(
        F.count("*").alias("_input"),
        F.count(F.when(lang_ok, 1)).alias("_lang"),
        F.count(F.when(quality_ok, 1)).alias("_quality"),
    )

    eligible = materialize(scored.filter(quality_ok), eager=False)
    r = head.first()
    stages: list[tuple[str, int]] = [
        ("input", r["_input"]),
        ("lang", r["_lang"]),
        ("quality", r["_quality"]),
    ]
    halo_seeds = None
    if benchmark is not None:
        from inbev_data_engineering_case_spark.operators.decontaminate import (
            contamination_report,
            decontaminate,
        )

        if halo_hops is None:
            # the plain pipeline drops directly at this spot
            eligible = materialize(
                decontaminate(
                    eligible, benchmark, n=decontaminate_ngram,
                    id_col=id_col, text_col=text_col,
                ),
                eager=False,
            )
            stages.append(("decontaminate", eligible.count()))
        else:
            # halo mode: flags here, drop deferred past the dedup
            # chain (the curate_corpus ordering), so no funnel row
            # until the halo stage itself
            halo_seeds = contamination_report(
                eligible, benchmark, n=decontaminate_ngram,
                id_col=id_col, text_col=text_col,
            ).select(id_col)
    after_exact, final, _, dedup_pairs = _dedup_chain(
        eligible, text_col, id_col, near_dup_threshold,
        materialize_pairs=halo_seeds is not None,
    )
    stages.append(("exact_dedup", after_exact.count()))
    stages.append(("near_dedup", final.count()))
    if halo_seeds is not None:
        from inbev_data_engineering_case_spark.operators.graph import (
            multi_source_bfs,
        )

        halo_nodes = multi_source_bfs(
            dedup_pairs.select(
                F.col("id_a").alias("src"), F.col("id_b").alias("dst")
            ),
            halo_seeds,
            max_hops=halo_hops,
        ).select(F.col("node").alias(id_col))
        stages.append(
            ("halo", _drop_anti(final, halo_nodes, id_col, None).count())
        )
    spark = documents.sparkSession
    return spark.createDataFrame(
        [(i + 1, name, n) for i, (name, n) in enumerate(stages)],
        "stage_idx int, stage string, survivors bigint",
    )


def curation_drift(
    history: DataFrame,
    day_col: str = "day",
    stage_col: str = "stage",
    count_col: str = "survivors",
    window_days: int = 12,
    z_threshold: int = 3,
) -> DataFrame:
    """Cross-run drift alarm over stored ``curation_report`` funnels:
    per-stage survivor-count series day over day, flagging any day whose
    count z-scores beyond ``z_threshold`` against that stage's own
    trailing ``window_days`` window — the alarm that catches a bad crawl
    or a broken filter (a lang-ID regression collapsing the ``lang``
    stage, an exploding near-dup cluster collapsing ``near_dedup``)
    BEFORE the day's output ships into training data.

    Pure composition: ``timeseries.rolling_zscore`` keyed by stage over
    the day series at ``scale=1`` (counts are already integers, so the
    flag inherits its exact-integer engine-stability). Input is the
    union of daily report outputs — a tiny table (stages × days), so
    this costs one window pass over kilobytes regardless of corpus size.
    Only full windows score: a new pipeline needs ``window_days`` days
    of history before the alarm arms, and the self-inclusion cap means
    ``window_days`` must exceed ~``z_threshold**2 + 2`` (enforced by
    ``rolling_zscore``).

    Returns ``(stage, day, survivors, z_e4, is_drift)``.
    """
    from inbev_data_engineering_case_spark.operators.timeseries import (
        rolling_zscore,
    )

    series = history.select(
        F.col(stage_col).alias("stage"),
        F.col(day_col).cast("timestamp").alias("_ts"),
        F.datediff(
            F.col(day_col).cast("date"), F.to_date(F.lit("1970-01-01"))
        )
        .cast("long")
        .alias("_day_id"),
        F.col(count_col).cast("double").alias("_count"),
    )
    out = rolling_zscore(
        series,
        key_col="stage",
        ts_col="_ts",
        value_col="_count",
        id_col="_day_id",
        window_rows=window_days,
        z_threshold=z_threshold,
        scale=1,
    )
    return out.select(
        "stage",
        F.col("ts").cast("date").alias("day"),
        F.col("value").cast("bigint").alias("survivors"),
        "z_e4",
        F.col("is_anomaly").alias("is_drift"),
    )

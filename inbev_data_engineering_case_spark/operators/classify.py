"""Hashed bag-of-words document classifier — the fastText-style
quality/domain filter every large-scale curation pipeline runs
(RefinedWeb's and FineWeb's quality classifiers are exactly this
shape: a linear model over hashed token features, applied to every
document as a pure scan).

The MODEL IS A TABLE — the repo-wide discipline (``relevance.py``'s
bigram LM, the BM25 index): training emits a (bucket, weight_micro)
DataFrame you persist like any other artifact, scoring joins it back
broadcast. Nothing ever trains or predicts driver-side.

Training is one aggregation pass (multinomial Naive Bayes log-odds
with add-alpha smoothing over the hashed bucket space) rather than an
iterative gradient loop: at 100 TB an SGD epoch is a full corpus scan
per step, while the NB statistics are ONE scan + one bucket-sized
shuffle, and for high-bias text filtering (keep/drop, source-ID,
lang-ID) NB log-odds is the standard cheap baseline the fastText
models approximate. Weights are quantized to integer MICRO-units
(``round(ln(ratio) * 1e6)`` — the ``relevance.py`` discipline) so
document scores are exact integer sums: order-independent, identical
under AQE/retries, and oracle-replayable bit for bit.

Scale shape:
- training: explode to (bucket, label) token occurrences →
  ``groupBy(bucket)`` conditional counts (map-side partial agg makes
  the exchange bucket-sized, ≤ ``n_buckets`` rows) → weights.
- scoring: explode tokens → broadcast-join the weights table (≤
  ``n_buckets + 3`` rows — MBs at the default 2^18) → per-doc integer
  sum. Explode preserves row locality, so the per-doc hash-agg
  collapses map-side; the only exchange carries one row per document.

Reference parity: the reference repo (Leo200467/
Inbev-Data-Engineering-Case) has no classifier machinery; this is the
curation/text-analysis extension family (SURVEY.md §2.6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inbev_data_engineering_case_spark.functions import (
    portable_hash64,
    tokens,
)
from inbev_data_engineering_case_spark.session import materialize

# special model rows (real buckets are 60-bit non-negative hashes):
BIAS_BUCKET = -1  # class-prior log-odds, micro-units
DEFAULT_BUCKET = -2  # weight of any bucket unseen in training
META_BUCKET = -3  # weight_micro carries n_buckets (scoring guard)

DEFAULT_N_BUCKETS = 1 << 18


def _literal_rows(spark, rows: list[tuple], schema: str) -> DataFrame:
    """A few literal model rows in ONE partition: ``createDataFrame``
    parallelizes over every default slice, and each (mostly empty) slice
    would be one more task of whatever stage the rows are unioned into."""
    return spark.createDataFrame(rows, schema).coalesce(1)


def _doc_buckets(
    docs: DataFrame, text_col: str, id_col: str, n_buckets: int,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """(id, bucket) per token OCCURRENCE: lowercase whitespace tokens
    through the portable 60-bit hash into ``n_buckets`` (the hashing
    trick — model size is capped regardless of vocabulary, collisions
    are part of the model for BOTH training and scoring, so they cost
    a little accuracy and zero correctness).

    Deliberately NOT parallelism-guarded (r15 optimization round): the
    per-token hash here is ~5× lighter than the gram-level md5 passes
    that carry the guard, and the A/B measured the guard a net LOSS on
    both classifier bench lines (2.40→2.68s and 3.43→4.41s) — the
    repartition pins every downstream stage of the train/score chain at
    the full core count, and that task-scheduling inflation exceeds the
    single-split compute saving. At cluster scan sizes the guard would
    be a no-op anyway, so there is nothing to win at scale either."""
    return (
        docs.select(
            F.col(id_col),
            *[F.col(c) for c in extra],
            F.explode(tokens(F.lower(F.col(text_col)))).alias("_tok"),
        )
        # split of an EMPTY trimmed text yields one "" token — drop it
        # (zero-token docs score bias-only downstream)
        .filter(F.col("_tok") != "")
        .select(
            F.col(id_col),
            *[F.col(c) for c in extra],
            (portable_hash64(F.col("_tok")) % n_buckets).alias("bucket"),
        )
    )


def _prior_folded_buckets(
    docs: DataFrame, text_col: str, n_buckets: int, extra: tuple[str, ...]
) -> DataFrame:
    """``(extra..., bucket)`` per token occurrence, as ``_doc_buckets``
    hashes it, plus one ``BIAS_BUCKET`` row per document: each token
    array gains a NULL token that routes to the prior bucket. One
    ``groupBy`` over these rows then yields the per-bucket counts and
    the per-document priors together, with one exchange instead of a
    second (global) aggregate for the priors. ``explode_outer`` keeps
    the prior row of a NULL-text document, whose token array is NULL."""
    cols = [F.col(c) for c in extra]
    tok = F.col("_tok")
    return (
        docs.select(
            *cols,
            F.explode_outer(
                F.concat(
                    tokens(F.lower(F.col(text_col))),
                    F.array(F.lit(None).cast("string")),
                )
            ).alias("_tok"),
        )
        .filter(tok.isNull() | (tok != ""))
        .select(
            *cols,
            F.when(tok.isNull(), F.lit(BIAS_BUCKET).cast("bigint"))
            .otherwise(portable_hash64(tok) % n_buckets)
            .alias("bucket"),
        )
    )


def train_bow_counts(
    labeled: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_N_BUCKETS,
) -> DataFrame:
    """The classifier's SUFFICIENT STATISTICS as a table —
    ``(bucket bigint, cp bigint, cn bigint)``: per-bucket token
    occurrences by class for real buckets, doc-count priors on the
    ``BIAS_BUCKET`` row, ``n_buckets`` on the ``META_BUCKET`` row
    (``cp`` carries it). Counts are ADDITIVE, which is the whole
    point of persisting them instead of (or beside) the weights:
    tomorrow's labeled delta trains on the delta alone and
    ``merge_bow_counts`` folds it into the stored statistics —
    ``bow_weights_from_counts`` over the merged table is BYTE-
    IDENTICAL to retraining on the full union (parity-tested), with
    the historical corpus never re-read or re-tokenized. The same
    incremental-artifact discipline as the minhash signature and
    containment gram tables."""
    spark = labeled.sparkSession
    occ = _prior_folded_buckets(
        labeled.select(
            F.col(text_col), F.col(label_col).cast("boolean").alias("_y")
        ),
        text_col, n_buckets, extra=("_y",),
    )
    # a NULL-label prior row counts toward neither class, so this one
    # literal row changes no count; it keeps the (BIAS, 0, 0) row on an
    # empty input, which the grouped aggregate alone would not emit. One
    # partition: a createDataFrame row would spread over every default
    # slice, each one more map task of the aggregation
    empty_prior = spark.range(1, numPartitions=1).select(
        F.lit(None).cast("boolean").alias("_y"),
        F.lit(BIAS_BUCKET).cast("bigint").alias("bucket"),
    )
    counts = occ.unionByName(empty_prior).groupBy("bucket").agg(
        F.count(F.when(F.col("_y"), 1)).alias("cp"),
        F.count(F.when(~F.col("_y"), 1)).alias("cn"),
    )
    meta = _literal_rows(
        spark, [(META_BUCKET, int(n_buckets), 0)],
        "bucket bigint, cp bigint, cn bigint",
    )
    return counts.unionByName(meta)


def merge_bow_counts(stored: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a delta's statistics into the stored table: real buckets
    and the prior row SUM; the META rows must agree (a delta hashed
    into a different bucket space would silently mis-merge — the sum
    of two different sizes can never equal either, so the weights
    builder's meta check catches it loudly; callers advancing stored
    artifacts should still compare before committing). Pure
    bucket-keyed aggregation — the exchange is model-sized."""
    both = stored.unionByName(delta)
    meta = both.filter(F.col("bucket") == META_BUCKET).select(
        F.col("bucket"), F.col("cp"), F.col("cn")
    ).distinct()
    summed = (
        both.filter(F.col("bucket") != META_BUCKET)
        .groupBy("bucket")
        .agg(F.sum("cp").alias("cp"), F.sum("cn").alias("cn"))
    )
    return summed.unionByName(meta)


def bow_weights_from_counts(
    counts: DataFrame, alpha: float = 1.0
) -> DataFrame:
    """Derive the scoring model table (``train_bow_classifier``
    output shape) from a counts table — the cheap step of the
    incremental loop: counts advance daily, weights re-derive in one
    model-sized pass (no corpus scan ever). Raises on a one-class
    table or a missing/ambiguous META row (two different hash-space
    sizes merged)."""
    import math

    cached = materialize(counts, eager=True)
    special_rows = cached.filter(F.col("bucket") < 0).collect()
    metas = sum(1 for r in special_rows if r["bucket"] == META_BUCKET)
    specials = {r["bucket"]: r for r in special_rows}
    if metas != 1:
        raise ValueError(
            "bow_weights_from_counts: counts table needs exactly one"
            f" META row (found {metas}) — merging two different"
            " n_buckets spaces corrupts the model"
        )
    if BIAS_BUCKET not in specials:
        raise ValueError(
            "bow_weights_from_counts: counts table has no prior row"
        )
    np_, nn_ = (
        int(specials[BIAS_BUCKET]["cp"]),
        int(specials[BIAS_BUCKET]["cn"]),
    )
    if not np_ or not nn_:
        raise ValueError(
            "bow_weights_from_counts: both classes must be non-empty "
            f"(got {np_} positive / {nn_} negative docs)"
        )
    n_buckets = int(specials[META_BUCKET]["cp"])
    real = cached.filter(F.col("bucket") >= 0)
    tot = real.agg(
        F.coalesce(F.sum("cp"), F.lit(0)).alias("_tp"),
        F.coalesce(F.sum("cn"), F.lit(0)).alias("_tn"),
    ).first()
    tp, tn = float(tot["_tp"]), float(tot["_tn"])
    b = float(n_buckets)
    micro = 1_000_000
    weights = real.select(
        "bucket",
        F.round(
            (
                F.log((F.col("cp") + alpha) / F.lit(tp + alpha * b))
                - F.log((F.col("cn") + alpha) / F.lit(tn + alpha * b))
            )
            * micro
        ).cast("bigint").alias("weight_micro"),
    )
    bias = round((math.log(np_) - math.log(nn_)) * micro)
    default = round(
        (
            math.log(alpha / (tp + alpha * b))
            - math.log(alpha / (tn + alpha * b))
        )
        * micro
    )
    specials_df = _literal_rows(
        counts.sparkSession,
        [
            (BIAS_BUCKET, int(bias)),
            (DEFAULT_BUCKET, int(default)),
            (META_BUCKET, int(n_buckets)),
        ],
        "bucket bigint, weight_micro bigint",
    )
    return weights.unionByName(specials_df)


def train_bow_classifier(
    labeled: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_N_BUCKETS,
    alpha: float = 1.0,
) -> DataFrame:
    """Train the hashed-BOW log-odds model → the model TABLE
    ``(bucket bigint, weight_micro bigint)``.

    ``label_col`` is boolean-ish (cast to boolean): true = the
    positive class (keep / high-quality / in-domain). Per-bucket
    weight is the smoothed multinomial log-likelihood ratio

        ln((c_pos + α) / (T_pos + α·B)) − ln((c_neg + α) / (T_neg + α·B))

    with ``c`` = token occurrences of the bucket in the class, ``T`` =
    total occurrences in the class, ``B = n_buckets``; the class-prior
    log-odds rides as the ``BIAS_BUCKET`` row, the (non-zero!) weight
    of a bucket never seen in training as the ``DEFAULT_BUCKET`` row,
    and ``n_buckets`` itself as the ``META_BUCKET`` row so scoring can
    refuse a mismatched hash space instead of silently mis-bucketing.
    All weights in integer micro-units.

    Raises when either class is empty — a one-class "model" would
    assign ±∞ priors.

    Structurally ``bow_weights_from_counts(train_bow_counts(...))`` —
    one implementation, so the incremental loop (persist counts,
    ``merge_bow_counts`` a delta, re-derive weights) is byte-identical
    to retraining by construction. The counts materialize bucket-sized
    inside the weights builder, so training is ONE corpus scan."""
    return bow_weights_from_counts(
        train_bow_counts(
            labeled, label_col, text_col, id_col, n_buckets
        ),
        alpha=alpha,
    )


def score_bow_classifier(
    docs: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every document against a ``train_bow_classifier`` model →
    ``(id_col, n_tokens bigint, score_micro bigint)`` with
    ``score_micro = bias + Σ weight(bucket(token))`` (unseen buckets
    take the model's DEFAULT row). Positive score = positive class.
    Exact integer arithmetic end to end, so re-runs, AQE re-plans, and
    the SQL oracle agree bit for bit.

    The model's META row pins the hash-space size; scoring reads the
    three special rows (a 3-row collect — the model-metadata
    discipline of ``quality.py``'s drift bounds) and broadcasts the
    rest."""
    specials = {
        row["bucket"]: row["weight_micro"]
        for row in model.filter(F.col("bucket") < 0).collect()
    }
    if set(specials) != {BIAS_BUCKET, DEFAULT_BUCKET, META_BUCKET}:
        raise ValueError(
            "score_bow_classifier: model is missing its special rows "
            "(bias/default/meta) — not a train_bow_classifier table?"
        )
    n_buckets = int(specials[META_BUCKET])
    occ = _doc_buckets(docs, text_col, id_col, n_buckets)
    scored = (
        occ.join(
            F.broadcast(model.filter(F.col("bucket") >= 0)),
            on="bucket",
            how="left",
        )
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.coalesce(
                    F.col("weight_micro"),
                    F.lit(int(specials[DEFAULT_BUCKET])),
                )
            ).alias("_sum"),
        )
    )
    # zero-token docs never exploded a row: they score bias alone
    return (
        docs.select(id_col)
        .join(scored, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias(
                "n_tokens"
            ),
            (
                F.coalesce("_sum", F.lit(0))
                + F.lit(int(specials[BIAS_BUCKET]))
            ).cast("bigint").alias("score_micro"),
        )
    )


def _guarded_eval_frame(
    scored: DataFrame,
    labels: DataFrame,
    id_col: str,
    label_col: str,
    score_col: str,
    op: str = "classifier evaluation",
    label_cast: str = "boolean",
    label_null_phrase: str = "label casts to NULL boolean",
    value_cast: str = "bigint",
    row_noun: str = "scored",
    missing_phrase: str = "labeled id with no scored row",
    null_phrase: str = "scored row carries a NULL score",
    out_value: str = "_score",
    cast_value: bool = False,
) -> DataFrame:
    """The evaluation population as ``(id_col, _y, <out_value>)`` with
    the integrity guards in the plan: a label casting to NULL raises;
    a labeled id with no value row raises (left join from labels,
    join-miss detected via a presence marker so it is never confused
    with a present-but-NULL value, which raises its own message); a
    duplicated id raises (the join would fan the label out and
    silently inflate every counter). Silent corruption of the metric
    denominators is the failure mode all four guards exist for, and
    the guard PRECEDENCE is defined here ONCE for every evaluator
    (binary and multiclass): the duplicate guard comes FIRST — a
    duplicated labeled id whose value row is also missing or NULL
    must be named as the fan-out defect (the root cause to clean up),
    not misdirected to a per-row diagnostic. The duplicate check is
    one window count over the holdout-sized frame — the evaluation
    population is small by contract, so the exchange is noise."""
    from pyspark.sql import Window

    def err(prefix: str, suffix: str):
        return F.raise_error(
            F.concat(
                F.lit(f"{op}: {prefix}"),
                F.col(id_col).cast("string"),
                F.lit(suffix),
            )
        )

    y_raw = F.col(label_col).cast(label_cast)
    y = F.when(
        y_raw.isNull(),
        err(
            f"{label_null_phrase} for id ",
            " — clean the label column or drop the row",
        ).cast(label_cast),
    ).otherwise(y_raw)
    value = F.when(
        F.count("*").over(Window.partitionBy(id_col)) > 1,
        err(
            "duplicated id in the evaluation population: ",
            f" — a duplicated {row_noun} or label row fans the"
            " join out and inflates every counter; dedupe"
            " the inputs first",
        ).cast(value_cast),
    ).when(
        F.col("_present").isNull(),
        err(
            f"{missing_phrase}: ",
            " — score the full holdout before evaluating",
        ).cast(value_cast),
    ).when(
        F.col(score_col).isNull(),
        err(
            f"{null_phrase} for id ",
            " — fix the scoring pass, the row IS present",
        ).cast(value_cast),
    ).otherwise(
        # value_cast types the raise branches only; the VALUE passes
        # through uncast by default — a caller handing a double score
        # column must not have it silently truncated to bigint before
        # thresholding (cast_value=True restores an explicit cast for
        # callers that want string normalization, e.g. multiclass)
        F.col(score_col).cast(value_cast)
        if cast_value
        else F.col(score_col)
    )
    return (
        labels.select(F.col(id_col), y.alias("_y"))
        .join(
            scored.withColumn("_present", F.lit(True)),
            on=id_col,
            how="left",
        )
        .select(F.col(id_col), "_y", value.alias(out_value))
    )


def evaluate_bow_classifier(
    scored: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    label_col: str = "label",
    score_col: str = "score_micro",
    threshold_micro: int = 0,
) -> DataFrame:
    """Measure a scored classifier against held-out labels → ONE row:
    ``(tp, fp, tn, fn, accuracy_ppm, precision_ppm, recall_ppm,
    f1_ppm)``. Prediction is ``score >= threshold_micro`` (the
    curation gate's own predicate, so the error rates measured here
    are the error rates the pipeline will actually run at).

    A curation pipeline that gates on a learned filter must know its
    error rate before trusting it at 100 TB — the RefinedWeb/FineWeb
    quality classifiers all publish exactly these numbers. HOLDOUT
    PROTOCOL: the labels must come from documents the model never
    trained on, and near-duplicates of training documents leak — use
    ``curate.leakage_safe_split`` (or ``curate_corpus``'s composed
    ``split_weights``) as the train/holdout provider so no near-dup
    cluster straddles the evaluation (train on ``split='train'``
    labels, evaluate on ``split='test'``).

    Scale shape: one id-equi-join (broadcast when the labeled holdout
    is small, which it always is relative to the corpus) + one global
    conditional aggregation — partial map-side, a 4-counter exchange.
    Derived rates are exact int64 ppm (``div`` floor, NULL on an empty
    denominator), so the report is bit-stable across engines, AQE
    re-plans, and retries; F1 uses the single-division
    ``2·tp·1e6 div (2·tp + fp + fn)`` form so no intermediate
    rounding compounds.

    Population integrity is enforced declaratively (the ``pagerank``
    weight-validation discipline): a label that casts to NULL boolean
    (e.g. a 'yes'/'no' string column) or a labeled id with no scored
    row would otherwise fall out of all four counters and silently
    shrink the metric denominators — both raise instead."""
    joined = _guarded_eval_frame(
        scored, labels, id_col, label_col, score_col
    )
    pred = F.col("_score") >= int(threshold_micro)
    y = F.col("_y")
    counts = joined.agg(
        F.count(F.when(pred & y, 1)).alias("tp"),
        F.count(F.when(pred & ~y, 1)).alias("fp"),
        F.count(F.when(~pred & ~y, 1)).alias("tn"),
        F.count(F.when(~pred & y, 1)).alias("fn"),
    )
    return counts.select(
        "tp",
        "fp",
        "tn",
        "fn",
        F.expr(
            "CASE WHEN tp + fp + tn + fn > 0 THEN"
            " ((tp + tn) * 1000000) div (tp + fp + tn + fn) END"
        ).alias("accuracy_ppm"),
        F.expr(
            "CASE WHEN tp + fp > 0 THEN"
            " (tp * 1000000) div (tp + fp) END"
        ).alias("precision_ppm"),
        F.expr(
            "CASE WHEN tp + fn > 0 THEN"
            " (tp * 1000000) div (tp + fn) END"
        ).alias("recall_ppm"),
        F.expr(
            "CASE WHEN 2 * tp + fp + fn > 0 THEN"
            " (2 * tp * 1000000) div (2 * tp + fp + fn) END"
        ).alias("f1_ppm"),
    )


def classifier_threshold_sweep(
    scored: DataFrame,
    labels: DataFrame,
    n_cuts: int = 15,
    id_col: str = "doc_id",
    label_col: str = "label",
    score_col: str = "score_micro",
    approx: bool = False,
) -> DataFrame:
    """The precision/recall CURVE ``evaluate_bow_classifier`` samples
    at one point: one row per candidate threshold — ``(cut_idx,
    threshold, tp, fp, tn, fn, precision_ppm, recall_ppm, f1_ppm)`` —
    so choosing ``min_score_micro`` for the curation gate is a read
    off this table instead of N evaluation reruns.

    Thresholds are the holdout score distribution's ``n_cuts``
    quantiles (the ``quality.distribution_drift`` probe-point
    discipline — equally spaced probability mass, so the curve is
    dense exactly where the scores are): exact ``percentile`` for
    oracle parity, the mergeable GK sketch with ``approx=True`` at
    scale. ONE pass computes all cuts — a single conditional
    aggregation with ``2·n_cuts + 2`` counters against the broadcast
    1-row bounds aggregate, then the per-cut rows unfold from an
    in-row array. The evaluation frame has TWO consumers (the bounds
    pass and the counting pass) and carries the whole upstream
    scoring plan, so it is pinned via ``session.materialize`` — the
    curate.py 'read it twice → materialize first' discipline. Same
    integrity guards and exact-int-ppm discipline as the point
    evaluator; rates are NULL on empty denominators (a one-class
    holdout still sweeps)."""
    if n_cuts < 1:
        raise ValueError("classifier_threshold_sweep: n_cuts must be >= 1")
    joined = materialize(
        _guarded_eval_frame(scored, labels, id_col, label_col, score_col),
        eager=False,
    )
    qs = [i / (n_cuts + 1) for i in range(1, n_cuts + 1)]
    fn = "approx_percentile" if approx else "percentile"
    arr = ", ".join(repr(q) for q in qs)
    bounds = joined.agg(
        F.expr(f"{fn}(_score, array({arr}))").alias("_bs")
    ).select(
        *[
            F.element_at(F.col("_bs"), i + 1).alias(f"_t{i}")
            for i in range(n_cuts)
        ]
    )
    y = F.col("_y")
    one = joined.join(F.broadcast(bounds)).agg(
        F.count(F.when(y, 1)).alias("_pos"),
        F.count(F.when(~y, 1)).alias("_neg"),
        *[
            agg
            for i in range(n_cuts)
            for agg in (
                F.count(
                    F.when((F.col("_score") >= F.col(f"_t{i}")) & y, 1)
                ).alias(f"_tp{i}"),
                F.count(
                    F.when((F.col("_score") >= F.col(f"_t{i}")) & ~y, 1)
                ).alias(f"_fp{i}"),
            )
        ],
        *[F.first(f"_t{i}").alias(f"_t{i}") for i in range(n_cuts)],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).cast("int").alias("cut_idx"),
                F.col(f"_t{i}").cast("double").alias("threshold"),
                F.col(f"_tp{i}").alias("tp"),
                F.col(f"_fp{i}").alias("fp"),
                F.expr(f"_neg - _fp{i}").alias("tn"),
                F.expr(f"_pos - _tp{i}").alias("fn"),
                F.expr(
                    f"CASE WHEN _tp{i} + _fp{i} > 0 THEN"
                    f" (_tp{i} * 1000000) div (_tp{i} + _fp{i}) END"
                ).alias("precision_ppm"),
                F.expr(
                    f"CASE WHEN _pos > 0 THEN"
                    f" (_tp{i} * 1000000) div _pos END"
                ).alias("recall_ppm"),
                F.expr(
                    f"CASE WHEN _tp{i} + _fp{i} + _pos > 0 THEN"
                    f" (2 * _tp{i} * 1000000)"
                    f" div (_tp{i} + _fp{i} + _pos) END"
                ).alias("f1_ppm"),
            )
            for i in range(n_cuts)
        ]
    )
    return one.select(F.explode(rows).alias("p")).select("p.*")


# ---------------------------------------------------------------------------
# Multi-class (domain/topic) classifier — the routing counterpart of the
# binary keep/drop gate above. Real corpus pipelines tag every document
# with a DOMAIN (FineWeb-Edu-style educational-value routing, source/
# topic tags feeding per-domain mixture weights); the NB log-odds table
# generalizes to per-class log-probability rows with a `class` column
# beside `bucket`, and prediction is an argmax over per-doc per-class
# integer sums. Same disciplines as the binary model: the MODEL IS A
# TABLE, counts are the additive incremental artifact, weights are
# integer micro-units so every score is an exact order-free sum.
# ---------------------------------------------------------------------------


def multiclass_bow_counts(
    labeled: DataFrame,
    class_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_N_BUCKETS,
) -> DataFrame:
    """The multi-class sufficient statistics as a table —
    ``(class string, bucket bigint, c bigint)``: per-(class, bucket)
    token occurrences for real buckets (sparse — a bucket a class
    never saw has no row, which is exactly the α-smoothed DEFAULT the
    scorer substitutes), per-class document counts on the
    ``BIAS_BUCKET`` rows, and ``n_buckets`` on the single
    ``META_BUCKET`` row (``class`` NULL — the one place NULL is legal;
    a NULL class LABEL raises in-plan instead of silently training a
    ghost class). Counts are ADDITIVE: ``merge_multiclass_bow_counts``
    folds a labeled delta in and the derived weights equal full
    retraining byte for byte (the ``train_bow_counts`` discipline)."""
    cls_raw = F.col(class_col).cast("string")
    cls = F.when(
        cls_raw.isNull(),
        F.raise_error(
            F.concat(
                F.lit(
                    "multiclass_bow_counts: class label casts to NULL"
                    " for id "
                ),
                F.col(id_col).cast("string"),
                F.lit(" — clean the label column or drop the row"),
            )
        ),
    ).otherwise(cls_raw)
    counts = (
        _prior_folded_buckets(
            labeled.select(F.col(text_col), cls.alias("_cls")),
            text_col, n_buckets, extra=("_cls",),
        )
        .groupBy("_cls", "bucket")
        .agg(F.count("*").alias("c"))
    )
    meta = _literal_rows(
        labeled.sparkSession, [(None, META_BUCKET, int(n_buckets))],
        "_cls string, bucket bigint, c bigint",
    )
    return counts.unionByName(meta).withColumnRenamed("_cls", "class")


def merge_multiclass_bow_counts(
    stored: DataFrame, delta: DataFrame
) -> DataFrame:
    """Fold a labeled delta's statistics into the stored multi-class
    counts: real buckets and the per-class prior rows SUM; the META
    rows must agree (two hash-space sizes can never sum to either, so
    the weights builder's single-META check catches a mis-merge
    loudly). Pure (class, bucket)-keyed aggregation — the exchange is
    model-sized."""
    both = stored.unionByName(delta)
    meta = (
        both.filter(F.col("bucket") == META_BUCKET)
        .select("class", "bucket", "c")
        .distinct()
    )
    summed = (
        both.filter(F.col("bucket") != META_BUCKET)
        .groupBy("class", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    return summed.unionByName(meta)


def multiclass_bow_weights_from_counts(
    counts: DataFrame, alpha: float = 1.0
) -> DataFrame:
    """Derive the multi-class scoring model
    ``(class string, bucket bigint, weight_micro bigint)`` from a
    counts table. Per real (class, bucket):
    ``round(ln((c + α) / (T_class + α·B)) · 1e6)`` — the smoothed
    multinomial log-likelihood; per class a ``BIAS_BUCKET`` row
    carries ``round(ln(n_docs_class) · 1e6)`` (the prior up to the
    class-independent ``ln(N)``, which cancels in the argmax) and a
    ``DEFAULT_BUCKET`` row the unseen-bucket weight
    ``round(ln(α / (T_class + α·B)) · 1e6)``; the single
    ``META_BUCKET`` row (NULL class) pins ``n_buckets``.

    Raises on a missing/ambiguous META row, on NULL-class real/prior
    rows (a corrupted table), and on fewer than two classes. The only
    driver-side reads are the one-row META collect and two count
    aggregates (model-metadata-sized, the ``score_bow_classifier``
    discipline); totals and priors stay plan-side as broadcast
    class-cardinality aggregates."""
    cached = materialize(counts, eager=True)
    # ONE validation job over the cached counts (it is read again by
    # the weight/total/prior projections below, so every extra action
    # here is a full re-scan): META cardinality + value, class count,
    # and the NULL-class corruption probe in a single aggregate
    head = cached.agg(
        F.count(
            F.when(F.col("bucket") == META_BUCKET, 1)
        ).alias("n_meta"),
        F.max(
            F.when(F.col("bucket") == META_BUCKET, F.col("c"))
        ).alias("n_buckets"),
        F.count(
            F.when(F.col("bucket") == BIAS_BUCKET, 1)
        ).alias("n_classes"),
        F.count(
            F.when(
                F.col("class").isNull()
                & (F.col("bucket") != META_BUCKET),
                1,
            )
        ).alias("n_bad"),
    ).first()
    if head["n_meta"] != 1:
        raise ValueError(
            "multiclass_bow_weights_from_counts: counts table needs"
            f" exactly one META row (found {head['n_meta']}) — merging"
            " two different n_buckets spaces corrupts the model"
        )
    n_buckets = int(head["n_buckets"])
    if head["n_bad"]:
        raise ValueError(
            "multiclass_bow_weights_from_counts: NULL class on a"
            " non-META row — not a multiclass_bow_counts table?"
        )
    if head["n_classes"] < 2:
        raise ValueError(
            "multiclass_bow_weights_from_counts: need >= 2 classes"
            f" (found {head['n_classes']} prior rows)"
        )
    pri = cached.filter(F.col("bucket") == BIAS_BUCKET)
    real = cached.filter(F.col("bucket") >= 0)
    tot = real.groupBy("class").agg(F.sum("c").alias("_t"))
    b = float(n_buckets)
    micro = 1_000_000
    weights = real.join(tot, on="class").select(
        "class",
        "bucket",
        F.round(
            F.log((F.col("c") + alpha) / (F.col("_t") + alpha * b))
            * micro
        ).cast("bigint").alias("weight_micro"),
    )
    # class list comes from the PRIOR rows (a class whose every
    # training doc was zero-token has no real rows but still needs its
    # bias/default) — totals coalesce to 0 for it
    consts_base = pri.select("class").join(tot, on="class", how="left")
    bias_rows = pri.select(
        "class",
        F.lit(BIAS_BUCKET).cast("bigint").alias("bucket"),
        F.round(F.log(F.col("c").cast("double")) * micro)
        .cast("bigint")
        .alias("weight_micro"),
    )
    default_rows = consts_base.select(
        "class",
        F.lit(DEFAULT_BUCKET).cast("bigint").alias("bucket"),
        F.round(
            F.log(
                F.lit(alpha)
                / (F.coalesce(F.col("_t"), F.lit(0)) + alpha * b)
            )
            * micro
        ).cast("bigint").alias("weight_micro"),
    )
    meta_row = _literal_rows(
        counts.sparkSession, [(None, META_BUCKET, int(n_buckets))],
        "class string, bucket bigint, weight_micro bigint",
    )
    return (
        weights.unionByName(bias_rows)
        .unionByName(default_rows)
        .unionByName(meta_row)
    )


def train_bow_multiclass(
    labeled: DataFrame,
    class_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_N_BUCKETS,
    alpha: float = 1.0,
) -> DataFrame:
    """Train the multi-class hashed-BOW model → the model TABLE
    ``(class string, bucket bigint, weight_micro bigint)``. One corpus
    scan (the counts materialize class×bucket-sized inside the weights
    builder); structurally
    ``multiclass_bow_weights_from_counts(multiclass_bow_counts(...))``
    so the incremental loop (persist counts, merge a delta, re-derive)
    is byte-identical to retraining by construction."""
    return multiclass_bow_weights_from_counts(
        multiclass_bow_counts(
            labeled, class_col, text_col, id_col, n_buckets
        ),
        alpha=alpha,
    )


def score_bow_multiclass(
    docs: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    doc_buckets: DataFrame | None = None,
) -> DataFrame:
    """Score every document against a ``train_bow_multiclass`` model
    and pick the argmax class → ``(id_col, n_tokens bigint,
    pred_class string, score_micro bigint)`` with
    ``score_micro = bias_c + Σ_tokens weight_c(bucket)`` for the
    winning class (unseen buckets take the class's DEFAULT row). Exact
    integer arithmetic; ties break to the lexicographically smallest
    class, so prediction is deterministic and oracle-replayable.

    Scale shape — NO per-class row explosion of the corpus: token
    occurrences collapse to per-(doc, bucket) counts map-side, the
    bucket-keyed broadcast join against the model emits only MATCHED
    (doc, class) partials, and the K-class argmax runs IN-ROW against
    a broadcast one-row array of per-class (bias, default) constants —
    a class the document matched no bucket of still competes as
    ``bias + n_tokens·default``. The exchanges carry one row per
    (doc, matched class) and finally one per doc; K never multiplies
    the corpus. The only collect is the one-row META read (hash-space
    guard, the binary scorer's discipline).

    The per-(doc, bucket) count table is materialized once and shared
    between its two consumers (token totals + matched partials) — one
    corpus tokenization instead of two.

    ``doc_buckets`` (default None) lets a composed caller hand in the
    per-(doc, bucket) count table — ``(id_col, bucket, _n)``, already
    materialized, extra columns ignored — so train-and-score
    compositions over the SAME corpus tokenize once total
    (``train_and_score_bow_multiclass``). It must cover exactly the
    ``docs`` rows in the model's hash space; zero-token documents may
    be absent (they score bias-only, as always)."""
    metas = model.filter(F.col("bucket") == META_BUCKET).collect()
    if len(metas) != 1:
        raise ValueError(
            "score_bow_multiclass: model needs exactly one META row"
            f" (found {len(metas)}) — not a train_bow_multiclass"
            " table?"
        )
    n_buckets = int(metas[0]["weight_micro"])
    consts = (
        model.filter(
            F.col("bucket").isin(BIAS_BUCKET, DEFAULT_BUCKET)
            & F.col("class").isNotNull()
        )
        .groupBy("class")
        .agg(
            F.max(
                F.when(
                    F.col("bucket") == BIAS_BUCKET, F.col("weight_micro")
                )
            ).alias("bias"),
            F.max(
                F.when(
                    F.col("bucket") == DEFAULT_BUCKET,
                    F.col("weight_micro"),
                )
            ).alias("dflt"),
        )
        .select(
            "class",
            F.when(
                F.col("bias").isNull() | F.col("dflt").isNull(),
                F.raise_error(
                    F.concat(
                        F.lit(
                            "score_bow_multiclass: class missing its"
                            " bias/default row: "
                        ),
                        F.col("class"),
                    )
                ).cast("bigint"),
            ).otherwise(F.col("bias")).alias("bias"),
            F.col("dflt"),
        )
    )
    carr = consts.agg(
        F.array_sort(
            F.collect_list(F.struct("class", "bias", "dflt"))
        ).alias("_classes")
    )
    # the per-(doc, bucket) count table has TWO consumers (the per-doc
    # token totals and the model-matched partials) and — unlike the
    # binary scorer — they cannot fuse into one aggregation: the
    # per-class default arithmetic needs the DISTINCT-bucket token
    # total, which the per-class join fan-out cannot reconstruct. So
    # the tokenize→hash→explode→count subtree runs once and both
    # consumers read the (far smaller) counts table — without this the
    # corpus tokenization ran twice per scoring call (r15 optimization
    # round, guide §1.2: repeated-subtree evaluation).
    if doc_buckets is not None:
        occ_n = doc_buckets.select(id_col, "bucket", "_n")
    else:
        occ_n = materialize(
            _doc_buckets(docs, text_col, id_col, n_buckets)
            .groupBy(id_col, "bucket")
            .agg(F.count("*").alias("_n")),
            eager=False,
        )
    tok_tot = occ_n.groupBy(id_col).agg(F.sum("_n").alias("_ntok"))
    matched = (
        occ_n.join(
            F.broadcast(model.filter(F.col("bucket") >= 0)),
            on="bucket",
        )
        .groupBy(id_col, "class")
        .agg(
            F.sum(F.col("_n") * F.col("weight_micro")).alias("_ms"),
            F.sum("_n").alias("_mn"),
        )
        .groupBy(id_col)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("class", F.struct("_ms", "_mn")))
            ).alias("_m")
        )
    )
    assembled = (
        docs.select(id_col)
        .join(tok_tot, on=id_col, how="left")
        .join(matched, on=id_col, how="left")
        .join(F.broadcast(carr))
        .select(
            F.col(id_col),
            F.coalesce("_ntok", F.lit(0)).cast("bigint").alias(
                "n_tokens"
            ),
            F.expr(
                """
                array_min(transform(_classes, c -> struct(
                  -(c.bias
                    + coalesce(try_element_at(_m, c.class)._ms, 0L)
                    + (coalesce(_ntok, 0L)
                       - coalesce(try_element_at(_m, c.class)._mn, 0L))
                      * c.dflt) AS neg_score,
                  c.class AS class)))
                """
            ).alias("_best"),
        )
    )
    return assembled.select(
        id_col,
        "n_tokens",
        F.col("_best.class").alias("pred_class"),
        (-F.col("_best.neg_score")).cast("bigint").alias("score_micro"),
    )


def train_and_score_bow_multiclass(
    labeled: DataFrame,
    class_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_N_BUCKETS,
    alpha: float = 1.0,
) -> DataFrame:
    """Train the multi-class model on ``labeled`` and score the SAME
    corpus with it, tokenizing ONCE total (r15 optimization round,
    guide §1.2): the shared per-(doc, class, bucket) count table is
    materialized and then (a) re-aggregated to the per-(class, bucket)
    sufficient statistics the weights builder consumes and (b) handed
    to the scorer as its per-(doc, bucket) counts — the separate
    ``train_bow_multiclass`` + ``score_bow_multiclass`` composition
    runs the tokenize→hash→explode pass twice over the same text.
    Row-identical to that composition (parity-tested): summing per-doc
    occurrence counts per (class, bucket) equals counting occurrences
    directly, and each document carries exactly one class, so the
    (doc, bucket) projection is the scorer's own table. Every guard is
    unchanged: the NULL-class raise rides the shared table's plan, and
    the weights builder's META/class-count validation runs as before."""
    cls_raw = F.col(class_col).cast("string")
    cls = F.when(
        cls_raw.isNull(),
        F.raise_error(
            F.concat(
                F.lit(
                    "multiclass_bow_counts: class label casts to NULL"
                    " for id "
                ),
                F.col(id_col).cast("string"),
                F.lit(" — clean the label column or drop the row"),
            )
        ),
    ).otherwise(cls_raw)
    base = labeled.select(
        F.col(id_col), F.col(text_col), cls.alias("_cls")
    )

    occ_dcb = materialize(
        _doc_buckets(base, text_col, id_col, n_buckets, extra=("_cls",))
        .groupBy(id_col, "_cls", "bucket")
        .agg(F.count("*").alias("_n")),
        eager=False,
    )
    counts = occ_dcb.groupBy("_cls", "bucket").agg(
        F.sum("_n").alias("c")
    )
    # priors count ALL labeled docs (zero-token ones have no occ row),
    # off the label column alone — the text column prunes out of this
    # scan
    pri = base.groupBy("_cls").agg(F.count("*").alias("c")).select(
        "_cls", F.lit(BIAS_BUCKET).cast("bigint").alias("bucket"), "c"
    )
    meta = _literal_rows(
        labeled.sparkSession, [(None, META_BUCKET, int(n_buckets))],
        "_cls string, bucket bigint, c bigint",
    )
    model = multiclass_bow_weights_from_counts(
        counts.select("_cls", "bucket", "c")
        .unionByName(pri.select("_cls", "bucket", "c"))
        .unionByName(meta)
        .withColumnRenamed("_cls", "class"),
        alpha=alpha,
    )
    return score_bow_multiclass(
        base.select(id_col, text_col),
        model,
        text_col=text_col,
        id_col=id_col,
        doc_buckets=occ_dcb,
    )


def evaluate_multiclass_classifier(
    pred: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    label_col: str = "label",
    pred_col: str = "pred_class",
) -> DataFrame:
    """Per-class one-vs-rest confusion of a multi-class prediction
    against held-out labels → one row per class (union of true and
    predicted classes): ``(class, support, tp, fp, fn, tn,
    precision_ppm, recall_ppm, f1_ppm)``. Rates are exact int64 ppm,
    NULL on empty denominators (a class that was never predicted still
    reports its recall).

    Same population-integrity guards as the binary evaluator — the
    SHARED ``_guarded_eval_frame`` machinery, so the guard precedence
    (duplicated id FIRST: the fan-out defect outranks per-row
    diagnostics) is defined once for both evaluators: NULL label class
    raises, a labeled id with no prediction row raises
    (presence-marker join-miss detection), and a present-but-NULL
    predicted class raises. The confusion reduces to a (K×K)-sized
    pair table before any per-class arithmetic — one conditional
    aggregation over the holdout, then class-cardinality work only."""
    joined = _guarded_eval_frame(
        pred,
        labels,
        id_col,
        label_col,
        pred_col,
        op="multiclass evaluation",
        label_cast="string",
        label_null_phrase="label casts to NULL",
        value_cast="string",
        row_noun="prediction",
        missing_phrase="labeled id with no prediction row",
        null_phrase="prediction row carries a NULL class",
        out_value="_p",
        cast_value=True,  # class labels normalize to string
    ).select("_y", "_p")
    pairs = joined.groupBy("_y", "_p").agg(F.count("*").alias("_n"))
    classes = (
        pairs.select(F.col("_y").alias("class"))
        .unionByName(pairs.select(F.col("_p").alias("class")))
        .distinct()
    )
    per = (
        classes.join(F.broadcast(pairs))
        .groupBy("class")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("_y") == F.col("class"))
                        & (F.col("_p") == F.col("class")),
                        F.col("_n"),
                    )
                ),
                F.lit(0),
            ).alias("tp"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("_p") == F.col("class"))
                        & (F.col("_y") != F.col("class")),
                        F.col("_n"),
                    )
                ),
                F.lit(0),
            ).alias("fp"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("_y") == F.col("class"))
                        & (F.col("_p") != F.col("class")),
                        F.col("_n"),
                    )
                ),
                F.lit(0),
            ).alias("fn"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("_y") != F.col("class"))
                        & (F.col("_p") != F.col("class")),
                        F.col("_n"),
                    )
                ),
                F.lit(0),
            ).alias("tn"),
        )
    )
    return per.select(
        "class",
        (F.col("tp") + F.col("fn")).cast("bigint").alias("support"),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        F.col("tn").cast("bigint").alias("tn"),
        F.expr(
            "CASE WHEN tp + fp > 0 THEN"
            " (tp * 1000000) div (tp + fp) END"
        ).cast("bigint").alias("precision_ppm"),
        F.expr(
            "CASE WHEN tp + fn > 0 THEN"
            " (tp * 1000000) div (tp + fn) END"
        ).cast("bigint").alias("recall_ppm"),
        F.expr(
            "CASE WHEN 2 * tp + fp + fn > 0 THEN"
            " (2 * tp * 1000000) div (2 * tp + fp + fn) END"
        ).cast("bigint").alias("f1_ppm"),
    )


def mixture_sample_by_class(
    docs: DataFrame,
    model: DataFrame,
    target_ppm: dict[str, int],
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """The classifier-routed data-mixing hook: tag every document with
    its predicted class (``score_bow_multiclass`` argmax) and resample
    to the target per-class mixture with ``sample.mixture_sample`` —
    the FineWeb-Edu-style 'route by learned domain, then fix the
    output composition' step, as ONE composition so the stratum column
    and the mixture predicate can never disagree.

    Returns the kept rows of ``docs`` with the ``pred_class`` stratum
    column attached (callers can drop it). Scale shape: the scoring
    pass's per-doc argmax output joins back to the corpus on the id
    (one equi-join — co-partitioned with the scorer's final exchange),
    and the mixture itself is a broadcast rate table + pure hash
    predicate (no corpus shuffle)."""
    from inbev_data_engineering_case_spark.operators.sample import (
        mixture_sample,
    )

    pred = score_bow_multiclass(docs, model, text_col, id_col).select(
        F.col(id_col), F.col("pred_class")
    )
    return mixture_sample(
        docs.join(pred, on=id_col),
        "pred_class",
        target_ppm,
        id_col=id_col,
        salt=salt,
    )

"""Data-quality profiling: declarative rule checks evaluated in ONE pass.

The reference's only data-quality machinery is the ingestion page-count
invariant (reference README.md:84, covered by ``sources/rest.py``) and the
EDA findings hard-coded into the cleansing rules (SURVEY.md §5.1). This
operator generalizes both: a rule set is profiled over any table as a
single aggregation — each rule contributes ``sum(violated ? 1 : 0)`` — so
profiling 100 TB costs one scan + one scalar row, not one scan per rule.

Rules are (name, Column predicate that is TRUE when the row VIOLATES the
rule). Output is long-form (rule, n_violations, n_rows) so downstream
gating (`fail if any n_violations > 0`) and dashboards need no schema
changes when rules are added.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from inbev_data_engineering_case_spark.session import materialize


def dq_profile(df: DataFrame, rules: list[tuple[str, Column]]) -> DataFrame:
    """Profile violation counts for every rule in one aggregation pass.

    ``rules``: list of (rule_name, violation_predicate). The wide
    single-row aggregate is unpivoted to (rule, n_violations, n_rows) rows
    via a stack expression — still a single job, no shuffle beyond the
    global aggregate.
    """
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.sum(F.when(pred, 1).otherwise(0)).alias(f"__v{i}")
        for i, (_, pred) in enumerate(rules)
    ]
    wide = df.agg(*aggs)
    stack_expr = ", ".join(
        f"'{name}', __v{i}" for i, (name, _) in enumerate(rules)
    )
    return wide.selectExpr(
        f"stack({len(rules)}, {stack_expr}) AS (rule, n_violations)",
        "__n AS n_rows",
    ).select("rule", "n_violations", "n_rows")


def skew_report(
    df: DataFrame,
    key_col: str,
    top_n: int = 10,
) -> DataFrame:
    """Shuffle-skew diagnostics: the ``top_n`` heaviest values of a
    prospective join/aggregation key with their exact corpus share —
    ``(key_col, cnt, share_ppm, rnk)``. The operational pre-check before
    keying a 100 TB shuffle (a key holding >1% of rows wants salting or
    an AQE skew-join; `q_salted_join` is the fix this report triggers).

    Scale shape: per-key counts partial-aggregate (the exchange carries
    group cardinality); the top-n is ``orderBy().limit()`` — Spark plans
    TakeOrderedAndProject, a per-partition heap + tiny driver merge,
    never a global sort; the total-row denominator joins as a broadcast
    1-row aggregate and the share is exact int64 ppm. Ranking ties break
    on the key value, so the report is deterministic."""
    counts = df.groupBy(key_col).agg(F.count("*").alias("cnt"))
    total = df.agg(F.count("*").alias("_total"))
    top = (
        counts.orderBy(F.col("cnt").desc(), F.col(key_col))
        .limit(top_n)
        .join(F.broadcast(total))
        .withColumn("share_ppm", F.expr("(cnt * 1000000) div _total"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("cnt").desc(), F.col(key_col))
    return (
        top.withColumn("rnk", F.row_number().over(w))
        .select(key_col, "cnt", "share_ppm", "rnk")
    )


def equi_depth_histogram(
    df: DataFrame,
    value_col: str,
    n_buckets: int = 4,
    approx: bool = False,
) -> DataFrame:
    """Equi-depth histogram: ``(bucket, n, lo, hi)`` with boundaries at
    the 1/n..(n-1)/n quantiles, so each bucket holds ~the same row count
    regardless of the distribution (an equi-WIDTH histogram collapses on
    skewed data — most rows land in one bin).

    Boundaries come from exact ``F.percentile`` (oracle parity) or the
    mergeable GK sketch (``approx=True`` — the 100 TB setting, same
    discipline as ``sample.top_fraction_by_score``); either way they are
    a single-row aggregate broadcast into a codegen'd CASE bucketing
    pass, then one partial-aggregated count. Two scans total, no sort."""
    qs = [i / n_buckets for i in range(1, n_buckets)]
    if approx:
        aggs = [
            F.expr(f"approx_percentile({value_col}, {q})").alias(f"_b{i}")
            for i, q in enumerate(qs)
        ]
    else:
        aggs = [
            F.percentile(value_col, F.lit(q)).alias(f"_b{i}")
            for i, q in enumerate(qs)
        ]
    bounds = df.agg(*aggs)
    bucket: Column = F.lit(n_buckets)
    for i in range(len(qs) - 1, -1, -1):
        bucket = F.when(
            F.col(value_col) <= F.col(f"_b{i}"), F.lit(i + 1)
        ).otherwise(bucket)
    return (
        df.join(F.broadcast(bounds))
        .withColumn("bucket", bucket.cast("bigint"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min(value_col).alias("lo"),
            F.max(value_col).alias("hi"),
        )
    )


def heavy_hitters(
    df: DataFrame,
    item_col: str,
    id_col: str,
    phi_ppm: int = 10_000,
    sample_ppm: int = 100_000,
    seed: str = "hh",
) -> DataFrame:
    """phi-frequent items (heavy hitters) WITHOUT a full-distinct
    shuffle: find every item occurring in more than ``phi_ppm`` parts
    per million of the rows — hot URLs, template domains, repeated
    boilerplate keys — via deterministic sample-then-verify.

    Why not plain ``groupBy(item).count()``: at 100 TB with billions of
    DISTINCT items, that exchange carries one row per distinct item —
    almost all of them cold. Here:

    1. **Sample pass**: rows whose ``portable_hash64(seed || id)`` lands
       under ``sample_ppm`` (a deterministic hash-Bernoulli, the
       ``hash_split`` discipline — stable across retries/AQE and
       replayable by the oracle, unlike ``rand()``) are counted per
       item; candidates are items whose sampled count reaches HALF the
       expected sample count of a phi-frequent item. The candidate set
       is tiny (≤ ~2/phi items by a counting argument) and broadcasts.
    2. **Verify pass**: one corpus scan with a broadcast semi-join
       counts ONLY the candidates exactly, then filters on the true
       threshold ``cnt/N > phi``. The exchange carries candidate rows
       only.

    A phi-frequent item missing from the sample needs its ~phi·N
    occurrences to ALL hash above the cutoff — probability
    exponentially small in phi·N·rate (the half-expectation cutoff
    leaves a Chernoff margin); results on a given dataset are exactly
    reproducible, and false candidates are removed by the verify pass,
    so reported counts are EXACT.

    ``id_col`` is the SAMPLING UNIT and the guarantee is per-unit: rows
    sharing an id sample together, so the exponential bound holds over
    the number of distinct units carrying the item, not its row count.
    Pass a row-unique id (e.g. ``(doc_id, position)`` for a token
    stream) for the per-occurrence guarantee — an item concentrated in
    a handful of ids under a coarse unit rides on those few ids' hashes
    and CAN be missed outright. Coarse units are only appropriate when
    hot items are known to spread across many units.

    All count arithmetic runs in integer ppm and widens to
    DECIMAL(38,0) where products could pass int64 — no float boundary
    and no silent wrap can disagree between engines. Returns
    ``(item, cnt, share_ppm)``.
    """
    from inbev_data_engineering_case_spark.functions import portable_hash64

    n = df.agg(F.count("*").alias("_n"))
    sampled = df.filter(
        portable_hash64(F.concat(F.lit(seed), F.col(id_col).cast("string")))
        % 1_000_000
        < sample_ppm
    )
    cand = (
        sampled.groupBy(item_col)
        .agg(F.count("*").alias("_sc"))
        .join(F.broadcast(n))
        .filter(
            # half the expected sample count of a phi-frequent item,
            # floored stepwise so no intermediate product can exceed
            # int64 before ~3e14 rows
            F.col("_sc")
            >= F.greatest(
                F.lit(1).cast("bigint"),
                F.expr(
                    f"((_n * {phi_ppm}) div 1000000 * {sample_ppm})"
                    " div 2000000"
                ),
            )
        )
        .select(item_col)
    )
    wide = "decimal(38,0)"
    return (
        df.join(F.broadcast(cand), item_col, "left_semi")
        .groupBy(item_col)
        .agg(F.count("*").alias("cnt"))
        .join(F.broadcast(n))
        # widened: cnt * 1e6 passes int64 at cnt > ~9.2e12, inside the
        # operator's own row envelope — HUGEINT on the oracle side
        .filter(
            F.col("cnt").cast(wide) * F.lit(1_000_000).cast(wide)
            > F.lit(phi_ppm).cast(wide) * F.col("_n").cast(wide)
        )
        .select(
            F.col(item_col).alias("item"),
            "cnt",
            F.expr(
                "(cast(cnt as decimal(38,0)) * 1000000) div _n"
            ).cast("bigint").alias("share_ppm"),
        )
    )


def distribution_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    n_cuts: int = 15,
    approx: bool = False,
) -> DataFrame:
    """Two-sample DISTRIBUTION drift — the KS-style ECDF comparison that
    catches what ``curate.curation_drift``'s count alarms cannot: a
    corpus whose per-stage survivor counts look normal while the
    distribution of a score (quality, perplexity, length, value) shifts
    under them. Evaluates both samples' empirical CDFs at the
    REFERENCE distribution's ``n_cuts`` quantile probe points and
    reports the per-cut gap in exact integer ppm; ``max(gap_ppm)`` is
    the KS statistic at probe-point resolution — alarm when it clears
    the threshold calibrated for the sample sizes.

    Returns one row per probe point: ``(cut_idx, cut_value,
    ref_cdf_ppm, cur_cdf_ppm, gap_ppm)``.

    Scale shape: the probe boundaries are ONE row — exact
    ``F.percentile`` for oracle parity or the mergeable GK sketch
    (``approx=True``, the 100 TB setting; rank error ≤ N/10000,
    property-tested) — computed ONCE (pinned via ``materialize``:
    the 1-row result is referenced by three joins, and without
    pinning it each reference re-ran the full reference-side scan —
    5 scans in the physical plan instead of 3) and broadcast into each
    side's single codegen'd indicator-sum pass. Total: the two indicator scans plus
    the one bounds pass, no sort, no data-sized shuffle, in BOTH
    modes (plan-tested). CDF numerators and denominators count
    non-NULL values consistently; the ppm division is an explicit
    int64 floor, so the replay matches hash-for-hash.
    """
    if n_cuts < 1:
        raise ValueError("distribution_drift: n_cuts must be >= 1")
    bounds = _drift_bounds(ref, value_col, n_cuts, approx)
    one = (
        _ecdf_counts(ref, bounds, value_col, n_cuts, "_r")
        .join(F.broadcast(_ecdf_counts(cur, bounds, value_col, n_cuts, "_c")))
        .join(F.broadcast(bounds))
    )
    return _drift_gap_rows(one, n_cuts)


def _drift_bounds(
    ref: DataFrame,
    value_col: str,
    n_cuts: int,
    approx: bool,
) -> DataFrame:
    """The 1-row probe-boundary frame (reference quantiles), pinned.

    ONE percentile aggregate over the probe array — not n_cuts
    independent ones: in approx mode each row would otherwise update
    n_cuts separate GK sketches (~n_cuts x the sketch CPU and buffer
    memory); the array form computes every cut from a single pass.
    Pinned via ``session.materialize`` because several consumers
    reference the frame; without pinning each re-evaluates the
    aggregate — i.e. re-scans the full reference corpus (measured: 5
    file scans vs 3). On a dynamic-allocation cluster, where an
    executor-local block could be decommissioned between the bounds
    pass and the indicator scans, the session's checkpoint dir makes
    the pin a fault-tolerant scratch table.
    """
    qs = [i / (n_cuts + 1) for i in range(1, n_cuts + 1)]
    fn = "approx_percentile" if approx else "percentile"
    arr = ", ".join(repr(q) for q in qs)
    return materialize(
        ref.agg(F.expr(f"{fn}({value_col}, array({arr}))").alias("_bs"))
        .select(
            *[
                F.element_at(F.col("_bs"), i + 1).alias(f"_b{i}")
                for i in range(n_cuts)
            ]
        ),
        eager=False,
    )


def _ecdf_counts(
    df: DataFrame, bounds: DataFrame, value_col: str, n_cuts: int,
    prefix: str,
) -> DataFrame:
    """1-row (count, Σ indicator per cut) frame — one codegen'd scan."""
    aggs = [
        F.sum(
            F.when(F.col(value_col) <= F.col(f"_b{i}"), 1).otherwise(0)
        ).alias(f"{prefix}le{i}")
        for i in range(n_cuts)
    ]
    return df.join(F.broadcast(bounds)).agg(
        F.count(value_col).alias(f"{prefix}n"), *aggs
    )


def _drift_gap_rows(one: DataFrame, n_cuts: int) -> DataFrame:
    """The shared drift tail: empty-sample guard + per-cut ppm rows.

    An EMPTY (or all-NULL) sample is the failure a drift alarm most
    needs to catch — a NULL/zero gap would read as "no drift" while an
    upstream stage produced nothing. Fail loudly instead; the guard
    rides in the plan, so there is no extra driver action.
    """
    for side, name in (("_rn", "reference"), ("_cn", "current")):
        one = one.withColumn(
            side,
            F.when(
                F.col(side) == 0,
                F.raise_error(
                    F.lit(
                        f"distribution_drift: the {name} sample has no "
                        "non-NULL values — no CDF exists to compare; "
                        "this is itself the drift event (alarm "
                        "upstream on the empty stage)"
                    )
                ).cast("bigint"),
            ).otherwise(F.col(side)),
        )
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).cast("int").alias("cut_idx"),
                F.col(f"_b{i}").cast("double").alias("cut_value"),
                F.expr(f"(_rle{i} * 1000000) div _rn").alias("ref_cdf_ppm"),
                F.expr(f"(_cle{i} * 1000000) div _cn").alias("cur_cdf_ppm"),
                F.expr(
                    f"abs((_rle{i} * 1000000) div _rn"
                    f" - (_cle{i} * 1000000) div _cn)"
                ).alias("gap_ppm"),
            )
            for i in range(n_cuts)
        ]
    )
    return one.select(F.explode(rows).alias("p")).select("p.*")


def drift_bound_values(
    ref: DataFrame,
    value_col: str,
    n_cuts: int = 15,
    approx: bool = False,
) -> list[float]:
    """The probe boundaries as plain floats — the form a STREAM embeds
    as plan literals (the boundaries are fixed for the stream's
    lifetime; re-deriving them per micro-batch would re-scan the
    reference every trigger). The 1-row collect is model-sized, the
    ``bpe``/centroid exception pattern."""
    row = _drift_bounds(
        ref, value_col, n_cuts, approx
    ).collect()[0]
    return [row[f"_b{i}"] for i in range(n_cuts)]


def drift_from_partials(
    ref: DataFrame,
    partials: DataFrame,
    value_col: str,
    n_cuts: int = 15,
    approx: bool = False,
) -> DataFrame:
    """``distribution_drift`` with the CURRENT side supplied as
    streamed indicator partials (``streaming.events.
    stream_drift_partials`` output: one row per closed window with
    ``(n, le[i])`` counts against the SAME reference boundaries).

    Indicator counts are plain sums, so merging windowed partials is
    LOSSLESS: the output rows are identical — not approximately equal
    — to batch ``distribution_drift(ref, all current rows)``, the CMS
    bit-identity discipline applied to the ECDF. A partial row whose
    ``n_cuts`` disagrees with this call raises in-plan (the
    wrong-geometry guard): summing counts probed against different
    boundaries would silently fabricate a CDF.
    """
    if n_cuts < 1:
        raise ValueError("drift_from_partials: n_cuts must be >= 1")
    bounds = _drift_bounds(ref, value_col, n_cuts, approx)
    guard = F.when(
        F.col("n_cuts") != n_cuts,
        F.raise_error(
            F.concat(
                F.lit("drift_from_partials: partial has n_cuts="),
                F.col("n_cuts").cast("string"),
                F.lit(
                    f", merge expects {n_cuts} — counts probed against"
                    " different boundaries cannot be summed"
                ),
            )
        ).cast("bigint"),
    ).otherwise(F.col("n"))
    cur_counts = partials.agg(
        F.sum(guard).alias("_cn"),
        *[
            F.sum(F.element_at("le", i + 1)).alias(f"_cle{i}")
            for i in range(n_cuts)
        ],
    ).select(
        F.coalesce(F.col("_cn"), F.lit(0)).alias("_cn"),
        *[
            F.coalesce(F.col(f"_cle{i}"), F.lit(0)).alias(f"_cle{i}")
            for i in range(n_cuts)
        ],
    )
    one = (
        _ecdf_counts(ref, bounds, value_col, n_cuts, "_r")
        .join(F.broadcast(cur_counts))
        .join(F.broadcast(bounds))
    )
    return _drift_gap_rows(one, n_cuts)

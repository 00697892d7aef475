"""Deterministic sampling and ordering for training corpora.

``df.sample()`` / ``sampleBy()`` draw from a seeded RNG whose stream
depends on partitioning — resample after an AQE re-plan, a retry, or a
repartition and you get a DIFFERENT subset. For training-data work the
sample must be a pure function of the data (reproducible across engines,
clusters, and reruns), so these operators decide membership by hashing the
row's id: ``portable_hash64(id) % 1e6 < fraction * 1e6``. The hash is
md5-based and engine-portable, which also makes every query here exactly
oracle-checkable in DuckDB.

Scale shape: membership is a pure Column predicate — no shuffle, no RNG
state, pushes through codegen, and composes with partition pruning. The
global shuffle (training order) is the one deliberate exception: ordering
by a salted hash is a range-partition sort, the standard "shuffle the
corpus once per epoch" step, priced accordingly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inbev_data_engineering_case_spark.functions import portable_hash64
from inbev_data_engineering_case_spark.session import materialize

SAMPLE_BUCKETS = 1_000_000


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
    salt: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sample — the corpus-balancing step (e.g.
    downsample over-represented languages). ``fractions`` maps stratum
    value → keep-fraction; strata not listed keep ``default_fraction``.

    The per-stratum threshold is a small CASE expression (fractions are
    config, not data), so the whole filter is one codegen'd predicate over
    the scan: no join, no shuffle, prunes before anything downstream."""
    bucket = portable_hash64(id_col, seed=salt) % SAMPLE_BUCKETS
    threshold: Column = F.lit(int(default_fraction * SAMPLE_BUCKETS))
    for value, frac in sorted(fractions.items()):
        threshold = F.when(
            F.col(strata_col) == value, F.lit(int(frac * SAMPLE_BUCKETS))
        ).otherwise(threshold)
    return df.filter(bucket < threshold)


def top_fraction_by_score(
    df: DataFrame,
    score_col: str,
    keep_fraction: float,
    approx: bool = False,
) -> DataFrame:
    """Adaptive corpus filter: keep rows at or above the corpus's
    ``1 - keep_fraction`` score quantile ("top 30% by quality") — the
    threshold adapts to the data instead of being a hand-picked constant
    that rots as the corpus mix shifts.

    Two passes: (1) aggregate the global threshold — exact
    ``F.percentile`` for oracle parity, or ``approx_percentile``
    (``approx=True``) at scale: a mergeable Greenwald-Khanna sketch, map-
    side combinable, no global sort; (2) broadcast the single-row
    threshold into the filter (1-row BroadcastNestedLoop — effectively a
    scalar subquery), which stays a codegen'd scan predicate."""
    q = 1.0 - keep_fraction
    thr_expr = (
        F.expr(f"approx_percentile({score_col}, {q})")
        if approx
        else F.percentile(score_col, F.lit(q))
    )
    thr = df.agg(thr_expr.alias("_thr"))
    return (
        df.join(F.broadcast(thr), F.col(score_col) >= F.col("_thr"))
        .drop("_thr")
    )


# staging columns shared by the budgeted-selection family; the guard
# refuses inputs that already carry one (the operators stage under
# these names). The by-stratum forms stage two more (_blim, _rn) —
# declared per function so the scalar form's accepted inputs don't
# silently narrow.
_BUDGET_RESERVED = (
    "_mq", "_cost", "_mass", "_cum", "_remaining", "_rcum",
)
_STRATUM_RESERVED = _BUDGET_RESERVED + ("_blim", "_rn")


def _budget_staging_guard(
    df: DataFrame, fn_name: str, reserved: tuple[str, ...] = _BUDGET_RESERVED
) -> None:
    clash = [c for c in reserved if c in df.columns]
    if clash:
        raise ValueError(
            f"{fn_name}: input already carries {clash} — "
            "rename; the operator stages columns under those names"
        )


def _guarded_cost(fn_name: str, cost_col: str, id_col: str) -> Column:
    """Costs must be non-negative and non-NULL — a NULL or negative
    cost would silently corrupt every cumulative sum after it, so both
    raise in-plan (the ``pagerank`` weight-validation discipline)."""
    return F.when(
        F.col(cost_col).isNull() | (F.col(cost_col) < 0),
        F.raise_error(
            F.concat(
                F.lit(f"{fn_name}: NULL or negative cost for id "),
                F.col(id_col).cast("string"),
                F.lit(" — every cumulative sum after it would corrupt"),
            )
        ).cast("bigint"),
    ).otherwise(F.col(cost_col).cast("bigint"))


def _guarded_micro_quality(
    fn_name: str, quality_col: str, id_col: str
) -> Column:
    """Quality quantized to integer micro-units (the repo-wide ln-1e6
    discipline — engine-stable boundaries); NULL raises in-plan (a
    NULL has no position in the selection order)."""
    return F.when(
        F.col(quality_col).isNull(),
        F.raise_error(
            F.concat(
                F.lit(f"{fn_name}: NULL quality for id "),
                F.col(id_col).cast("string"),
                F.lit(" — it has no position in the selection order"),
            )
        ).cast("bigint"),
    ).otherwise(F.round(F.col(quality_col) * 1_000_000).cast("bigint"))


def _staged_budget_base(df: DataFrame, mq: Column, cost: Column) -> DataFrame:
    """Stage ``(_mq, _cost)`` onto ``df`` and materialize ONCE for the
    budget family's multiple consumers (r15 optimization round).

    The histogram plan reads its base at least three times (level
    histogram, fully-kept semi-join, boundary join) and Spark does not
    share the subtree across references — measured 8 source scans per
    run on the mixture form, i.e. eight re-tokenizations of the corpus
    when the quality score rides the input lineage. One materialization
    (``session.materialize`` — the same session-wide trade as every
    other multi-consumer stage in the repo) makes every
    re-reference a table read. The single evaluation also inherits the
    scan-parallelism guard when the input is a plain file scan (the
    metadata-only path — the ``df.rdd`` fallback is deliberately NOT
    used here: on an unexecuted AQE plan it would force query-stage
    materialization just to count partitions)."""
    from inbev_data_engineering_case_spark.operators.dedup import (
        _estimate_scan_splits,
    )

    target = df.sparkSession.sparkContext.defaultParallelism
    splits = _estimate_scan_splits(df)
    if splits is not None and splits < target:
        df = df.repartition(target)
    return materialize(
        df.withColumn("_mq", mq).withColumn("_cost", cost),
        eager=False,
    )


def select_within_budget(
    df: DataFrame,
    budget: int,
    cost_col: str = "n_tokens",
    quality_col: str = "quality",
    id_col: str = "doc_id",
) -> DataFrame:
    """Budgeted data selection — the FineWeb-style "take the best
    documents until the token budget is spent" step: the kept set is
    the maximal PREFIX of the (quality DESC, id ASC) total order whose
    summed ``cost_col`` stays ≤ ``budget``. ``top_fraction_by_score``
    targets a row fraction; training runs target a TOKEN budget, and
    the two differ whenever cost correlates with quality (it does:
    long documents score differently from short ones).

    Deterministic end to end: quality quantizes to integer micro-units
    (``round(q·1e6)`` — the repo-wide ln-1e6 discipline, so the
    boundary is engine-stable), ties inside a quality level break by
    ascending id, and the decision is a pure function of the data — a
    retry, AQE re-plan, or oracle replay selects the same rows.

    Scale shape — NO global sort of the corpus (the naive "ORDER BY
    quality DESC then running sum" is a full range-partition sort
    plus a serial prefix scan):

    1. one partial-aggregated exchange builds the QUALITY-LEVEL
       HISTOGRAM ``(level, total cost)`` — level cardinality, not
       corpus cardinality;
    2. a window cumsum over that tiny table (single-partition by
       design — it is level-sized) finds the fully-kept levels and the
       one BOUNDARY level with its remaining budget;
    3. fully-kept levels come back as a broadcast semi-join (a pure
       scan predicate on the corpus); only the boundary level's
       documents — one quality level, vanishingly small under
       continuous scores — pay an ordered running sum, partitioned to
       that level alone.

    Degenerate caveat, stated honestly: a corpus where a large mass of
    documents shares ONE exact micro-quality level pushes that level's
    membership through the single boundary window. Quality scores are
    continuous expressions here, so levels are tiny in practice; a
    constant-scored corpus should be selected by hash instead
    (``stratified_sample``).

    Costs must be non-negative and non-NULL — a NULL or negative cost
    would silently corrupt every cumulative sum after it, so both
    raise in-plan (the ``pagerank`` weight-validation discipline). A
    NULL quality raises too (it has no position in the order).
    ``budget <= 0`` returns the empty selection (short-circuited
    explicitly: without it, top-quality levels whose docs all cost 0
    would satisfy ``cum <= 0`` and leak through at budget 0)."""
    _budget_staging_guard(df, "select_within_budget")
    budget = int(budget)
    if budget <= 0:
        return df.filter(F.lit(False))
    base = _staged_budget_base(
        df,
        _guarded_micro_quality("select_within_budget", quality_col, id_col),
        _guarded_cost("select_within_budget", cost_col, id_col),
    )
    levels = base.groupBy("_mq").agg(F.sum("_cost").alias("_mass"))
    # level-sized table: the unpartitioned window is the point, not an
    # accident — it never sees corpus-cardinality rows
    wl = (
        Window.orderBy(F.col("_mq").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    # two consumers (fully-kept filter + boundary limit) — materialize
    # the LEVEL-sized cumsum table once so the histogram aggregation
    # isn't re-run per consumer (r15 optimization round)
    lv = materialize(
        levels.select(
            "_mq", "_mass", F.sum("_mass").over(wl).alias("_cum")
        ),
        eager=False,
    )
    full = lv.filter(F.col("_cum") <= budget).select("_mq")
    boundary = (
        lv.filter(F.col("_cum") > budget)
        .orderBy(F.col("_mq").desc())
        .limit(1)
        .select(
            "_mq",
            (F.lit(budget) - (F.col("_cum") - F.col("_mass"))).alias(
                "_remaining"
            ),
        )
    )
    kept_full = base.join(F.broadcast(full), on="_mq", how="left_semi")
    wb = Window.partitionBy("_mq").orderBy(F.col(id_col).asc())
    kept_boundary = (
        base.join(F.broadcast(boundary), on="_mq")
        .withColumn("_rcum", F.sum("_cost").over(wb))
        .filter(F.col("_rcum") <= F.col("_remaining"))
        .drop("_remaining", "_rcum")
    )
    return kept_full.unionByName(kept_boundary).drop("_mq", "_cost")


def select_within_budget_by_stratum(
    df: DataFrame,
    strata_col: str,
    budgets: DataFrame | dict[str, int],
    cost_col: str = "n_tokens",
    quality_col: str = "quality",
    id_col: str = "doc_id",
) -> DataFrame:
    """``select_within_budget`` spent PER STRATUM — the shape real
    training pipelines budget in ("30B tokens of code, 10B of forums,
    best-first within each"): for every stratum, the kept set is the
    maximal (quality DESC, id ASC) prefix of THAT stratum whose summed
    ``cost_col`` stays within the stratum's budget. Strata without a
    budget row are excluded (the ``mixture_rates`` inner-join
    convention); a budget ≤ 0 selects nothing from its stratum (the
    scalar form's short-circuit, here a filter on the tiny budget
    table).

    ``budgets`` is a dict ``{stratum: budget}`` or a 2-column
    DataFrame ``(strata_col, budget)`` — config- or mixture-derived
    (``mixture_budgets``), always stratum-cardinality-sized, so it
    broadcasts.

    Scale shape — the scalar form's histogram plan, partitioned by
    stratum, still with NO global sort (plan-locked alongside the
    scalar form: no RangePartitioning exchange anywhere):

    1. one partial-aggregated exchange builds the per-(stratum,
       quality-level) histogram;
    2. the cumsum window partitions BY STRATUM (hash exchange + local
       sort over the level-sized table — never a range exchange);
    3. fully-kept levels return as one broadcast semi-join on
       (stratum, level); each stratum's single boundary level pays an
       ordered running sum partitioned to that (stratum, level) alone.

    Same in-plan guards as the scalar form: NULL/negative costs and
    NULL quality raise; inputs carrying a staging column name are
    refused. Identity contract (parity-tested): equals running
    ``select_within_budget(df.filter(stratum = s), budget_s)`` per
    stratum and unioning."""
    fn = "select_within_budget_by_stratum"
    _budget_staging_guard(df, fn, _STRATUM_RESERVED)
    spark = df.sparkSession
    if isinstance(budgets, dict):
        if not budgets:
            # loud, near the mistake — createDataFrame([]) would throw
            # an obscure schema-inference error instead
            raise ValueError(
                f"{fn}: empty budgets — every stratum would be"
                " excluded; pass at least one (stratum, budget)"
            )
        # the dict shape honors the same NULL discipline as the frame
        # shape — a None value would otherwise silently exclude its
        # stratum through the > 0 filter below
        null_strata = sorted(
            str(s) for s, b in budgets.items() if b is None
        )
        if null_strata:
            raise ValueError(
                f"{fn}: NULL budget for strata {null_strata} — it"
                " would silently exclude them; drop the keys or fix"
                " the budgets"
            )
        # the dict shape also honors the family's exact-int64
        # discipline: a float budget (e.g. 30e9) would otherwise
        # infer _blim as double and silently run the _cum <= _blim
        # comparison and boundary arithmetic in floating point
        float_strata = sorted(
            str(s)
            for s, b in budgets.items()
            if not isinstance(b, int) or isinstance(b, bool)
        )
        if float_strata:
            raise ValueError(
                f"{fn}: non-integer budget for strata {float_strata}"
                " — the boundary arithmetic is exact int64; pass int"
                " token counts (30e9 is a float — write 30_000_000_000)"
            )
        budgets = spark.createDataFrame(
            sorted(budgets.items()), [strata_col, "_blim"]
        ).withColumn("_blim", F.col("_blim").cast("bigint"))
    else:
        bcols = budgets.columns
        if len(bcols) != 2 or strata_col not in bcols:
            raise ValueError(
                f"{fn}: budgets must be"
                f" ({strata_col}, <budget>) — got {bcols}"
            )
        (bud_col,) = [c for c in bcols if c != strata_col]
        # a NULL budget raises (the family's NULL discipline) — the
        # guard checks the CAST result, so a value that casts to NULL
        # under non-ANSI semantics is caught too (under the repo's
        # ANSI sessions a malformed cast throws on its own)
        blim = F.col(bud_col).cast("bigint")
        budgets = budgets.select(
            strata_col,
            F.when(
                blim.isNull(),
                F.raise_error(
                    F.concat(
                        F.lit(f"{fn}: NULL budget for stratum "),
                        F.col(strata_col).cast("string"),
                        F.lit(
                            " — it would silently exclude the whole"
                            " stratum; drop the row or fix the budget"
                        ),
                    )
                ).cast("bigint"),
            )
            .otherwise(blim)
            .alias("_blim"),
        )
        # duplicate stratum rows would duplicate boundary-level output
        # through the inner join — refuse them in-plan (the budget
        # table is stratum-cardinality-sized; the window is trivial)
        wdup = Window.partitionBy(strata_col)
        budgets = budgets.select(
            strata_col,
            F.when(
                F.count("*").over(wdup) > 1,
                F.raise_error(
                    F.concat(
                        F.lit(f"{fn}: duplicate budget rows for"
                              " stratum "),
                        F.col(strata_col).cast("string"),
                        F.lit(" — one budget per stratum"),
                    )
                ).cast("bigint"),
            )
            .otherwise(F.col("_blim"))
            .alias("_blim"),
        )
    budgets = budgets.filter(F.col("_blim") > 0)
    base = _staged_budget_base(
        df,
        _guarded_micro_quality(fn, quality_col, id_col),
        _guarded_cost(fn, cost_col, id_col),
    )
    levels = base.groupBy(strata_col, "_mq").agg(
        F.sum("_cost").alias("_mass")
    )
    return _stratum_prefix_from_levels(
        base, levels, budgets, strata_col, id_col, df.columns,
    )


def _stratum_prefix_from_levels(
    base: DataFrame,
    levels: DataFrame,
    budgets: DataFrame,
    strata_col: str,
    id_col: str,
    out_cols: list[str],
) -> DataFrame:
    """The by-stratum selection core over a prepared ``base`` (staged
    ``_mq``/``_cost``), its ``(strata, _mq, _mass)`` level histogram,
    and a ``(strata, _blim)`` budget table — shared by the explicit
    by-stratum form and the one-histogram mixture composition.

    ``lv`` (LEVEL-sized) is materialized once: its two consumers
    (fully-kept set + boundary rows) would otherwise each re-run the
    histogram aggregation, the cumsum window, AND the whole budget
    derivation subtree — on the mixture form that duplication alone
    accounted for 4 of the measured 8 source scans per run (r15
    optimization round)."""
    wl = (
        Window.partitionBy(strata_col)
        .orderBy(F.col("_mq").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lv = materialize(
        levels.select(
            strata_col, "_mq", "_mass",
            F.sum("_mass").over(wl).alias("_cum"),
        ).join(F.broadcast(budgets), strata_col),
        eager=False,
    )
    full = lv.filter(F.col("_cum") <= F.col("_blim")).select(
        strata_col, "_mq"
    )
    boundary = (
        lv.filter(F.col("_cum") > F.col("_blim"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(strata_col).orderBy(F.col("_mq").desc())
            ),
        )
        .filter(F.col("_rn") == 1)
        .select(
            strata_col,
            "_mq",
            (F.col("_blim") - (F.col("_cum") - F.col("_mass"))).alias(
                "_remaining"
            ),
        )
    )
    kept_full = base.join(
        F.broadcast(full), on=[strata_col, "_mq"], how="left_semi"
    )
    wb = Window.partitionBy(strata_col, "_mq").orderBy(F.col(id_col).asc())
    kept_boundary = (
        base.join(F.broadcast(boundary), on=[strata_col, "_mq"])
        .withColumn("_rcum", F.sum("_cost").over(wb))
        .filter(F.col("_rcum") <= F.col("_remaining"))
        .drop("_remaining", "_rcum")
    )
    # the key-list joins moved strata_col to the front — restore the
    # input's column order (the scalar form's output contract)
    return kept_full.unionByName(kept_boundary).select(out_cols)


MIXTURE_PPM = 1_000_000


def mixture_rates(
    df: DataFrame,
    strata_col: str,
    target_ppm: dict[str, int],
    weight_col: str | None = None,
) -> DataFrame:
    """Per-stratum keep rates that resample the corpus to a target mixture
    — the data-mixing step of an LLM pipeline ("30% web, 30% code, …"):
    ``(strata_col, n_rows, target_ppm, rate_ppm)``.

    ``target_ppm`` maps stratum → parts-per-million of the OUTPUT
    composition (weights are config; they need not sum to exactly 1e6).
    Downsampling only (no replication): the achievable output size is
    bounded by the scarcest stratum, ``budget = min_s floor(n_s * 1e6 /
    w_s)`` — always ≤ total rows by the mediant inequality — and each
    stratum keeps ``floor(w_s * budget / 1e6)`` rows, capped at rate 1.

    EVERY step is int64 arithmetic (``div``, no doubles), so the rates —
    and therefore the sampled subset — are bit-identical on any engine.
    Overflow bound: ``w_s * budget ≤ 1e6 * n_total`` needs
    ``n_total < 9.2e12`` rows, comfortably above a 100 TB corpus.

    Plan shape: one partial-aggregated exchange for the per-stratum
    counts (stratum cardinality is small — languages, sources, domains);
    the weights are a literal in-memory table; the budget is a broadcast
    1-row aggregate. Strata absent from ``target_ppm`` get no row
    (rate 0 — dropped by the inner join, i.e. excluded from the mix).

    ``weight_col`` (default None = mix by ROW counts) switches the
    composition to per-row weights — the mixture labs actually target
    is a TOKEN mixture ("30% web tokens"), and rows and tokens differ
    whenever document length correlates with the stratum (code files
    vs tweets). The per-stratum mass becomes ``sum(weight_col)`` (the
    output column is named ``n_units`` instead of ``n_rows``), the
    budget/rate arithmetic is unchanged int64, and membership stays
    the per-row id hash — so the kept SET is still exact and
    deterministic while the achieved token share is the expected
    value of the hash draw (weights are independent of the id hash;
    the deviation is the usual Bernoulli concentration, negligible at
    corpus scale). Overflow is GUARDED, not assumed: a stratum mass
    past ``(2^63-1) div 1e6`` ≈ 9.2e12 units raises in-plan instead
    of silently wrapping — at 100 TB weight in coarser units
    (kilo-tokens) to stay under the bound. NULL or negative weights
    raise in-plan (they would corrupt every mass after them).
    """
    joined, mass_col = _mixture_joined(df, strata_col, target_ppm, weight_col)
    budget = _mixture_global_budget(joined, mass_col)
    return (
        joined.join(F.broadcast(budget))
        .withColumn(
            "rate_ppm",
            F.least(
                F.lit(MIXTURE_PPM),
                F.expr(
                    f"(((target_ppm * _budget) div {MIXTURE_PPM})"
                    f" * {MIXTURE_PPM}) div {mass_col}"
                ),
            ),
        )
        .select(strata_col, mass_col, "target_ppm", "rate_ppm")
    )


def _mixture_joined(
    df: DataFrame,
    strata_col: str,
    target_ppm: dict[str, int],
    weight_col: str | None,
    fn_name: str = "mixture_rates",
) -> tuple[DataFrame, str]:
    """The mixture family's shared mass table: per-stratum masses (row
    counts, or guarded int64 ``weight_col`` sums) inner-joined with the
    broadcast target weights. Returns ``(joined, mass_col)``."""
    if weight_col is None:
        mass_col, mass = "n_rows", F.count("*")
    else:
        w = F.when(
            F.col(weight_col).isNull() | (F.col(weight_col) < 0),
            F.raise_error(
                F.lit(
                    f"{fn_name}: NULL or negative weight in"
                    f" {weight_col} — every stratum mass after it"
                    " would corrupt"
                )
            ).cast("bigint"),
        ).otherwise(F.col(weight_col).cast("bigint"))
        mass_col = "n_units"
        mass = F.sum(w)
    counts = df.groupBy(strata_col).agg(mass.alias(mass_col))
    joined = _mixture_guarded_join(
        counts,
        df.sparkSession,
        strata_col,
        mass_col,
        target_ppm,
        guard=weight_col is not None,
        fn_name=fn_name,
    )
    return joined, mass_col


def _mixture_guarded_join(
    masses: DataFrame,
    spark: SparkSession,
    strata_col: str,
    mass_col: str,
    target_ppm: dict[str, int],
    guard: bool,
    fn_name: str,
) -> DataFrame:
    """Join a per-stratum mass table with the broadcast target weights,
    optionally installing the unit-mass guards."""
    weights = spark.createDataFrame(
        sorted(target_ppm.items()), [strata_col, "target_ppm"]
    )
    joined = masses.join(F.broadcast(weights), strata_col)
    if guard:
        # guards belong AFTER the target join: a zero- or over-bound
        # stratum outside target_ppm is dropped by the join and must
        # not raise. In-target, a zero mass would silently zero the
        # global budget (emptying the whole mixture) and an over-bound
        # mass would wrap the budget arithmetic — both raise instead
        max_mass = (2**63 - 1) // MIXTURE_PPM
        joined = joined.select(
            strata_col,
            F.when(
                F.col(mass_col) == 0,
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"{fn_name}: stratum with ZERO total"
                            " weight: "
                        ),
                        F.col(strata_col).cast("string"),
                        F.lit(
                            " — it would silently zero the global"
                            " budget and empty the whole mixture;"
                            " drop it from target_ppm or weight it"
                            " out upstream"
                        ),
                    )
                ).cast("bigint"),
            ).when(
                F.col(mass_col) > max_mass,
                F.raise_error(
                    F.lit(
                        f"{fn_name}: stratum mass exceeds the"
                        f" exact int64 bound ({max_mass} units) —"
                        " weight in coarser units (e.g. kilo-tokens)"
                    )
                ).cast("bigint"),
            ).otherwise(F.col(mass_col)).alias(mass_col),
            "target_ppm",
        )
    return joined


def _mixture_global_budget(joined: DataFrame, mass_col: str) -> DataFrame:
    """The 1-row broadcast global budget: the scarcest stratum bounds
    the achievable output, ``min_s floor(mass_s * 1e6 / w_s)`` — pure
    int64 ``div``."""
    return joined.agg(
        F.min(
            F.expr(f"({mass_col} * {MIXTURE_PPM}) div target_ppm")
        ).alias("_budget")
    )


def mixture_budgets(
    df: DataFrame,
    strata_col: str,
    target_ppm: dict[str, int],
    cost_col: str,
) -> DataFrame:
    """Per-stratum COST budgets from the mixture arithmetic —
    ``(strata_col, n_units, target_ppm, budget_units)`` where
    ``budget_units = (w_s * budget) div 1e6`` and ``budget`` is the
    scarcest-stratum global bound, all exact int64 (``mixture_rates``'
    discipline, same shared mass/guard computation).

    This is the bridge between mixing and budgeted selection: where
    ``mixture_rates`` converts the target composition into a
    hash-Bernoulli KEEP RATE (a random subset hitting the mass in
    expectation), ``mixture_budgets`` converts it into a hard
    per-stratum SPEND for ``select_within_budget_by_stratum`` — the
    best documents of each stratum up to exactly its share. By the
    floor arithmetic ``budget_units ≤ mass_s`` always holds (a budget
    can never exceed its stratum), and every step is engine-portable
    integer division, so the budgets — and the selection boundary they
    induce — replay bit-identically in the oracle.

    Same plan shape as ``mixture_rates``: one partial-aggregated
    exchange for the masses, a broadcast 1-row budget, a broadcast
    result. Same guards: zero or over-bound stratum masses raise
    in-plan; strata absent from ``target_ppm`` get no row."""
    joined, mass_col = _mixture_joined(
        df, strata_col, target_ppm, cost_col, fn_name="mixture_budgets"
    )
    return _budget_units_from_joined(joined, strata_col, mass_col)


def _budget_units_from_joined(
    joined: DataFrame, strata_col: str, mass_col: str
) -> DataFrame:
    """Derive per-stratum spends from a guarded mass⋈target table:
    the broadcast 1-row scarcest-stratum budget, then
    ``budget_units = (target_ppm · budget) div 1e6`` per stratum."""
    budget = _mixture_global_budget(joined, mass_col)
    return (
        joined.join(F.broadcast(budget))
        .withColumn(
            "budget_units",
            F.expr(f"(target_ppm * _budget) div {MIXTURE_PPM}"),
        )
        .select(strata_col, mass_col, "target_ppm", "budget_units")
    )


def select_mixture_within_budget(
    df: DataFrame,
    strata_col: str,
    target_ppm: dict[str, int],
    cost_col: str = "n_tokens",
    quality_col: str = "quality",
    id_col: str = "doc_id",
) -> DataFrame:
    """Budgeted data selection AT the target mixture — the composed
    "curate, then spend a per-stratum token budget on the survivors"
    pass: derive each stratum's exact int64 spend from the mixture
    arithmetic (``mixture_budgets``) and keep the best-quality prefix
    of each stratum within it (``select_within_budget_by_stratum``).

    Contrast with ``mixture_sample(weight_col=)``: the sampled mixture
    keeps a hash-random subset (composition exact in expectation,
    quality-blind); this keeps the BEST documents of each stratum
    (composition exact up to one boundary document per stratum,
    quality-first) — the FineWeb-style final selection. Deterministic
    end to end and oracle-replayable; the corpus never globally sorts
    (RangePartitioning-free, plan-locked).

    The budgets derive from the level histogram's per-stratum sums
    (exact int64 either way — identity with the explicit
    ``mixture_budgets`` → ``select_within_budget_by_stratum`` chain is
    parity-tested), so the budget arithmetic shares the selection's
    own aggregation shape instead of adding an independently-guarded
    corpus aggregation. Measured caveat, stated honestly: Spark does
    NOT reuse the histogram exchange across its consumers here (the
    executed plan re-reads the source per reference, 8 scans either
    way at sf0.001 — the same multi-reference shape the scalar form
    and the whole family already have), so the practical contract is
    the family's usual one: feed an already-materialized table (a
    curation output, a parquet read) where each re-reference is a
    pushdown scan, not a recomputed lineage."""
    fn = "select_mixture_within_budget"
    _budget_staging_guard(df, fn, _STRATUM_RESERVED)
    base = _staged_budget_base(
        df,
        _guarded_micro_quality(fn, quality_col, id_col),
        _guarded_cost(fn, cost_col, id_col),
    )

    # the level histogram feeds BOTH the budget derivation (masses →
    # mixture arithmetic) and the selection core's cumsum — materialize
    # the level-sized table once (r15 optimization round)
    levels = materialize(
        base.groupBy(strata_col, "_mq").agg(
            F.sum("_cost").alias("_mass")
        ),
        eager=False,
    )
    masses = levels.groupBy(strata_col).agg(
        F.sum("_mass").alias("n_units")
    )
    joined = _mixture_guarded_join(
        masses,
        df.sparkSession,
        strata_col,
        "n_units",
        target_ppm,
        guard=True,
        fn_name=fn,
    )
    budgets = (
        _budget_units_from_joined(joined, strata_col, "n_units")
        .select(strata_col, F.col("budget_units").alias("_blim"))
        .filter(F.col("_blim") > 0)
    )
    return _stratum_prefix_from_levels(
        base, levels, budgets, strata_col, id_col, df.columns,
    )


def mixture_sample(
    df: DataFrame,
    strata_col: str,
    target_ppm: dict[str, int],
    id_col: str = "doc_id",
    salt: int = 0,
    weight_col: str | None = None,
) -> DataFrame:
    """The corpus resampled to the target mixture: broadcast the (tiny)
    per-stratum rate table onto the corpus and keep rows whose
    deterministic id-hash bucket falls under the stratum's rate — the same
    hash-Bernoulli membership as ``stratified_sample``, so the subset is a
    pure function of (ids, weights, salt): stable across retries, AQE
    re-plans, and cluster sizes. The corpus itself never shuffles.
    ``weight_col`` switches the targeted composition from rows to
    per-row units (tokens/chars) — see ``mixture_rates``."""
    rates = mixture_rates(df, strata_col, target_ppm, weight_col)
    bucket = portable_hash64(id_col, seed=salt) % SAMPLE_BUCKETS
    return (
        df.join(F.broadcast(rates.select(strata_col, "rate_ppm")), strata_col)
        .filter(bucket < F.col("rate_ppm"))
        .drop("rate_ppm")
    )


def deterministic_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    salt: int = 0,
    keep_key: bool = False,
) -> DataFrame:
    """Global pseudo-random training order: sort by a salted hash of the
    id. A new ``salt`` is a new epoch's permutation; the order is a pure
    function of (ids, salt) — stable across retries and cluster sizes,
    unlike ``orderBy(rand())``. One range-partition sort, Spark's standard
    total-order exchange (sampled range boundaries keep partitions even
    because the hash is uniform). ``keep_key=True`` surfaces the sort key
    as a ``shuffle_key`` column (auditing / oracle checks)."""
    key = portable_hash64(id_col, seed=salt)
    if keep_key:
        return df.withColumn("shuffle_key", key).orderBy("shuffle_key")
    return df.orderBy(key)


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: Column | str,
    id_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis A-ES): each row draws key = -ln(u)/w with u a pure function
    of (salt, id); the k smallest keys are the sample. Inclusion
    probability scales with the weight, no row repeats, and — like every
    sampler here — the subset is a pure function of the data: retries,
    AQE re-plans, and the DuckDB oracle all select the identical rows.

    The quality-weighted data-selection step ("sample proportional to
    quality^T"): pass e.g. ``F.pow(F.col('quality'), T)`` as the weight.
    Rows with weight <= 0 or NULL are excluded (A-ES is undefined there;
    a zero-weight row must never be drawn).

    u comes from the portable 60-bit hash scaled into (0, 1) —
    ``(h % B + 0.5) / B`` never hits 0 or 1, so ln(u) is finite; ties
    (only possible via hash collision) break on the id. Rows with a
    NULL id are excluded (a NULL hash key would sort engine-specifically
    — Spark NULLS FIRST vs the oracle's NULLS LAST — and an unkeyed row
    has no defined draw probability anyway).

    Cross-engine caveat (unlike the division/sqrt-only operators, which
    are bit-exact by construction): ``ln`` is faithfully-rounded but not
    CORRECTLY-rounded in IEEE — Java's Math.log and libm may differ in
    the last ulp. The subset is always deterministic per engine; across
    engines it could in principle flip only if two rows straddle rank k
    with keys within ~1 ulp (~1e-16 relative; never observed in the
    oracle gate). Scale shape: the key is a codegen'd per-row
    expression; top-k plans as TakeOrderedAndProject — no global sort,
    no RNG state.
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    u = (
        (portable_hash64(id_col, seed=salt) % SAMPLE_BUCKETS).cast("double")
        + 0.5
    ) / SAMPLE_BUCKETS
    key = -F.log(u) / w.cast("double")
    return (
        df.filter(
            F.col(id_col).isNotNull()
            & w.isNotNull()
            & (w.cast("double") > 0)
        )
        .withColumn("_es_key", key)
        .orderBy("_es_key", id_col)
        .limit(k)
        .drop("_es_key")
    )


def cap_per_source(
    documents: DataFrame,
    max_docs: int = 40,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_col: str | None = None,
) -> DataFrame:
    """Per-source quota enforcement — the RefinedWeb/C4-style domain cap
    corpus curation applies so one prolific domain cannot dominate the
    training mix: keep at most ``max_docs`` documents per source, the
    HIGHEST-QUALITY ones, with a fully deterministic rank (quality
    score rounded to 6 decimals DESC, then ``id_col`` ASC — the TF-IDF
    tie discipline, so a last-ulp difference can never flip the cap
    boundary between engines or retries).

    Returns ``(id_col, group_col, quality_r, src_rank)`` for the kept
    documents.

    Scale shape: one hash exchange on ``group_col`` + a per-group rank
    window.

    ``quality_col`` names an ALREADY-COMPUTED quality column to rank
    by (still rounded to 6 decimals here) instead of re-running
    ``quality_score`` over the text — the composed-pipeline path:
    ``curate_corpus`` scores the corpus once via ``score_documents``
    (bit-identical to the standalone expression), so the cap stage
    must not pay a second tokenization scan. Same kept set either way
    (identity-tested).
    """
    from pyspark.sql.window import Window

    from inbev_data_engineering_case_spark.operators.textops import (
        quality_score,
    )

    if max_docs < 1:
        raise ValueError("cap_per_source: max_docs must be >= 1")
    qexpr = (
        F.col(quality_col)
        if quality_col is not None
        else quality_score(text_col)
    )
    scored = documents.select(
        F.col(id_col),
        F.col(group_col),
        F.round(qexpr, 6).alias("quality_r"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("quality_r").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("src_rank", F.row_number().over(w))
        .filter(F.col("src_rank") <= max_docs)
    )

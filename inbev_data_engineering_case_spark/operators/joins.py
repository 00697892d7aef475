"""Join operators over the star schema.

The reference contains no joins at all — its README defers the star schema
and denormalizes instead (reference README.md:46; SURVEY.md §2.6) — but any
realistic gold view needs them, and they are where 100 TB plans live or die:

- **Dimension joins broadcast.** region/nation/customer-sized sides are sent
  to every executor; the fact table never shuffles.
- **Fact-fact joins shuffle on the join key** (sort-merge under Catalyst);
  AQE's skew-join splitting handles hot keys at runtime. For repeated
  fact-fact joins on the same key, pre-bucketing both sides on that key
  (``DataFrameWriter.bucketBy`` into a table) removes the shuffle entirely;
  at 100 TB that is the single biggest cost lever.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inbev_data_engineering_case_spark.session import materialize

_log = logging.getLogger(__name__)


def semi_join(left: DataFrame, right: DataFrame, on: list[str]) -> DataFrame:
    """EXISTS-style filter; Catalyst plans broadcast-hash-semi when the right
    side is small, never materializing right columns."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: list[str]) -> DataFrame:
    """NOT EXISTS-style filter."""
    return left.join(right, on=on, how="left_anti")


# above this many bits (1 MiB of words) the single-row densify becomes
# a single-task funnel and the banked layout takes over by default
_SINGLE_ROW_MAX_BITS = 1 << 23
# default bank width when banking engages: 128 KiB of bitmap per row —
# big enough that a 1e10-bit filter is ~10k rows, small enough that each
# collect_list task and each broadcast row stays comfortably in memory
_DEFAULT_BANK_BITS = 1 << 20
# probe-side ceiling: the assembled map row must fit one UnsafeRow field
# (hard JVM cap ~2 GB, hit as a cryptic BufferHolder error) — refuse at
# plan time with headroom instead. 2^33 bits = 1 GiB of bitmap.
_PROBE_MAX_BITS = 1 << 33

_GEOMETRY_MSG = (
    "bloom_might_contain: filter geometry "
    "(num_bits/num_hashes/bank_bits) differs from the probe's — bit "
    "positions would not line up and true matches would silently drop"
)


def _resolved_bank_bits(num_bits: int, bank_bits: int | None) -> int:
    """The bank geometry BOTH build and probe must agree on: explicit
    wins; otherwise one bank (the 1-row fast path) below
    ``_SINGLE_ROW_MAX_BITS``, ``_DEFAULT_BANK_BITS`` banks above."""
    if bank_bits is not None:
        return bank_bits
    if num_bits <= _SINGLE_ROW_MAX_BITS:
        return num_bits
    return _DEFAULT_BANK_BITS


def bloom_filter_build(
    keys: DataFrame,
    key_col: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
    bank_bits: int | None = None,
) -> DataFrame:
    """Distributed Bloom filter over a key set, as BANK rows:
    ``(bank: bigint, bf: array<bigint>, num_bits, num_hashes,
    bank_bits)``.

    The shape Spark's own InjectRuntimeFilter builds planner-side,
    made an explicit, tunable operator: each key sets ``num_hashes``
    bits (seeded xxhash64 positions) in a ``num_bits``-wide bitmap;
    the bits aggregate per 64-bit word (``bit_or`` over ``num_bits/64``
    word rows — a KB-scale exchange regardless of key count), then
    densify per BANK of ``bank_bits`` bits. Below
    ``_SINGLE_ROW_MAX_BITS`` the default is one bank (the classic
    1-row broadcast bitmap; at 1M bits the row is 128 KB). Above it —
    the 1e9-key keep-list regime, num_bits ≈ 1e10 for ~1% fp at 5
    hashes — a single-row densify would collect ~156M word structs in
    ONE aggregation task and broadcast a ~1.2 GB row; banking keeps
    every densify task at ``bank_bits/64`` structs and every broadcast
    row at ``bank_bits/8`` bytes (128 KiB at the default), with the
    bank id a pure hash expression on the probe side. ``bank_bits``
    need not divide ``num_bits`` — the final bank is simply shorter —
    so the documented ``num_bits ≈ 10·|keys|`` sizing works verbatim
    at any key count. Same bits, same answers, at any geometry
    (identity property-tested, ragged final bank included).

    Entirely JVM-side: no driver collect, no Python; ``bloom_might_
    contain`` probes it with pure Column expressions. False negatives
    are impossible by construction (property-tested), so an EXACT
    join downstream loses nothing.
    """
    if num_bits < 64 or num_bits % 64:
        raise ValueError(
            "bloom_filter_build: num_bits must be a positive multiple of 64"
        )
    if num_hashes < 1:
        raise ValueError("bloom_filter_build: num_hashes must be >= 1")
    bank_bits = _resolved_bank_bits(num_bits, bank_bits)
    if bank_bits < 64 or bank_bits % 64:
        raise ValueError(
            "bloom_filter_build: bank_bits must be a positive multiple of"
            " 64"
        )
    spark = keys.sparkSession
    n_words = num_bits // 64
    words_per_bank = bank_bits // 64
    pos = [
        F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(num_bits))
        for i in range(num_hashes)
    ]
    words = (
        keys.filter(F.col(key_col).isNotNull())
        .select(F.explode(F.array(*pos)).alias("_pos"))
        .select(
            F.expr("_pos div 64").alias("_w"),
            # shiftleft's bit count must be a Column here, so the SQL
            # form (the Python API only takes a literal int)
            F.expr("shiftleft(1L, cast(_pos % 64 as int))").alias("_bit"),
        )
        .groupBy("_w")
        .agg(F.bit_or("_bit").alias("_bits"))
    )
    return (
        spark.range(n_words)
        .select(F.col("id").alias("_w"))
        .join(words, "_w", "left")
        .groupBy(F.expr(f"_w div {words_per_bank}").alias("bank"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_w", "_bits"))),
                lambda x: F.coalesce(x["_bits"], F.lit(0).cast("bigint")),
            ).alias("bf")
        )
        .select(
            "bank",
            "bf",
            F.lit(num_bits).alias("num_bits"),
            F.lit(num_hashes).alias("num_hashes"),
            F.lit(bank_bits).alias("bank_bits"),
        )
    )


def _bloom_shuffle_probe(
    fact: DataFrame,
    bloom: DataFrame,
    key_col: str,
    num_bits: int,
    num_hashes: int,
    bank_bits: int,
    negate: bool = False,
) -> DataFrame:
    """Bank-partitioned Bloom probe for bitmaps past the broadcast
    ceiling: no row of the plan ever holds the whole bitmap.

    Shape: each fact row explodes into its ``num_hashes`` probe
    positions (tagged with a per-evaluation row id so duplicates
    regroup exactly), the positions shuffle-join the DISTRIBUTED bank
    rows on ``pos div bank_bits`` (uniform by construction — the
    positions are hashes), and rows regroup requiring every probe to
    have hit a set bit. Two fact-side shuffles of ``num_hashes ×``
    the fact bytes — the honest cost of probing a bitmap too big to
    ship; prefer shrinking ``num_bits`` back under the broadcast
    ceiling when the fp-rate budget allows.

    The row id is ``monotonically_increasing_id`` used SAFELY: the
    plan is linear (tag → explode → join → regroup), never a
    self-join, so ids only need to be distinct within one evaluation.
    Geometry mismatches raise in-plan via the bank-join key (consumed
    column, can't be pruned); a missing bank row raises (it can only
    mean a corrupt filter — ``bloom_filter_build`` densifies every
    bank, so NULL here would otherwise become a silent false
    negative); a duplicated bank row inflates the per-row probe count
    past ``num_hashes`` and raises in the regroup.
    """
    fact_cols = fact.columns
    # Spark's hash expressions IGNORE null inputs — xxhash64(NULL,
    # seed) is a real hash — so a NULL key would probe real bit
    # positions and land on whichever side the filter's density
    # dictates. But a null key is simply DEFINITELY MISSING (it can
    # never equi-match), so route it around the probe entirely:
    # excluded from the might side, unioned into the negated side —
    # the two directions partition fact exactly (the broadcast path
    # pins the same semantics with an explicit isNotNull term).
    null_rows = fact.filter(F.col(key_col).isNull())
    fact = fact.filter(F.col(key_col).isNotNull())
    key = F.col(f"_bloom_row.{key_col}")
    pos = [
        F.pmod(F.xxhash64(key, F.lit(i)), F.lit(num_bits))
        for i in range(num_hashes)
    ]
    # the id must be assigned BEFORE the explode (a projection in the
    # same select as the generator is evaluated per OUTPUT row, which
    # would tag every probe position with its own id)
    tagged = fact.select(
        F.struct(*fact_cols).alias("_bloom_row"),
        F.monotonically_increasing_id().alias("_bloom_rid"),
    ).select(
        "_bloom_row",
        "_bloom_rid",
        F.explode(F.array(*pos)).alias("_bloom_pos"),
    )
    banks = bloom.select(
        F.when(
            (F.col("num_bits") != num_bits)
            | (F.col("num_hashes") != num_hashes)
            | (F.col("bank_bits") != bank_bits),
            F.raise_error(F.lit(_GEOMETRY_MSG)).cast("bigint"),
        )
        .otherwise(F.col("bank"))
        .alias("_bloom_bank"),
        F.col("bf").alias("_bloom_bf"),
    )
    joined = tagged.join(
        banks,
        F.expr(f"_bloom_pos div {bank_bits}") == F.col("_bloom_bank"),
        "left",
    )
    hit = (
        F.when(
            F.col("_bloom_bf").isNull(),
            F.raise_error(
                F.lit(
                    "bloom_might_contain: banked filter is missing a bank"
                    " row — a probe position found no bank to look in,"
                    " which would silently drop true matches; rebuild"
                    " the filter"
                )
            ).cast("bigint"),
        )
        .otherwise(
            F.expr(
                f"element_at(_bloom_bf, cast((_bloom_pos % {bank_bits})"
                " div 64 as int) + 1) & shiftleft(1L, cast(_bloom_pos %"
                " 64 as int))"
            )
        )
        .alias("_bloom_word")
    )
    verdict = (
        joined.select("_bloom_rid", "_bloom_row", hit)
        .groupBy("_bloom_rid")
        .agg(
            F.first("_bloom_row").alias("_bloom_row"),
            F.count("*").alias("_bloom_nprobe"),
            F.sum(F.when(F.col("_bloom_word") != 0, 1).otherwise(0)).alias(
                "_bloom_nset"
            ),
        )
        .select(
            "_bloom_row",
            F.when(
                F.col("_bloom_nprobe") != num_hashes,
                F.raise_error(
                    F.concat(
                        F.lit(
                            "bloom_might_contain: a probed fact row"
                            " matched "
                        ),
                        F.col("_bloom_nprobe").cast("string"),
                        F.lit(
                            f" bank rows, expected {num_hashes} — the"
                            " filter carries duplicated bank rows,"
                            " which would silently drop true matches;"
                            " rebuild the filter"
                        ),
                    )
                ).cast("boolean"),
            )
            .otherwise(F.col("_bloom_nset") == num_hashes)
            .alias("_bloom_keep"),
        )
        .filter(~F.col("_bloom_keep") if negate else F.col("_bloom_keep"))
    )
    out = verdict.select(
        *[F.col(f"_bloom_row.{c}").alias(c) for c in fact_cols]
    )
    if negate:
        out = out.unionByName(null_rows.select(*fact_cols))
    return out


def bloom_might_contain(
    fact: DataFrame,
    bloom: DataFrame,
    key_col: str,
    num_bits: int,
    num_hashes: int,
    bank_bits: int | None = None,
    negate: bool = False,
    _trusted_build: bool = False,
) -> DataFrame:
    """Rows of ``fact`` whose key MIGHT be in the Bloom — a superset of
    the true matches (false positives at the configured rate, false
    negatives never). Single-bank filters cross-join the one bank row
    as a broadcast; banked filters first assemble a one-row
    ``map<bank, bf>`` probe frame from the bank rows (a
    single-partition aggregation over ``n_banks`` PRE-DENSIFIED rows —
    bank-count-sized work, not the word-level single-task collect that
    banking exists to remove) and cross-join that one row as a
    broadcast. Either way the bitmap ships in exactly ONE broadcast
    and the ``num_hashes`` lookups are a pure Column conjunction
    riding the fact scan inside codegen — no joins, no fact-side
    shuffle, no per-hash re-broadcast (plan-pinned).

    Past ``_PROBE_MAX_BITS`` (1 GiB of bitmap — the assembled probe
    row would approach the JVM's ~2 GB single-field cap, and a bitmap
    that size should not broadcast at all; Spark's own runtime filter
    caps itself at 67M bits for the same reason) the probe
    AUTOMATICALLY falls back to the bank-partitioned shuffle probe
    (``_bloom_shuffle_probe``): no row of the plan ever holds the
    whole bitmap, the bank rows stay distributed, and the fact side
    shuffles once on the probed bank ids. Same answers, different
    physical regime — a loud log records the switch. The ceiling is
    checked on EVERY path, including an explicit single-bank
    ``bank_bits=num_bits`` geometry. A bloom built with different
    geometry than the caller claims raises in-plan (the CMS
    wrong-geometry discipline — probing the wrong bit positions would
    silently drop true matches), and BOTH broadcast paths guard the
    bank-row count (a duplicated bank row silently merges under map
    dedup policies; on the single-bank path it would duplicate every
    fact row).

    ``negate=True`` returns the COMPLEMENT — rows whose key is
    DEFINITELY NOT in the set (the direction with no error at all:
    false negatives are impossible, so a cleared row is proof) — from
    the same single broadcast and the same codegen'd lookups. NULL
    keys are definitely-missing by definition (they can never
    equi-match) and are PINNED to the negated side by an explicit
    isNotNull term — necessary because Spark's hash expressions
    ignore null inputs (xxhash64(NULL, seed) is a real hash), so an
    unpinned null key would probe real bit positions and land on
    whichever side the filter's density dictates. Both directions
    together partition ``fact`` exactly. ``bloom_anti_join`` is the
    consumer."""
    # underscore-prefix the bloom rows' columns before joining so a
    # fact column named bank/bf/num_bits/... can't collide (ambiguous
    # reference or silent overwrite); the staging columns below share
    # the prefix, so reserve it loudly rather than let withColumn
    # silently overwrite a user's _bloom_* column
    reserved = [c for c in fact.columns if c.startswith("_bloom_")]
    if reserved:
        raise ValueError(
            f"bloom_might_contain: fact columns {reserved} use the "
            "reserved _bloom_ prefix (internal staging names) — "
            "rename them before probing"
        )
    bank_bits = _resolved_bank_bits(num_bits, bank_bits)
    if bank_bits < 64 or bank_bits % 64:
        raise ValueError(
            "bloom_might_contain: bank_bits must be a positive multiple"
            " of 64"
        )
    n_banks = -(-num_bits // bank_bits)  # final bank may be shorter
    # ceiling check BEFORE branching: an explicit bank_bits=num_bits
    # geometry past the ceiling has the same one-field problem the
    # banked map row does (and a bigger one — the single bank row
    # itself), so it must not slip through the n_banks==1 fast path
    if num_bits > _PROBE_MAX_BITS:
        _log.warning(
            "bloom_might_contain: num_bits=%d past the broadcastable"
            " probe ceiling (%d bits = 1 GiB of bitmap) — falling back"
            " to the bank-partitioned shuffle probe: the fact side"
            " shuffles once on the probed bank ids and the bitmap never"
            " assembles into one row. Shrink num_bits to restore the"
            " broadcast regime (a higher fp rate costs throughput,"
            " never correctness)",
            num_bits,
            _PROBE_MAX_BITS,
        )
        return _bloom_shuffle_probe(
            fact, bloom, key_col, num_bits, num_hashes, bank_bits, negate
        )

    def _geometry_guard(nb, nh, bb):
        return F.when(
            (nb != num_bits) | (nh != num_hashes) | (bb != bank_bits),
            F.raise_error(F.lit(_GEOMETRY_MSG)).cast("boolean"),
        ).otherwise(F.lit(True))

    drop_cols: list[str] = []
    if n_banks == 1:
        probe_row = bloom.select(
            F.col("bf").alias("_bloom_bf"),
            F.col("num_bits").alias("_bloom_nb"),
            F.col("num_hashes").alias("_bloom_nh"),
            F.col("bank_bits").alias("_bloom_bb"),
        )
        drop_cols += ["_bloom_bf", "_bloom_nb", "_bloom_nh", "_bloom_bb"]
        if _trusted_build:
            # the frame came straight from bloom_filter_build inside
            # the same operator call: single-row BY CONSTRUCTION (the
            # densify aggregation), so the duplicate-row count guard
            # below would only add a second exchange + stage barrier
            # per action — a measured ~16% of q_bloom_join's wall
            # clock. Geometry can still mismatch (caller-passed knobs
            # vs the build's), so that guard stays.
            guard = _geometry_guard(
                F.col("_bloom_nb"), F.col("_bloom_nh"), F.col("_bloom_bb")
            )
        else:
            # caller-supplied frame: aggregate to ONE probe row with
            # the row count alongside — a filter accidentally carrying
            # duplicate same-geometry rows would otherwise duplicate
            # every fact row through the cross-join (the banked path's
            # completeness guard, applied symmetrically; count is the
            # check no dedup policy can hide)
            probe_row = probe_row.groupBy().agg(
                F.first("_bloom_bf").alias("_bloom_bf"),
                F.first("_bloom_nb").alias("_bloom_nb"),
                F.first("_bloom_nh").alias("_bloom_nh"),
                F.first("_bloom_bb").alias("_bloom_bb"),
                F.count("*").alias("_bloom_nrows"),
            )
            drop_cols.append("_bloom_nrows")
            guard = F.when(
                F.col("_bloom_nrows") != 1,
                F.raise_error(
                    F.concat(
                        F.lit(
                            "bloom_might_contain: single-bank filter"
                            " has "
                        ),
                        F.col("_bloom_nrows").cast("string"),
                        F.lit(
                            " bank rows, expected 1 — a duplicated bank"
                            " row would duplicate every probed fact"
                            " row; rebuild the filter"
                        ),
                    )
                ).cast("boolean"),
            ).otherwise(
                _geometry_guard(
                    F.col("_bloom_nb"), F.col("_bloom_nh"),
                    F.col("_bloom_bb"),
                )
            )
        joined = fact.join(F.broadcast(probe_row))
        checks = []
        for i in range(num_hashes):
            # stage the position once per hash, then SQL-form shifts
            # (the Python shiftleft API only takes a literal bit count)
            joined = joined.withColumn(
                f"_bloom_p{i}",
                F.pmod(
                    F.xxhash64(F.col(key_col), F.lit(i)), F.lit(num_bits)
                ),
            )
            drop_cols.append(f"_bloom_p{i}")
            checks.append(
                F.expr(
                    f"element_at(_bloom_bf, cast(_bloom_p{i} div 64 as"
                    f" int) + 1) & shiftleft(1L, cast(_bloom_p{i} % 64"
                    " as int))"
                )
                != 0
            )
    else:
        # banked probe: assemble ONE map<bank, bf> row from the bank
        # rows (single-partition agg over n_banks pre-densified rows —
        # bank-count-sized work, never the word-level collect) and
        # broadcast it once; the per-hash bank id and offset are pure
        # expressions, so all num_hashes lookups ride the scan in
        # codegen with no joins at all. The geometry guard is FOLDED
        # into the map key (the consumed-column discipline — a
        # projected-then-dropped guard would be pruned), so EVERY bank
        # row is checked during map assembly and one mixed-geometry
        # row raises with the geometry message — before duplicate-key
        # detection, which then only fires for genuinely duplicated
        # same-geometry bank rows.
        bank_guarded = F.when(
            (F.col("num_bits") != num_bits)
            | (F.col("num_hashes") != num_hashes)
            | (F.col("bank_bits") != bank_bits),
            F.raise_error(F.lit(_GEOMETRY_MSG)).cast("bigint"),
        ).otherwise(F.col("bank"))
        probe_row = bloom.groupBy().agg(
            F.map_from_entries(
                F.collect_list(F.struct(bank_guarded.alias("bank"), "bf"))
            ).alias("_bloom_map"),
            F.count("*").alias("_bloom_nrows"),
        )
        # completeness: exactly n_banks rows AND map entries. A
        # missing bank would NULL element_at into silent false
        # negatives; a DUPLICATED bank row under
        # spark.sql.mapKeyDedupPolicy=LAST_WIN silently merges —
        # identical duplicates dedup back to n_banks map entries, so
        # the ROW count is the check that catches every duplicate
        # (divergent or not) under any dedup policy
        guard = F.when(
            (F.size("_bloom_map") != n_banks)
            | (F.col("_bloom_nrows") != n_banks),
            F.raise_error(
                F.concat(
                    F.lit("bloom_might_contain: banked filter has "),
                    F.col("_bloom_nrows").cast("string"),
                    F.lit(" bank rows / "),
                    F.size("_bloom_map").cast("string"),
                    F.lit(
                        f" map entries, expected {n_banks} — a missing"
                        " or duplicated bank would silently drop true"
                        " matches; rebuild the filter"
                    ),
                )
            ).cast("boolean"),
        ).otherwise(F.lit(True))
        joined = fact.join(F.broadcast(probe_row))
        drop_cols += ["_bloom_map", "_bloom_nrows"]
        checks = []
        for i in range(num_hashes):
            joined = joined.withColumn(
                f"_bloom_p{i}",
                F.pmod(
                    F.xxhash64(F.col(key_col), F.lit(i)), F.lit(num_bits)
                ),
            )
            drop_cols.append(f"_bloom_p{i}")
            # bank lookup then word lookup within the bank; pos % 64 is
            # unchanged by banking (bank_bits is a multiple of 64)
            checks.append(
                F.expr(
                    f"element_at(element_at(_bloom_map, _bloom_p{i} div"
                    f" {bank_bits}), cast((_bloom_p{i} % {bank_bits})"
                    f" div 64 as int) + 1) & shiftleft(1L,"
                    f" cast(_bloom_p{i} % 64 as int))"
                )
                != 0
            )
    cond = checks[0]
    for c in checks[1:]:
        cond = cond & c
    # Spark's hash expressions IGNORE null inputs — xxhash64(NULL,
    # seed) is a real hash, not NULL — so without this pin a NULL key
    # would probe real bit positions and land on whichever side the
    # filter's density dictates (measured: a dense filter sent a
    # null-key row to the might side). The documented semantics are
    # pinned explicitly instead: a null key can never equi-match, so
    # it is definitely-missing BY DEFINITION — excluded from the might
    # side, surfaced by the negated (cleared) side. No NULL-settling
    # coalesce is needed anywhere: cond itself can never be NULL
    # (hashes are non-null, element_at indices are in-bounds by the
    # geometry guard).
    cond = F.col(key_col).isNotNull() & cond
    if negate:
        cond = ~cond
    return joined.filter(guard & cond).drop(*drop_cols)


def bloom_semi_join(
    fact: DataFrame,
    dim_keys: DataFrame,
    key_col: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
    bank_bits: int | None = None,
) -> DataFrame:
    """EXACT left-semi join with a Bloom pre-filter on the fact side —
    result identical to ``fact.join(dim_keys, key, "left_semi")``
    (identity-tested): false positives are eliminated by the real
    join, false negatives cannot exist.

    Why at 100 TB: the curation keep-joins (exact-dedup keep list, LM
    keep list, cap winners) semi-join a fact-scale corpus against a
    key set too big to broadcast raw — so the corpus shuffles by key.
    With the pre-filter, the shuffle carries only (true matches +
    fp_rate · non-matches): at 1% fp and a 10%-selective keep list,
    ~89% of the shuffle bytes disappear for the cost of one KB-scale
    bitmap exchange + one broadcast row. Spark's runtime filter does
    this only when its thresholds/statistics allow; the operator form
    is deterministic and composable with the curation pipeline.
    """
    bloom = bloom_filter_build(
        dim_keys.select(key_col), key_col, num_bits, num_hashes, bank_bits
    )
    pruned = bloom_might_contain(
        fact, bloom, key_col, num_bits, num_hashes, bank_bits,
        _trusted_build=True,
    )
    # left-semi semantics already ignore duplicate matches — a
    # .distinct() here would add a keep-list-sized exchange+aggregate
    # to exactly the path the prefilter exists to slim down
    return pruned.join(
        dim_keys.select(key_col), on=key_col, how="left_semi"
    )


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for ``df`` (optimized-plan stats).
    File-source scans report real (column-pruned) file bytes;
    ``localCheckpoint`` frames keep their origin stats — measured at
    sf0.1: a parquet documents scan 254 KB, its keep-list aggregate
    113 KB — so the estimate is usable for broadcastability decisions
    without running a job. Returns None when the private JVM API is
    unavailable (Spark Connect, py4j drift): the caller must treat
    unknown as "don't optimize", never as "huge" — a huge-keys guess
    would force-enable the prefilter at its maximum size, the exact
    small-scale regression the auto gate exists to prevent."""
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats()
                .sizeInBytes())
        )
    except Exception:  # pragma: no cover - JVM API drift
        return None


def auto_bloom_bits(
    fact: DataFrame,
    keys: DataFrame,
    bits_per_key: int = 10,
    min_fact_bytes: int = 1 << 30,
) -> int | None:
    """Size-aware default for the Bloom pre-filter family: a bit count
    when the prefilter should pay, ``None`` when the plain join is the
    better plan. Pure plan introspection — no job runs.

    The crossover logic (measured at sf0.1, where a forced prefilter
    cost `q_curate_bloom` 13% over its plain twin — the r10 watch
    item this gate closes):

    - ``keys`` under ``spark.sql.autoBroadcastJoinThreshold`` → None.
      Catalyst broadcasts the exact semi/anti join outright, the fact
      side never shuffles, and a bitmap build would be pure overhead.
    - ``fact`` under ``min_fact_bytes`` (default 1 GiB) → None. The
      bitmap build + probe is a fixed cost that only amortizes
      against a fact-sized shuffle; below ~1 GiB the shuffle it
      trims is already cheap.
    - otherwise → ``bits_per_key``×(estimated key rows) rounded up to
      a power of two, clamped to [2^20, probe ceiling]. 10 bits/key
      at 5 hashes ≈ 1% false positives; the row estimate comes from
      plan stats (rowCount when the optimizer knows it, else
      sizeInBytes/16 — id-keyed frames are ~8-16 bytes/row). Sizing
      affects throughput only, never correctness: oversizing wastes
      broadcast bytes, undersizing raises the fp rate, and the exact
      join downstream keeps the result identical either way.

    At 100 TB the gates flip exactly as intended: the corpus scan's
    file stats clear ``min_fact_bytes`` by orders of magnitude, and a
    keep/drop list that exceeds the broadcast threshold is precisely
    the case the prefilter exists for."""
    # unreadable plan stats anywhere: the gate cannot reason, so it
    # must not optimize — the plain join is always correct, while a
    # blind prefilter at a guessed size re-creates the regression this
    # gate closes. The fact side's estimate is only computed AFTER the
    # broadcast gate: in the common small-scale case (keys broadcast)
    # the potentially expensive optimization of the full fact plan
    # never runs.
    keys_bytes = _plan_size_bytes(keys)
    if keys_bytes is None:
        return None
    try:
        broadcast_thr = int(
            fact.sparkSession._jsparkSession.sessionState().conf()
            .autoBroadcastJoinThreshold()
        )
    except Exception:  # pragma: no cover - JVM API drift
        broadcast_thr = 10 << 20
    if broadcast_thr > 0 and keys_bytes <= broadcast_thr:
        return None
    fact_bytes = _plan_size_bytes(fact)
    if fact_bytes is None or fact_bytes < min_fact_bytes:
        return None
    try:
        rc = keys._jdf.queryExecution().optimizedPlan().stats().rowCount()
        est_rows = int(str(rc.get())) if rc.isDefined() else None
    except Exception:  # pragma: no cover - JVM API drift
        est_rows = None
    if est_rows is None:
        est_rows = max(1, keys_bytes // 16)
    bits = 1 << max(20, (bits_per_key * est_rows - 1).bit_length())
    return min(bits, _PROBE_MAX_BITS)


def _plan_is_deterministic(df: DataFrame) -> bool:
    """True when the analyzed plan reports every expression deterministic
    (the JVM ``QueryPlan.deterministic`` walk). Catches ``rand()``/
    ``randn()``-derived lineage; CANNOT catch determinism hazards that
    live outside expressions — ``limit`` over unordered input, or
    shuffle recomputation after executor loss — so a True here is
    necessary, not sufficient (callers with those inputs should pass
    ``pin_lineage=True``). Fails open (True) if the private JVM API is
    unavailable, preserving pre-guard behavior."""
    try:
        return bool(df._jdf.queryExecution().analyzed().deterministic())
    except Exception:  # pragma: no cover - JVM API drift
        return True


def bloom_anti_join(
    fact: DataFrame,
    drop_keys: DataFrame,
    key_col: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
    bank_bits: int | None = None,
    pin_lineage: bool | str = "auto",
) -> DataFrame:
    """EXACT left-anti join with a Bloom pre-filter — result identical
    to ``fact.join(drop_keys, key, "left_anti")`` (identity-tested).

    The anti-side dual of ``bloom_semi_join``, with the logic
    inverted: a row the bloom CLEARS (no bit set) is definitely not
    in the drop set — false negatives are impossible — so it bypasses
    the exact join entirely and goes straight to the output; only the
    might-match superset (true drops + fp_rate · the rest) enters the
    exact anti join, which removes the true drops and returns the
    false positives. Null keys never match an anti join's right side,
    and the probe PINS them to the cleared branch (an explicit
    isNotNull term — Spark's hash expressions ignore null inputs, so
    an unpinned null would probe real bits) — same rows either way.

    Why at 100 TB: decontamination and blocklist scrubs anti-join a
    fact-scale corpus against a drop set too big to broadcast raw; a
    typically tiny drop rate means nearly EVERY row crosses the
    anti-join shuffle just to be kept. With the pre-filter the
    shuffle carries only (true drops + fp_rate · clean rows) — at 1%
    fp and a 1%-dirty corpus, ~98% of the shuffle bytes disappear for
    one KB-scale bitmap exchange + one broadcast row.

    Physical note — and a CORRECTNESS requirement: ``fact`` is
    evaluated by TWO consumers (the cleared branch and the might-match
    branch — the same broadcast bloom, opposite filter directions,
    partitioning fact exactly). That partition argument assumes the
    two evaluations see the SAME rows, i.e. deterministic lineage. A
    nondeterministic ``fact`` (``sample()``, ``limit`` over unordered
    input, a ``rand()``-derived filter, shuffle recomputation after
    executor loss) can hand each branch a different row set — a row
    then lands in both branches (duplicated) or neither (silently
    dropped): wrong rows, not an error.

    ``pin_lineage`` enforces that requirement instead of trusting the
    docstring: ``"auto"`` (default) inspects the analyzed plan and
    lazily pins ``fact`` (``session.materialize``) when any expression
    is nondeterministic (a ``rand()``-derived filter, for example) —
    both branches then read the one materialized row set, and an
    executor loss fails the job loudly (or, with a checkpoint dir set,
    reads the durable scratch table) instead of silently recomputing
    different rows. ``True`` always pins (the right call for hazards
    the plan walk cannot see: ``limit`` over unordered input, inputs
    that may recompute after executor loss); ``False`` asserts the
    caller already persisted or knows the lineage deterministic — the
    double evaluation is then just the scan running twice with each
    direction's filter pushed down.

    Past the broadcast probe ceiling (``num_bits > 2**33``) this
    operator routes to the PLAIN left-anti join instead: the
    bank-partitioned shuffle probe would run twice (once per
    direction), paying up to four fact-sized exchanges to save the
    single fact shuffle of the join it wraps — strictly worse. The
    semi dual keeps its shuffle-probe fallback because it probes
    once.
    """
    if num_bits > _PROBE_MAX_BITS:
        _log.warning(
            "bloom_anti_join: num_bits=%d past the broadcastable probe"
            " ceiling (%d bits) — the shuffle-probe fallback would run"
            " once per direction and cost more exchanges than the plain"
            " left-anti join it prefilters; routing to the plain"
            " left-anti join. Shrink num_bits to restore the prefilter"
            " (a higher fp rate costs throughput, never correctness)",
            num_bits,
            _PROBE_MAX_BITS,
        )
        return fact.join(
            drop_keys.select(key_col), on=key_col, how="left_anti"
        )
    if pin_lineage is True or (
        pin_lineage == "auto" and not _plan_is_deterministic(fact)
    ):
        if pin_lineage == "auto":
            _log.warning(
                "bloom_anti_join: fact has nondeterministic lineage —"
                " pinning it with a lazy materialize so the cleared and"
                " might-match branches read the same rows (pass a"
                " persisted input or pin_lineage=False to manage this"
                " yourself)"
            )
        fact = materialize(fact, eager=False)
    bloom = bloom_filter_build(
        drop_keys.select(key_col), key_col, num_bits, num_hashes, bank_bits
    )
    cleared = bloom_might_contain(
        fact, bloom, key_col, num_bits, num_hashes, bank_bits,
        negate=True, _trusted_build=True,
    )
    might = bloom_might_contain(
        fact, bloom, key_col, num_bits, num_hashes, bank_bits,
        _trusted_build=True,
    )
    survivors = might.join(
        drop_keys.select(key_col), on=key_col, how="left_anti"
    )
    return cleared.unionByName(survivors)

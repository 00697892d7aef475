"""Deduplication operators for the training-data pipeline: exact,
MinHash+LSH, SimHash, and n-gram Jaccard (SURVEY.md §7.2-7; north-star ops).

Scale design (the point of each implementation):

- **Exact** (``exact_dedup``): groupBy on a 64-bit content fingerprint, not
  the full text — the shuffle carries 8 bytes + the surviving key per row
  instead of whole documents. Partial aggregation dedups map-side first.
- **MinHash+LSH** (``minhash_signatures`` → ``minhash_dedup_pairs``): the
  classic shingle → K minhashes → band → bucket-join pipeline. All-pairs
  comparison is O(n²) and impossible at 100 TB; LSH banding reduces it to
  pairs that share a band bucket, i.e. expected-similar pairs only. The
  band join is a shuffle on (band_index, band_hash) — well-distributed
  because hash values are uniform; the final signature comparison happens
  only on candidates. Shingles are *word* n-grams: on corpora with a
  shared vocabulary, character shingles make unrelated documents collide
  (huge LSH buckets → the join degenerates toward all-pairs), while word
  shingles keep the random-pair Jaccard near zero. One md5 per shingle,
  then k affine mixes, instead of k md5 passes over every shingle.
- **SimHash** (``simhash_from_hashes``): one 60-bit signature per document
  via bitwise majority vote over token hashes; near-dup test is
  popcount(XOR) ≤ d. Pure per-row compute, no shuffle; candidate pairing
  buckets on the high bits so the self-join never goes all-pairs. 60 bits
  (not 64) because the portable hash family is 15 hex nibbles — the widest
  value that parses as a signed BIGINT in every oracle engine — so bits
  60-63 of any token hash are always zero and could never vote; 60 is the
  full usable width, and keeping signatures below 2^60 also keeps every
  shift/sum sign-free in both engines (DuckDB raises on
  ``1::BIGINT << 63``).
- **n-gram Jaccard** (``jaccard_similarity``): exact set similarity used to
  *verify* LSH candidates (cheap, because candidates are few).
- **Bucketed pairs** (``_bucket_pairs``): the one candidate kernel under
  the MinHash, SimHash and sign-LSH families and their delta twins —
  hot-bucket split, cold self-join on the bucket with ``a.id < b.id``,
  min-id star links for hot buckets, and the directed delta joins. Each
  family supplies only its signature rows and its verify expression.

All hashes are the portable md5-based ``portable_hash64`` so each operator
has an exact DuckDB oracle; for engine-internal-only runs ``F.xxhash64``
would be ~3× faster and is a one-line swap.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from inbev_data_engineering_case_spark.functions import (
    MH_PRIME,
    MH_RANGE,
    WS_RE,
    char_ngrams,
    minhash_mixers,
    portable_hash64,
    sql_str as _sql_str_dedup,
    word_ngrams,
)
from inbev_data_engineering_case_spark.operators.textops import (
    fingerprint,
    normalize_for_fingerprint,
)
from inbev_data_engineering_case_spark.session import (
    broadcast_if_small,
    materialize,
)

DEFAULT_NUM_HASHES = 8
DEFAULT_BAND_SIZE = 2
DEFAULT_SHINGLE = 5
DEFAULT_SHINGLE_WORDS = 3
# Hot-bucket cap for the banded self-joins. Boilerplate-heavy corpora
# (identical headers/templates/license blocks) can put millions of
# documents into ONE band key or SimHash bucket, making the bucket-local
# join quadratic in that bucket — the one way LSH degenerates back toward
# all-pairs at 100 TB. Buckets above the cap switch to star-linking (see
# ``_bucket_pairs``). 10k² /2 = 5e7 comparisons is the most any
# single bucket may cost before the fallback engages.
DEFAULT_MAX_BUCKET_SIZE = 10_000


def _estimate_scan_splits(df: DataFrame) -> int | None:
    """Estimate how many partitions the file scan will produce, using the
    same arithmetic as Spark's ``FilePartition.maxSplitBytes`` (file sizes
    + open cost vs maxPartitionBytes). Driver-side metadata only — no
    plan-to-RDD conversion, no job. Returns None when the input isn't a
    plain file scan (leave such plans alone)."""
    spark = df.sparkSession
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — non-file source / streaming
        return None
    if not files:
        return None
    # every file yields >= 1 split, so a file count at/above the target
    # parallelism already answers the question — without this, a 100 TB
    # table (~1e5-1e6 files) would trigger that many driver-side
    # getFileStatus calls; the stat loop below only ever runs on fewer
    # files than cores
    if len(files) >= spark.sparkContext.defaultParallelism:
        return len(files)
    try:
        jvm = spark._jvm
        java_utils = jvm.org.apache.spark.network.util.JavaUtils
        max_part = java_utils.byteStringAsBytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
        )
        open_cost = java_utils.byteStringAsBytes(
            spark.conf.get("spark.sql.files.openCostInBytes", "4MB")
        )
        hconf = spark._jsc.hadoopConfiguration()
        total = 0
        for f in files:
            path = jvm.org.apache.hadoop.fs.Path(f)
            fs = path.getFileSystem(hconf)
            total += fs.getFileStatus(path).getLen()
    except Exception:  # noqa: BLE001 — FS quirk: skip the optimization
        return None
    parallelism = spark.sparkContext.defaultParallelism
    padded = total + len(files) * open_cost
    max_split = min(max_part, max(open_cost, padded // parallelism or 1))
    return max(1, -(-padded // max_split))


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition up to the session's core count when the scan would
    produce fewer splits. Signature computation is compute-bound per row; a
    small input file (1-2 parquet splits) would otherwise pin the whole
    stage to 1-2 cores. On a real cluster reading 100 TB the scan already
    yields thousands of splits and this is a no-op — and because the split
    count comes from file metadata (not ``df.rdd``), deciding costs no
    plan-to-RDD conversion there either."""
    target = df.sparkSession.sparkContext.defaultParallelism
    splits = _estimate_scan_splits(df)
    if splits is None:
        # Non-file source (in-memory relation, localCheckpoint, ...): fall
        # back to the plan's actual partition count. ``df.rdd`` costs a
        # driver-side plan-to-RDD conversion, which is exactly what the
        # metadata path avoids for 100 TB file scans — but non-file inputs
        # are small/local by nature, and without this a single-partition
        # createDataFrame corpus would pin the compute-bound signature
        # stage to one core.
        try:
            splits = df.rdd.getNumPartitions()
        except Exception:  # noqa: BLE001 — e.g. streaming plans
            return df
    if splits < target:
        return df.repartition(target)
    return df


def _bucket_pairs(
    rows: DataFrame,
    bucket_cols: list[str],
    score: Column | None = None,
    keep: Column | None = None,
    delta: bool = False,
) -> DataFrame:
    """Pairs of ``rows`` that share a bucket, as ``(id_a, id_b[, score])``
    with ``id_a < id_b``, filtered by ``keep``. ``rows`` carry ``id``,
    the ``bucket_cols`` and the value columns the aliased ``score``
    Column reads as ``a.<col>``/``b.<col>`` (no ``score``: id-only
    pairs); ``keep`` is a predicate over the output columns.

    **Hot buckets.** Buckets above ``DEFAULT_MAX_BUCKET_SIZE`` (read per
    call) star-link: each member pairs only with the bucket's min-id
    representative (n-1 pairs, not n(n-1)/2) under the same verify.
    Every member still reaches the representative, so components of
    true-duplicate buckets, which hot buckets overwhelmingly are, are
    unchanged; a pair similar to each other but not to the
    representative is missed in that bucket. The common case of no hot
    bucket costs one probe — ``isEmpty`` over a map-side-partial
    per-bucket count — and keeps the exact unguarded self-join plan;
    only oversized buckets materialize the tiny hot-key table and the
    flagged rows every join side then shares.

    **Delta mode** (``delta=True``): rows carry a boolean ``_new`` and
    only pairs touching a new row form, as two directed joins — new ×
    all and stored × new, both ``a.id < b.id`` — for the cold rows and
    for (representative × member) star links alike. The split and the
    representatives see the combined population, so the output is
    exactly the full-batch pairs that touch a new row; a stored id
    re-crawled as new never pairs with itself."""
    values = [c for c in rows.columns if c not in {"id", "_new", *bucket_cols}]
    counts = (
        rows.groupBy(*bucket_cols)
        .agg(F.count("*").alias("_bucket_n"))
        .filter(F.col("_bucket_n") > DEFAULT_MAX_BUCKET_SIZE)
    )
    hot = None
    if not counts.isEmpty():
        flagged = materialize(
            rows.join(materialize(counts, eager=False), bucket_cols, "left"),
            eager=False,
        )
        rows = flagged.filter(F.col("_bucket_n").isNull()).drop("_bucket_n")
        hot = flagged.filter(F.col("_bucket_n").isNotNull()).drop("_bucket_n")
    out = [F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")]
    if score is not None:
        out.append(score)
    on = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in bucket_cols]
    on = reduce(lambda x, y: x & y, on) & (F.col("a.id") < F.col("b.id"))

    def join(a: DataFrame, b: DataFrame) -> DataFrame:
        return a.alias("a").join(b.alias("b"), on).select(*out)

    def pairs(a: DataFrame, b: DataFrame) -> DataFrame:
        if not delta:
            return join(a, b)
        new = F.col("_new")
        return join(a.filter(new), b).unionByName(
            join(a.filter(~new), b.filter(new))
        )

    result = pairs(rows, rows)
    if hot is not None:
        # one representative row per hot bucket: partial min/min_by map-side,
        # so the skewed bucket never concentrates on one reducer; the tiny
        # table then broadcasts back onto the hot rows
        reps = [F.min("id").alias("id")]
        reps += [F.min_by(c, "id").alias(c) for c in values]
        if delta:
            reps.append(
                F.min(F.when(F.col("_new"), F.col("id")))
                .eqNullSafe(F.min("id"))
                .alias("_new")
            )
        result = result.unionByName(
            pairs(hot.groupBy(*bucket_cols).agg(*reps), hot)
        )
    return result if keep is None else result.filter(keep)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact near-free dedup: fingerprint → groupBy → keep min id.
    Returns (fingerprint, keep_id, n_copies). min() makes the survivor
    deterministic (the reference's dropDuplicates keeps an arbitrary row —
    unacceptable when results must be reproducible across retries/AQE)."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def shingle_set(text: Column | str, n: int = DEFAULT_SHINGLE) -> Column:
    """Distinct character n-gram shingles of the normalized text."""
    return F.array_distinct(char_ngrams(normalize_for_fingerprint(text), n))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_words: int = DEFAULT_SHINGLE_WORDS,
) -> DataFrame:
    """(id, sig: array<bigint>[num_hashes]) — sig[k] = min over shingles of
    g_k(base_hash(shingle)). Per-row compute only; no shuffle.

    One md5 per shingle (the expensive part), then ``num_hashes`` cheap
    affine mixes g_k(x) = (a_k*x + b_k) mod p over the base hash — k× less
    hashing than hashing every shingle k times, same minhash estimator
    (universal-hash family). The base-hash array is a materialized inner
    projection so the shingling itself also runs once, not per k.

    Both projections are built as SQL text and parsed with one
    ``selectExpr`` each, as ``signlsh`` and ``simhash`` are: the
    Column-API form paid ~0.3s of py4j tree
    construction per plan build — every run of every minhash consumer —
    for the identical parsed tree (same CASE/transform shingle shape,
    same conv/md5 hash chain, same int literals; value parity pinned by
    ``test_minhash_signatures_expr_parity`` and the oracle sweep)."""
    from inbev_data_engineering_case_spark.functions import (
        portable_hash64_spark_sql,
        require_default_string_escapes,
        sql_ident,
        word_ngrams_spark_sql,
    )

    require_default_string_escapes(df.sparkSession, "minhash_signatures")
    norm = (
        f"regexp_replace(lower(trim({sql_ident(text_col)})),"
        f" {_sql_str_dedup(WS_RE)}, ' ')"
    )
    shingles = (
        f"array_distinct({word_ngrams_spark_sql(norm, shingle_words)})"
    )
    base = (
        f"transform({shingles},"
        f" s -> {portable_hash64_spark_sql('s')} % {MH_RANGE})"
    )
    hashed = df.selectExpr(f"{sql_ident(id_col)} AS id", f"{base} AS h")
    sig = "array(" + ", ".join(
        f"array_min(transform(h, x -> ({a} * x + {b}) % {MH_PRIME}))"
        for a, b in minhash_mixers(num_hashes)
    ) + ")"
    return hashed.selectExpr("id", f"{sig} AS sig")


# Estimated Jaccard of a banded candidate pair: the fraction of equal
# minhash slots, as raw IEEE division (bit-identical across engines).
_MINHASH_EST = (
    "size(filter(zip_with(a.sig, b.sig, (x, y) -> x = y), eq -> eq))"
    " / size(a.sig)"
)


def _minhash_bands(sigs: DataFrame) -> DataFrame:
    """``sigs`` with one row per LSH band: ``band_idx`` and ``band_key``,
    the ':'-joined slots of one ``DEFAULT_BAND_SIZE``-wide slice of
    ``sig``. The band keys are one ``F.expr`` parse."""
    keys = F.expr(
        "transform(sequence(0, CAST(floor(size(sig) / "
        f"{DEFAULT_BAND_SIZE}) AS INT) - 1), b -> concat_ws(':',"
        f" CAST(slice(sig, b * {DEFAULT_BAND_SIZE} + 1,"
        f" {DEFAULT_BAND_SIZE}) AS ARRAY<STRING>)))"
    )
    return sigs.select("*", F.posexplode(keys).alias("band_idx", "band_key"))


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded candidates
    (``_bucket_pairs`` on ``(band_idx, band_key)``) → signature-similarity
    filter ≥ threshold.

    The signature array rides along through the band explode and the
    self-join, so the (expensive) shingle+hash subtree is evaluated exactly
    once and the similarity needs no join back onto the signature table.
    The shuffle key is still the band key; each row just carries
    ``DEFAULT_NUM_HASHES`` extra longs (~64 bytes).

    Similarity is computed and thresholded BEFORE the pair-dedup
    ``distinct``: the estimate is a pure function of the pair, so the
    result is identical, but the distinct's exchange then carries 24-byte
    (id_a, id_b, est) rows instead of two full signature arrays, and
    sub-threshold candidates never enter that shuffle at all — at 100 TB
    the band join's output is the biggest intermediate in the pipeline.

    The signature table is shared between the self-join's sides through
    ``session.materialize``."""
    sigs = materialize(
        minhash_signatures(_ensure_parallelism(df), text_col, id_col),
        eager=False,
    )
    return _bucket_pairs(
        _minhash_bands(sigs),
        ["band_idx", "band_key"],
        F.expr(_MINHASH_EST).alias("est_jaccard"),
        F.col("est_jaccard") >= threshold,
    ).distinct()


def jaccard_similarity(
    pairs: DataFrame, docs: DataFrame, text_col: str = "text",
    id_col: str = "doc_id", shingle: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate verification:
    |A ∩ B| / |A ∪ B| over distinct shingle sets. Shingling is the
    compute-heavy part — parallelism-guarded like the signature stages."""
    sh = _ensure_parallelism(docs).select(
        F.col(id_col).alias("id"), shingle_set(text_col, shingle).alias("sh")
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
    )


def token_hashes(text: Column | str) -> Column:
    """array<long> of per-token portable hashes over the lowercased text —
    the (md5-bearing, expensive) half of SimHash, split out so callers can
    project it ONCE before computing the signature. Folding it into the
    signature expression would embed the md5 transform in every per-bit
    vote and hash each token ``bits`` times."""
    from inbev_data_engineering_case_spark.functions import tokens

    toks = tokens(F.lower(F.col(text) if isinstance(text, str) else text))
    return F.transform(toks, lambda t: portable_hash64(t))


def simhash_from_hashes(hashes: str, bits: int = 60) -> Column:
    """SimHash signature from the token-hash array column named
    ``hashes``: bit b of the output is the sign of the majority vote of
    bit b over all hashes. One array aggregate with an array<long> vote
    accumulator — a single pass over the tokens regardless of ``bits``.

    Default 60 bits = the full width of ``portable_hash64`` (see module
    docstring): at billions of documents a 32-bit signature
    under-discriminates (birthday collisions at ~2^16 docs), while wider
    than 60 is impossible for this hash family — those hash bits are
    never set, so their majority vote is constant.

    The expression is ONE ``F.expr`` parse: a Column-API tree cost 0.89s
    of py4j round-trips per plan build (60 mask literals + a 60-term sum
    chain, each term re-referencing the votes subtree), while the SQL
    form parses in milliseconds and references the votes array exactly
    once. NULL token arrays hash to 0 via the explicit coalesce.
    ``hashes`` is one UNQUALIFIED top-level column: it is
    backtick-quoted as a single identifier, so a dotted name is not
    resolved as a struct field or alias-qualified path."""
    h = "`" + hashes.replace("`", "``") + "`"
    masks_sql = ",".join(f"{1 << b}L" for b in range(bits))
    votes_sql = (
        f"aggregate({h}, array_repeat(CAST(0 AS BIGINT), {bits}),"
        f" (acc, hh) -> zip_with(acc, transform(array({masks_sql}),"
        " m -> CASE WHEN (hh & m) != 0 THEN CAST(1 AS BIGINT)"
        " ELSE CAST(-1 AS BIGINT) END), (a, v) -> a + v))"
    )
    return F.expr(
        f"coalesce(aggregate(zip_with({votes_sql},"
        f" sequence(0, {bits - 1}),"
        " (v, b) -> CASE WHEN v > 0 THEN"
        " shiftleft(CAST(1 AS BIGINT), b)"
        " ELSE CAST(0 AS BIGINT) END),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x),"
        " CAST(0 AS BIGINT))"
    )


def dedup_components_with_stats(
    pairs: DataFrame,
    max_iter: int = 25,
    require_convergence: bool = False,
) -> tuple[DataFrame, int]:
    """Connected components of the near-dup pair graph → ((node, comp),
    rounds_run) with comp = min node id reachable.

    Iterative min-label propagation WITH pointer jumping: each round every
    node takes the min of its own and its neighbors' labels (one hop),
    then jumps to its label's label (comp ← comp(comp) — path
    compression). The jump doubles the distance already-propagated labels
    cover, so convergence is **O(log diameter)** rounds, not O(diameter):
    a 64-node chain converges in 7 rounds where pure propagation needs 63
    — and would silently exceed ``max_iter`` and return non-minimal labels
    (the 100 TB failure mode: organic near-dup chains through shared
    boilerplate can be arbitrarily long; with jumping, 25 iterations cover
    diameter ~2^25). Each round is two shuffle joins + one groupBy, with
    lineage truncated per round (``session.materialize``: fault-tolerant
    scratch tables when the session has a checkpoint dir, executor-local
    blocks otherwise).

    This is the canonical iterative-algorithm shape Spark SQL cannot express
    in one query; the DuckDB oracle uses a recursive CTE instead.
    """
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    # NOTE (measured A/B): pre-partitioning this checkpoint on the hop-join
    # key (`.repartition("src")`, to spare the per-round edge shuffle)
    # measured a 1.5× LOSS on the curate lines — the fixed-width
    # repartition defeats AQE's size-adaptive coalescing and every
    # round then runs at full task width over a small table. The
    # distinct()'s own partitioning + AQE sizing is the faster shape.
    #
    # ONE action per round, with every cut LAZY and materialized by
    # the convergence aggregate the loop already pays (the
    # ``materialize(eager=)`` contract, applied everywhere by making
    # every intermediate single-reference at materialization time):
    #
    # - SELF-LOOPS are unioned into the (symmetrized, deduped) edge
    #   list. The hop then reads ``min(src-label) grouped by dst`` in
    #   one join — the old ``... unionByName(labels)`` self-term, which
    #   referenced the lazily-cut labels TWICE in one plan (the exact
    #   shape an A/B measured as a 2× recompute loss under AQE),
    #   becomes the self-loop rows instead: same row volume into the
    #   aggregate, labels referenced ONCE.
    # - The convergence sum runs on the HOP output (neighbor_min), not
    #   the jumped labels, and the jump is SKIPPED on the no-change
    #   round: at a hop fixed point every edge (u,v) has comp(u) ==
    #   comp(v) (min over self ∪ neighbors can lower either side
    #   otherwise), so labels are uniform per component; each
    #   component contains its own minimum node m whose label can never
    #   rise above m and never names a node outside the component, so
    #   the uniform value IS m — the jump (comp ← comp(comp)) maps
    #   m → m and is the identity. Returning neighbor_min at
    #   convergence is therefore row-identical to returning the old
    #   jumped frame, and the sum-equality test fires on exactly the
    #   same round (sum(jump(x)) == sum(x) iff hop was already fixed,
    #   by the same monotonicity argument).
    # - Each round's single sum action materializes that round's lazy
    #   blocks; the lazy jumped cut from round r is computed exactly
    #   once inside round r+1's sum (single reference), after which its
    #   blocks back the jump join's two references in round r+1's plan.
    edges = materialize(
        edges.unionByName(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .unionByName(
            edges.select("src", F.col("src").alias("dst")).unionByName(
                edges.select(F.col("dst").alias("src"), "dst")
            )
        )
        .distinct(),
        eager=False,
    )
    # Fused first propagation: under identity
    # labels, round 1's neighbor-min is a pure function of the edge list
    # — nm1(v) = min(v, min neighbors(v)) — one join-free aggregate
    # instead of a full first round. With self-loops in the edge list
    # the self-term (v, v) is already present, so the aggregate reads
    # the edge table ONCE. Labels stay node ids of the component (min
    # only selects among them) and the monotone convergence argument is
    # unchanged. Lazy cut: the init label-sum right below is the
    # materializing action (single reference).
    labels = materialize(
        edges.select(F.col("dst").alias("node"), F.col("src").alias("comp"))
        .groupBy("node")
        .agg(F.min("comp").alias("comp")),
        eager=False,
    )

    def label_sum(lbls: DataFrame):
        # Convergence check WITHOUT a join: per-node labels are
        # monotonically non-increasing (min-propagation + jumping can
        # only lower them), so a round changed something iff the total
        # label sum strictly dropped. One narrow aggregate over the
        # cached table replaces the old jumped-vs-labels join — which at
        # scale reshuffled both full label tables every round just to
        # answer yes/no. decimal(38,0): 1e9 nodes x 1e18-max ids can
        # overflow a bigint sum, and ANSI mode makes that an error.
        # The same action also counts the nodes — the size fact the
        # broadcast gate below needs, at zero extra jobs (the count is
        # constant across rounds: hop and jump preserve the node set).
        row = lbls.agg(
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("s"),
            F.count("*").alias("n"),
        ).first()
        return row["s"], row["n"]

    prev_sum, n_nodes = label_sum(labels)
    # Deliberate join strategy (guide §3.1): below the session's
    # broadcast row limit the label side of the hop and jump joins is
    # broadcast — the checkpointed relation carries no stats, so the
    # planner would otherwise sort-merge-join it against the edge list
    # every round. The node count is EXACT (measured by the init
    # aggregate, constant across rounds), so the gate is data-adaptive:
    # a billion-node production graph, or a session with broadcasting
    # switched off, keeps the shuffle joins untouched.
    rounds = 0
    # convergence is OBSERVED, not inferred: the loop must execute one
    # no-change round to know labels are minimal. require_convergence
    # turns an exhausted max_iter into a loud error instead of quietly
    # returning possibly-non-minimal labels (one cluster, several
    # representatives — the silent failure leakage_safe_split must not
    # inherit); a graph whose labels go minimal exactly on the last
    # allowed round also raises, conservatively, since the confirming
    # round never ran.
    converged = False
    for _ in range(max_iter):
        rounds += 1
        # hop: min label over self ∪ neighbors, as ONE join + aggregate
        # (self-loops supply the self term). Lazy cut, materialized by
        # this round's sum — the only action the round pays.
        lab = broadcast_if_small(labels, n_nodes)
        neighbor_min = materialize(
            edges.join(lab, edges["src"] == lab["node"])
            .select(F.col("dst").alias("node"), "comp")
            .groupBy("node")
            .agg(F.min("comp").alias("comp")),
            eager=False,
        )
        cur_sum, _ = label_sum(neighbor_min)
        if cur_sum == prev_sum:
            # hop fixed point: the jump is the identity (see the
            # one-action-per-round note above) — neighbor_min IS the
            # converged minimal labeling, already materialized by the sum.
            labels = neighbor_min
            converged = True
            break
        # pointer jumping: comp <- comp(comp). Every label IS a node of the
        # graph (it started as one and min() only selects among them), so
        # the self-join always resolves; coalesce guards the root labels
        # (comp(x) == x rows are present, so it's belt-and-braces only).
        # Both references read neighbor_min's just-materialized blocks;
        # the jumped cut itself stays lazy and is computed exactly once
        # by the NEXT round's sum (where the hop references it once).
        jump_to = broadcast_if_small(
            neighbor_min.select(
                F.col("node").alias("jnode"), F.col("comp").alias("jcomp")
            ),
            n_nodes,
        )
        jumped = materialize(
            neighbor_min.join(
                jump_to, neighbor_min["comp"] == jump_to["jnode"], "left"
            ).select(
                "node",
                F.coalesce("jcomp", "comp").alias("comp"),
            ),
            eager=False,
        )
        labels = jumped
        prev_sum = cur_sum
    if require_convergence and not converged:
        raise ValueError(
            "dedup_components: label propagation exhausted max_iter=%d"
            " without a no-change round — labels may be non-minimal"
            " (one cluster, several representatives). Raise max_iter:"
            " with pointer jumping %d rounds cover diameter ~2^%d, so"
            " hitting this means an extraordinarily deep pair graph or"
            " a too-small cap." % (max_iter, max_iter, max_iter)
        )
    return labels, rounds


def dedup_components(
    pairs: DataFrame,
    max_iter: int = 25,
    require_convergence: bool = False,
) -> DataFrame:
    """See ``dedup_components_with_stats`` — this is the DataFrame-only
    convenience wrapper."""
    labels, _ = dedup_components_with_stats(
        pairs, max_iter, require_convergence
    )
    return labels


def dedup_components_incremental(
    stored_labels: DataFrame,
    new_pairs: DataFrame,
    max_iter: int = 25,
) -> DataFrame:
    """Delta maintenance of a ``dedup_components`` labeling → the full
    updated ``(node, comp)`` table, row-identical to re-running the
    batch closure over the union graph (parity-tested on random
    graphs).

    The delta-crawl hole this closes: the signature/gram/split/halo
    state all advance delta-sized, but a new crawl's pair edges can
    MERGE existing near-dup clusters, and recomputing components from
    scratch walks the FULL pair graph (the one 100 TB-sized closure in
    the pipeline). Instead, contract every stored component to its
    label and run the closure on the CONTRACTED delta graph alone:

    - map each new edge's endpoints through the stored labels
      (identity for nodes the store has never seen — a new node's
      "label" is its own id);
    - run the batch components (with observed convergence — this
      meta-graph is delta-sized, so the strict setting is cheap) on
      those mapped edges: its labels say which STORED components and
      new nodes merge, and into which minimum;
    - relabel: stored rows join the (delta-sized, broadcastable)
      meta mapping on their comp; unmapped rows keep their label.
      New nodes take their meta label directly (every new node
      appears in the meta graph — its edges put it there).

    Correct because a stored label IS the minimum node id of its
    component (the ``dedup_components`` contract — which is why
    ``stored_labels`` MUST come from a CONVERGED run;
    ``require_convergence=True`` is the provider's setting): the
    minimum over a merged super-component equals the minimum over its
    members' stored minima and the new node ids, which is exactly
    what the meta closure computes. Nodes the delta never touches
    keep their labels untouched.

    Scale shape: one label join on the delta edges, one closure over
    a delta-sized graph, one broadcast relabel join against the
    node-sized store — no full-graph work anywhere. Same output
    contract as ``dedup_components``: one row per node that appears
    in (stored ∪ delta)."""
    lab_a = stored_labels.select(
        F.col("node").alias("_na"), F.col("comp").alias("_ca")
    )
    lab_b = stored_labels.select(
        F.col("node").alias("_nb"), F.col("comp").alias("_cb")
    )
    # the delta edges feed four plan sites (two label joins, both
    # new-node projections): truncate once so a caller handing raw
    # pair-generation lineage (an LSH band self-join) never re-runs it
    e = materialize(
        new_pairs.select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
        ),
        eager=True,
    )
    mapped = (
        e.join(lab_a, e["id_a"] == lab_a["_na"], "left")
        .join(lab_b, e["id_b"] == lab_b["_nb"], "left")
        .select(
            F.coalesce("_ca", "id_a").alias("id_a"),
            F.coalesce("_cb", "id_b").alias("id_b"),
        )
    )
    # the meta closure is delta-sized: strict convergence costs
    # nothing. Its result is already materialized (every components
    # round ends in a materialize cut),
    # so both consumers below read it without extra pinning.
    meta = dedup_components(
        mapped,
        max_iter=max_iter,
        require_convergence=True,
    )
    remap = F.broadcast(
        meta.select(F.col("node").alias("_mn"), F.col("comp").alias("_mc"))
    )
    updated_old = (
        stored_labels.join(
            remap, stored_labels["comp"] == F.col("_mn"), "left"
        ).select("node", F.coalesce("_mc", "comp").alias("comp"))
    )
    new_nodes = (
        e.select(F.col("id_a").alias("node"))
        .unionByName(e.select(F.col("id_b").alias("node")))
        .distinct()
        .join(stored_labels.select("node"), on="node", how="left_anti")
    )
    new_labeled = new_nodes.join(remap, new_nodes["node"] == F.col("_mn")).select(
        "node", F.col("_mc").alias("comp")
    )
    return updated_old.unionByName(new_labeled)


def _probe_buckets(
    emb: DataFrame, vec_col: str, num_planes: int, n_probes: int
) -> Column:
    """``(seed, bucket)`` rows, one per probe: the posexplode of the
    ``n_probes`` sign-LSH buckets of ``vec_col`` under seeds
    ``0..n_probes-1``. The plane weights are plan literals sized by a
    memoized 1-row dim probe: bit-identical buckets, and the per-row cost
    drops from planes·d md5 hashes to plain multiplications."""
    from inbev_data_engineering_case_spark.operators.similarity import (
        _vec_dim,
        signlsh_bucket,
    )

    dim = _vec_dim(emb, vec_col)
    buckets = [
        signlsh_bucket(vec_col, num_planes, seed=seed, dim=dim)
        for seed in range(n_probes)
    ]
    return F.posexplode(F.array(*buckets)).alias("seed", "bucket")


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probes: int = 1,
) -> DataFrame:
    """Embedding-cosine near-dup: (id_a, id_b, sim) for same-sign-LSH-bucket
    pairs with cosine ≥ threshold. The bucket equi-join keeps the pair space
    bucket-local (the all-pairs O(n²) is impossible at 100 TB); near-dups
    almost always share a bucket because near-parallel vectors fall on the
    same side of most hyperplanes.

    ``n_probes > 1`` raises recall at proportional cost: the corpus is
    re-bucketed under additional independent hyperplane seeds, stacked
    under a ``seed`` bucket column so every probe shares one cut, one
    hot-bucket probe and one bucket join, and the pairs are deduplicated
    across probes — a pair missed by one bucketing (a near-zero
    hyperplane dot flips a bit) is almost surely caught by another.

    Hot buckets (``_bucket_pairs``): embedding collapse (many identical
    vectors — e.g. an encoder's output for empty/boilerplate inputs)
    concentrates one bucket; above the cap the bucket star-links to its
    min-id representative with the same cosine ≥ threshold verify."""
    from inbev_data_engineering_case_spark.functions import cosine

    rows = materialize(
        _ensure_parallelism(emb).select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            _probe_buckets(emb, vec_col, num_planes, n_probes),
        ),
        eager=False,
    )
    pairs = _bucket_pairs(
        rows,
        ["seed", "bucket"],
        F.round(cosine(F.col("a.v"), F.col("b.v")), 6).alias("sim"),
        F.col("sim") >= threshold,
    )
    return pairs.distinct() if n_probes > 1 else pairs


def _geometry_guarded(df, expected: dict[str, int], carrier: str, op: str):
    """The guarded carrier column for a stored-state table: raises
    IN-PLAN (folded into the consumed ``carrier`` — a projected-then-
    dropped guard would be pruned by Catalyst) when any geometry
    column disagrees with ``expected``. A table that predates the
    geometry columns (or isn't a state table at all) fails FAST at
    plan time with an actionable message instead of an unresolved-
    column error."""
    missing = [c for c in expected if c not in df.columns]
    if missing:
        raise ValueError(
            f"{op}: stored state table lacks geometry column(s) "
            f"{missing} — rebuild it with the current builder (build "
            "geometry rides the state so a mismatched call can raise "
            "in-plan instead of silently corrupting results)"
        )
    cond = None
    for c, v in expected.items():
        k = F.col(c) != v
        cond = k if cond is None else cond | k
    stored_desc = F.concat_ws(
        ", ", *[F.concat(F.lit(f"{c}="), F.col(c).cast("string"))
                for c in expected]
    )
    call_desc = ", ".join(f"{c}={v}" for c, v in expected.items())
    return (
        F.when(
            cond,
            F.raise_error(
                F.concat(
                    F.lit(f"{op}: stored state table was built with ("),
                    stored_desc,
                    F.lit(f"), this call uses ({call_desc}) — a "
                          "geometry mismatch silently corrupts results"
                          " (mis-bucketed rows / mixed gram spaces); "
                          "pass the build's values or rebuild"),
                )
            ).cast(df.schema[carrier].dataType.simpleString()),
        )
        .otherwise(F.col(carrier))
        .alias(carrier)
    )


def build_embedding_sig_tables_normalized(
    emb: DataFrame,
    num_planes: int = 8,
    n_probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """The stored sign-LSH state ``embedding_near_dup_pairs`` buckets
    on, as the pair ``incremental_embedding_near_dup_normalized``
    consumes: ``vectors`` is ``(id, v)`` — each embedding stored ONCE —
    and ``buckets`` is the per-seed ``(seed, id, bucket, num_planes,
    n_probes)`` rows (8-byte bucket + geometry per probe; the geometry
    rides the state so a mismatched delta call raises in-plan instead of
    silently losing recall). ``build_gram_table``'s stored-state
    contract applied to vectors: the cosine verify needs no corpus
    re-read.

    Why two tables: a single table carrying the vector on EVERY probe
    row grows ~linearly in ``n_probes``. Measured on the sf0.01
    embeddings fixture (500 × 64-float vectors, snappy parquet,
    n_probes=3): 0.40 MB for that one-table form vs 0.15 MB here
    (0.13 MB vectors + 0.02 MB buckets) — 2.7× smaller, converging to
    ~``n_probes``× as probes grow. Persist the bucket table bucketed by
    ``(seed, bucket)`` at scale so the daily delta join is
    bucket-local."""
    vectors = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )
    buckets = emb.select(
        F.col(id_col).alias("id"),
        _probe_buckets(emb, vec_col, num_planes, n_probes),
        F.lit(num_planes).alias("num_planes"),
        F.lit(n_probes).alias("n_probes"),
    ).select("seed", "id", "bucket", "num_planes", "n_probes")
    return vectors, buckets


def incremental_embedding_near_dup_normalized(
    stored_vectors: DataFrame,
    stored_buckets: DataFrame,
    new_emb: DataFrame,
    threshold: float = 0.9,
    num_planes: int = 8,
    n_probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Daily-crawl embedding near-dup — the delta form of
    ``embedding_near_dup_pairs``: only the NEW vectors hash; the
    historical corpus participates through its stored
    ``(vectors, buckets)`` pair (``build_embedding_sig_tables_normalized``
    output), and candidates form as (new-side buckets) × (bucket-mates)
    — the stored×stored quadratic never forms.

    Returns exactly the ``embedding_near_dup_pairs(stored ∪ new)``
    rows in which at least one side is new (full-batch parity,
    identity-tested incl. ``n_probes>1``): the hot-bucket guard is
    evaluated over the COMBINED bucket population, and a hot bucket's
    star links use the combined min-id representative — precisely as
    the full recompute would (stale-hot star links not involving a new
    vector are the full batch's new-free rows and are excluded by
    definition).

    Candidates form in ``_bucket_pairs``' delta mode on ``(seed, id,
    bucket)`` rows, every probe stacked under the ``seed`` bucket column
    (one cut, one hot-bucket probe), dedup across probes id-only, and
    the ``(id, v)`` table joins in exactly twice (side a, side b) for
    the surviving pairs: on the sf0.1 embeddings fixture at n_probes=3
    a plan carrying the vector through the bucket exchange
    shuffle-wrote 5.1 MB against ~0.04 MB here.

    Ids must be disjoint between stored and new (a re-embedded doc is
    delete + insert, ``curate_incremental``'s contract). A stored
    bucket table built with different ``num_planes``/``n_probes``
    raises IN-PLAN (the geometry columns ride ``stored_buckets``): the
    seeds are deterministic, so a silent mismatch would mis-bucket
    every stored row and lose recall without any error.
    """
    from inbev_data_engineering_case_spark.functions import cosine

    new_vectors, new_buckets = build_embedding_sig_tables_normalized(
        new_emb, num_planes, n_probes, id_col, vec_col
    )
    stored = stored_buckets.select(
        "seed",
        "id",
        _geometry_guarded(
            stored_buckets,
            {"num_planes": num_planes, "n_probes": n_probes},
            "bucket",
            "incremental_embedding_near_dup_normalized",
        ),
        F.lit(False).alias("_new"),
    )
    rows = materialize(
        stored.unionByName(
            new_buckets.select(
                "seed", "id", "bucket", F.lit(True).alias("_new")
            )
        ),
        eager=False,
    )
    # id-only: the similarity is deferred to the vector join
    pairs = _bucket_pairs(rows, ["seed", "bucket"], delta=True)
    if n_probes > 1:
        # id-only dedup: sim is deterministic per pair, so deduping
        # before the vector join equals a post-sim distinct — minus
        # candidate-count × vector bytes
        pairs = pairs.distinct()
    vecs = stored_vectors.unionByName(new_vectors)
    va = vecs.select(F.col("id").alias("id_a"), F.col("v").alias("_va"))
    vb = vecs.select(F.col("id").alias("id_b"), F.col("v").alias("_vb"))
    sim = F.round(cosine(F.col("_va"), F.col("_vb")), 6).alias("sim")
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", sim)
        .filter(F.col("sim") >= threshold)
    )


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 60,
    bucket_bits: int = 8,
) -> DataFrame:
    """Near-dup pairs by SimHash: bucket on the top ``bucket_bits`` bits
    (signature bits ``bits-bucket_bits``..``bits-1``, so the self-join is
    per-bucket, not all-pairs), then filter popcount(XOR) ≤ max_hamming.
    Note the bucket prefilter trades recall for scale exactly like LSH
    banding: 8 bucket bits → 256-way candidate split at any ``bits``.

    Candidates and hot buckets come from ``_bucket_pairs``: identical
    templates concentrate in ONE SimHash bucket (their top bits
    are equal by construction); above the cap the bucket star-links to its
    min-id representative, with the same popcount ≤ max_hamming verify."""
    sigs = materialize(
        build_simhash_table(
            _ensure_parallelism(df), text_col, id_col, bits, bucket_bits
        ).select("id", "sh", "bucket"),
        eager=False,
    )
    return _bucket_pairs(
        sigs,
        ["bucket"],
        F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        F.col("hamming") <= max_hamming,
    )


def build_simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 60,
    bucket_bits: int = 8,
) -> DataFrame:
    """``(id, sh, bucket, bits, bucket_bits)`` — the SimHash state ``simhash_near_pairs``
    self-joins on, persisted so a daily crawl never re-hashes the
    historical corpus (``build_gram_table``'s stored-state contract,
    SimHash flavor). Bucket by ``bucket`` at scale."""
    hashed = df.select(
        F.col(id_col).alias("id"), token_hashes(text_col).alias("th")
    )
    return (
        hashed.select("id", simhash_from_hashes("th", bits).alias("sh"))
        .withColumn("bucket", F.shiftright("sh", bits - bucket_bits))
        # build geometry rides the state (the CMS wrong-geometry
        # discipline): the incremental path raises in-plan on a
        # mismatch instead of silently shifting every bucket
        .withColumn("bits", F.lit(bits))
        .withColumn("bucket_bits", F.lit(bucket_bits))
    )


def incremental_simhash_near_pairs(
    stored_sigs: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 60,
    bucket_bits: int = 8,
) -> DataFrame:
    """Daily-crawl SimHash near-dup — the delta form of
    ``simhash_near_pairs``: only the NEW crawl tokenizes and hashes;
    the historical corpus participates through its stored signature
    table (``build_simhash_table`` output), candidates form as
    (new-side sigs) × (bucket-mates), and the stored×stored quadratic
    never forms.

    Returns exactly the ``simhash_near_pairs(stored ∪ new)`` rows in
    which at least one side is new (full-batch parity,
    identity-tested): ``_bucket_pairs``' delta mode forms only pairs
    that touch a new row, and its hot-bucket guard and min-id star
    representative evaluate over the COMBINED bucket population, so a
    bucket that goes hot only once the crawl lands splits precisely
    as the full recompute would. Ids must be disjoint between stored
    and new (delete + insert for re-crawls). A stored table built
    with different ``bits``/``bucket_bits`` raises IN-PLAN (the
    geometry columns ride the state): a silent mismatch would shift
    every stored bucket and lose recall without any error.
    """
    stored = stored_sigs.select(
        "id",
        _geometry_guarded(
            stored_sigs,
            {"bits": bits, "bucket_bits": bucket_bits},
            "sh",
            "incremental_simhash_near_pairs",
        ),
        "bucket",
        F.lit(False).alias("_new"),
    )
    new = build_simhash_table(
        new_docs, text_col, id_col, bits, bucket_bits
    ).select("id", "sh", "bucket", F.lit(True).alias("_new"))
    return _bucket_pairs(
        materialize(stored.unionByName(new), eager=False),
        ["bucket"],
        F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        F.col("hamming") <= max_hamming,
        delta=True,
    )


def dedup_spans(
    documents: DataFrame,
    span_tokens: int = 16,
    max_docs: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_hot: bool = True,
) -> DataFrame:
    """Span-level exact dedup WITH document reconstruction (the
    C4/Dolma cleaning step the gram profiler only reports on): slice
    each document into non-overlapping ``span_tokens``-token spans,
    drop every span whose case-folded fingerprint appears in more than
    ``max_docs`` distinct documents (boilerplate headers, license
    blocks, navigation chrome — shared verbatim across a corpus), and
    reassemble what remains in order. Case is preserved in the output;
    matching is case-folded. Output text is token-normalized (single
    spaces) — the span boundary set, not original whitespace, is the
    unit this operator guarantees.

    Returns ``(id_col, text_clean, n_spans, n_dropped)`` — one row per
    document with at least one span (NULL-text docs have none);
    ``text_clean`` is ``''`` when every span was boilerplate.

    Scale shape: spans are formed IN-ROW (``transform`` over a span
    index sequence + ``slice`` — no posexplode self-join); the only
    exchanges are the span-fingerprint aggregation (rows = distinct
    spans, 8-byte keys) and the per-doc regroup. The hot-span anti-join
    stays fp-keyed either way; ``broadcast_hot`` only picks the
    physical strategy. Default True fits the common case (the hot set
    is corpus-boilerplate-sized); at 100 TB the set SCALES WITH CORPUS
    boilerplate and can exceed any broadcast limit — set False there
    and the anti-join degrades gracefully to a shuffle on the same
    8-byte key instead of failing the job (``boilerplate_report``'s
    toggle, applied here). Documents never shuffle by content in
    either mode. Composable before the minhash banded join (drop
    boilerplate spans first, then near-dedup whole documents).
    """
    from inbev_data_engineering_case_spark.functions import (
        portable_hash64,
        tokens,
    )

    if span_tokens < 1:
        raise ValueError("dedup_spans: span_tokens must be >= 1")
    if max_docs < 1:
        raise ValueError("dedup_spans: max_docs must be >= 1")
    k = span_tokens
    arr = documents.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    )
    # size(_toks) >= 1 always holds today (split(trim(x)) yields at
    # least ['']), but sequence(0, -1) would auto-step DOWNWARD and
    # fabricate phantom spans if a 0-length array ever arrived — guard
    # explicitly (char_ngrams' discipline) so the expression cannot
    # step negative; the empty-array arm explodes to zero rows, which
    # is exactly the oracle twin's range(0) behavior
    segs = arr.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"case when size(_toks) >= 1 then "
                f"transform(sequence(0, cast(ceil(size(_toks) / {k}.0) as int) - 1), "
                f"i -> struct(i AS seg_no, "
                f"array_join(slice(_toks, i * {k} + 1, {k}), ' ') AS seg)) "
                f"else array() end"
            )
        ).alias("s"),
    ).select(
        id_col,
        F.col("s.seg_no").alias("seg_no"),
        F.col("s.seg").alias("seg"),
        portable_hash64(F.lower(F.col("s.seg"))).alias("fp"),
    )
    hot = (
        segs.groupBy("fp")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") > max_docs)
        .select("fp")
    )
    if broadcast_hot:
        hot = F.broadcast(hot)
    kept = segs.join(hot, "fp", "left_anti")
    totals = segs.groupBy(id_col).agg(F.count("*").alias("n_spans"))
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("seg_no", "seg"))
                ),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("text_clean"),
        F.count("*").alias("n_kept"),
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
            "n_spans",
            (
                F.col("n_spans") - F.coalesce(F.col("n_kept"), F.lit(0))
            ).alias("n_dropped"),
        )
    )


def build_gram_table(
    documents: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable: bool = True,
    parallelism_guard: bool = True,
) -> DataFrame:
    """``(id_col, gram_h, n, portable)`` — each document's DISTINCT
    word-n-gram 8-byte fingerprints, the gram stream
    ``containment_pairs`` joins on and the STORED state the incremental
    containment path joins a new crawl against
    (``curate_incremental``'s stored-signature shape applied to grams:
    persist this once, then a daily crawl never re-tokenizes the
    historical corpus). Bucket by ``gram_h`` at scale so the delta
    join is bucket-local.

    ``portable=True`` (default) hashes with the md5-based
    ``portable_hash64`` so results replay in DuckDB (the oracle
    contract); pass ``portable=False`` in production for ``xxhash64``
    — the decontaminate family's measured ~1.1-1.7× cheaper hash with
    identical pair semantics (any 60-bit fingerprint space works; the
    choice rides the state as a geometry column so a delta built with
    the other hash raises in-plan instead of silently matching
    nothing)."""
    from inbev_data_engineering_case_spark.functions import (
        portable_hash64,
        word_ngrams,
    )

    gram = F.col("gram")
    # the gram pass is compute-bound per row (tokenize → windows → md5
    # per gram) — inherit the signature stages' parallelism guard so a
    # 1-2-split input file doesn't pin it to 1-2 cores (no-op at
    # cluster scan sizes).
    # ``parallelism_guard=False`` is for DELTA callers
    # (incremental_containment_pairs): a daily-crawl fragment filtered
    # out of a big table looks like the full scan to the file-metadata
    # estimator, and force-spreading a tiny delta across every core
    # pins all downstream stages at full task count — measured 1.1s →
    # 2.6s on the incremental containment line before the opt-out.
    if parallelism_guard:
        documents = _ensure_parallelism(documents)
    return documents.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_ngrams(F.lower(F.col(text_col)), n))
        ).alias("gram"),
    ).select(
        id_col,
        (portable_hash64(gram) if portable else F.xxhash64(gram)).alias(
            "gram_h"
        ),
        # build geometry rides the state (the CMS wrong-geometry
        # discipline): the incremental path raises in-plan on a
        # mismatched n (mixed gram spaces) or a mismatched hash kind
        # (a delta hashed differently would match NOTHING, silently)
        F.lit(n).alias("n"),
        F.lit(int(portable)).alias("portable"),
    )


def incremental_containment_pairs(
    stored_grams: DataFrame,
    new_documents: DataFrame,
    n: int = 5,
    threshold_ppm: int = 800_000,
    max_gram_df: int | None = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_hot: bool = True,
    portable: bool = True,
) -> DataFrame:
    """Daily-crawl containment — the delta form of
    ``containment_pairs`` a pipeline actually runs each ingest: only
    the NEW documents tokenize; the historical corpus participates
    through its stored gram table (``build_gram_table`` output), and
    the candidate join is (new-side grams) × (all informative grams)
    on the 8-byte gram key — the stored×stored quadratic never forms.

    Returns exactly the ``containment_pairs(stored ∪ new)`` rows in
    which at least one side is a new document (full-batch parity,
    identity-tested): the hot-gram cap is evaluated over the COMBINED
    document frequency (stored df + delta df), so a gram that crosses
    ``max_gram_df`` only once the crawl lands is excluded — from
    numerator AND denominator of every pair, stored-side denominators
    included — precisely as the full recompute would.

    Ids must be disjoint between stored and new (a re-crawled doc is
    delete + insert, ``curate_incremental``'s contract). A stored
    table built with a different ``n`` raises IN-PLAN (the geometry
    column rides the state): mixing n-gram spaces would produce wrong
    containment values, not just missed pairs.

    Scale shape: one linear aggregation over the stored gram table for
    the combined df and denominators (table scans, no re-tokenization),
    then gram-keyed joins whose per-gram fan-out is capped at the
    combined df bound. ``broadcast_hot`` as in ``containment_pairs``.
    """
    if n < 1:
        raise ValueError("incremental_containment_pairs: n must be >= 1")
    if not 0 < threshold_ppm <= 1_000_000:
        raise ValueError(
            "incremental_containment_pairs: threshold_ppm must be in "
            "(0, 1e6]"
        )
    # parallelism_guard=False: the delta is small BY CONTRACT relative
    # to the stored state (and often a filter over a big table, which
    # the file-metadata estimator cannot distinguish from the full
    # scan) — force-spreading it across every core pins the whole
    # incremental join chain at full task count for no compute win
    new_grams = materialize(
        build_gram_table(
            new_documents, n, id_col, text_col, portable,
            parallelism_guard=False,
        ).select(id_col, "gram_h"),
        eager=False,
    )
    stored_guarded = stored_grams.select(
        id_col,
        _geometry_guarded(
            stored_grams, {"n": n, "portable": int(portable)}, "gram_h",
            "incremental_containment_pairs",
        ),
    )
    all_grams = stored_guarded.unionByName(new_grams)
    if max_gram_df is not None:
        all_grams = _informative_grams(
            all_grams, max_gram_df, broadcast_hot
        )
    # three consumers (sizes, both join sides) — share one evaluation
    informative = materialize(all_grams, eager=False)
    new_ids = new_documents.select(F.col(id_col))
    new_inf = informative.join(new_ids, id_col, "left_semi")
    sizes = informative.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    # direction 1: a NEW doc as the contained side, vs everything
    p1 = new_inf.select(
        F.col(id_col).alias("contained_id"), "gram_h"
    ).join(
        informative.select(F.col(id_col).alias("container_id"), "gram_h"),
        "gram_h",
    )
    # direction 2: a STORED doc contained in a new one (stored-only on
    # the contained side so new-new pairs aren't double-counted — p1
    # already emits both directions among new docs)
    p2 = informative.join(new_ids, id_col, "left_anti").select(
        F.col(id_col).alias("contained_id"), "gram_h"
    ).join(
        new_inf.select(F.col(id_col).alias("container_id"), "gram_h"),
        "gram_h",
    )
    shared = (
        p1.unionByName(p2)
        .filter(F.col("contained_id") != F.col("container_id"))
        .groupBy("contained_id", "container_id")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        shared.join(
            sizes.withColumnRenamed(id_col, "contained_id"),
            "contained_id",
        )
        .select(
            "contained_id",
            "container_id",
            "n_shared",
            "n_grams",
            F.expr("(n_shared * 1000000) div n_grams").alias(
                "containment_ppm"
            ),
        )
        .filter(F.col("containment_ppm") >= threshold_ppm)
    )


def _informative_grams(
    grams: DataFrame, max_gram_df: int, broadcast_hot: bool
) -> DataFrame:
    """The hot-gram removal stage of the containment family: drop every
    gram whose document frequency exceeds ``max_gram_df`` via a
    gram-keyed LEFT ANTI join (broadcast under ``broadcast_hot``,
    shuffle on the same 8-byte key otherwise — never a cartesian).
    Factored out so the plan-lock tests can assert the join shape on
    the frame ``containment_pairs`` materializes."""
    hot = (
        grams.groupBy("gram_h")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > max_gram_df)
        .select("gram_h")
    )
    if broadcast_hot:
        hot = F.broadcast(hot)
    return grams.join(hot, "gram_h", "left_anti")


def containment_pairs(
    documents: DataFrame,
    n: int = 5,
    threshold_ppm: int = 800_000,
    max_gram_df: int | None = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_hot: bool = True,
    portable: bool = True,
) -> DataFrame:
    """ASYMMETRIC near-dup detection — directed n-gram containment
    ``|grams(A) ∩ grams(B)| / |grams(A)|``: the quote-inclusion case
    symmetric Jaccard (minhash/simhash) structurally misses. A short
    document wholly quoted inside a long one has Jaccard ≈ |A|/|B| (tiny)
    but containment ≈ 1 — exactly the "this page is just a excerpt of
    that page" signal corpus curation drops or down-weights
    (the Lee et al. 2021 deduplication taxonomy's substring case, done
    at gram granularity).

    Returns one DIRECTED row per qualifying ordered pair:
    ``(contained_id, container_id, n_shared, n_grams,
    containment_ppm)`` with ``containment_ppm = n_shared · 1e6 div
    n_grams(contained)`` exact int64; mutual (near-identical) pairs
    appear in both directions. Documents with < n words have no grams
    and never pair.

    Scale shape: distinct grams per doc hash to 8-byte keys BEFORE the
    exchange (the boilerplate/decontaminate discipline); the candidate
    join is gram-keyed, and ``max_gram_df`` caps each gram's pair
    fan-out at df² by EXCLUDING corpus-hot grams (df > cap) from both
    the numerator and the denominator — consistently, so the measure
    stays well-defined as "containment over informative grams"
    (boilerplate grams are profiled by ``boilerplate_report`` and
    removed by ``dedup_spans``; carrying them here would both blow up
    the join and inflate containment between unrelated templated
    pages). ``max_gram_df=None`` is the exact-all-grams form for small
    corpora. The gram stream has three consumers (hot counts, sizes,
    the join), so it materializes once.
    ``portable=False`` swaps the oracle-replayable md5 gram hash for
    xxhash64 (identical pairs, ~1.1-1.7× cheaper hashing — the
    decontaminate family's production setting).

    ``broadcast_hot`` picks the PHYSICAL strategy of the hot-gram
    removal only (the anti-join is gram-keyed either way): True for
    the common case where df > ``max_gram_df`` grams are
    boilerplate-sized; False at 100 TB, where the hot-gram set scales
    with corpus vocabulary (plausibly 1e9+ rows) past any broadcast
    limit — the anti-join then shuffles on the same 8-byte key and
    degrades gracefully instead of failing the job
    (``boilerplate_report``'s toggle, applied here).
    """
    if n < 1:
        raise ValueError("containment_pairs: n must be >= 1")
    if not 0 < threshold_ppm <= 1_000_000:
        raise ValueError(
            "containment_pairs: threshold_ppm must be in (0, 1e6]"
        )
    grams = materialize(
        build_gram_table(documents, n, id_col, text_col, portable).select(
            id_col, "gram_h"
        ),
        eager=False,
    )
    if max_gram_df is not None:
        # the FILTERED gram table has three consumers (sizes, both join
        # sides) — materialize it once so the hot-gram aggregation and
        # the anti-join run a single time instead of once per consumer
        # (measured 3 duplicate hot-count+anti subtrees in the executed
        # plan without the cut). The anti-join
        # shape itself lives in _informative_grams so the plan locks
        # can still assert it (materialization replaces the subtree
        # with an RDD scan in the final plan).
        grams = materialize(
            _informative_grams(grams, max_gram_df, broadcast_hot),
            eager=False,
        )
    sizes = grams.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    a = grams.select(
        F.col(id_col).alias("contained_id"), "gram_h"
    )
    b = grams.select(
        F.col(id_col).alias("container_id"), "gram_h"
    )
    shared = (
        a.join(b, "gram_h")
        .filter(F.col("contained_id") != F.col("container_id"))
        .groupBy("contained_id", "container_id")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        shared.join(
            sizes.withColumnRenamed(id_col, "contained_id"),
            "contained_id",
        )
        .select(
            "contained_id",
            "container_id",
            "n_shared",
            "n_grams",
            F.expr("(n_shared * 1000000) div n_grams").alias(
                "containment_ppm"
            ),
        )
        .filter(F.col("containment_ppm") >= threshold_ppm)
    )

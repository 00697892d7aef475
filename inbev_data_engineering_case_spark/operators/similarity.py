"""Similarity search over embedding columns (``array<float>``): brute-force
cosine top-k as the exact baseline, and a sign-LSH bucketed variant as the
scale path (north-star ops, SURVEY.md §7.2-7).

Scale design:
- **Brute force** is a broadcast nested-loop: queries (small) broadcast
  against the corpus (huge), cosine computed JVM-side via
  ``aggregate``/``zip_with`` (no UDF, no Python), then per-query top-k via a
  ranking window partitioned by query id. Cost is O(|Q|·|C|·d) but
  embarrassingly parallel and shuffle-free until the final (tiny) top-k
  exchange — the right baseline even at 100 TB when |Q| is modest.
- **Sign-LSH** (`signlsh_bucket`): h hyperplanes → h-bit bucket per vector;
  candidates = same-bucket rows, so the join is bucket-local. Hyperplane
  weights are *deterministic pseudo-randoms* derived from portable_hash64 of
  (plane, dimension) — reproducible across runs and engines, no RNG state.
  Recall is tunable via multiple probe tables at a constant factor.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from inbev_data_engineering_case_spark.functions import cosine
from inbev_data_engineering_case_spark.session import materialize
from inbev_data_engineering_case_spark.sources.readers import (
    _data_files,
    read_parquet,
    write_parquet,
)

# Upper bound on K*d for collect()-based Lloyd training: ~32 MB of doubles
# on the driver per iteration. Above this, the "model" stops being small.
MAX_CENTROID_CELLS = 4_000_000


def _cosine_scored_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    label_col: str | None = None,
) -> DataFrame:
    """Shared core of ``cosine_topk`` and ``hard_negatives``: broadcast
    the query batch against the corpus scan, score with the JVM-side
    cosine, rank per query with rounded-sim + neighbor_id tie-breaks.
    With ``label_col`` set, only CROSS-label pairs score (both sides
    NULL-label-filtered) and ``neighbor_label`` is carried through.

    The corpus side inherits the scan-parallelism guard (r15 wave 3):
    the |Q|·|C|·d cosine math runs in the corpus scan stage (the query
    batch broadcasts, so there is no exchange before the scoring), and a
    small corpus file that scans as 1-2 splits would pin the whole
    brute-force pass to as many cores — measured 2.6s → 1.1s on the
    sf0.1 exact baseline. At cluster scan sizes the guard is a
    metadata-only no-op (file count ≥ cores)."""
    from pyspark.sql import Window

    from inbev_data_engineering_case_spark.operators.dedup import (
        _ensure_parallelism,
    )

    corpus = _ensure_parallelism(corpus)
    q_cols = [F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")]
    c_cols = [
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
    ]
    cond = F.col("query_id") != F.col("neighbor_id")
    out_cols = ["query_id", "neighbor_id"]
    if label_col is not None:
        queries = queries.filter(F.col(label_col).isNotNull())
        corpus = corpus.filter(F.col(label_col).isNotNull())
        q_cols.append(F.col(label_col).alias("qlabel"))
        c_cols.append(F.col(label_col).alias("neighbor_label"))
        cond = cond & (F.col("neighbor_label") != F.col("qlabel"))
        out_cols.append("neighbor_label")
    scored = (
        corpus.select(*c_cols)
        .join(F.broadcast(queries.select(*q_cols)), cond)
        .select(
            *out_cols,
            F.round(cosine("qvec", "cvec"), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine similarity.

    Returns (query_id, neighbor_id, sim, rank), rank 1..k, self-matches
    excluded. Rank ties break on neighbor_id after rounding the similarity,
    so ordering is engine-stable."""
    return _cosine_scored_topk(corpus, queries, k, id_col, vec_col)


def _plane_weight(plane: int, dim: Column, seed: int = 0) -> Column:
    """Deterministic pseudo-random hyperplane weight in [-1, 1):
    portable_hash64 of 'p:d' (seed 0) / 's{seed}:p:d' scaled into the unit
    interval. Seed 0 keeps the original key format so existing oracles and
    bucket assignments are unchanged."""
    from inbev_data_engineering_case_spark.functions import portable_hash64

    prefix = f"{plane}:" if seed == 0 else f"s{seed}:{plane}:"
    key = F.concat(F.lit(prefix), dim.cast("string"))
    return (portable_hash64(key) % 2000001 - 1000000) / 1000000.0


def _plane_weight_value(plane: int, dim: int, seed: int = 0) -> float:
    """Driver-side twin of ``_plane_weight`` — bit-identical by
    construction (same md5-of-'p:d' 60-bit hash, same integer scaling,
    same IEEE division; parity-tested against the in-plan expression):
    the weight is a pure function of (plane, dim index, seed), so it
    can be computed ONCE at plan-build time instead of per element per
    row (r15 optimization round, guide §4 — hoist per-row work that
    doesn't depend on the row)."""
    import hashlib

    prefix = f"{plane}:" if seed == 0 else f"s{seed}:{plane}:"
    h = int(
        hashlib.md5(f"{prefix}{dim}".encode()).hexdigest()[:15], 16
    )
    return (h % 2000001 - 1000000) / 1000000.0


def _vec_dim(df: DataFrame, vec_col: str) -> int | None:
    """Vector dimensionality probed from ONE row (None on an empty
    input — callers then fall back to the runtime-hash bucket path).
    A 1-row, column-pruned read: the model-metadata-sized action that
    lets every sign-LSH site embed its plane-weight matrix as plan
    literals instead of md5-hashing (plane, dim) per element per row.

    Memoized per (session, canonical plan, input files, column): each
    sign-LSH call site would otherwise pay this driver-side action on
    EVERY run, several per query in the embedding family. The key is
    the analyzed plan's semantic hash (expression-id normalized) plus
    each input file's name with its ``(name, size, mtime_ns)`` from
    ``sources.readers._data_files`` (the ``read_parquet`` schema memo's
    key), so two builds of the same logical frame share one probe while
    any structurally different frame — or a rewrite of the same path,
    whose plan hashes equal, even one that keeps the file names — probes
    fresh; the cache lives on the session object (dies with it —
    nothing persists across bench invocations) and an empty-input None
    is never cached
    (a state table rebuilt under the same path may fill later).
    In production the dimensionality is pipeline config; this keeps
    its discovery at config cost instead of one job per operator call.
    """
    spark = df.sparkSession
    try:
        files = tuple((f, _data_files(f)) for f in sorted(df.inputFiles()))
        key = (df.semanticHash(), files, vec_col)
    except Exception:  # noqa: BLE001 — exotic plan: just probe
        key = None
    cache = getattr(spark, "_graft_vec_dim_cache", None)
    if cache is None:
        cache = spark._graft_vec_dim_cache = {}
    if key is not None and key in cache:
        return cache[key]
    row = df.select(F.size(F.col(vec_col)).alias("_d")).first()
    if row is None or row["_d"] is None or row["_d"] < 0:
        return None
    dim = int(row["_d"])
    if key is not None:
        cache[key] = dim
    return dim


def _signlsh_bucket_expr(
    vec_name: str, num_planes: int, seed: int, dim: int
) -> Column:
    """The literal-weight bucket built as ONE ``F.expr`` parse instead of
    a Column-API tree (r15 optimization round, wave 3): constructing the
    per-plane zip_with/aggregate tree through py4j costs one driver
    round-trip per node — ~1.9s per 3-seed bucketing at 8 planes × 64
    dims, measured — while building the same expression as a SQL string
    and parsing it once is ~0.1s. Semantics are bit-identical to the
    Column form (same weights via ``repr`` round-trip, same ascending-i
    float-add order, same in-plan dim guard and message, NULL vectors
    still bucket 0); the parity test drives both forms."""
    v = "`" + vec_name.replace("`", "``") + "`"
    parts = []
    for p in range(num_planes):
        w = ",".join(
            repr(_plane_weight_value(p, i, seed)) + "D" for i in range(dim)
        )
        dot = (
            f"aggregate(zip_with({v}, array({w}),"
            " (x, wt) -> CAST(x AS DOUBLE) * wt),"
            " 0.0D, (acc, vv) -> acc + vv)"
        )
        guarded = (
            f"CASE WHEN size({v}) != {dim} THEN CAST(raise_error(concat("
            f"'signlsh_bucket: vector length ', CAST(size({v}) AS STRING),"
            f" ' != probed dim {dim} — mixed-dimension embeddings cannot"
            f" share one bucket geometry')) AS DOUBLE) ELSE {dot} END"
        )
        parts.append(
            f"(CASE WHEN ({guarded}) > 0D THEN CAST({1 << p} AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END)"
        )
    return F.expr(" + ".join(parts))


def signlsh_bucket(
    vec: Column | str, num_planes: int = 8, seed: int = 0,
    dim: int | None = None,
) -> Column:
    """h-bit sign-LSH bucket id: bit p = sign(dot(vec, plane_p)) with
    deterministic hyperplanes (see module docstring). Different ``seed``
    values give independent bucketings — the multi-probe recall lever.

    ``dim`` (default None) selects how the plane weights reach the dot
    product (r15 optimization round; bucket VALUES are identical either
    way, so stored bucket tables stay compatible):

    - ``None`` — the original runtime form: weight p,i is re-derived
      in-plan via portable_hash64('p:i') per element per row. Works
      for any (even mixed) vector length.
    - an int — the weights are computed ONCE driver-side
      (``_plane_weight_value``, bit-identical) and embedded as literal
      arrays; the per-row work drops from num_planes·d md5 hashes to
      num_planes·d multiplications. A row whose vector length differs
      from ``dim`` raises in-plan (the guard-family discipline: under
      the runtime form it would silently bucket in a different
      geometry); NULL vectors take bucket 0 exactly as before. With a
      string column name the whole expression is built by ONE
      ``F.expr`` parse (``_signlsh_bucket_expr``) — the py4j-per-node
      Column construction was the dominant cost of every bucketing
      plan build (wave 3). The string form treats the name as one
      UNQUALIFIED top-level column (a dotted name is backtick-quoted
      as a single identifier, not resolved as a struct path — pass a
      Column for nested references).

    ``num_planes`` is capped at 63 so the bucket id stays a valid
    signed BIGINT on both build paths (r15 ADVICE: past 63 the expr
    form's ``1 << p`` literal overflows at parse/ANSI-cast while the
    Column form's ``F.shiftleft`` silently wraps — failing loudly and
    identically here beats that divergence).
    """
    if not 1 <= num_planes <= 63:
        raise ValueError(
            "signlsh_bucket: num_planes must be in [1, 63] — the bucket"
            f" id is a signed 64-bit integer (got {num_planes})"
        )
    if dim is not None and isinstance(vec, str):
        return _signlsh_bucket_expr(vec, num_planes, seed, dim)
    vec = F.col(vec) if isinstance(vec, str) else vec

    def weighted(plane: int):
        # closure factory (a default-arg lambda would change the arity
        # PySpark infers for zip_with and break the call)
        return lambda x, i: x.cast("double") * _plane_weight(plane, i, seed)

    bits = []
    for p in range(num_planes):
        if dim is None:
            dot_p = F.aggregate(
                F.zip_with(
                    vec,
                    F.sequence(F.lit(0), F.size(vec) - 1),
                    weighted(p),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        else:
            weights = F.array(
                *[
                    F.lit(_plane_weight_value(p, i, seed))
                    for i in range(dim)
                ]
            )
            dot_p = F.when(
                F.size(vec) != dim,
                F.raise_error(
                    F.concat(
                        F.lit(
                            "signlsh_bucket: vector length "
                        ),
                        F.size(vec).cast("string"),
                        F.lit(
                            f" != probed dim {dim} — mixed-dimension"
                            " embeddings cannot share one bucket"
                            " geometry"
                        ),
                    )
                ).cast("double"),
            ).otherwise(
                F.aggregate(
                    F.zip_with(
                        vec,
                        weights,
                        lambda x, w: x.cast("double") * w,
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            )
        bits.append(
            F.when(dot_p > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(
                F.lit(0).cast("long")
            )
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    n_probe: int = 1,
    id_col: str = "id",
    vec_col: str = "v",
    hint_broadcast: bool = True,
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroids by cosine:
    (id, v, cent_id, probe_rank). The centroid table broadcasts (it is tiny
    by construction); cost is |vectors| × K similarity evaluations, all
    JVM-side. Ties break on cent_id so assignment is deterministic.

    ``hint_broadcast=False`` drops the explicit broadcast hint and lets
    the planner pick from the centroid table's size stats — the right
    call when the centroids come from a materialized table whose size the
    caller doesn't know a priori (the DataFrame training path)."""
    from pyspark.sql import Window

    cents = F.broadcast(centroids) if hint_broadcast else centroids
    scored = vectors.join(cents).select(
        id_col,
        vec_col,
        "cent_id",
        F.round(cosine(vec_col, "cv"), 6).alias("cent_sim"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("cent_sim").desc(), "cent_id"
    )
    return (
        scored.withColumn("probe_rank", F.row_number().over(w))
        .filter(F.col("probe_rank") <= n_probe)
        .select(id_col, vec_col, "cent_id")
    )


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
    max_centroid_cells: int = MAX_CENTROID_CELLS,
) -> DataFrame:
    """Train IVF centroids with Lloyd iterations expressed as DataFrame ops:
    assign every vector to its nearest centroid (cosine), then recenter
    each cell as the element-wise mean.

    Scale shape: the assign step is the same join ``ivf_assign`` uses
    (|corpus| × K similarity evaluations, JVM-side); the recenter step
    posexplodes to (cent_id, pos, val) rows — n·d rows with map-side
    partial aggregation down to K·d means, so the shuffle carries only
    the model.

    ``method`` picks how the K×d model crosses iterations:

    - ``"collect"``: collect + re-create the centroid table on the driver
      (the move MLlib's k-means makes). Fastest for small K; guarded by
      ``max_centroid_cells`` (~32 MB of doubles at the default) so the
      "model" stays driver-sized.
    - ``"dataframe"``: no driver round-trip — the means stay a DataFrame,
      lineage truncated per iteration by ``session.materialize``, and the
      assignment join is left to the planner (the materialized table has
      size stats, so small models still broadcast; a giant one falls back
      to a shuffle join instead of OOMing the driver). The path for K
      beyond the guard.
    - ``"auto"`` (default): ``dataframe`` when K·d exceeds
      ``max_centroid_cells``, else ``collect`` — large K trains instead
      of refusing.

    Determinism: init is the first-N corpus vectors by id (the production
    swap is k-means|| sampling), and means are rounded to 6 decimals so
    float partial-sum ordering across partitions can't leak into the
    result — both methods produce bit-identical centroids. Cells that
    lose all members drop out (K may shrink)."""
    spark = corpus.sparkSession
    # routed through the memoized probe (r16): the double-trained
    # determinism entries and every Lloyd re-train on the same corpus
    # share one 1-row action per session instead of one per call
    dim = _vec_dim(corpus, vec_col) or 0
    if method == "auto":
        method = (
            "dataframe" if n_centroids * dim > max_centroid_cells else "collect"
        )
    if method not in ("collect", "dataframe"):
        raise ValueError(
            f"method must be 'auto', 'collect', or 'dataframe'; got {method!r}"
        )
    if method == "collect" and n_centroids * dim > max_centroid_cells:
        raise ValueError(
            f"IVF model too large to collect per Lloyd iteration: "
            f"K*d = {n_centroids}*{dim} = {n_centroids * dim:,} cells "
            f"> max_centroid_cells ({max_centroid_cells:,}, ~"
            f"{max_centroid_cells * 8 // 2**20} MB of doubles on the "
            f"driver). Use method='dataframe' (or 'auto')."
        )
    cents = corpus.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cent_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("cv"),
    )
    # the per-iteration |corpus|·K assignment math runs in the corpus
    # scan stage (broadcast centroids): inherit the scan-parallelism
    # guard (r15 wave 3; no-op at cluster scan sizes). The init slice
    # above stays on the raw corpus — it is K rows headed driver-side.
    #
    # r16 (VERDICT item 4): the (id, v) assignment input is materialized
    # ONCE and shared across Lloyd iterations — every iteration after
    # the first reads the projected blocks instead of re-running the
    # corpus scan + guard repartition (and the double-trained
    # determinism entries re-train on the identical frame). Lazy cut:
    # each iteration's terminal action (collect / the dataframe-mode
    # materialization) references it once.
    from inbev_data_engineering_case_spark.operators.dedup import (
        _ensure_parallelism,
    )

    corpus_proj = materialize(
        _ensure_parallelism(corpus).select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v")
        ),
        eager=False,
    )
    for _ in range(n_iter):
        assigned = ivf_assign(
            corpus_proj,
            cents,
            n_probe=1,
            id_col="id",
            vec_col="v",
            hint_broadcast=(method == "collect"),
        )
        means = (
            assigned.select(
                "cent_id", F.posexplode("v").alias("pos", "val")
            )
            .groupBy("cent_id", "pos")
            .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("m"))
            .groupBy("cent_id")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
            )
            .select("cent_id", F.col("pm.m").alias("cv"))
        )
        if method == "collect":
            rows = means.collect()
            cents = spark.createDataFrame(
                [(int(r["cent_id"]), [float(x) for x in r["cv"]]) for r in rows],
                "cent_id long, cv array<double>",
            )
        else:
            cents = materialize(means, eager=False)
    return cents


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: corpus vectors partitioned into inverted lists by
    nearest centroid; each query probes its ``n_probe`` closest cells and
    scores only those lists. The classic FAISS-IVF scale path expressed as
    two broadcast assignments plus one cell-local equi-join — candidate
    count drops by ~n_probe/n_centroids vs brute force.

    ``centroids`` (cent_id, cv) selects the cell layout: pass
    ``train_ivf_centroids(...)`` output for Lloyd-trained cells, or leave
    None for the first ``n_centroids`` corpus vectors — deterministic and
    exactly replicable in the SQL oracle, which trained (iterative) cells
    are not. Every corpus vector lives in exactly one cell, so probing
    distinct cells can't produce duplicate candidate pairs.

    The corpus assignment inherits the scan-parallelism guard (r15
    wave 3): the |C|·K cosine math runs in the corpus scan stage (the
    centroid table broadcasts), so a 1-2-split corpus file would pin it
    to as many cores; metadata-only no-op at cluster scan sizes. The
    query side stays unguarded — a query batch is small by contract."""
    from pyspark.sql import Window

    from inbev_data_engineering_case_spark.operators.dedup import (
        _ensure_parallelism,
    )

    cents = (
        centroids
        if centroids is not None
        else corpus.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cv")
        )
    )
    # guard only the ASSIGNMENT side — the default centroid table is a
    # K-row slice headed for a broadcast and must not drag a repartition
    c = ivf_assign(
        _ensure_parallelism(corpus).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
        ),
        cents,
        n_probe=1,
        id_col="neighbor_id",
        vec_col="cvec",
    )
    q = ivf_assign(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        ),
        cents,
        n_probe=n_probe,
        id_col="query_id",
        vec_col="qvec",
    )
    scored = (
        c.join(F.broadcast(q), on="cent_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine("qvec", "cvec"), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ann_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probes: int = 1,
) -> DataFrame:
    """Approximate top-k: score only same-bucket candidates. Same output
    shape as ``cosine_topk`` (minus sim recall for cross-bucket neighbors).
    The candidate join shuffles on the bucket id; buckets are balanced in
    expectation (hash-sign bits are unbiased).

    ``n_probes > 1`` re-buckets corpus and queries under additional
    independent hyperplane seeds and unions the candidate pairs before the
    ranking window — the recall lever at linear cost. Because seed 0's
    candidates are a subset of every multi-probe run and ranking is by the
    TRUE cosine, recall@k is monotonically non-decreasing in ``n_probes``
    (a candidate can only displace a lower-similarity one).

    All probe seeds bucket in ONE corpus scan (r15 optimization round):
    each side computes its per-seed buckets as an exploded
    (probe, bucket) array, and the candidate join keys on
    (probe, bucket) — the identical candidate pairs the per-seed
    join-per-probe union produced, from one scan instead of
    ``n_probes`` (the exchange volume is unchanged: the union carried
    n_probes× rows anyway)."""
    from pyspark.sql import Window

    # literal plane weights (one 1-row dim probe; bit-identical
    # buckets) — per-row cost drops from planes·d md5 hashes to
    # multiplications across every probe seed
    dim = _vec_dim(corpus, vec_col)

    def _probed(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).alias(out_vec),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(seed).alias("probe"),
                            signlsh_bucket(
                                vec_col, num_planes, seed=seed, dim=dim
                            ).alias("bucket"),
                        )
                        for seed in range(n_probes)
                    ]
                )
            ).alias("_p"),
        ).select(out_id, out_vec, "_p.probe", "_p.bucket")

    scored = (
        _probed(corpus, "neighbor_id", "cvec")
        .join(
            F.broadcast(_probed(queries, "query_id", "qvec")),
            on=["probe", "bucket"],
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine("qvec", "cvec"), 6).alias("sim"),
        )
    )
    if n_probes > 1:
        scored = scored.distinct()  # same pair from several probes: sim identical
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def rademacher_matrix(
    d_in: int, d_out: int, seed: int = 0
) -> list[list[float]]:
    """Deterministic ±1 projection matrix: entry sign from an md5 of
    (seed, i, j). A Rademacher matrix satisfies the Johnson-Lindenstrauss
    guarantee like a Gaussian one (Achlioptas 2003) but needs no RNG state
    — the matrix is a pure function of (d_in, d_out, seed), so every
    executor, every retry, and the SQL oracle all use identical weights."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"{seed}:{i}:{j}".encode()).digest()[0] % 2 == 0
            else -1.0
            for j in range(d_out)
        ]
        for i in range(d_in)
    ]


def random_projection(
    df: DataFrame,
    d_in: int,
    d_out: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 0,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project each
    embedding to ``d_out`` dims through the deterministic Rademacher
    matrix, scaled by 1/sqrt(d_out) so pairwise distances are preserved in
    expectation. Returns (id_col, proj).

    Scale shape: a pure per-row expression — d_out zip_with dot products
    inside codegen, zero shuffle, the matrix lives in the plan as
    literals (d_in × d_out ≤ a few thousand doubles). The standard
    pre-step before ANN indexing when 1000+-dim embeddings make bucket
    hashing and distance math needlessly wide. Components are rounded to
    6 decimals so both engines agree bit-for-bit regardless of their
    float-summation association order (same dodge as ``cosine_topk``)."""
    import math

    matrix = rademacher_matrix(d_in, d_out, seed)
    scale = 1.0 / math.sqrt(d_out)
    vec = F.col(vec_col).cast("array<double>")
    # one array literal per output dim (r15 wave 3): F.lit(list) is a
    # single py4j call where F.array(*[F.lit(x) ...]) paid one per cell
    # (d_in × d_out driver round-trips); values and the ascending-i
    # float-add order are unchanged
    comps = [
        F.round(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.lit([matrix[i][j] for i in range(d_in)]),
                    lambda x, w: x * w,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            * F.lit(scale),
            6,
        )
        for j in range(d_out)
    ]
    return df.select(F.col(id_col), F.array(*comps).alias("proj"))


def random_projection_rows(
    df: DataFrame,
    d_in: int,
    d_out: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 0,
) -> DataFrame:
    """``random_projection`` with a scalar-only output shape: one row per
    (vector, output dimension) — columns ``(id_col, dim, component)``.

    Exists because external result harnesses (and most sinks) canonicalize
    by sorting cell values, which breaks on array-typed cells; any
    driver/oracle-facing query must emit scalar columns only. The
    array-returning ``random_projection`` remains the composition-friendly
    form for internal pipelines (ANN indexing takes the array). posexplode
    is a narrow per-row expansion — still zero shuffle."""
    proj = random_projection(df, d_in, d_out, id_col, vec_col, seed)
    return proj.select(
        F.col(id_col),
        F.posexplode("proj").alias("dim", "component"),
    ).select(
        F.col(id_col),
        F.col("dim").cast("bigint").alias("dim"),
        F.col("component"),
    )


def random_projection_rows_oracle_sql(
    d_in: int,
    d_out: int,
    seed: int = 0,
    vec_expr: str = "embedding",
    id_expr: str = "vec_id",
    table: str = "embeddings",
) -> str:
    """DuckDB twin of ``random_projection_rows``: unnest the projection
    list zipped with an ordinality list (DuckDB zips same-length unnests
    in one SELECT), yielding scalar (id, dim, component) rows."""
    proj = random_projection_oracle_sql(d_in, d_out, seed, vec_expr)
    dims = ", ".join(str(j) for j in range(d_out))
    return (
        f"SELECT {id_expr}, CAST(unnest([{dims}]) AS BIGINT) AS dim, "
        f"unnest({proj}) AS component FROM {table}"
    )


def random_projection_oracle_sql(
    d_in: int, d_out: int, seed: int = 0, vec_expr: str = "embedding"
) -> str:
    """DuckDB twin of ``random_projection``'s projection expression — the
    SAME Python-generated matrix embedded as SQL literals."""
    import math

    matrix = rademacher_matrix(d_in, d_out, seed)
    scale = repr(1.0 / math.sqrt(d_out))
    comps = []
    for j in range(d_out):
        weights = ", ".join(repr(matrix[i][j]) for i in range(d_in))
        comps.append(
            f"round(list_sum(list_transform(range(1, {d_in + 1}), i -> "
            f"{vec_expr}[i]::DOUBLE * ([{weights}])[i])) * {scale}, 6)"
        )
    return "[" + ", ".join(comps) + "]"


# ---------------------------------------------------------------------------
# Product quantization (PQ): compress vectors to m small codes, search with
# asymmetric-distance (ADC) lookup tables — the memory-scale ANN path
# (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
# Search", TPAMI 2011). A 64-dim float32 embedding (256 B) becomes m=4
# one-byte codes: 64× smaller, so a 100 TB embedding corpus's quantized
# form fits a cluster's memory and candidate scoring never touches the
# raw vectors.
# ---------------------------------------------------------------------------

# Distances are carried as MICRO-UNIT int64 (round(d² * 1e6)): integer
# argmin and integer ADC sums are order-independent, so results are
# bit-identical across partial-aggregation trees and engines.
PQ_DIST_SCALE = 1_000_000


def _pq_subvec(vec: Column, s: int, m: int) -> Column:
    """Subspace s of m: a contiguous ``size(vec) div m`` slice (trailing
    dims beyond m * (size div m) are ignored; pick m | d in practice)."""
    width = F.floor(F.size(vec) / m).cast("int")
    return F.slice(vec, (width * s + 1).cast("int"), width)


def _pq_micro_dist(a: Column, b: Column) -> Column:
    from inbev_data_engineering_case_spark.functions import sqdist

    return F.round(sqdist(a, b) * PQ_DIST_SCALE).cast("bigint")


def pq_sampled_codebook(
    corpus: DataFrame,
    m: int = 4,
    k: int = 16,
    seed: int = 0xC0DE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(subspace, code, cv)`` — k codewords per subspace, sliced from k
    hash-sampled corpus rows (the k smallest ``portable_hash64(id, seed)``;
    codes 0..k-1 in hash order). A deterministic, engine-replayable
    codebook. The k-row seed pick is a TakeOrdered (no global sort); the
    codebook is model-sized (m·k rows) and broadcasts everywhere it is
    consumed."""
    from pyspark.sql import Window

    from inbev_data_engineering_case_spark.functions import portable_hash64

    seeds = (
        corpus.select(id_col, vec_col)
        .withColumn("_h", portable_hash64(F.col(id_col), seed=seed))
        .orderBy("_h", id_col)
        .limit(k)
    )
    w = Window.orderBy("_h", id_col)  # k rows — single-partition window is fine
    coded = seeds.withColumn("code", F.row_number().over(w) - 1)
    return coded.select(
        "code",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("subspace"),
                        F.transform(
                            _pq_subvec(F.col(vec_col), s, m),
                            lambda x: x.cast("double"),
                        ).alias("cv"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("sc"),
    ).select("sc.subspace", "code", "sc.cv")


def pq_encode(
    vectors: DataFrame,
    codebook: DataFrame,
    m: int = 4,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantize every vector: ``(id_col, subspace, code)`` — the nearest
    codeword per subspace by squared L2 (micro-int; ties → smaller code).

    Scale shape: vectors explode to m sub-vector rows, join the BROADCAST
    codebook (model-sized by construction), and the argmin is a plain
    ``min`` over the packed key ``d2_micro * k + code`` — map-side
    combinable, so the only exchange carries one row per (vector,
    subspace) and no window/sort ever sees the k-way candidate fanout.

    The vectors side inherits the scan-parallelism guard (r15 wave 3):
    the |V|·m·k distance math runs in the vectors scan stage (the
    codebook broadcasts); no-op at cluster scan sizes."""
    from inbev_data_engineering_case_spark.operators.dedup import (
        _ensure_parallelism,
    )

    vectors = _ensure_parallelism(vectors)
    subs = vectors.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("subspace"),
                        _pq_subvec(F.col(vec_col), s, m).alias("sv"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("sc"),
    ).select(id_col, "sc.subspace", "sc.sv")
    packed = (
        subs.join(F.broadcast(codebook), "subspace")
        .select(
            id_col,
            "subspace",
            (_pq_micro_dist(F.col("sv"), F.col("cv")) * k + F.col("code"))
            .alias("_key"),
        )
        .groupBy(id_col, "subspace")
        .agg(F.min("_key").alias("_mk"))
    )
    return packed.select(
        id_col, "subspace", (F.col("_mk") % k).cast("int").alias("code")
    )


def pq_adc_topk(
    codes: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    k_neighbors: int = 10,
    m: int = 4,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k: exact query sub-vectors against the
    corpus's quantized codes. Returns ``(query_id, neighbor_id,
    adc_micro, rnk)`` — ``adc_micro`` the int64 sum of per-subspace
    micro-distances (order-independent), self-matches excluded.

    Scale shape: the lookup table (|Q|·m·k rows — model-sized) is built
    once from the broadcast codebook and itself broadcasts onto the code
    stream; candidates aggregate by (query, vector) with map-side
    combine; only the per-query ranking window shuffles, keyed on
    query_id."""
    from pyspark.sql import Window

    qsubs = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("subspace"),
                        _pq_subvec(F.col(vec_col), s, m).alias("qv"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("sc"),
    ).select("query_id", "sc.subspace", "sc.qv")
    lut = qsubs.join(F.broadcast(codebook), "subspace").select(
        "query_id",
        "subspace",
        "code",
        _pq_micro_dist(F.col("qv"), F.col("cv")).alias("lut_d"),
    )
    cand = (
        codes.withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(lut), ["subspace", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("lut_d").alias("adc_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_micro").asc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k_neighbors)
    )


def ann_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k_neighbors: int = 10,
    m: int = 4,
    k: int = 16,
    seed: int = 0xC0DE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """End-to-end PQ search with the sampled codebook: build codebook →
    encode corpus → ADC top-k. One corpus pass for encoding, one for
    scoring; the raw vectors are never joined against the queries."""
    book = pq_sampled_codebook(corpus, m, k, seed, id_col, vec_col)
    codes = pq_encode(corpus, book, m, k, id_col, vec_col)
    return pq_adc_topk(
        codes, book, queries, k_neighbors, m, k, id_col, vec_col
    )


def ann_ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k_neighbors: int = 10,
    n_centroids: int = 16,
    n_probe: int = 2,
    m: int = 4,
    k: int = 16,
    seed: int = 0xC0DE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the standard billion-scale ANN configuration (FAISS
    ``IVFx,PQy``) — coarse inverted lists bound the candidate set
    (~n_probe/n_centroids of the corpus), product-quantized codes make
    scoring those candidates a memory-resident integer LUT sum that
    never touches the raw vectors. Returns ``(query_id, neighbor_id,
    adc_micro, rnk)``.

    Composition of the two proven paths: cell assignment is
    ``ivf_assign`` (broadcast centroids, rounded-cosine argmax), codes
    and LUTs are the PQ machinery (micro-int distances). The candidate
    join is cell-local (query cells broadcast); codes join candidates by
    neighbor id; the LUT joins by (query, subspace, code) — every model-
    sized side broadcasts, and the only data-sized exchanges are the
    candidate aggregation and the final per-query top-k.

    ``centroids``/``codebook`` default to the deterministic layouts
    (first-N cells, hash-sampled codewords) that the SQL oracle replays
    exactly; pass ``train_ivf_centroids`` output for the Lloyd-refined
    cells."""
    cents = (
        centroids
        if centroids is not None
        else corpus.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cv")
        )
    )
    book = (
        codebook
        if codebook is not None
        else pq_sampled_codebook(corpus, m, k, seed, id_col, vec_col)
    )
    from inbev_data_engineering_case_spark.operators.dedup import (
        _ensure_parallelism,
    )

    # assignment side only (r15 wave 3): the cells/codes math runs in
    # the corpus scan stage; centroid/codebook slices stay unguarded
    c_cells = ivf_assign(
        _ensure_parallelism(corpus).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
        ),
        cents,
        n_probe=1,
        id_col="neighbor_id",
        vec_col="cvec",
    ).select("neighbor_id", "cent_id")
    codes = pq_encode(corpus, book, m, k, id_col, vec_col).withColumnRenamed(
        id_col, "neighbor_id"
    )
    return _ivf_pq_probe(
        cents, c_cells, book, codes, queries, k_neighbors, n_probe, m,
        id_col, vec_col,
    )


def _ivf_pq_probe(
    cents: DataFrame,
    c_cells: DataFrame,
    book: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    k_neighbors: int,
    n_probe: int,
    m: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared IVF-PQ query tail of ``ann_ivf_pq_topk`` and
    ``ann_from_index`` — one copy of the probe/LUT/score/rank plan, so
    the direct path and the materialized-index path cannot drift.
    Inputs are the four model relations (centroids, cell assignments,
    codebook, codes) from either source."""
    q_cells = ivf_assign(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")),
        cents,
        n_probe=n_probe,
        id_col="query_id",
        vec_col="qvec",
    ).select("query_id", "cent_id")
    qsubs = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("subspace"),
                        _pq_subvec(F.col(vec_col), s, m).alias("qv"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("sc"),
    ).select("query_id", "sc.subspace", "sc.qv")
    lut = qsubs.join(F.broadcast(book), "subspace").select(
        "query_id",
        "subspace",
        "code",
        _pq_micro_dist(F.col("qv"), F.col("cv")).alias("lut_d"),
    )
    cand = (
        c_cells.join(F.broadcast(q_cells), "cent_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    scored = (
        cand.join(codes, "neighbor_id")
        .join(F.broadcast(lut), ["query_id", "subspace", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("lut_d").alias("adc_micro"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_micro").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k_neighbors)
    )


ANN_INDEX_PREFIX = "annindex"


def resolve_ann_index(index_dir: str) -> str:
    """Path of the newest COMMITTED ANN-index snapshot under
    ``index_dir`` (``annindex_<run>`` holding ``centroids/``,
    ``cells/``, ``codebook/``, ``codes/``, ``meta/``). Readers come
    through here, so an in-flight or crashed rebuild is invisible until
    its one atomic rename."""
    from inbev_data_engineering_case_spark.layers import latest_snapshot

    return latest_snapshot(index_dir, prefix=ANN_INDEX_PREFIX)


def _unique_id_guard(vectors: DataFrame, id_col: str, op: str) -> DataFrame:
    """1-row frame whose evaluation raises in-plan if any id repeats —
    the ``build_text_index`` duplicate-id discipline applied to the ANN
    twin: a duplicate vec_id would silently write duplicate cells/codes
    rows, surfacing as duplicated neighbor candidates in
    ``ann_from_index`` top-k instead of an error. Broadcast-joined onto
    the cells write and FOLDED INTO the written cent_id column (+0
    when clean) so the guard rides the build job itself: a merely
    projected-then-dropped guard column would be pruned by Catalyst
    and the raise_error never evaluated. Staging never publishes on
    failure."""
    return vectors.agg(
        F.count("*").alias("_nrows"),
        F.countDistinct(id_col).alias("_nd"),
    ).select(
        F.when(
            F.col("_nrows") != F.col("_nd"),
            F.raise_error(
                F.concat(
                    F.lit(f"{op}: "),
                    (F.col("_nrows") - F.col("_nd")).cast("string"),
                    F.lit(
                        f" duplicate {id_col} row(s) in the input — "
                        "each would write duplicate cells/codes rows "
                        "and duplicated neighbor candidates; dedupe "
                        "per id before indexing"
                    ),
                )
            ).cast("int"),
        )
        .otherwise(F.lit(0))
        .alias("_ids_ok")
    )


def build_ann_index(
    vectors: DataFrame,
    index_dir: str,
    n_centroids: int = 16,
    m: int = 4,
    k: int = 16,
    seed: int = 0xC0DE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    codebook: DataFrame | None = None,
    keep_snapshots: int | None = 2,
) -> dict[str, int | str]:
    """Materialize the trained IVF-PQ model ONCE — the
    build-once/probe-many retrieval-index contract ``build_text_index``
    established for BM25, applied to vectors: ``centroids/`` (K rows),
    ``cells/`` (one (neighbor_id, cent_id) row per vector — the
    inverted lists; bucket by cent_id at scale for parquet-level cell
    pruning), ``codebook/`` (m·k codewords), ``codes/`` (m one-byte
    codes per vector — the 64×-compressed corpus), and ``meta/``
    (1 row: m, k, n_centroids — the build geometry).

    Training and assignment run once here; ``ann_from_index`` answers
    every subsequent query batch from the stored model with per-query
    cost decoupled from training/encoding. ``centroids``/``codebook``
    default to the deterministic layouts the SQL oracle replays exactly;
    pass ``train_ivf_centroids`` output for the Lloyd-refined cells —
    probing is agnostic.

    Publication is ATOMIC via ``layers.commit_snapshot`` (flock +
    expected-parent), the ``build_text_index`` discipline: all five
    tables appear together in one rename, a concurrent reader can
    never see codes from one generation against a codebook from
    another, and a lost commit race retries against the new parent
    (the build is parent-independent).
    """
    from inbev_data_engineering_case_spark.layers import (
        commit_snapshot_with_retry,
    )

    cents = (
        centroids
        if centroids is not None
        else vectors.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cv")
        )
    )
    book = (
        codebook
        if codebook is not None
        else pq_sampled_codebook(vectors, m, k, seed, id_col, vec_col)
    )
    c_cells = (
        ivf_assign(
            vectors.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("cvec"),
            ),
            cents,
            n_probe=1,
            id_col="neighbor_id",
            vec_col="cvec",
        )
        .select("neighbor_id", "cent_id")
        # fail-loud duplicate-id guard riding the cells write (1-row
        # broadcast; +0 no-op when clean): build_text_index's
        # contract, mirrored
        .join(F.broadcast(_unique_id_guard(vectors, id_col,
                                           "build_ann_index")))
        .select(
            "neighbor_id",
            (F.col("cent_id") + F.col("_ids_ok")).alias("cent_id"),
        )
    )
    codes = pq_encode(vectors, book, m, k, id_col, vec_col).withColumnRenamed(
        id_col, "neighbor_id"
    )
    spark = vectors.sparkSession

    def write_fn(staging: str) -> None:
        write_parquet(cents, f"{staging}/centroids")
        write_parquet(book, f"{staging}/codebook")
        write_parquet(c_cells, f"{staging}/cells")
        write_parquet(codes, f"{staging}/codes")
        write_parquet(
            spark.createDataFrame(
                [(m, k, n_centroids)], "m int, k int, n_centroids int"
            ),
            f"{staging}/meta",
        )

    snap = commit_snapshot_with_retry(
        index_dir, ANN_INDEX_PREFIX, write_fn,
        keep_snapshots=keep_snapshots,
    )
    return {
        "snapshot": snap,
        "cells_rows": read_parquet(spark, f"{snap}/cells").count(),
        "codes_rows": read_parquet(spark, f"{snap}/codes").count(),
    }


def ann_from_index(
    spark,
    index_dir: str,
    queries: DataFrame,
    k_neighbors: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ top-k over a ``build_ann_index`` output: centroids,
    inverted lists, codebook, and codes load from the committed
    snapshot; only the QUERY side computes (cell probe + LUT — both
    model-sized), so per-query cost is independent of corpus training
    and encoding. Result-identical to ``ann_ivf_pq_topk`` on the same
    corpus/model BY CONSTRUCTION: both feed the shared
    ``_ivf_pq_probe`` tail (plus the identity unit test).

    The subspace count ``m`` comes from the stored ``meta`` geometry,
    not a caller parameter — probing a PQ index with the wrong m would
    silently compute garbage distances (the CMS wrong-geometry
    lesson), so the stored build value is the only source of truth.
    """
    snap = resolve_ann_index(index_dir)
    meta = read_parquet(spark, f"{snap}/meta").collect()[0]
    cents = read_parquet(spark, f"{snap}/centroids")
    book = read_parquet(spark, f"{snap}/codebook")
    c_cells = read_parquet(spark, f"{snap}/cells")
    codes = read_parquet(spark, f"{snap}/codes")
    return _ivf_pq_probe(
        cents,
        c_cells,
        book,
        codes,
        queries,
        k_neighbors,
        n_probe,
        int(meta["m"]),
        id_col,
        vec_col,
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    ``k`` most-similar corpus vectors with a DIFFERENT label — close in
    embedding space yet semantically distinct, exactly the pairs that
    sharpen an embedding model (random negatives are trivially easy;
    in-batch negatives are uncontrolled; mined hard negatives are the
    standard third stage — DPR/SBERT-style training data).

    Rows with a NULL label are excluded from BOTH sides: an unknown
    label cannot certify the pair as a true negative, and a false
    negative (actually-same-class pair labeled negative) actively
    hurts contrastive training — silence is the conservative choice.

    Scale shape: identical to ``cosine_topk`` — the query batch
    broadcasts against the corpus scan, similarity is JVM-side
    ``zip_with``/``aggregate``, the label-mismatch predicate rides the
    join condition so non-negatives never materialize, per-query top-k
    is one ranking window. For billion-vector corpora compose with the
    IVF machinery instead (mine within probed cells, then label-filter
    — same recipe as ``ann_ivf_topk``); this brute form is the exact
    baseline those miners are validated against.

    Returns ``(query_id, neighbor_id, neighbor_label, sim, rank)``;
    ranking ties break on ``neighbor_id`` after 6-decimal rounding, so
    ordering is engine-stable. Shares ``_cosine_scored_topk`` with
    ``cosine_topk`` — the two can never drift on tie-break or rounding
    semantics.
    """
    return _cosine_scored_topk(
        corpus, queries, k, id_col, vec_col, label_col=label_col
    )

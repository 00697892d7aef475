"""Unit tests for the training-data pipeline operators (dedup, similarity,
textops, multimodal) on small synthetic corpora with known answers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from inbev_data_engineering_case_spark.operators.dedup import (
    DEFAULT_MAX_BUCKET_SIZE,
    exact_dedup,
    jaccard_similarity,
    minhash_dedup_pairs,
    simhash_near_pairs,
)
from inbev_data_engineering_case_spark.operators.multimodal import (
    assets_from_documents,
    decode_features,
    sample_frames,
)
from inbev_data_engineering_case_spark.operators.similarity import (
    ann_bucketed_topk,
    cosine_topk,
)
from inbev_data_engineering_case_spark.operators.textops import (
    fingerprint,
    lang_id,
    quality_score,
    token_count,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base + " extra tail"),  # near dup of 1
        (4, "completely different content about spark query engines"),
        (5, "el perro y el gato en la casa con un libro"),  # spanish-ish
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_groups_identical_texts(docs):
    out = {r["keep_id"]: r["n_copies"] for r in exact_dedup(docs).collect()}
    assert out[1] == 2  # docs 1+2 collapse, min id survives
    assert out[3] == 1 and out[4] == 1


def test_fingerprint_is_whitespace_and_case_insensitive(spark):
    df = spark.createDataFrame(
        [("The  Quick   Fox",), ("the quick fox",)], ["text"]
    )
    fps = [r[0] for r in df.select(fingerprint("text")).collect()]
    assert fps[0] == fps[1]


def test_minhash_finds_near_dup_not_distinct(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_dedup_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # exact dup: all slots equal
    assert (1, 3) in pairs  # near dup caught by LSH
    assert not any(4 in p for p in pairs)  # distinct doc has no pair


def test_simhash_near_pairs(docs):
    # bucket_bits=1 on this 5-doc corpus: the bucket prefilter is a
    # recall/scale dial and a flipped high bit can hide a near-dup behind a
    # bucket boundary — at test scale we want (almost) all-pairs.
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             simhash_near_pairs(docs, max_hamming=6, bucket_bits=1).collect()}
    assert pairs.get((1, 2)) == 0  # identical text → identical signature
    assert (1, 3) in pairs and 0 < pairs[(1, 3)] <= 6  # near dup caught
    assert not any(4 in p for p in pairs)  # distinct doc beyond budget


def test_jaccard_exact_values(spark, docs):
    pairs = spark.createDataFrame([(1, 2), (1, 4)], ["id_a", "id_b"])
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           jaccard_similarity(pairs, docs).collect()}
    assert out[(1, 2)] == 1.0
    assert out[(1, 4)] < 0.1


def test_token_count_and_lang_id(docs):
    rows = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id",
            token_count("text").alias("n"),
            lang_id("text").alias("lang"),
            quality_score("text").alias("q"),
        ).collect()
    }
    assert rows[1]["n"] == 12
    assert rows[1]["lang"] == "en"
    assert rows[5]["lang"] == "es"
    assert 0.0 <= rows[1]["q"] <= 1.0


def test_cosine_topk_self_similarity(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),  # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),  # anti-parallel to 0
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = cosine_topk(df, df.filter(F.col("vec_id") == 0), k=3).collect()
    ranked = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [1, 2, 3]
    assert out[0]["query_id"] == 0
    sims = {r["neighbor_id"]: r["sim"] for r in out}
    assert sims[3] == -1.0


def test_ann_bucketed_is_subset_of_exact(spark):
    import random

    rng = random.Random(7)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(50)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    queries = df.filter(F.col("vec_id") < 3)
    exact = cosine_topk(df, queries, k=5).collect()
    approx = ann_bucketed_topk(df, queries, k=5, num_planes=4).collect()
    # bucketed candidates are a subset: every approx neighbor's sim must
    # appear in the exact all-pairs scores for that query
    exact_scores = {(r["query_id"], r["neighbor_id"]): r["sim"] for r in exact}
    all_scores = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in cosine_topk(df, queries, k=50).collect()
    }
    for r in approx:
        assert (r["query_id"], r["neighbor_id"]) in all_scores
        assert all_scores[(r["query_id"], r["neighbor_id"])] == r["sim"]
    assert len(exact) == 3 * 5


def test_multimodal_plumbing(spark, docs):
    documents = docs.withColumn("source", F.lit("unit")).withColumn(
        "lang", F.lit("en")
    ).withColumn("n_chars", F.length("text"))
    assets = assets_from_documents(documents)
    row = assets.filter(F.col("asset_id") == 1).first()
    assert row["media_type"] == "text/plain"
    assert bytes(row["payload"]).decode() == docs.filter(
        F.col("doc_id") == 1
    ).first()["text"]
    assert row["meta"]["n_bytes"] == len(bytes(row["payload"]))

    feats = {r["asset_id"]: r for r in decode_features(assets).collect()}
    payload = bytes(row["payload"])
    assert feats[1]["n_bytes"] == len(payload)
    assert feats[1]["checksum"] == sum(payload) % 1_000_003
    assert feats[1]["feature"][0] == float(len(payload))


def test_sample_frames_is_one_to_many(spark, docs):
    documents = docs.withColumn("source", F.lit("unit")).withColumn(
        "lang", F.lit("en")
    ).withColumn("n_chars", F.length("text"))
    assets = assets_from_documents(documents.filter(F.col("doc_id") == 1))
    text = docs.filter(F.col("doc_id") == 1).first()["text"].encode()
    frames = sorted(
        sample_frames(assets, frame_bytes=10, every_n=2).collect(),
        key=lambda r: r["frame_idx"],
    )
    n_chunks = (len(text) + 9) // 10
    assert len(frames) == (n_chunks + 1) // 2  # every 2nd chunk kept
    assert [r["frame_idx"] for r in frames] == list(range(0, n_chunks, 2))
    assert bytes(frames[0]["frame"]) == text[:10]
    assert all(r["n_bytes"] == len(bytes(r["frame"])) for r in frames)
    # non-positive sizes fail on the driver, before any plan is built
    for bad in ({"frame_bytes": 0}, {"frame_bytes": -4}, {"every_n": 0},
                {"every_n": -1}):
        with pytest.raises(ValueError, match="sample_frames needs"):
            sample_frames(assets, **bad)


def test_dedup_components_chain_and_singleton(spark):
    from inbev_data_engineering_case_spark.operators.dedup import (
        dedup_components,
    )

    # chain 1-2-3 (one component), pair 7-9, node 5 only as id_a partner
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (5, 9)], ["id_a", "id_b"]
    )
    out = {r["node"]: r["comp"] for r in dedup_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 5: 5, 7: 5, 9: 5}


THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _with_threshold(spark, value, fn):
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, value)
    try:
        return fn()
    finally:
        spark.conf.set(THRESHOLD, old)


def test_broadcast_row_limit_follows_the_session_threshold(spark):
    """A broadcast hint bypasses autoBroadcastJoinThreshold, so the
    iterative loops' row gate derives from it: the 2M-row ceiling at the
    64 MB session default, threshold/32 rows below it, no hint at -1."""
    from inbev_data_engineering_case_spark.session import broadcast_if_small

    assert spark.conf.get(THRESHOLD) == str(64 * 1024 * 1024)
    df = spark.range(10)

    def hinted(counts):
        plans = (
            broadcast_if_small(df, n)._jdf.queryExecution().analyzed().toString()
            for n in counts
        )
        return ["broadcast" in plan.lower() for plan in plans]

    assert hinted([2_000_000, 2_000_001, None]) == [True, False, False]
    assert _with_threshold(
        spark, "1MB", lambda: hinted([32_768, 32_769])
    ) == [True, False]
    assert _with_threshold(spark, "-1", lambda: hinted([0, 10])) == [False, False]


def test_dedup_components_match_with_broadcast_disabled(spark):
    from inbev_data_engineering_case_spark.operators.dedup import (
        dedup_components,
    )

    # a long chain with a branch (needs pointer jumping), a short
    # chain and a star
    edges = [(i, i + 1) for i in range(1, 40)] + [(100, 101), (101, 99)]
    edges += [(200, j) for j in range(201, 210)] + [(7, 300)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])

    def labels():
        return sorted(tuple(r) for r in dedup_components(pairs).collect())

    assert _with_threshold(spark, "-1", labels) == labels()


def test_ann_ivf_is_subset_of_exact(spark):
    import random

    from inbev_data_engineering_case_spark.operators.similarity import (
        ann_ivf_topk,
    )

    rng = random.Random(11)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(60)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    queries = df.filter(F.col("vec_id") < 3)
    all_scores = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in cosine_topk(df, queries, k=60).collect()
    }
    approx = ann_ivf_topk(df, queries, k=5, n_centroids=8, n_probe=2).collect()
    assert approx  # probing 2 of 8 cells yields candidates
    for r in approx:
        assert all_scores[(r["query_id"], r["neighbor_id"])] == r["sim"]
    # per-query ranks are 1..n contiguous
    for qid in {r["query_id"] for r in approx}:
        ranks = sorted(r["rank"] for r in approx if r["query_id"] == qid)
        assert ranks == list(range(1, len(ranks) + 1))


def test_embedding_near_dup_multiprobe_superset(spark):
    import random

    from inbev_data_engineering_case_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    rng = random.Random(3)
    base = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(40)]
    # near-dups: tiny perturbation of each base vector
    rows = [(i, v) for i, v in enumerate(base)] + [
        (100 + i, [x * 1.001 if j % 2 else x for j, x in enumerate(v)])
        for i, v in enumerate(base)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    one = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(df, threshold=0.99).collect()
    }
    multi = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            df, threshold=0.99, n_probes=3
        ).collect()
    }
    assert one <= multi  # extra probes only add recall
    # with 3 probes every constructed near-dup pair should be found
    assert {(i, 100 + i) for i in range(40)} <= multi


def test_ivf_trained_centroids_recall_holds(spark):
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.similarity import (
        ann_ivf_topk,
        cosine_topk,
        train_ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 50)
    exact = cosine_topk(emb, q, k=5).select("query_id", "neighbor_id")
    n_exact = exact.count()

    def recall(ivf):
        return (
            ivf.select("query_id", "neighbor_id")
            .join(exact, ["query_id", "neighbor_id"])
            .count()
            / n_exact
        )

    cents = train_ivf_centroids(emb, n_centroids=16, n_iter=2)
    assert cents.count() <= 16  # cells may drop, never multiply
    # deterministic training: rounded means, deterministic init/ties
    again = train_ivf_centroids(emb, n_centroids=16, n_iter=2)
    assert sorted(map(tuple, cents.collect())) == sorted(
        map(tuple, again.collect())
    )
    trained = recall(ann_ivf_topk(emb, q, k=5, centroids=cents))
    firstn = recall(ann_ivf_topk(emb, q, k=5, n_centroids=16))
    # on this near-uniform synthetic corpus training rebalances cells;
    # recall must hold (within noise) at equal probe count, with a floor
    assert trained >= firstn - 0.05
    assert trained >= 0.4


def test_lineage_cuts_checkpoint_dir_identical_and_rounds(spark, tmp_path):
    """Every iterative lineage cut runs on fault-tolerant scratch tables
    once the session has a checkpoint dir, with results identical to the
    default (executor-local) session: the components loop, the BFS hop
    cut, the PageRank cuts and a streaming ``foreachBatch`` cut."""
    from inbev_data_engineering_case_spark.operators.dedup import (
        dedup_components_with_stats,
    )
    from inbev_data_engineering_case_spark.operators.graph import (
        multi_source_bfs,
        pagerank,
    )
    from inbev_data_engineering_case_spark.session import (
        cleanup_scratch_tables,
        scratch_table_paths,
    )
    from inbev_data_engineering_case_spark.streaming.events import (
        read_classifier_counts,
        run_stream_classifier_update,
    )

    # path graph 0-1-2-3-4: diameter 4 — the fused init already holds
    # round 1's neighbor-min (r15), the first loop round's hop+jump
    # reaches the remaining distance, and the loop then needs two more
    # rounds to OBSERVE the fixed point: the r16 one-action-per-round
    # loop measures convergence on the hop output (pre-jump), so
    # progress made by a round's jump is credited by the NEXT round's
    # hop sum — on a deep path that costs one extra confirm round
    # (3 vs 2) while every round now pays a single action instead of
    # two plus an eager checkpoint (the sf0.1 pair graph converges
    # hop-wise and keeps its round count; jobs/run measured 41 → 34)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], ["id_a", "id_b"]
    )
    expected = {i: 0 for i in range(5)}
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0), (2, 4), (5, 2)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(0,)], ["node"])
    docs = spark.createDataFrame(
        [
            (i, f"token{i % 7} shared words batch {i % 3}", i % 2 == 0)
            for i in range(40)
        ],
        ["doc_id", "text", "label"],
    )
    docs.coalesce(1).write.parquet(str(tmp_path / "clf_feed"))

    def run_all(tag: str) -> dict:
        labels, rounds = dedup_components_with_stats(pairs)
        state = str(tmp_path / f"clf_state_{tag}")
        run_stream_classifier_update(
            spark.readStream.schema(docs.schema).parquet(
                str(tmp_path / "clf_feed")
            ),
            state,
            str(tmp_path / f"clf_ckpt_{tag}"),
            n_buckets=1 << 12,
        )
        return {
            "components": sorted(map(tuple, labels.collect())),
            "rounds": rounds,
            "bfs": sorted(
                map(tuple, multi_source_bfs(edges, seeds).collect())
            ),
            # n_iter >= 2 cuts the loop invariants, the teleport variant
            # cuts every other iteration
            "pagerank": sorted(
                map(
                    tuple,
                    pagerank(
                        edges, n_iter=5, redistribute_dangling=True
                    ).collect(),
                )
            ),
            "stream": sorted(
                map(tuple, read_classifier_counts(spark, state).collect())
            ),
        }

    local = run_all("local")
    assert dict(local["components"]) == expected
    assert local["rounds"] == 3
    assert dict(local["bfs"]) == {0: 0, 1: 1, 2: 2, 3: 1, 4: 3, 5: 3}
    assert local["stream"]

    # cluster-safe path: every cut writes a scratch table under the
    # session's checkpoint dir instead of executor-local blocks
    ckpt = tmp_path / "ckpt"
    spark.sparkContext.setCheckpointDir(str(ckpt))
    try:
        assert run_all("reliable") == local
        written = {p.name for p in ckpt.glob("*/mat_*")}
        assert written  # actually wrote there
        registered = {p.rsplit("/", 1)[-1] for p in scratch_table_paths(spark)}
        assert written <= registered
        cleanup_scratch_tables(spark)
        assert not list(ckpt.glob("*/mat_*"))
        assert scratch_table_paths(spark) == []
    finally:
        spark.sparkContext.setCheckpointDir(None)


def test_materialize_scratch_table_one_job_per_cut(spark, tmp_path):
    """Under a checkpoint dir an eager cut is one Spark job — the scratch
    table's write — and reads the table back under the frame's own schema
    (no footer-inference job); the rows round-trip unchanged."""
    from inbev_data_engineering_case_spark.session import (
        cleanup_scratch_tables,
        materialize,
    )

    df = spark.createDataFrame(
        [(1, "a", [1.5, None], {"k": 2}), (2, None, [], {})],
        "id long, s string, xs array<double>, m map<string,int>",
    )
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        sc.setJobGroup("materialize_cut", "one eager scratch-table cut")
        cut = materialize(df, eager=True)
        assert len(sc.statusTracker().getJobIdsForGroup("materialize_cut")) == 1
        assert cut.schema == df.schema
        assert sorted(map(str, cut.collect())) == sorted(map(str, df.collect()))
        cleanup_scratch_tables(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setCheckpointDir(None)


def test_train_ivf_centroids_rejects_huge_k(spark):
    """The collect-path Lloyd trainer round-trips the K×d model through
    the driver per iteration; a K that makes the model driver-sized must
    fail loud before any training work — while 'auto' routes the same K
    to the DataFrame path instead of refusing (covered in
    test_ivf_dataframe_training_matches_collect)."""
    import pytest as _pytest

    from inbev_data_engineering_case_spark.operators.similarity import (
        train_ivf_centroids,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 0.0, 1.0, 2.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="max_centroid_cells"):
        train_ivf_centroids(emb, n_centroids=2_000_000, method="collect")


def test_ann_multiprobe_recall_monotone(spark):
    """Multi-probe candidates are a superset of single-probe (seed 0 runs
    in both) and ranking is by true cosine, so every exact neighbor found
    at 1 probe is still found at 3."""
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.similarity import (
        ann_bucketed_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    p1 = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_bucketed_topk(emb, q, k=5, n_probes=1).collect()
    }
    p3 = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_bucketed_topk(emb, q, k=5, n_probes=3).collect()
    }
    # per query, 3-probe top-5 is at least as similar: the 1-probe hit set
    # against the exact top-k can only grow (asserted end-to-end by
    # q_ann_probes); here we check the candidate-superset mechanics —
    # every query keeps >= as many returned neighbors
    from collections import Counter

    c1, c3 = Counter(a for a, _ in p1), Counter(a for a, _ in p3)
    assert all(c3[qid] >= n for qid, n in c1.items())


def test_signlsh_literal_weights_match_runtime_path(spark):
    """The r15 literal-weight bucket path (dim known → plane weights
    embedded as plan literals) is bit-identical to the runtime
    portable_hash64 path for every (seed, vector), the driver-side
    weight twin reproduces the in-plan expression exactly, and a
    vector whose length differs from the probed dim raises in-plan
    instead of silently bucketing in a different geometry."""
    import math

    import pytest

    from inbev_data_engineering_case_spark.operators.similarity import (
        _plane_weight,
        _plane_weight_value,
        _vec_dim,
        signlsh_bucket,
    )

    d = 16
    df = spark.createDataFrame(
        [
            (j, [math.sin(j * 37.0 + i * 13.0) for i in range(d)])
            for j in range(60)
        ]
        + [(999, None)],  # NULL vector: bucket 0 on both paths
        "vec_id long, embedding array<double>",
    )
    assert _vec_dim(df, "embedding") == d
    for seed in (0, 1, 2):
        rows = df.select(
            signlsh_bucket("embedding", 8, seed=seed).alias("rt"),
            signlsh_bucket("embedding", 8, seed=seed, dim=d).alias("lit"),
        ).collect()
        assert all(r["rt"] == r["lit"] for r in rows), seed

    # the driver twin == the in-plan weight expression, element-wise
    got = spark.range(1).select(
        *[
            _plane_weight(p, F.lit(i), seed).alias(f"w_{p}_{i}_{seed}")
            for p in (0, 3)
            for i in (0, 7, 15)
            for seed in (0, 2)
        ]
    ).collect()[0]
    for p in (0, 3):
        for i in (0, 7, 15):
            for seed in (0, 2):
                assert got[f"w_{p}_{i}_{seed}"] == _plane_weight_value(
                    p, i, seed
                ), (p, i, seed)

    bad = spark.createDataFrame(
        [(1, [1.0] * d), (2, [1.0] * (d + 1))],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="mixed-dimension"):
        bad.select(
            signlsh_bucket("embedding", 8, seed=0, dim=d)
        ).collect()


def test_vec_dim_memo_tracks_a_rewritten_path(spark, tmp_path):
    """The dim memo must not survive a rewrite of the same parquet path:
    both reads have equal semantic hashes, but their input files differ,
    and a stale dim would build plane weights of the wrong geometry."""
    from inbev_data_engineering_case_spark.operators.similarity import (
        _vec_dim,
    )

    path = str(tmp_path / "vecs")

    def write(dim: int) -> None:
        spark.createDataFrame(
            [(j, [float(j + i) for i in range(dim)]) for j in range(4)],
            "vec_id long, embedding array<double>",
        ).write.mode("overwrite").parquet(path)

    write(3)
    assert _vec_dim(spark.read.parquet(path), "embedding") == 3
    write(5)
    assert _vec_dim(spark.read.parquet(path), "embedding") == 5


def test_vec_dim_memo_tracks_a_same_name_rewrite(spark, tmp_path):
    """The dim memo must not survive a rewrite that keeps the data file's
    NAME: the plans and the input file lists are equal, so only the
    file's size and mtime tell the 5-dim part file from the 3-dim one."""
    import os
    import shutil

    from inbev_data_engineering_case_spark.operators.similarity import (
        _vec_dim,
    )

    def write(path: str, dim: int) -> str:
        spark.createDataFrame(
            [(j, [float(j + i) for i in range(dim)]) for j in range(4)],
            "vec_id long, embedding array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(path)
        (part,) = [n for n in os.listdir(path) if n.startswith("part-")]
        return part

    path, other = str(tmp_path / "vecs"), str(tmp_path / "other")
    part = write(path, 3)
    assert _vec_dim(spark.read.parquet(path), "embedding") == 3
    shutil.copyfile(
        os.path.join(other, write(other, 5)), os.path.join(path, part)
    )
    os.remove(os.path.join(path, f".{part}.crc"))
    assert _vec_dim(spark.read.parquet(path), "embedding") == 5


def test_ann_multiprobe_provably_adds_known_neighbor(spark):
    """Deterministic synthetic fixture where the second probe PROVABLY
    contributes: a neighbor in a different seed-0 bucket than the query
    but the same seed-1 bucket is invisible at n_probes=1 and found at
    n_probes=2. An implementation that silently ignores the lever (e.g.
    always bucketing under seed 0) returns the identical result for both
    and fails here — the regression class the weakened sf-fixture
    property oracles (monotone + in-range) cannot detect."""
    import math

    from inbev_data_engineering_case_spark.operators.similarity import (
        ann_bucketed_topk,
        signlsh_bucket,
    )

    d = 16
    vecs = {
        j: [math.sin(j * 37.0 + i * 13.0) for i in range(d)]
        for j in range(80)
    }
    df = spark.createDataFrame(
        [(j, v) for j, v in vecs.items()], ["vec_id", "embedding"]
    )
    buckets = {
        r["vec_id"]: (r["b0"], r["b1"])
        for r in df.select(
            "vec_id",
            signlsh_bucket("embedding", 8, seed=0).alias("b0"),
            signlsh_bucket("embedding", 8, seed=1).alias("b1"),
        ).collect()
    }
    # pick (query, cross, same): `cross` shares the query's seed-1 bucket
    # only; `same` shares its seed-0 bucket. Hyperplanes are deterministic
    # pseudo-randoms of (plane, dim), so this scan is reproducible.
    pick = next(
        (
            (q, c, s)
            for q in buckets
            for c in buckets
            for s in buckets
            if len({q, c, s}) == 3
            and buckets[c][0] != buckets[q][0]
            and buckets[c][1] == buckets[q][1]
            and buckets[s][0] == buckets[q][0]
        ),
        None,
    )
    assert pick is not None, "fixture degenerated: no probe-2-only pair"
    qid, cross, same = pick

    corpus = df.filter(F.col("vec_id").isin(qid, cross, same))
    query = df.filter(F.col("vec_id") == qid)

    def found(n_probes: int) -> set:
        return {
            r["neighbor_id"]
            for r in ann_bucketed_topk(
                corpus, query, k=5, n_probes=n_probes
            ).collect()
        }

    assert found(1) == {same}  # cross-bucket neighbor invisible
    assert found(2) == {same, cross}  # second probe adds exactly it


def test_ensure_parallelism_in_memory_fallback(spark):
    """Non-file sources (createDataFrame) have no scan-split estimate; the
    rdd-partition fallback must still fan a 1-partition corpus out to the
    session's core count before the compute-bound signature stage."""
    from inbev_data_engineering_case_spark.operators.dedup import (
        _ensure_parallelism,
    )

    one_part = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(10)], ["doc_id", "text"]
    ).coalesce(1)
    target = spark.sparkContext.defaultParallelism
    assert _ensure_parallelism(one_part).rdd.getNumPartitions() == target

    # file scans keep the metadata path: a parquet input at/above target
    # parallelism is left alone (no extra exchange)
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.range(1000).repartition(target).write.parquet(f"{d}/t")
        wide = spark.read.parquet(f"{d}/t")
        assert _ensure_parallelism(wide) is wide


def test_curate_corpus_end_to_end(spark):
    from inbev_data_engineering_case_spark.operators.curate import (
        curate_corpus,
    )

    en = (
        "the quick brown fox jumps over the lazy dog and it is a fine day "
        "for that in the sun with a friend of the family"
    )
    rows = [
        (1, en),                         # kept
        (2, en),                         # exact dup of 1 -> dropped
        (3, en + " extra tail words"),   # near-dup of 1 -> dropped
        (4, "el que la de y en un una por con el que la de y en un por"),
        # ^ Spanish -> dropped by language filter
        (5, "x! y? z. a; b: c, d! e? f."),  # junk -> dropped by quality
        (6, "a completely different english text about the history of "
            "bridges and the people that built them in the old days of "
            "iron and stone for the crossing of rivers"),  # kept
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = curate_corpus(docs, min_quality=0.3, near_dup_threshold=0.5)
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [1, 6]
    cols = set(kept.columns)
    assert {"doc_id", "text", "lang", "quality"} <= cols

    # optional decontamination stage: a benchmark sharing an 8-gram with
    # doc 6 drops it from the curated corpus; everything else unchanged
    benchmark = spark.createDataFrame(
        [(99, "the history of bridges and the people that built them")],
        ["doc_id", "text"],
    )
    decon = curate_corpus(
        docs, min_quality=0.3, near_dup_threshold=0.5, benchmark=benchmark
    )
    assert sorted(r["doc_id"] for r in decon.collect()) == [1]


def test_score_documents_matches_standalone_expressions(spark):
    """The staged one-tokenization scorer must produce bit-identical
    (lang, quality) to the standalone lang_id/quality_score expressions —
    it is a plan restructuring, not a semantic change."""
    from inbev_data_engineering_case_spark.operators.textops import (
        lang_id,
        quality_score,
        score_documents,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog in a field"),
        (2, "el que la de y en un una por con el que la de y en un"),
        (3, "der die das und ist von mit ein zu den der die das und"),
        (4, "le la les de et un une est que pour le la les de et"),
        (5, "zzz qqq www!!! ???"),          # und + junky punctuation
        (6, "the el der le"),               # cross-language tie-break
        (7, "x"),                           # single token, no stopwords
        # r16: score_documents builds its staged plan as SQL text (one
        # selectExpr parse per stage); these rows pin the lexer-facing
        # edges of that rewrite — every whitespace-class control char
        # (the regex is embedded as a raw string literal), quotes and
        # backslashes in the data, and whitespace-only text
        (8, "tab\tand\x0bvt\fff\rcr\nnl the of and to"),
        (9, "   "),                         # whitespace-only: [''] token
        (10, "it's a 'quoted' back\\slash the of"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    staged = {
        r["doc_id"]: (r["lang"], r["quality"])
        for r in score_documents(docs).collect()
    }
    standalone = {
        r["doc_id"]: (r["lang"], r["quality"])
        for r in docs.select(
            "doc_id",
            lang_id("text").alias("lang"),
            quality_score("text").alias("quality"),
        ).collect()
    }
    assert staged == standalone  # exact float equality, not approx


def test_minhash_signatures_expr_parity(spark):
    """r16: ``minhash_signatures`` builds its two projections as SQL text
    (one selectExpr parse each) instead of a py4j Column tree. The parsed
    plan must stay bit-identical to the Column-API form — same shingles,
    same md5 base hash, same affine mixes — including every whitespace
    control character the tokenizer class names, quotes/backslashes in
    the data, and too-short/empty documents (empty shingle set → all-NULL
    signature slots on both paths)."""
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.functions import (
        MH_PRIME,
        MH_RANGE,
        minhash_mixers,
        portable_hash64,
        word_ngrams,
    )
    from inbev_data_engineering_case_spark.operators.dedup import (
        minhash_signatures,
    )
    from inbev_data_engineering_case_spark.operators.textops import (
        normalize_for_fingerprint,
    )

    def word_shingle_set(text_col, n):
        # distinct word n-gram shingles of the normalized text
        return F.array_distinct(
            word_ngrams(normalize_for_fingerprint(text_col), n)
        )

    def column_form(df, text_col="text", id_col="doc_id", num_hashes=8,
                    shingle_words=3):
        def mixer(a, b):
            return lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(MH_PRIME)

        base = F.transform(
            word_shingle_set(text_col, shingle_words),
            lambda s: portable_hash64(s) % F.lit(MH_RANGE),
        )
        hashed = df.select(F.col(id_col).alias("id"), base.alias("h"))
        sig = F.array(
            *[
                F.array_min(F.transform(F.col("h"), mixer(a, b)))
                for a, b in minhash_mixers(num_hashes)
            ]
        )
        return hashed.select("id", sig.alias("sig"))

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog in a field"),
            (2, "tab\tand\x0bvt\fff\rcr\nnl the of and to"),
            (3, "   "),
            (4, "it's a 'quoted' back\\slash the of and to in is"),
            (5, "one two"),          # shorter than the shingle window
            (6, ""),
            (7, "the quick brown fox jumps over the lazy dog in a field"),
        ],
        "doc_id long, text string",
    )
    for k, w in ((8, 3), (4, 2)):
        new = sorted(
            (r["id"], tuple(r["sig"]))
            for r in minhash_signatures(
                docs, num_hashes=k, shingle_words=w
            ).collect()
        )
        old = sorted(
            (r["id"], tuple(r["sig"]))
            for r in column_form(
                docs, num_hashes=k, shingle_words=w
            ).collect()
        )
        assert new == old, (k, w)


@pytest.mark.slow
def test_ivf_dataframe_training_matches_collect(spark, tmp_path):
    """method='dataframe' must produce bit-identical centroids to the
    collect path (means are rounded before they cross iterations), and a
    K*d above the collect guard must train via auto-selection instead of
    raising."""
    from inbev_data_engineering_case_spark.operators.similarity import (
        train_ivf_centroids,
    )

    vecs = spark.createDataFrame(
        [
            (i, [float((i * 3) % 7), float((i * 5) % 11), float(i % 4) + 1.0])
            for i in range(60)
        ],
        "vec_id long, embedding array<double>",
    )

    coll = train_ivf_centroids(vecs, 4, n_iter=2, method="collect")
    sc = spark.sparkContext
    for ckpt in (None, str(tmp_path / "ivf")):
        sc.setCheckpointDir(ckpt)
        try:
            df = train_ivf_centroids(vecs, 4, n_iter=2, method="dataframe")
            assert sorted(map(tuple, df.collect())) == sorted(
                map(tuple, coll.collect())
            )
        finally:
            sc.setCheckpointDir(None)
    assert list((tmp_path / "ivf").glob("*/mat_*"))

    # collect path refuses beyond the guard; auto now trains instead
    with pytest.raises(ValueError, match="too large to collect"):
        train_ivf_centroids(vecs, 4, method="collect", max_centroid_cells=4)
    auto = train_ivf_centroids(vecs, 4, n_iter=2, max_centroid_cells=4)
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, coll.collect())
    )


@pytest.mark.slow
def test_curate_incremental_parity_with_full_batch(spark):
    """The composed daily-crawl pipeline: curating only the snapshot delta
    against the stored corpus artifacts must reach the same curated corpus
    as re-running full-batch curate_corpus on the union (for delta docs
    whose similarity links are direct — the documented incremental
    contract)."""
    from inbev_data_engineering_case_spark.operators.curate import (
        curate_corpus,
        curate_incremental,
    )
    from inbev_data_engineering_case_spark.operators.dedup import (
        exact_dedup,
        minhash_signatures,
    )

    en = (
        "the quick brown fox jumps over the lazy dog and it is a fine day "
        "for that in the sun with a friend of the family"
    )
    bridges = (
        "a completely different english text about the history of bridges "
        "and the people that built them in the old days of iron and stone "
        "for the crossing of rivers"
    )
    history = spark.createDataFrame(
        [
            (1, en),                        # kept
            (2, en),                        # exact dup -> dropped
            (3, en + " extra tail words"),  # near-dup of 1 -> dropped
            (6, bridges),                   # kept
        ],
        ["doc_id", "text"],
    )
    kept = curate_corpus(history, min_quality=0.3, near_dup_threshold=0.5)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 6]

    # yesterday's run stored these artifacts over the KEPT corpus only
    stored_sigs = minhash_signatures(kept.select("doc_id", "text"))
    stored_fps = exact_dedup(kept.select("doc_id", "text"))

    delta = spark.createDataFrame(
        [
            (10, en),                        # exact dup of kept 1 -> dropped
            (11, en + " extra tail words"),  # near-dup of kept 1 -> dropped
            (12, bridges + " extra tail words"),  # near-dup of kept 6 -> dropped
            (13, "an entirely fresh english report on the building of "
                 "lighthouses along the coast and the keepers who lived "
                 "in them through the long storms of winter"),  # kept
            (14, "el que la de y en un una por con el que la de y en un"),
            # ^ Spanish -> filtered
        ],
        ["doc_id", "text"],
    )
    new_snapshot = history.unionByName(delta)

    incr = curate_incremental(
        history, new_snapshot, stored_sigs, stored_fps,
        min_quality=0.3, near_dup_threshold=0.5,
    )
    incr_ids = sorted(r["doc_id"] for r in incr.collect())
    assert incr_ids == [13]

    full = curate_corpus(
        new_snapshot, min_quality=0.3, near_dup_threshold=0.5
    )
    kept_union = sorted(
        [r["doc_id"] for r in kept.collect()] + incr_ids
    )
    assert kept_union == sorted(r["doc_id"] for r in full.collect())

    # updates re-enter curation under their unchanged id: the self-pair
    # guard keeps an updated doc from matching its own stale signature
    updated = new_snapshot.withColumn(
        "text",
        F.when(
            F.col("doc_id") == 6,
            F.concat("text", F.lit(" revised edition with new words")),
        ).otherwise(F.col("text")),
    )
    upd = curate_incremental(
        new_snapshot, updated, stored_sigs, stored_fps,
        min_quality=0.3, near_dup_threshold=0.5,
    )
    assert sorted(r["doc_id"] for r in upd.collect()) == [6]


def test_chunk_documents_known_answer(spark):
    """Hand-computed chunk boundaries: 10 tokens, window 4, overlap 1
    (stride 3) -> chunks at starts 0,3,6 cover all tokens... n=10:
    n_chunks = ceil((10-4)/3)+1 = 3, last chunk = tokens 7..10."""
    from inbev_data_engineering_case_spark.operators.curate import (
        chunk_documents,
    )

    docs = spark.createDataFrame(
        [
            (1, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
            (2, "a b c"),  # under the window: one whole chunk
        ],
        ["doc_id", "text"],
    )
    out = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(
            docs, chunk_tokens=4, overlap=1
        ).collect()
    }
    assert out == {
        (1, 0): ("t1 t2 t3 t4", 4),
        (1, 1): ("t4 t5 t6 t7", 4),
        (1, 2): ("t7 t8 t9 t10", 4),
        (2, 0): ("a b c", 3),
    }
    # every token appears in some chunk; consecutive chunks overlap by 1
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


@pytest.mark.slow
def test_curate_incremental_chained_two_days(spark):
    """Two consecutive incremental runs with artifact advancement between
    them must reach the same corpus as one full-batch run over
    everything — the loop a daily pipeline actually executes: curate
    delta, advance artifacts by the kept rows, repeat."""
    from inbev_data_engineering_case_spark.operators.curate import (
        advance_corpus_artifacts,
        curate_corpus,
        curate_incremental,
    )
    from inbev_data_engineering_case_spark.operators.dedup import (
        exact_dedup,
        minhash_signatures,
    )

    en = (
        "the quick brown fox jumps over the lazy dog and it is a fine day "
        "for that in the sun with a friend of the family"
    )
    lighthouse = (
        "an entirely fresh english report on the building of lighthouses "
        "along the coast and the keepers who lived in them through the "
        "long storms of winter"
    )
    day0 = spark.createDataFrame([(1, en)], ["doc_id", "text"])
    kept0 = curate_corpus(day0, min_quality=0.3, near_dup_threshold=0.5)
    sigs = minhash_signatures(kept0.select("doc_id", "text"))
    fps = exact_dedup(kept0.select("doc_id", "text"))

    # day 1: one fresh doc (kept), one near-dup of day-0 (dropped)
    d1 = spark.createDataFrame(
        [(10, lighthouse), (11, en + " extra tail words")],
        ["doc_id", "text"],
    )
    snap1 = day0.unionByName(d1)
    kept1 = curate_incremental(
        day0, snap1, sigs, fps, min_quality=0.3, near_dup_threshold=0.5
    )
    assert sorted(r["doc_id"] for r in kept1.collect()) == [10]
    sigs, fps = advance_corpus_artifacts(
        kept1.select("doc_id", "text"), sigs, fps
    )

    # day 2: near-dup AND exact dup of the doc kept on day 1 — only the
    # advanced artifacts can drop these — plus one fresh doc
    d2 = spark.createDataFrame(
        [
            (20, lighthouse + " extra tail words"),
            (21, lighthouse),
            (22, "a completely different english text about the history "
                 "of bridges and the people that built them in the old "
                 "days of iron and stone for the crossing of rivers"),
        ],
        ["doc_id", "text"],
    )
    snap2 = snap1.unionByName(d2)
    kept2 = curate_incremental(
        snap1, snap2, sigs, fps, min_quality=0.3, near_dup_threshold=0.5
    )
    assert sorted(r["doc_id"] for r in kept2.collect()) == [22]

    full = curate_corpus(snap2, min_quality=0.3, near_dup_threshold=0.5)
    incremental_union = sorted(
        [r["doc_id"] for r in kept0.collect()]
        + [r["doc_id"] for r in kept1.collect()]
        + [r["doc_id"] for r in kept2.collect()]
    )
    assert incremental_union == sorted(
        r["doc_id"] for r in full.collect()
    )


@pytest.mark.slow
def test_advance_artifacts_update_semantics(spark):
    """An UPDATED doc (same id, new text) across an advancement: append
    mode keeps the old rows as the memory of everything ever emitted
    (a later near-dup of the OLD text still drops), replace mode sheds
    them (a later near-dup of the old text is fresh again). Both modes
    index the new text."""
    from inbev_data_engineering_case_spark.operators.curate import (
        advance_corpus_artifacts,
        curate_corpus,
        curate_incremental,
    )
    from inbev_data_engineering_case_spark.operators.dedup import (
        exact_dedup,
        minhash_signatures,
    )

    old_text = (
        "the quick brown fox jumps over the lazy dog and it is a fine day "
        "for that in the sun with a friend of the family"
    )
    new_text = (
        "an entirely fresh english report on the building of lighthouses "
        "along the coast and the keepers who lived in them through the "
        "long storms of winter"
    )
    day0 = spark.createDataFrame([(1, old_text)], ["doc_id", "text"])
    kept0 = curate_corpus(day0, min_quality=0.3, near_dup_threshold=0.5)
    sigs0 = minhash_signatures(kept0.select("doc_id", "text"))
    fps0 = exact_dedup(kept0.select("doc_id", "text"))

    # day 1: doc 1 is UPDATED to entirely new text
    snap1 = spark.createDataFrame([(1, new_text)], ["doc_id", "text"])
    kept1 = curate_incremental(
        day0, snap1, sigs0, fps0, min_quality=0.3, near_dup_threshold=0.5
    )
    # the update re-enters curation and, being fresh text, is kept (the
    # self-pair guard keeps it from matching its own stale signature)
    assert [r["doc_id"] for r in kept1.collect()] == [1]

    probe = spark.createDataFrame(
        [(50, old_text + " extra tail words"),
         (51, new_text + " extra tail words")],
        ["doc_id", "text"],
    )

    def day2_kept(sigs, fps):
        snap2 = snap1.unionByName(probe)
        kept = curate_incremental(
            snap1, snap2, sigs, fps, min_quality=0.3,
            near_dup_threshold=0.5,
        )
        return sorted(r["doc_id"] for r in kept.collect())

    ap_sigs, ap_fps = advance_corpus_artifacts(
        kept1.select("doc_id", "text"), sigs0, fps0
    )
    # append: BOTH old-text and new-text near-dups drop — the old text
    # was already emitted, its signature is retained on purpose
    assert day2_kept(ap_sigs, ap_fps) == []
    assert ap_sigs.filter(F.col("id") == 1).count() == 2  # old + new rows

    rp_sigs, rp_fps = advance_corpus_artifacts(
        kept1.select("doc_id", "text"), sigs0, fps0, mode="replace",
        delta_ids=snap1.select("doc_id"),
    )
    # replace: the stale signature is gone, so the old-text near-dup is
    # fresh again; the new-text near-dup still drops
    assert day2_kept(rp_sigs, rp_fps) == [50]
    assert rp_sigs.filter(F.col("id") == 1).count() == 1  # new row only


@pytest.mark.slow
def test_curate_corpus_checkpoint_dir_identical(spark, tmp_path):
    """The cluster-safe materialization swap (parquet scratch tables under
    the session's checkpoint dir) is a deployment setting; it must produce
    the byte-identical curated corpus as the executor-local default."""
    from inbev_data_engineering_case_spark.operators.curate import (
        curate_corpus,
    )

    en = (
        "the quick brown fox jumps over the lazy dog and it is a fine day "
        "for that in the sun with a friend of the family"
    )
    rows = [
        (1, en),
        (2, en),
        (3, en + " extra tail words"),
        (6, "a completely different english text about the history of "
            "bridges and the people that built them in the old days of "
            "iron and stone for the crossing of rivers"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    def snapshot() -> list[tuple]:
        kept = curate_corpus(docs, min_quality=0.3, near_dup_threshold=0.5)
        return sorted(tuple(r) for r in kept.collect())

    baseline = snapshot()
    assert [r[0] for r in baseline] == [1, 6]

    ckpt = tmp_path / "ckpt"
    sc = spark.sparkContext
    sc.setCheckpointDir(str(ckpt))
    try:
        assert snapshot() == baseline
    finally:
        sc.setCheckpointDir(None)
    # a checkpoint dir routes every cut to a parquet scratch table
    on_disk = {p.name for p in ckpt.glob("*/mat_*")}
    assert on_disk, "no scratch tables written"

    # every scratch path is registered, and bulk cleanup removes them all
    # (caller-owned contract: nothing is auto-deleted while plans may
    # still read them; cleanup is explicit after the terminal action)
    import os

    from inbev_data_engineering_case_spark.session import (
        cleanup_scratch_tables,
        scratch_table_paths,
    )

    assert on_disk <= {os.path.basename(p) for p in scratch_table_paths(spark)}
    removed = cleanup_scratch_tables(spark)
    assert on_disk <= {os.path.basename(p) for p in removed}
    assert not list(ckpt.glob("*/mat_*"))
    assert scratch_table_paths(spark) == []


def test_incremental_pairs_table_mode_identical(spark, tmp_path):
    from inbev_data_engineering_case_spark.operators.curate import (
        incremental_minhash_pairs,
    )
    from inbev_data_engineering_case_spark.operators.dedup import (
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    stored = minhash_signatures(
        spark.createDataFrame([(1, base)], ["doc_id", "text"])
    )
    new = spark.createDataFrame(
        [(10, base + " tail"), (11, "totally unrelated words here now")],
        ["doc_id", "text"],
    )

    def pairs() -> list[tuple]:
        out = incremental_minhash_pairs(new, stored, threshold=0.3)
        return sorted(tuple(r) for r in out.collect())

    local = pairs()
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "inc"))
    try:
        assert pairs() == local
    finally:
        sc.setCheckpointDir(None)
    assert list((tmp_path / "inc").glob("*/mat_*"))


def test_components_long_chain_converges_logarithmically(spark):
    """A 64-node path graph has diameter 63: pure min-label propagation
    needs 63 rounds (silently wrong under max_iter=25); pointer jumping
    must converge in O(log diameter) and still produce minimal labels."""
    from inbev_data_engineering_case_spark.operators.dedup import (
        dedup_components_with_stats,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    labels, rounds = dedup_components_with_stats(chain)
    assert {r["comp"] for r in labels.collect()} == {0}
    assert labels.count() == 64
    assert rounds <= 9, rounds  # log2(63) ~ 6 plus fixed-point round


def test_contamination_report_and_decontaminate(spark):
    """Known-answer decontamination: a doc embedding a benchmark 8-gram is
    flagged with the exact distinct-gram count; clean docs pass through
    untouched; repeated phrases within one doc don't inflate the count."""
    from inbev_data_engineering_case_spark.operators.decontaminate import (
        contamination_report,
        decontaminate,
    )

    bench_text = "alpha bravo charlie delta echo foxtrot golf hotel india"
    benchmark = spark.createDataFrame(
        [(900, bench_text)], "doc_id long, text string"
    )
    # 9 tokens -> two 8-grams: tokens[0:8] and tokens[1:9]
    contaminated = "intro " + bench_text + " outro"  # contains both grams
    repeated = ("alpha bravo charlie delta echo foxtrot golf hotel " * 2).strip()
    clean = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, contaminated), (2, repeated), (3, clean)],
        "doc_id long, text string",
    )

    report = {
        r["doc_id"]: r["matched_ngrams"]
        for r in contamination_report(docs, benchmark, n=8).collect()
    }
    # doc 1 embeds the full benchmark text -> both benchmark 8-grams match
    # (the intro/outro-spanning grams don't exist in the benchmark)
    assert report[1] == 2
    # doc 2 repeats the first 8-gram; array_distinct keeps the count at 1
    assert report == {1: 2, 2: 1}

    kept = decontaminate(docs, benchmark, n=8)
    assert [r["doc_id"] for r in kept.collect()] == [3]
    # a clean corpus passes through whole
    clean_only = docs.filter("doc_id = 3")
    assert decontaminate(clean_only, benchmark, n=8).count() == 1

    # the xxhash64 production path (portable=False) reports identically —
    # only the join-key hash function differs
    fast = {
        r["doc_id"]: r["matched_ngrams"]
        for r in contamination_report(
            docs, benchmark, n=8, portable=False
        ).collect()
    }
    assert fast == report


def test_boilerplate_report_known_answer(spark):
    """Known-answer boilerplate profiling: a footer phrase shared by two
    docs is hot, unique text is not, repeated grams within one doc count
    once, docs shorter than n words get no row, and the shuffle-join path
    (broadcast_hot=False) reports identically."""
    from inbev_data_engineering_case_spark.operators.decontaminate import (
        boilerplate_report,
    )

    footer = "all rights reserved by example corp"  # 6 words -> two 5-grams
    docs = spark.createDataFrame(
        [
            (1, "unique alpha text one two three " + footer),
            (2, "different beta words four five six " + footer),
            (3, "entirely original content with no shared phrases at all"),
            (4, "too short"),  # < 5 words -> no gram, no row
        ],
        "doc_id long, text string",
    )
    rep = {
        r["doc_id"]: r for r in boilerplate_report(docs, n=5, min_docs=2).collect()
    }
    assert set(rep) == {1, 2, 3}
    # doc 1: 12 words -> 8 distinct 5-grams; hot ones are the 2 footer
    # grams (the bridging grams mix unique prefix words, so not shared)
    assert rep[1]["n_grams"] == 8 and rep[1]["n_hot"] == 2
    assert rep[1]["boiler_ppm"] == 2 * 1_000_000 // 8
    assert rep[3]["n_hot"] == 0 and rep[3]["boiler_ppm"] == 0

    shuffled = {
        r["doc_id"]: (r["n_grams"], r["n_hot"])
        for r in boilerplate_report(
            docs, n=5, min_docs=2, broadcast_hot=False
        ).collect()
    }
    assert shuffled == {
        k: (v["n_grams"], v["n_hot"]) for k, v in rep.items()
    }


def test_repetition_ratios_known_answers(spark):
    from inbev_data_engineering_case_spark.operators.textops import (
        line_repetition_ratio,
        token_repetition_ratio,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d"),              # all unique
            (2, "spam spam spam ham"),   # 2 repeated of 4
            (3, "x\ny\nx\ny\nz"),        # 2 repeated lines of 5
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            token_repetition_ratio("text").alias("tr"),
            line_repetition_ratio("text").alias("lr"),
        ).collect()
    }
    assert out[1]["tr"] == 0.0 and out[1]["lr"] == 0.0
    assert out[2]["tr"] == 0.5
    assert out[3]["lr"] == 0.4


def test_scrub_pii_redacts_emails_then_phones(spark):
    from inbev_data_engineering_case_spark.operators.textops import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@sub.example.org or call "
                "+1 (555) 010-2233 today"),
            (2, "no pii here, just the year 2024 and pi 3.14"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["scrubbed"] for r in df.select(
        "doc_id", scrub_pii("text").alias("scrubbed")
    ).collect()}
    assert out[1] == "mail me at <EMAIL> or call <PHONE> today"
    # short digit runs and decimals survive (phone pattern needs 8+ chars)
    assert out[2] == "no pii here, just the year 2024 and pi 3.14"


def test_stratified_sample_deterministic_and_balanced(spark):
    """Hash-based stratified sampling: membership is a pure function of
    (id, salt) — identical across reruns and repartitions; per-stratum
    keep-rates land near the configured fractions; unlisted strata use the
    default."""
    from inbev_data_engineering_case_spark.operators.sample import (
        stratified_sample,
    )

    rows = [(i, "en" if i % 2 == 0 else ("es" if i % 4 == 1 else "xx"))
            for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    fractions = {"en": 0.5, "es": 0.2}

    kept = stratified_sample(df, "lang", fractions).collect()
    again = stratified_sample(df.repartition(7), "lang", fractions).collect()
    assert sorted(r["doc_id"] for r in kept) == sorted(
        r["doc_id"] for r in again
    )  # stable under repartition (sampleBy with a seed is NOT)

    by_lang = {}
    for r in kept:
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + 1
    assert by_lang.get("xx", 0) == 0  # default fraction 0
    assert abs(by_lang["en"] / 1000 - 0.5) < 0.08
    assert abs(by_lang["es"] / 500 - 0.2) < 0.08

    # independent draws under different salts
    other = stratified_sample(df, "lang", fractions, salt=3).collect()
    assert sorted(r["doc_id"] for r in other) != sorted(
        r["doc_id"] for r in kept
    )


def test_pq_encode_codes_in_range_and_deterministic(spark):
    """PQ plumbing: every (vector, subspace) gets exactly one code in
    [0, k); encoding is a pure function of the data (stable under
    repartition); a codebook SEED row encodes to its own codeword in
    every subspace (its sub-slices ARE codewords -> distance 0)."""
    from inbev_data_engineering_case_spark.operators.similarity import (
        pq_encode,
        pq_sampled_codebook,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    m, k = 4, 8
    book = pq_sampled_codebook(emb, m=m, k=k)
    brows = book.collect()
    assert len(brows) == m * k
    assert {r["subspace"] for r in brows} == set(range(m))

    codes = pq_encode(emb, book, m=m, k=k).collect()
    n = emb.count()
    assert len(codes) == n * m
    assert all(0 <= r["code"] < k for r in codes)

    again = pq_encode(emb.repartition(7), book, m=m, k=k).collect()
    assert sorted(map(tuple, codes)) == sorted(map(tuple, again))

    # seed rows quantize losslessly to their own codeword
    from inbev_data_engineering_case_spark.functions import portable_hash64
    seeds = (
        emb.withColumn("_h", portable_hash64(F.col("vec_id"), seed=0xC0DE))
        .orderBy("_h", "vec_id").limit(k).collect()
    )
    seed_code = {r["vec_id"]: i for i, r in enumerate(seeds)}
    by_vec = {}
    for r in codes:
        by_vec.setdefault(r["vec_id"], {})[r["subspace"]] = r["code"]
    for vid, code in seed_code.items():
        got = by_vec[vid]
        # every subspace of a seed row re-finds its own code (or an
        # identical earlier codeword — smaller-code tie-break)
        assert all(c <= code for c in got.values())
        assert any(c == code for c in got.values()) or any(
            seeds[c]["embedding"] == seeds[code]["embedding"]
            for c in got.values()
        )


def test_pq_adc_distance_is_exact_on_codebook_rows(spark):
    """For query AND neighbor both in the seed set, PQ reconstruction is
    lossless, so adc_micro must equal the true micro squared distance —
    verifies the encode/LUT/sum path numerically end to end."""
    from inbev_data_engineering_case_spark.operators.similarity import (
        ann_pq_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    m, k = 4, 8
    from inbev_data_engineering_case_spark.functions import portable_hash64
    seeds = (
        emb.withColumn("_h", portable_hash64(F.col("vec_id"), seed=0xC0DE))
        .orderBy("_h", "vec_id").limit(k)
    )
    seed_rows = seeds.collect()
    corpus = seeds.select("vec_id", "embedding")
    out = ann_pq_topk(
        corpus, corpus, k_neighbors=k, m=m, k=k
    ).collect()

    import math

    def micro_sq(a, b):
        w = len(a) // m
        total = 0
        for s in range(m):
            d2 = math.fsum(
                (float(a[i]) - float(b[i])) ** 2
                for i in range(s * w, (s + 1) * w)
            )
            total += round(d2 * 1_000_000)
        return total

    vecs = {r["vec_id"]: r["embedding"] for r in seed_rows}
    for r in out:
        expected = micro_sq(vecs[r["query_id"]], vecs[r["neighbor_id"]])
        # fsum vs sequential fold can differ in the last micro-unit
        assert abs(r["adc_micro"] - expected) <= m


def test_ivf_pq_probing_all_cells_equals_plain_pq(spark):
    """Construction identity: with n_probe == n_centroids every corpus
    vector is a candidate for every query, so IVF-PQ must return exactly
    the plain PQ/ADC top-k (same codes, same integer LUT sums, same
    ranks). Also: with fewer probes the result set is a subset of the
    candidate relation — distances of surviving pairs are identical."""
    from inbev_data_engineering_case_spark.operators.similarity import (
        ann_ivf_pq_topk,
        ann_pq_topk,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter(F.col("vec_id") < 200)
    qs = emb.filter(F.col("vec_id") < 5)
    full = sorted(
        map(tuple, ann_pq_topk(emb, qs, k_neighbors=5, m=4, k=8).collect())
    )
    ivf_all = sorted(
        map(
            tuple,
            ann_ivf_pq_topk(
                emb, qs, k_neighbors=5, n_centroids=8, n_probe=8, m=4, k=8
            ).collect(),
        )
    )
    assert ivf_all == full

    probed = ann_ivf_pq_topk(
        emb, qs, k_neighbors=5, n_centroids=8, n_probe=2, m=4, k=8
    ).collect()
    full_d = {(r[0], r[1]): r[2] for r in full}
    all_pq = {
        (r["query_id"], r["neighbor_id"]): r["adc_micro"]
        for r in ann_pq_topk(emb, qs, k_neighbors=200, m=4, k=8).collect()
    }
    for r in probed:
        # every probed pair's ADC distance matches the full PQ distance
        assert all_pq[(r["query_id"], r["neighbor_id"])] == r["adc_micro"]


@pytest.mark.slow
def test_ann_index_roundtrip_identical_to_direct_path(spark, tmp_path):
    """ann_from_index over a build_ann_index output returns rows
    IDENTICAL to ann_ivf_pq_topk's direct compute on the same
    corpus/model — the materialized index changes where the work
    happens, never the answer (shared _ivf_pq_probe tail). The probe
    side takes m from the stored meta geometry; rebuilding publishes a
    new committed snapshot and retention prunes old generations."""
    import os

    from inbev_data_engineering_case_spark.operators.similarity import (
        ANN_INDEX_PREFIX,
        ann_from_index,
        ann_ivf_pq_topk,
        build_ann_index,
        resolve_ann_index,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter(F.col("vec_id") < 200)
    qs = emb.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "annindex")
    audit = build_ann_index(emb, idx, n_centroids=8, m=4, k=8)
    assert audit["cells_rows"] == 200  # one inverted-list row per vector
    assert audit["codes_rows"] == 200 * 4  # m codes per vector
    direct = sorted(
        map(
            tuple,
            ann_ivf_pq_topk(
                emb, qs, k_neighbors=5, n_centroids=8, n_probe=2, m=4, k=8
            ).collect(),
        )
    )
    indexed = sorted(
        map(
            tuple,
            ann_from_index(spark, idx, qs, k_neighbors=5, n_probe=2).collect(),
        )
    )
    assert indexed == direct and len(indexed) == 25
    snap1 = resolve_ann_index(idx)
    build_ann_index(emb, idx, n_centroids=8, m=4, k=8)
    build_ann_index(emb, idx, n_centroids=8, m=4, k=8)
    assert resolve_ann_index(idx) != snap1
    snaps = [
        d for d in os.listdir(idx) if d.startswith(ANN_INDEX_PREFIX)
    ]
    assert len(snaps) == 2  # retention (default 2) pruned the first


def test_mixture_sample_hits_target_composition(spark):
    """Data-mixing resampling: the achieved output composition tracks the
    target weights, the scarcest stratum binds (its rate is ~1), rates are
    pure int64 (deterministic under repartition), and unweighted strata
    are excluded."""
    from inbev_data_engineering_case_spark.operators.sample import (
        mixture_rates,
        mixture_sample,
    )

    # a: 3000 rows, b: 1000 rows (scarce), c: 2000 rows, d: unweighted
    rows = [(i, ["a", "a", "a", "b", "c", "c", "d"][i % 7]) for i in range(7000)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    target = {"a": 400_000, "b": 300_000, "c": 300_000}

    rates = {r["src"]: r for r in mixture_rates(df, "src", target).collect()}
    assert set(rates) == {"a", "b", "c"}  # d has no target -> no rate row
    # b is scarcest relative to its weight -> binding stratum, rate ~1
    # (floor arithmetic in budget and keep_n shaves <=2 ppm-grains)
    assert rates["b"]["rate_ppm"] >= 998_000
    assert rates["a"]["rate_ppm"] < 1_000_000

    kept = mixture_sample(df, "src", target, id_col="doc_id").collect()
    by = {}
    for r in kept:
        by[r["src"]] = by.get(r["src"], 0) + 1
    assert "d" not in by
    total = sum(by.values())
    # achieved composition within a few percent of target (hash noise)
    assert abs(by["a"] / total - 0.4) < 0.05
    assert abs(by["b"] / total - 0.3) < 0.05
    assert abs(by["c"] / total - 0.3) < 0.05

    again = mixture_sample(df.repartition(5), "src", target).collect()
    assert sorted(r["doc_id"] for r in again) == sorted(
        r["doc_id"] for r in kept
    )


def test_random_projection_preserves_norms_in_expectation(spark):
    """JL property: with the 1/sqrt(d_out)-scaled Rademacher matrix,
    E[||proj||^2] = ||x||^2 — the mean squared-norm ratio over the fixture
    embeddings must sit near 1; and the matrix is deterministic, so the
    projection is identical on rerun."""
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.similarity import (
        random_projection,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, v: a + v
    )
    joined = (
        random_projection(emb, d_in=64, d_out=8)
        .join(emb, "vec_id")
        .select(
            (sq(F.col("proj")) / sq(F.col("embedding").cast("array<double>"))
             ).alias("ratio")
        )
    )
    mean_ratio = joined.agg(F.avg("ratio")).first()[0]
    assert 0.8 < mean_ratio < 1.2, mean_ratio

    a = random_projection(emb, d_in=64, d_out=8).orderBy("vec_id").collect()
    b = random_projection(emb, d_in=64, d_out=8).orderBy("vec_id").collect()
    assert a == b


def test_bpe_train_and_tokenize_classic_example(spark):
    """The textbook BPE corpus: frequency-ordered merges, lexicographic
    tie-break, and a frequent word collapsing to a single token."""
    from inbev_data_engineering_case_spark.operators.bpe import (
        bpe_tokenize,
        train_bpe,
    )

    docs = spark.createDataFrame(
        [
            (1, "low low low low low"),
            (2, "lower lower newest newest"),
            (3, "newest newest newest newest widest widest"),
        ],
        "doc_id long, text string",
    )
    merges = train_bpe(docs, n_merges=6)
    # 'es' appears 8x (6 newest + 2 widest) -> first; then est, est</w>;
    # 'lo' 7x; 'low' 7x; then 'e','w' (ties broken lexicographically)
    assert merges == [
        ("e", "s"), ("es", "t"), ("est", "</w>"),
        ("l", "o"), ("lo", "w"), ("e", "w"),
    ]

    toks = {
        r["doc_id"]: r
        for r in bpe_tokenize(docs, merges).collect()
    }
    assert toks[1]["bpe_tokens"] == ["low", "</w>"] * 5
    assert toks[3]["bpe_tokens"][:3] == ["n", "ew", "est</w>"]
    assert toks[3]["n_bpe_tokens"] == 4 * 3 + 2 * 4  # newest x4, widest x2

    # early stop: merges below min_pair_count are not learned
    tiny = spark.createDataFrame([(1, "ab cd")], "doc_id long, text string")
    assert train_bpe(tiny, n_merges=5, min_pair_count=2) == []


def test_top_fraction_by_score_adaptive_threshold(spark):
    """The keep-set adapts to the data: the threshold is the corpus's own
    quantile, so shifting every score shifts the cut, not the kept ids."""
    from inbev_data_engineering_case_spark.operators.sample import (
        top_fraction_by_score,
    )

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "doc_id long, score double"
    )
    kept = sorted(
        r["doc_id"]
        for r in top_fraction_by_score(df, "score", 0.25).collect()
    )
    # 0.75-quantile of 0..99 is 74.25 -> keep 75..99
    assert kept == list(range(75, 100))

    shifted = df.selectExpr("doc_id", "score + 1000 AS score")
    kept2 = sorted(
        r["doc_id"]
        for r in top_fraction_by_score(shifted, "score", 0.25).collect()
    )
    assert kept2 == kept  # same ids survive a uniform shift

    # the sketch path keeps roughly the same fraction (exactness not
    # contractual at scale)
    approx = top_fraction_by_score(df, "score", 0.25, approx=True).count()
    assert 20 <= approx <= 30


def test_deterministic_shuffle_is_stable_permutation(spark):
    """Epoch shuffle: a total order that is a pure function of (ids, salt)
    — same permutation on rerun, different permutation per salt, every row
    exactly once."""
    from inbev_data_engineering_case_spark.operators.sample import (
        deterministic_shuffle,
    )

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    e0 = [r["doc_id"] for r in deterministic_shuffle(df, salt=0).collect()]
    e0_again = [
        r["doc_id"]
        for r in deterministic_shuffle(df.repartition(5), salt=0).collect()
    ]
    e1 = [r["doc_id"] for r in deterministic_shuffle(df, salt=1).collect()]
    assert e0 == e0_again
    assert e0 != e1 and e0 != sorted(e0)
    assert sorted(e0) == sorted(e1) == list(range(500))


def test_hash_split_deterministic_and_complete(spark):
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.curate import hash_split

    docs = spark.range(2000).withColumnRenamed("id", "doc_id")
    split = hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in
              split.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 2000  # every row assigned, no nulls
    assert 0.75 < counts["train"] / 2000 < 0.85  # hash is roughly uniform
    assert counts["val"] > 0 and counts["test"] > 0

    # deterministic: identical assignment on re-run; different under a salt
    again = {r["doc_id"]: r["split"] for r in hash_split(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    first = {r["doc_id"]: r["split"] for r in split.collect()}
    assert first == again
    other = {r["doc_id"]: r["split"] for r in hash_split(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, salt="v2").collect()}
    assert first != other


def test_pack_sequences_bin_assignment(spark):
    """Within each packer stream: bins fill in doc-id order, bin_id is
    exactly floor(tokens-before / ctx_len), and every doc lands in one
    bin."""
    from inbev_data_engineering_case_spark.operators.curate import (
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [(i, "w " * (5 + i % 7)) for i in range(300)], ["doc_id", "text"]
    )
    packed = pack_sequences(docs, ctx_len=16, n_packers=4)
    rows = sorted(
        ((r["packer"], r["doc_id"], r["bin_id"], r["n_tokens"])
         for r in packed.collect()),
    )
    assert len(rows) == 300
    by_packer: dict = {}
    for packer, doc_id, bin_id, n_tokens in rows:
        cum_before = by_packer.get(packer, 0)
        assert bin_id == cum_before // 16, (packer, doc_id)
        by_packer[packer] = cum_before + n_tokens
    assert len(by_packer) == 4  # all packer streams populated


def test_incremental_minhash_matches_batch_semantics(spark):
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.curate import (
        incremental_minhash_pairs,
    )
    from inbev_data_engineering_case_spark.operators.dedup import (
        minhash_dedup_pairs,
        minhash_signatures,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and it is a fine day "
        "for that in the sun with a friend of the family"
    )
    other = (
        "a completely different english text about the history of bridges "
        "and the people that built them in the old days of iron and stone"
    )
    corpus = spark.createDataFrame(
        [(1, base), (2, other)], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(10, base + " late arrival"), (11, other), (12, "unrelated words "
          "nothing shared here with anyone at all in any way")],
        ["doc_id", "text"],
    )

    stored = minhash_signatures(corpus)
    inc = incremental_minhash_pairs(new, stored)
    got = {(r["id_a"], r["id_b"]) for r in inc.collect()}
    # new-vs-stored hits + no stored-vs-stored pairs, no self pairs
    assert (1, 10) in got and (2, 11) in got
    assert all(b >= 10 for _, b in got)

    # parity: the same pairs a full-batch rerun over corpus+new would find,
    # restricted to pairs involving a new doc
    full = minhash_dedup_pairs(corpus.unionByName(new))
    want = {
        (r["id_a"], r["id_b"])
        for r in full.collect()
        if r["id_b"] >= 10 or r["id_a"] >= 10
    }
    assert got == want


def test_incremental_minhash_recrawl_overlap(spark):
    """A doc present in BOTH the stored signatures and the new batch must
    not emit an (x, x) self-pair, and pairs whose stored id exceeds the new
    id must come out least/greatest-canonical."""
    from inbev_data_engineering_case_spark.operators.curate import (
        incremental_minhash_pairs,
    )
    from inbev_data_engineering_case_spark.operators.dedup import (
        minhash_signatures,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and it is a fine day "
        "for that in the sun with a friend of the family"
    )
    # stored corpus has a HIGH id (20) so the stored-vs-new pair comes back
    # (5, 20) only if the canonicalization reorders it
    corpus = spark.createDataFrame([(20, base)], ["doc_id", "text"])
    new = spark.createDataFrame(
        [(20, base), (5, base + " late arrival")], ["doc_id", "text"]
    )

    inc = incremental_minhash_pairs(new, minhash_signatures(corpus))
    got = {(r["id_a"], r["id_b"]) for r in inc.collect()}
    assert all(a < b for a, b in got), f"non-canonical pair in {got}"
    assert (20, 20) not in got, "re-crawled doc paired with itself"
    # the near-dup is found exactly once despite appearing in both branches
    rows = inc.filter("id_a = 5 AND id_b = 20").collect()
    assert len(rows) == 1 and rows[0]["est_jaccard"] >= 0.5


# the hot-bucket cap every guarded dedup operator reads per call
_CAP = (
    "inbev_data_engineering_case_spark.operators.dedup."
    "DEFAULT_MAX_BUCKET_SIZE"
)


def test_hot_bucket_guard_bounds_pair_counts(spark, monkeypatch):
    """Degenerate template-heavy corpus: every doc shares one long
    boilerplate prefix + a unique tail, so (uncapped) every band bucket
    holds the whole corpus and the self-join goes quadratic. With the cap,
    hot buckets star-link to the min-id representative: pair count drops
    from O(n^2) to O(n), and component connectivity is preserved (all
    members still collapse into one duplicate group)."""
    from inbev_data_engineering_case_spark.operators.dedup import (
        dedup_components,
    )

    n = 200
    boiler = " ".join(f"w{i}" for i in range(40))
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(boiler + " tail"), F.col("id").cast("string")).alias(
            "text"
        ),
    )
    uncapped = minhash_dedup_pairs(docs).count()  # n is below the cap
    monkeypatch.setattr(_CAP, 50)
    capped_df = minhash_dedup_pairs(docs)
    capped = capped_df.count()
    assert uncapped >= n * (n - 1) // 2  # quadratic blow-up is real
    assert capped <= 2 * n  # star pairs: linear in bucket size
    # connectivity preserved: everything still collapses into one group
    comps = dedup_components(capped_df)
    assert comps.select("comp").distinct().count() == 1
    assert comps.count() == n


def test_hot_bucket_guard_is_identity_below_cap(spark, docs, monkeypatch):
    """On a corpus whose buckets all sit below the cap, the guarded and
    unguarded pipelines are row-identical — the guard only changes hot
    buckets (this also covers the driver fixtures, where the default cap
    never engages and oracle parity is exact)."""
    import sys

    rows = lambda df: sorted(map(tuple, df.collect()))
    guarded = [
        rows(minhash_dedup_pairs(docs)),
        rows(simhash_near_pairs(docs, max_hamming=6, bucket_bits=1)),
    ]
    monkeypatch.setattr(_CAP, sys.maxsize)  # no bucket can go hot
    assert guarded == [
        rows(minhash_dedup_pairs(docs)),
        rows(simhash_near_pairs(docs, max_hamming=6, bucket_bits=1)),
    ]


def test_hot_bucket_guard_simhash_star_links(spark, monkeypatch):
    """Identical texts share one SimHash bucket AND signature; with a cap
    below the group size the bucket emits exactly n-1 star pairs at
    hamming 0."""
    n = 64
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("same exact template text body for every single doc").alias(
            "text"
        ),
    )
    monkeypatch.setattr(_CAP, 10)
    pairs = simhash_near_pairs(docs, max_hamming=3, bucket_bits=4).collect()
    assert len(pairs) == n - 1
    assert all(r["id_a"] == 0 and r["hamming"] == 0 for r in pairs)


@pytest.mark.slow
def test_batched_bpe_cuts_rounds_and_stays_valid(spark):
    """Batched BPE learns K pairwise-disjoint merges per Spark round:
    same merge budget in >=5x fewer (count + apply) cycles, deterministic
    across re-runs, batch members mutually disjoint, and batch_size=1
    reduces exactly to the classic sequential algorithm."""
    from inbev_data_engineering_case_spark.operators.bpe import (
        train_bpe,
        train_bpe_with_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "low low low low low"),
            (2, "lower lower newest newest"),
            (3, "newest newest newest newest widest widest"),
            (4, "bright brighter brightest brightly brighten"),
        ],
        "doc_id long, text string",
    )

    seq_merges, seq_rounds = train_bpe_with_stats(docs, n_merges=10)
    bat_merges, bat_rounds = train_bpe_with_stats(
        docs, n_merges=10, batch_size=5
    )
    assert seq_rounds == 10 and bat_rounds == 2  # 5x fewer Spark cycles
    assert len(bat_merges) == 10
    assert bat_merges == train_bpe(docs, n_merges=10, batch_size=5)  # det.

    # within each round's batch, no pair consumes an earlier pair's
    # operand (right==earlier-left / left==earlier-right) or uses a
    # symbol minted this round — the count-invariance admission rule
    for start in (0, 5):
        lefts, rights, minted = set(), set(), set()
        for left, right in bat_merges[start : start + 5]:
            assert right not in lefts and left not in rights
            assert left not in minted and right not in minted
            lefts.add(left)
            rights.add(right)
            minted.add(left + right)

    # batch_size=1 IS classic BPE
    assert train_bpe(docs, n_merges=6, batch_size=1) == train_bpe(
        docs, n_merges=6
    )


def test_bpe_tokenize_cache_cap_preserves_output(spark):
    """A tiny LRU cap must not change tokenization — only bound memory."""
    from inbev_data_engineering_case_spark.operators.bpe import (
        bpe_tokenize,
        train_bpe,
    )

    docs = spark.createDataFrame(
        [(i, f"newest widest lowest token{i} alpha beta") for i in range(20)],
        "doc_id long, text string",
    )
    merges = train_bpe(docs, n_merges=6)
    big = {r["doc_id"]: r["bpe_tokens"]
           for r in bpe_tokenize(docs, merges).collect()}
    tiny = {r["doc_id"]: r["bpe_tokens"]
            for r in bpe_tokenize(docs, merges, cache_size=2).collect()}
    assert big == tiny


def _make_pnm(pixels) -> bytes:
    """Binary P6 PNM from an (h, w, 3) uint8 RGB array."""
    h, w, _ = pixels.shape
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.tobytes()


def test_image_dhash_perceptual_near_dup(spark):
    """dHash perceptual near-dup: the SAME picture at a different
    resolution (2x nearest upsample) hashes identically (hamming 0); a
    slightly-edited copy lands within the hamming radius; an unrelated
    image does not pair; undecodable payloads (a non-PNM image, a PNM
    with a truncated raster or a malformed header, including a non-space
    byte after maxval) dead-letter."""
    import numpy as np

    from inbev_data_engineering_case_spark.operators.multimodal import (
        _dhash64,
        image_dhash,
        image_near_dup_pairs,
    )

    rng = np.random.RandomState(7)
    base = rng.randint(0, 256, size=(16, 18, 3)).astype("uint8")
    up = np.kron(base, np.ones((2, 2, 1))).astype("uint8")  # 2x upsample
    assert _dhash64(base) == _dhash64(up)

    edited = base.copy()
    edited[0, 0] = [255, 255, 255]  # tiny edit -> small hamming
    other = rng.randint(0, 256, size=(16, 18, 3)).astype("uint8")

    ppm = "image/x-portable-pixmap"
    assets = spark.createDataFrame(
        [
            (1, ppm, bytearray(_make_pnm(base))),
            (2, ppm, bytearray(_make_pnm(up))),
            (3, ppm, bytearray(_make_pnm(edited))),
            (4, ppm, bytearray(_make_pnm(other))),
            (5, "image/jpeg", bytearray(b"\xff\xd8\xff junk")),
            (6, ppm, bytearray(_make_pnm(base)[:-1])),
            (7, ppm, bytearray(b"P6\n18 x16\n255\n" + base.tobytes())),
            # maxval must be followed by exactly one whitespace byte
            (8, "image/x-portable-graymap", bytearray(b"P5 2 1 255X\x01\x02")),
        ],
        "asset_id long, media_type string, payload binary",
    )
    hashes = {r["asset_id"]: r for r in image_dhash(assets).collect()}
    assert hashes[1]["dhash"] == hashes[2]["dhash"]
    assert hashes[5]["decode_ok"] is False
    assert "NotImplementedError" in hashes[5]["error"]
    assert hashes[6]["decode_ok"] is False
    assert "PNM raster truncated" in hashes[6]["error"]
    for i in (7, 8):
        assert hashes[i]["decode_ok"] is False
        assert "malformed PNM header" in hashes[i]["error"]
    assert all(hashes[i]["dhash"] is None for i in (5, 6, 7, 8))

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in image_near_dup_pairs(
            assets, max_hamming=6, bucket_bits=4
        ).collect()
    }
    assert pairs.get((1, 2)) == 0  # resolution-invariant exact match
    assert (1, 3) in pairs and pairs[(1, 3)] <= 6  # edited copy found
    assert not any(4 in p for p in pairs)  # unrelated image stays out


def test_bigram_lm_scores_typical_text_higher(spark):
    """Perplexity-filter semantics: a document made of the corpus's
    dominant bigrams scores a higher avg logprob than one of unique
    gibberish; one-token docs get no row; the integer sum path is
    deterministic under repartition."""
    from inbev_data_engineering_case_spark.operators.relevance import (
        bigram_lm_scores,
    )

    common = "the cat sat on the mat"
    docs = spark.createDataFrame(
        [(i, common) for i in range(5)]
        + [(10, "zq xv jk wp lm qn"), (11, "solo")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in bigram_lm_scores(docs).collect()}
    assert 11 not in rows  # no bigram
    assert rows[0]["n_bigrams"] == 5
    assert rows[0]["avg_logprob"] > rows[10]["avg_logprob"]

    again = {
        r["doc_id"]: r["sum_lp_micro"]
        for r in bigram_lm_scores(docs.repartition(7)).collect()
    }
    assert again == {k: v["sum_lp_micro"] for k, v in rows.items()}


def test_weighted_sample_scales_with_weight(spark):
    """A-ES properties: heavier rows are overrepresented, no row repeats,
    zero/NULL weights never draw, and the subset is deterministic."""
    from inbev_data_engineering_case_spark.operators.sample import (
        weighted_sample,
    )

    rows = (
        [(i, 10.0) for i in range(500)]           # heavy: weight 10
        + [(1000 + i, 1.0) for i in range(500)]   # light: weight 1
        + [(9001, 0.0), (9002, None)]             # never drawn
    )
    df = spark.createDataFrame(rows, "doc_id long, w double")
    picked = weighted_sample(df, 300, "w").collect()
    ids = [r["doc_id"] for r in picked]
    assert len(ids) == len(set(ids)) == 300  # without replacement
    assert 9001 not in ids and 9002 not in ids
    heavy = sum(1 for i in ids if i < 500)
    # E[heavy] ~ 272 of 300 (weight ratio 10:1); even a loose bound
    # separates it decisively from unweighted (~150)
    assert heavy > 200, heavy
    # deterministic: same data -> same subset; new salt -> new subset
    again = [r["doc_id"] for r in weighted_sample(df, 300, "w").collect()]
    assert again == ids
    other = [
        r["doc_id"] for r in weighted_sample(df, 300, "w", salt=1).collect()
    ]
    assert other != ids


def test_weighted_sample_excludes_null_ids(spark):
    from inbev_data_engineering_case_spark.operators.sample import (
        weighted_sample,
    )

    df = spark.createDataFrame(
        [(1, 5.0), (None, 99.0), (2, 5.0)], "doc_id long, w double"
    )
    ids = [r["doc_id"] for r in weighted_sample(df, 3, "w").collect()]
    assert ids and None not in ids


def test_curation_report_matches_pipeline_cardinalities(spark):
    """The report's funnel counts are the pipeline's own intermediate
    cardinalities: monotone non-increasing, and the final row equals
    curate_corpus's output size on the same corpus."""
    from inbev_data_engineering_case_spark.operators.curate import (
        curate_corpus,
        curation_report,
    )

    en = (
        "the quick brown fox jumps over the lazy dog and it is a fine day "
        "for that in the sun with a friend of the family"
    )
    rows = [
        (1, en),
        (2, en),                            # exact dup
        (3, en + " extra tail words"),      # near dup
        (4, "el que la de y en un una por con el que la de y en un por"),
        (5, "x! y? z. a; b: c, d! e? f."),  # junk
        (6, "a completely different english text about the history of "
            "bridges and the people that built them in the old days"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    report = {
        r["stage"]: r["survivors"]
        for r in curation_report(docs).collect()
    }
    assert report["input"] == 6
    # doc 4 (Spanish) and doc 5 (no stopwords -> lang 'und') both fall
    # at the language gate; nothing else falls at quality here
    assert report["lang"] == 4
    assert report["quality"] == 4
    assert report["exact_dedup"] == 3  # doc 2 out
    assert report["near_dedup"] == 2   # doc 3 out
    counts = [report[s] for s in
              ("input", "lang", "quality", "exact_dedup", "near_dedup")]
    assert counts == sorted(counts, reverse=True)
    assert report["near_dedup"] == curate_corpus(docs).count()


@pytest.mark.slow
def test_curation_report_surfaces_decontamination_and_halo(spark):
    """The decontamination stages are funnel rows (r12 VERDICT ask —
    a halo run's contamination drop must be visible to the
    day-over-day alarm): with a benchmark, a 'decontaminate' row lands
    at the direct drop's spot and the final row equals
    curate_corpus(benchmark=...); with halo_hops, the drop defers past
    the dedup chain (no mid-funnel row) and a final 'halo' row equals
    curate_corpus(benchmark=..., halo_hops=...) — including the
    contaminated-by-association representative only the halo drops.
    halo_hops without benchmark raises, same as the pipeline. A
    collapse in the halo stage trips curation_drift like any other
    stage (the alarm keys on stage names, so the new row is armed for
    free)."""
    import datetime

    import pytest

    from inbev_data_engineering_case_spark.operators.curate import (
        curate_corpus,
        curation_drift,
        curation_report,
    )

    bench_text = (
        "this exact benchmark passage with its very specific wording "
        "must never appear inside any document of the training corpus"
    )
    bench = spark.createDataFrame([(bench_text,)], "text string")
    docs = spark.createDataFrame(
        [
            # 1 and 2 directly flagged (verbatim + tail paraphrase)
            (1, bench_text),
            (2, bench_text + " with a small harmless tail added"),
            (3, "an entirely clean document about the weather and the "
                "mountains where the hikers rest by the little stream"),
            # 5 clean, kept as cluster rep; 6 contaminated near-dup of
            # 5 (higher id, dropped by dedup) — plain decontamination
            # never drops 5, only the halo does (1 hop via the pair)
            (5, "a long and ordinary english report on the harvest and "
                "the carts that the farmers drive to the market today"),
            (6, "a long and ordinary english report on the harvest and "
                "the carts that the farmers drive to the market today "
                + bench_text),
        ],
        "doc_id long, text string",
    )

    with pytest.raises(ValueError, match="requires benchmark"):
        curation_report(docs, halo_hops=2)

    plain = {
        r["stage"]: r["survivors"]
        for r in curation_report(docs, min_quality=0.0, benchmark=bench).collect()
    }
    assert "decontaminate" in plain and "halo" not in plain
    assert plain["decontaminate"] == 2  # docs 1, 2, 6 directly flagged
    assert plain["near_dedup"] == curate_corpus(
        docs, min_quality=0.0, benchmark=bench
    ).count()

    halo = {
        r["stage"]: r["survivors"]
        for r in curation_report(
            docs, min_quality=0.0, benchmark=bench, halo_hops=2
        ).collect()
    }
    assert "decontaminate" not in halo  # the drop is deferred
    want_kept = curate_corpus(
        docs, min_quality=0.0, benchmark=bench, halo_hops=2
    )
    assert halo["halo"] == want_kept.count() == 1
    assert {r["doc_id"] for r in want_kept.collect()} == {3}
    # positional indices stay contiguous in both shapes
    for rep in (plain, halo):
        assert len(rep) == 6
    # the halo row arms the drift alarm: a stable halo series with a
    # day-15 collapse flags exactly that (stage, day)
    d0 = datetime.date(2024, 3, 1)
    rows = []
    for i in range(15):
        rows.append((d0 + datetime.timedelta(days=i), "halo", 900 + i % 2))
    rows.append((d0 + datetime.timedelta(days=15), "halo", 90))
    out = curation_drift(
        spark.createDataFrame(rows, "day date, stage string, survivors long"),
        window_days=12,
    ).collect()
    flagged = [r for r in out if r["is_drift"]]
    assert len(flagged) == 1 and flagged[0]["stage"] == "halo"
    assert flagged[0]["day"] == d0 + datetime.timedelta(days=15)


def test_curation_drift_flags_injected_collapse(spark):
    """Known-answer drift alarm: 15 days of stable per-stage funnel
    counts with small jitter, then day 15's quality stage collapses —
    exactly that (stage, day) flags, nothing else does, warm-up days
    emit no rows, and a zero-variance stage never scores."""
    import datetime

    from inbev_data_engineering_case_spark.operators.curate import (
        curation_drift,
    )

    d0 = datetime.date(2024, 3, 1)
    rows = []
    for i in range(15):
        day = d0 + datetime.timedelta(days=i)
        rows.append((day, "input", 5000))            # constant: never scores
        rows.append((day, "quality", 1000 + i % 3))  # jittered baseline
    rows.append((d0 + datetime.timedelta(days=15), "input", 5000))
    rows.append((d0 + datetime.timedelta(days=15), "quality", 300))  # crash
    history = spark.createDataFrame(
        rows, "day date, stage string, survivors long"
    )

    out = curation_drift(history, window_days=12).collect()
    # only full 12-day windows score: days 0-10 are warm-up
    assert len(out) == 2 * (16 - 11)
    flagged = [r for r in out if r["is_drift"]]
    assert len(flagged) == 1
    assert flagged[0]["stage"] == "quality"
    assert flagged[0]["day"] == d0 + datetime.timedelta(days=15)
    assert flagged[0]["survivors"] == 300
    assert flagged[0]["z_e4"] < -30000  # a collapse, not a spike
    # the constant stage has zero variance -> no score, no flag
    assert all(
        r["z_e4"] is None and not r["is_drift"]
        for r in out
        if r["stage"] == "input"
    )


def test_bm25_ranks_rare_term_and_length_norm(spark):
    """BM25 semantics: a doc matching the RARE query term outranks docs
    matching only the common one (idf), and between two docs with the
    same tf for the same term, the shorter one ranks higher (length
    normalization). Scores are int64 micro-units; ranks tie-break on
    doc_id."""
    import pytest as _pytest

    from inbev_data_engineering_case_spark.operators.relevance import (
        bm25_topk,
    )

    common = "the data table holds data rows"
    rows = [
        (1, "zebra " + common),                 # rare term + common
        (2, common + " " + common),             # common terms only
        (4, "nothing relevant here at all"),    # no match -> absent
        # identical tf profile (zebra:1, data:1), different lengths:
        (6, "zebra data pad pad pad pad pad pad pad pad"),
        (7, "zebra data"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in bm25_topk(docs, ["zebra", "data"], k=10).collect()
    }
    assert 4 not in out
    assert out[1]["n_terms_matched"] == 2
    # rare-term docs beat the common-only doc
    assert out[1]["rnk"] < out[2]["rnk"] and out[7]["rnk"] < out[2]["rnk"]
    # same tf profile: the shorter doc wins on length normalization
    assert out[7]["score_micro"] > out[6]["score_micro"]
    with _pytest.raises(ValueError, match="empty"):
        bm25_topk(docs, [])


def test_heavy_hitters_exact_counts_and_threshold(spark):
    """Sample-then-verify heavy hitters: an item above phi is reported
    with its EXACT count and integer-ppm share; items below phi are
    absent even when sampled; results are deterministic across runs."""
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.quality import (
        heavy_hitters,
    )

    # 400 rows across carrier ids 0..199: 'hot' 200x (50% of the
    # stream), 'warm' 58x (14.5%), 'cold' 2x (0.5%), fillers for the rest
    rows = [(i, "hot") for i in range(200)]
    rows += [(i % 200, "warm") for i in range(58)]
    rows += [(i, "cold") for i in range(2)]
    rows += [(i % 200, "filler%d" % (i % 97)) for i in range(140)]
    df = spark.createDataFrame(rows, ["doc_id", "term"])
    n = df.count()
    assert n == 400

    out = {
        r["item"]: r
        for r in heavy_hitters(
            df, "term", "doc_id", phi_ppm=50_000, sample_ppm=500_000
        ).collect()
    }
    assert set(out) == {"hot", "warm"}
    assert out["hot"]["cnt"] == 200  # exact, not estimated
    assert out["warm"]["cnt"] == 58
    assert out["hot"]["share_ppm"] == 200 * 1_000_000 // n
    # determinism: the hash-Bernoulli sample is a pure function of ids
    again = {
        r["item"]: r["cnt"]
        for r in heavy_hitters(
            df, "term", "doc_id", phi_ppm=50_000, sample_ppm=500_000
        ).collect()
    }
    assert again == {k: v["cnt"] for k, v in out.items()}


def test_pmi_collocations_finds_planted_pair(spark):
    """A planted collocation ('san francisco': the pair always co-occurs)
    tops the PMI ranking over independent filler pairs; pairs under the
    min-count floor never appear."""
    from inbev_data_engineering_case_spark.operators.relevance import (
        pmi_collocations,
    )

    filler = "the of and to in for on at by from"
    rows = []
    for i in range(20):
        rows.append((i, f"san francisco {filler}"))
    rows.append((100, "rare pair " + filler))  # below min_count=5
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pmi_collocations(docs, k=5, min_count=5).collect()
    top = out[0]
    assert (top["w1"], top["w2"]) == ("san", "francisco")
    assert top["pair_count"] == 20 and top["rnk"] == 1
    assert all((r["w1"], r["w2"]) != ("rare", "pair") for r in out)
    # PMI of the always-together pair beats any filler transition
    assert top["pmi_micro"] > out[1]["pmi_micro"]


def test_rrf_fuse_rewards_agreement_with_exact_micro_scores(spark):
    """A document ranked 2nd+3rd in two lists outscores the leaders of
    either single list (1e6//62 + 1e6//63 > 1e6//61), scores are exact
    floor-division micro-units, and ties break on the id."""
    from inbev_data_engineering_case_spark.operators.relevance import (
        rrf_fuse,
    )

    lex = spark.createDataFrame(
        [(10, 1), (7, 2), (3, 3)], "doc_id long, rnk long"
    )
    sem = spark.createDataFrame(
        [(20, 1), (7, 2), (10, 4)], "doc_id long, rnk long"
    )
    out = {r["doc_id"]: r for r in rrf_fuse([lex, sem], topk=10).collect()}
    assert out[7]["rrf_micro"] == 1_000_000 // 62 + 1_000_000 // 62
    assert out[10]["rrf_micro"] == 1_000_000 // 61 + 1_000_000 // 64
    assert out[20]["rrf_micro"] == 1_000_000 // 61
    assert out[3]["rrf_micro"] == 1_000_000 // 63
    assert out[7]["n_lists"] == 2 and out[20]["n_lists"] == 1
    # 7 (32258) > 10 (32016) > 20 (16393) > 3 (15873)
    assert [r["doc_id"] for r in sorted(
        out.values(), key=lambda r: r["rnk"])] == [7, 10, 20, 3]
    import pytest

    with pytest.raises(ValueError):
        rrf_fuse([])


def test_hard_negatives_excludes_same_label_and_null_labels(spark):
    """The nearest neighbor overall shares the query's label and must
    NOT appear; the mined hard negative is the closest CROSS-label
    vector; NULL-label vectors are excluded from both sides."""
    from inbev_data_engineering_case_spark.operators.similarity import (
        hard_negatives,
    )

    rows = [
        (0, [1.0, 0.0], 1),     # query, label 1
        (1, [0.99, 0.14], 1),   # nearest overall — same label, excluded
        (2, [0.9, 0.44], 2),    # closest cross-label -> the hard negative
        (3, [0.0, 1.0], 2),     # far cross-label
        (4, [1.0, 0.01], None), # nearer than 2 but unlabeled, excluded
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = hard_negatives(
        emb, emb.filter("vec_id = 0"), k=2
    ).collect()
    assert [(r["neighbor_id"], r["rank"]) for r in got] == [(2, 1), (3, 2)]
    assert all(r["neighbor_label"] == 2 for r in got)
    # a NULL-label QUERY mines nothing
    assert (
        hard_negatives(emb, emb.filter("vec_id = 4"), k=2).count() == 0
    )


def test_rrf_fuse_null_and_invalid_ranks(spark):
    """NULL ranks drop before the union (the doc is 'not in that list'
    — n_lists excludes it); a rank < 1 is a caller bug and fails
    loudly rather than corrupting the reciprocal term."""
    import pytest

    from inbev_data_engineering_case_spark.operators.relevance import (
        rrf_fuse,
    )

    withnull = spark.createDataFrame(
        [(1, None), (2, 1)], "doc_id long, rnk long"
    )
    out = rrf_fuse([withnull]).collect()
    assert [(r["doc_id"], r["n_lists"]) for r in out] == [(2, 1)]
    bad = spark.createDataFrame([(1, 0)], "doc_id long, rnk long")
    with pytest.raises(Exception, match="must be >= 1"):
        rrf_fuse([bad]).collect()


def test_rrf_fuse_dedups_duplicate_doc_within_one_list(spark):
    """A retriever list carrying the same doc twice (e.g. one row per
    matched term) contributes exactly ONE membership at its BEST
    (minimum) rank — n_lists never inflates past len(rankings) and the
    doc never collects two reciprocal terms from one list."""
    from inbev_data_engineering_case_spark.operators.relevance import (
        rrf_fuse,
    )

    dup = spark.createDataFrame(
        [(7, 2), (7, 5), (3, 1)], "doc_id long, rnk long"
    )
    other = spark.createDataFrame([(7, 1)], "doc_id long, rnk long")
    out = {r["doc_id"]: r for r in rrf_fuse([dup, other], topk=10).collect()}
    assert out[7]["n_lists"] == 2  # once per list, not once per row
    assert out[7]["rrf_micro"] == 1_000_000 // 62 + 1_000_000 // 61
    assert out[3]["n_lists"] == 1


def test_bm25_index_roundtrip_identical_to_scan_path(spark, tmp_path):
    """bm25_from_index over a build_text_index output returns rows
    IDENTICAL to bm25_topk's one-pass scan on the same corpus — the
    materialized index changes where the work happens, never the
    answer. The index build's audit counts match the corpus shape."""
    from inbev_data_engineering_case_spark.operators.relevance import (
        bm25_from_index,
        bm25_topk,
        build_text_index,
    )

    docs = spark.createDataFrame(
        [
            (0, "spark shuffles data across the cluster"),
            (1, "spark spark spark tuning"),
            (2, "a zebra walked into the cluster"),
            (3, "unrelated text entirely"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "index")
    audit = build_text_index(docs, idx)
    assert audit["doclen_rows"] == 4
    # pinned expected value: 6 + 2 + 6 + 3 distinct (doc, term) pairs —
    # a regrouping regression changes this, a re-read of the same file
    # would not
    assert audit["tf_rows"] == 17
    key = lambda r: tuple(r)  # noqa: E731
    scan = sorted(map(key, bm25_topk(docs, ["spark", "zebra"], k=4).collect()))
    indexed = sorted(
        map(key, bm25_from_index(spark, idx, ["spark", "zebra"], k=4).collect())
    )
    assert scan == indexed and len(scan) == 3  # doc 3 matches nothing


def test_text_index_publishes_atomically_and_prunes(spark, tmp_path):
    """Each build publishes ONE committed snapshot (tf/doclen/stats
    together behind a single rename): a reader can never see
    mixed-generation tables. A crashed build's staging leftovers are
    invisible to resolution, and retention caps snapshot accumulation
    across rebuilds."""
    import os

    from inbev_data_engineering_case_spark.operators.relevance import (
        TEXT_INDEX_PREFIX,
        build_text_index,
        resolve_text_index,
    )

    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "beta gamma")], "doc_id long, text string"
    )
    idx = str(tmp_path / "index")
    build_text_index(docs, idx)
    snap1 = resolve_text_index(idx)
    assert os.path.basename(snap1) == f"{TEXT_INDEX_PREFIX}_000000000001"
    for table in ("tf", "doclen", "stats"):
        assert os.path.isdir(os.path.join(snap1, table))
    # a torn build = staging dir with no commit; resolution ignores it
    os.makedirs(
        os.path.join(idx, f".staging_{TEXT_INDEX_PREFIX}_999_dead/tf")
    )
    assert resolve_text_index(idx) == snap1
    # rebuilds advance the snapshot; retention (default 2) prunes
    build_text_index(docs, idx)
    build_text_index(docs, idx)
    snaps = sorted(
        d for d in os.listdir(idx) if d.startswith(TEXT_INDEX_PREFIX)
    )
    assert snaps == [
        f"{TEXT_INDEX_PREFIX}_000000000002",
        f"{TEXT_INDEX_PREFIX}_000000000003",
    ]


def test_text_index_term_clustering_gives_disjoint_file_spans(
    spark, tmp_path
):
    """cluster_by_term=N writes the tf table as N term-range files with
    DISJOINT per-file term spans — parquet min/max stats then prune
    whole files under the pushed term filter (the physical form of
    'bucket the index by term at scale'). Results are identical to the
    unclustered build."""
    import os

    from inbev_data_engineering_case_spark.operators.relevance import (
        bm25_from_index,
        build_text_index,
        resolve_text_index,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    idx = str(tmp_path / "clustered")
    build_text_index(docs, idx, cluster_by_term=8)
    snap = resolve_text_index(idx)
    tf_dir = os.path.join(snap, "tf")
    spans = sorted(
        spark.read.parquet(os.path.join(tf_dir, f))
        .selectExpr("min(term)", "max(term)")
        .first()
        for f in os.listdir(tf_dir)
        if f.endswith(".parquet")
    )
    assert len(spans) == 8
    assert all(
        prev_hi <= lo for (_, prev_hi), (lo, _) in zip(spans, spans[1:])
    )
    plain = str(tmp_path / "plain")
    build_text_index(docs, plain)
    key = lambda r: tuple(r)  # noqa: E731
    assert sorted(
        map(key, bm25_from_index(spark, idx, ["data", "the"], k=10).collect())
    ) == sorted(
        map(
            key,
            bm25_from_index(spark, plain, ["data", "the"], k=10).collect(),
        )
    )


def test_text_index_refuses_unindexable_documents(spark, tmp_path):
    """A NULL-text document produces no tf/doclen rows; silently
    excluding it would shift N (and every idf) away from the scan path
    and the shared oracle, so the build FAILS LOUDLY inside the stats
    job instead — nothing publishes, and the caller is told to filter."""
    import pytest as _pytest

    from inbev_data_engineering_case_spark.operators.relevance import (
        build_text_index,
        resolve_text_index,
    )

    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, None)], "doc_id long, text string"
    )
    idx = str(tmp_path / "index")
    with _pytest.raises(Exception, match="produced no index rows"):
        build_text_index(docs, idx)
    with _pytest.raises(FileNotFoundError):
        resolve_text_index(idx)  # the torn build never published
    # the filtered build publishes
    build_text_index(docs.filter("text is not null"), idx)
    resolve_text_index(idx)
    # duplicate ids get their OWN diagnosis (their term counts would
    # merge into one corrupted tf entry) — never blamed on NULL text
    dup = spark.createDataFrame(
        [(5, "alpha"), (5, "alpha")], "doc_id long, text string"
    )
    with _pytest.raises(Exception, match="duplicate doc id"):
        build_text_index(dup, str(tmp_path / "dupidx"))


def test_rrf_fuse_order_invariant_and_monotone(spark):
    """Fusion is invariant under list-order permutation (integer sums
    commute), and adding a list can only raise a document's score."""
    from inbev_data_engineering_case_spark.operators.relevance import (
        rrf_fuse,
    )

    a = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rnk long")
    b = spark.createDataFrame([(2, 1), (3, 2)], "doc_id long, rnk long")
    c = spark.createDataFrame([(1, 3)], "doc_id long, rnk long")
    key = lambda r: tuple(r)  # noqa: E731
    fwd = sorted(map(key, rrf_fuse([a, b, c]).collect()))
    rev = sorted(map(key, rrf_fuse([c, b, a]).collect()))
    assert fwd == rev
    two = {r["doc_id"]: r["rrf_micro"] for r in rrf_fuse([a, b]).collect()}
    three = {
        r["doc_id"]: r["rrf_micro"] for r in rrf_fuse([a, b, c]).collect()
    }
    assert all(three[d] >= s for d, s in two.items())
    assert three[1] > two[1]  # doc 1 gained from list c


def test_cap_per_source_keeps_best_and_presalt_is_identity(spark):
    """Domain caps: exactly max_docs survive per source, and the
    survivors are the HIGHEST-quality ones with a deterministic
    boundary."""
    from inbev_data_engineering_case_spark.operators.sample import (
        cap_per_source,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "source", "text")
    kept = cap_per_source(docs, max_docs=5).collect()
    by_src = {}
    for r in kept:
        by_src.setdefault(r["source"], []).append(r)
    n_sources = docs.select("source").distinct().count()
    assert len(by_src) == n_sources
    assert all(len(v) == 5 for v in by_src.values())
    assert all(
        sorted(r["src_rank"] for r in v) == [1, 2, 3, 4, 5]
        for v in by_src.values()
    )
    # survivors really are the per-source top-5 by (quality desc, id)
    one_src = kept[0]["source"]
    from inbev_data_engineering_case_spark.operators.textops import (
        quality_score,
    )

    ranked = (
        docs.filter(F.col("source") == one_src)
        .select(
            "doc_id", F.round(quality_score("text"), 6).alias("q")
        )
        .collect()
    )
    want_ids = [
        r["doc_id"]
        for r in sorted(ranked, key=lambda r: (-r["q"], r["doc_id"]))[:5]
    ]
    got_ids = [
        r["doc_id"]
        for r in sorted(by_src[one_src], key=lambda r: r["src_rank"])
    ]
    assert got_ids == want_ids
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_docs"):
        cap_per_source(docs, max_docs=0)


def test_distribution_drift_flags_shift_and_zeroes_identity(spark):
    """Known answers: an identical sample pair gaps 0 ppm at every probe
    point; a +1 location shift of a uniform sample shows a large max
    gap (the KS signal); NULL values are excluded from numerator and
    denominator consistently; probe points are the reference quantiles
    in order."""
    from inbev_data_engineering_case_spark.operators.quality import (
        distribution_drift,
    )

    ref = spark.createDataFrame(
        [(float(i),) for i in range(100)] + [(None,)], "value double"
    )
    same = distribution_drift(ref, ref, "value", n_cuts=7).collect()
    assert len(same) == 7
    assert all(r["gap_ppm"] == 0 for r in same)
    assert [r["cut_idx"] for r in same] == list(range(1, 8))
    assert all(
        a["cut_value"] < b["cut_value"] for a, b in zip(same, same[1:])
    )
    # ref CDF at the i/8 quantile probe is ~i/8 of the non-NULL rows
    assert same[3]["ref_cdf_ppm"] == 500_000  # median probe: 50/100

    shifted = spark.createDataFrame(
        [(float(i) + 50.0,) for i in range(100)], "value double"
    )
    drift = distribution_drift(ref, shifted, "value", n_cuts=7).collect()
    # at the ref median (49.5): ref CDF 0.5, shifted CDF 0 -> gap 500000
    assert max(r["gap_ppm"] for r in drift) == 500_000
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_cuts"):
        distribution_drift(ref, ref, "value", n_cuts=0)
    # an empty/all-NULL sample IS the drift event — fail loudly, never
    # report a NULL/zero gap that reads as "no drift"
    empty = spark.createDataFrame([(None,)], "value double")
    with _pytest.raises(Exception, match="no non-NULL values"):
        distribution_drift(ref, empty, "value", n_cuts=3).collect()
    with _pytest.raises(Exception, match="no non-NULL values"):
        distribution_drift(empty, ref, "value", n_cuts=3).collect()


def test_containment_pairs_catches_quote_inclusion_jaccard_misses(spark):
    """A 6-word fragment quoted inside a 40-word page: Jaccard ≈ 2/37
    (far below any near-dup threshold) but containment(fragment in
    page) = 1.0 — the directed pair surfaces, the reverse direction
    does not; near-identical docs pair BOTH ways; a doc below n words
    has no grams and never pairs; corpus-hot grams are excluded from
    numerator and denominator consistently."""
    from inbev_data_engineering_case_spark.operators.dedup import (
        containment_pairs,
    )

    page_words = [f"w{i}" for i in range(40)]
    fragment = " ".join(page_words[10:16])  # 6 words inside the page
    docs = [
        (1, " ".join(page_words)),
        (2, fragment),
        (3, " ".join(page_words) + " tail"),  # near-identical to 1
        (4, "too few words"),  # < 5 words -> no grams
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        (r["contained_id"], r["container_id"]): r
        for r in containment_pairs(
            df, n=5, threshold_ppm=800_000, max_gram_df=None
        ).collect()
    }
    # fragment (2 five-grams) fully contained in page 1 and in page 3
    assert out[(2, 1)]["containment_ppm"] == 1_000_000
    assert out[(2, 1)]["n_shared"] == 2 and out[(2, 1)]["n_grams"] == 2
    assert out[(2, 3)]["containment_ppm"] == 1_000_000
    # the page is NOT contained in the fragment (2/36 grams)
    assert (1, 2) not in out
    # near-identical pages pair in BOTH directions
    assert out[(1, 3)]["containment_ppm"] == 1_000_000  # 36/36
    assert out[(3, 1)]["containment_ppm"] >= 900_000  # 36/37
    # the short doc never appears on either side
    assert not any(4 in k for k in out)
    # hot-gram exclusion: with max_gram_df=1 every shared gram is hot
    # (df >= 2), so no pair survives — exclusion hits both sides
    assert (
        containment_pairs(df, n=5, threshold_ppm=1, max_gram_df=1).count()
        == 0
    )


def test_dedup_spans_drops_planted_boilerplate_and_preserves_case(spark):
    """A 4-token span shared verbatim by 5 docs (case differing — the
    match is case-folded) is dropped everywhere; unique spans keep
    their original case and order; an all-boilerplate doc rebuilds to
    ''; counts account for every span."""
    from inbev_data_engineering_case_spark.operators.dedup import (
        dedup_spans,
    )

    boiler = "subscribe to our newsletter"
    docs = [(i, f"{boiler} Unique{i} content here now") for i in range(4)]
    docs.append((4, boiler.upper()))  # all-boilerplate, case differs
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in dedup_spans(df, span_tokens=4, max_docs=3).collect()
    }
    assert len(out) == 5
    for i in range(4):
        assert out[i]["text_clean"] == f"Unique{i} content here now"
        assert (out[i]["n_spans"], out[i]["n_dropped"]) == (2, 1)
    assert out[4]["text_clean"] == ""
    assert (out[4]["n_spans"], out[4]["n_dropped"]) == (1, 1)
    # below the threshold nothing drops
    few = spark.createDataFrame(docs[:3], "doc_id long, text string")
    assert (
        dedup_spans(few, span_tokens=4, max_docs=3)
        .filter("n_dropped > 0")
        .count()
        == 0
    )


def test_dedup_spans_zero_length_token_array_cannot_step_negative(spark):
    """The span-index sequence is guarded: a 0-length token array must
    yield ZERO spans, matching the oracle twin's range(0). Unguarded,
    Spark's sequence(0, -1) auto-steps downward and fabricates two
    phantom spans — unreachable through tokens() today (split(trim(x))
    always yields >= 1 element) but pinned here at the expression level
    so the guard can't be dropped silently."""
    k = 4
    guarded = spark.sql(
        "SELECT case when size(_toks) >= 1 then "
        f"transform(sequence(0, cast(ceil(size(_toks) / {k}.0) as int) - 1), "
        "i -> i) else array() end AS spans "
        "FROM (SELECT cast(array() as array<string>) AS _toks)"
    ).collect()
    assert guarded[0]["spans"] == []
    # the failure mode the guard exists for, pinned: without it the
    # sequence steps DOWNWARD and fabricates phantom span indices
    unguarded = spark.sql(
        "SELECT sequence(0, cast(ceil(size(_toks) / 4.0) as int) - 1) AS s "
        "FROM (SELECT cast(array() as array<string>) AS _toks)"
    ).collect()
    assert unguarded[0]["s"] == [0, -1]
    # the normal path is unchanged: empty STRING text tokenizes to ['']
    # (one empty token -> one span), never to a 0-length array
    from inbev_data_engineering_case_spark.operators.dedup import (
        dedup_spans,
    )

    df = spark.createDataFrame([(1, "")], "doc_id long, text string")
    rows = dedup_spans(df, span_tokens=k, max_docs=3).collect()
    assert [(r["doc_id"], r["n_spans"]) for r in rows] == [(1, 1)]


def test_ann_index_duplicate_ids_fail_loudly(spark, tmp_path):
    """A duplicate vec_id in the corpus would write duplicate
    cells/codes rows and surface as duplicated neighbor candidates in
    top-k — the ANN index must refuse it the way build_text_index
    refuses duplicate doc ids: an in-plan raise inside the build job,
    so staging never publishes."""
    from inbev_data_engineering_case_spark.operators.similarity import (
        build_ann_index,
        resolve_ann_index,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < 100)
    idx = str(tmp_path / "annindex")

    dup_corpus = base.unionByName(base.filter(F.col("vec_id") == 7))
    with pytest.raises(Exception, match="duplicate vec_id"):
        build_ann_index(dup_corpus, idx, n_centroids=8, m=4, k=8)
    with pytest.raises(FileNotFoundError):
        resolve_ann_index(idx)  # the failed build published nothing

    audit = build_ann_index(base, idx, n_centroids=8, m=4, k=8)
    assert audit["snapshot"] == resolve_ann_index(idx)
    assert audit["cells_rows"] == base.count()


@pytest.mark.slow
def test_curate_capped_mode_identity_with_standalone_cap(spark):
    """curate_corpus(max_docs_per_source=) composes cap_per_source as
    the LAST stage: the composed kept set must be IDENTICAL to running
    standalone cap_per_source over the uncapped curation output
    (dedup-then-cap, so duplicates never consume quota slots), and the
    quality_col fast path (rank by the pipeline's one-pass score) must
    equal the recompute path."""
    from inbev_data_engineering_case_spark.operators.curate import (
        curate_corpus,
    )
    from inbev_data_engineering_case_spark.operators.sample import (
        cap_per_source,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text", "source")

    composed = curate_corpus(docs, max_docs_per_source=3)
    assert set(composed.columns) == {
        "doc_id", "text", "lang", "quality", "source"
    }
    uncapped = curate_corpus(docs, max_docs_per_source=None)
    # standalone cap over the (re-sourced) uncapped output — the
    # uncapped pipeline drops the source column, so join it back
    standalone_ids = sorted(
        r["doc_id"]
        for r in cap_per_source(
            uncapped.join(docs.select("doc_id", "source"), "doc_id"),
            max_docs=3,
        ).collect()
    )
    composed_ids = sorted(r["doc_id"] for r in composed.collect())
    assert composed_ids == standalone_ids and composed_ids

    # quality_col fast path == recompute path on the same frame
    sourced = uncapped.join(docs.select("doc_id", "source"), "doc_id")
    key = lambda r: tuple(r)  # noqa: E731
    fast = sorted(
        map(key, cap_per_source(sourced, max_docs=3,
                                quality_col="quality").collect())
    )
    slow = sorted(map(key, cap_per_source(sourced, max_docs=3).collect()))
    assert fast == slow

    # a capped source really is capped at 3
    per_src = composed.groupBy("source").count().collect()
    assert per_src and all(r["count"] <= 3 for r in per_src)


@pytest.mark.slow
def test_curate_corpus_bloom_prefilter_identity(spark):
    """bloom_prefilter_bits routes the id-keyed keep-joins (exact-dedup
    survivors, cap winners) through the Bloom-prefiltered exact semi
    join AND the near-dedup drop-join
    through the prefiltered anti join — the kept rows must be
    HASH-IDENTICAL to the plain pipeline at any bit count, including a
    deliberately tiny (high-fp) filter: false positives die in the
    exact join, false negatives cannot exist. 'auto' (the production
    setting) must also match — and at this scale must resolve to the
    PLAIN plan (keys broadcastable, fact under the amortization
    floor), so small runs never pay the bitmap build."""
    from inbev_data_engineering_case_spark.operators.curate import (
        curate_corpus,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text", "source")

    def frame(bits):
        return curate_corpus(
            docs,
            max_docs_per_source=3,  # exercises the cap winners join
            bloom_prefilter_bits=bits,
        )

    def snapshot(bits):
        return sorted(tuple(r) for r in frame(bits).collect())

    plain = snapshot(None)
    assert plain  # the fixture must keep something for this to mean much
    forced = frame(1 << 16)
    # forced bits engage the prefilter on keep AND drop joins
    plan = forced._jdf.queryExecution().executedPlan().toString()
    assert "_bloom_" in plan
    assert sorted(tuple(r) for r in forced.collect()) == plain
    assert snapshot(64) == plain  # ~everything passes the filter: still exact

    auto = frame("auto")
    assert sorted(tuple(r) for r in auto.collect()) == plain
    # below the crossover the gate must resolve to the plain plan
    auto_plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "_bloom_" not in auto_plan

    # any string that is not exactly 'auto' is a config error raised
    # at plan time, not a confusing type failure downstream
    import pytest

    with pytest.raises(ValueError, match="'Auto'"):
        frame("Auto")


def test_bow_classifier_learns_and_guards(spark):
    """Hashed-BOW classifier: on linearly separable text the model
    separates train docs perfectly AND generalizes to held-out docs of
    the same distributions; zero-token docs score bias-only; one-class
    training raises; a model without its special rows is refused."""
    import pytest

    from inbev_data_engineering_case_spark.operators.classify import (
        BIAS_BUCKET,
        score_bow_classifier,
        train_bow_classifier,
    )

    good = ["clear prose sentence with informative words here"]
    spam = ["buy buy cheap cheap click click now now win win"]
    rows = []
    for i in range(40):
        rows.append((i, f"{good[0]} variant{i % 7}", True))
        rows.append((100 + i, f"{spam[0]} variant{i % 7}", False))
    train = spark.createDataFrame(
        rows[: 60], "doc_id long, text string, label boolean"
    )
    heldout = spark.createDataFrame(
        rows[60:], "doc_id long, text string, label boolean"
    )
    model = train_bow_classifier(train, n_buckets=1 << 12)
    scored = score_bow_classifier(
        heldout.select("doc_id", "text"), model
    ).join(heldout.select("doc_id", "label"), "doc_id")
    got = scored.collect()
    assert got and all(
        (r["score_micro"] > 0) == r["label"] for r in got
    )

    # zero-token doc: bias-only score, n_tokens 0
    empty = spark.createDataFrame(
        [(999, "   ")], "doc_id long, text string"
    )
    bias = model.filter(F.col("bucket") == BIAS_BUCKET).first()[
        "weight_micro"
    ]
    row = score_bow_classifier(empty, model).first()
    assert row["n_tokens"] == 0 and row["score_micro"] == bias

    # one-class training refuses
    with pytest.raises(ValueError, match="non-empty"):
        train_bow_classifier(train.filter("label"))

    # a weights table without the special rows is not a model
    with pytest.raises(ValueError, match="special rows"):
        score_bow_classifier(
            empty, model.filter(F.col("bucket") >= 0)
        )


def test_bow_classifier_incremental_counts_parity(spark):
    """The classifier's sufficient statistics are ADDITIVE: training
    counts on a delta alone and merging into stored counts derives a
    model BYTE-IDENTICAL to retraining on the full union — the
    incremental-artifact discipline (signature/gram tables) applied to
    the model, history never re-tokenized. Merging two different
    hash-space sizes is refused via the META row."""
    import pytest

    from inbev_data_engineering_case_spark.operators.classify import (
        bow_weights_from_counts,
        merge_bow_counts,
        train_bow_classifier,
        train_bow_counts,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select(
        "doc_id", "text", (F.col("lang") == "en").alias("label")
    )
    day1 = docs.filter(F.col("doc_id") % 3 != 0)
    day2 = docs.filter(F.col("doc_id") % 3 == 0)

    full = train_bow_classifier(day1.unionByName(day2), n_buckets=1 << 12)
    merged = merge_bow_counts(
        train_bow_counts(day1, n_buckets=1 << 12),
        train_bow_counts(day2, n_buckets=1 << 12),
    )
    inc = bow_weights_from_counts(merged)
    assert sorted(map(tuple, inc.collect())) == sorted(
        map(tuple, full.collect())
    )

    # mismatched hash spaces: the META rows disagree -> loud refusal
    bad = merge_bow_counts(
        train_bow_counts(day1, n_buckets=1 << 12),
        train_bow_counts(day2, n_buckets=1 << 13),
    )
    with pytest.raises(ValueError, match="META"):
        bow_weights_from_counts(bad)


def test_bow_counts_priors_fold_edge_inputs(spark):
    """Both count twins fold the per-document priors into the bucket
    aggregation (one NULL token per document routes to BIAS_BUCKET). Edge
    inputs keep their rows: an empty frame still yields the binary
    (BIAS, 0, 0) row and the multiclass META row alone; a NULL-text or
    empty-text document counts in its class prior with no bucket row; a
    NULL binary label counts in neither class."""
    from inbev_data_engineering_case_spark.operators.classify import (
        BIAS_BUCKET,
        META_BUCKET,
        multiclass_bow_counts,
        train_bow_counts,
    )

    binary = spark.createDataFrame(
        [(1, "a b", True), (2, None, False), (3, "", True), (4, "b", None)],
        "doc_id long, text string, label boolean",
    )
    rows = {r["bucket"]: (r["cp"], r["cn"]) for r in train_bow_counts(
        binary, n_buckets=64
    ).collect()}
    assert rows.pop(BIAS_BUCKET) == (2, 1)
    assert rows.pop(META_BUCKET) == (64, 0)
    assert sum(cp for cp, _ in rows.values()) == 2  # doc 1's two tokens
    assert sum(cn for _, cn in rows.values()) == 0
    assert sorted(
        map(tuple, train_bow_counts(binary.limit(0), n_buckets=64).collect())
    ) == [(META_BUCKET, 64, 0), (BIAS_BUCKET, 0, 0)]

    multi = spark.createDataFrame(
        [(1, "a b", "x"), (2, None, "y"), (3, "", "x")],
        "doc_id long, text string, label string",
    )
    got = multiclass_bow_counts(multi, n_buckets=64).collect()
    priors = {r["class"]: r["c"] for r in got if r["bucket"] == BIAS_BUCKET}
    assert priors == {"x": 2, "y": 1}
    real = [r for r in got if r["bucket"] >= 0]
    assert {r["class"] for r in real} == {"x"}
    assert sum(r["c"] for r in real) == 2
    assert [tuple(r) for r in got if r["bucket"] == META_BUCKET] == [
        (None, META_BUCKET, 64)
    ]
    assert [
        tuple(r)
        for r in multiclass_bow_counts(multi.limit(0), n_buckets=64).collect()
    ] == [(None, META_BUCKET, 64)]


def test_curate_corpus_split_from_same_components_pass(spark):
    """curate_corpus(split_weights=...) emits the leakage-safe split
    column from the SAME connected-components pass the drop list came
    from: row-identical to the standalone leakage_safe_split over the
    kept corpus + the pipeline's own pair table, with exactly ONE
    dedup_components invocation in the composed run (the standalone
    chain pays a second)."""
    from inbev_data_engineering_case_spark.operators import (
        curate as curate_mod,
    )
    from inbev_data_engineering_case_spark.operators.curate import (
        _dedup_chain,
        curate_corpus,
        leakage_safe_split,
    )
    from inbev_data_engineering_case_spark.operators.dedup import (
        minhash_dedup_pairs,
    )
    from inbev_data_engineering_case_spark.operators.textops import (
        score_documents,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    # append near-dup variants so clusters actually exist
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 4 == 0).select(
            (F.col("doc_id") + 300000).alias("doc_id"),
            F.concat("text", F.lit(" the end")).alias("text"),
        )
    )
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}

    calls = []
    real = curate_mod.dedup_components

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    curate_mod.dedup_components = counting
    try:
        composed = curate_corpus(corpus, split_weights=weights)
        rows = sorted(tuple(r) for r in composed.collect())
    finally:
        curate_mod.dedup_components = real
    assert calls == [1]  # ONE components pass for drop list AND split
    assert {r[-1] for r in rows} <= set(weights)
    assert len({r[-1] for r in rows}) > 1  # a real partition, not 1 split

    # standalone parity: the same kept corpus + the pipeline's own
    # pair table through leakage_safe_split must assign identically
    scored = score_documents(corpus, "text", "doc_id")
    eligible = scored.filter(
        F.col("lang").isin("en") & (F.col("quality") >= 0.3)
    ).localCheckpoint()
    after_exact, final, _, _ = _dedup_chain(
        eligible, "text", "doc_id", 0.5
    )
    pairs = minhash_dedup_pairs(after_exact, "text", "doc_id", threshold=0.5)
    standalone = leakage_safe_split(final, pairs, weights=weights)
    want = sorted(tuple(r) for r in standalone.collect())
    assert rows == want


@pytest.mark.slow
def test_curate_split_loose_threshold_guards_subdedup_leaks(spark):
    """split_threshold < near_dup_threshold: pairs generate once at
    the looser threshold, dedup uses the tight subset, and kept
    documents similar enough to LEAK but not to dedup (est_jaccard in
    [split_t, dedup_t)) are guaranteed ONE split — demonstrably
    load-bearing: the plain per-id hash split straddles such a pair
    under some salt while the loose keying never does, at any salt.
    Parity with standalone leakage_safe_split over the loose pair
    graph; invalid thresholds refused."""
    import pytest

    from inbev_data_engineering_case_spark.operators.curate import (
        curate_corpus,
        hash_split,
        leakage_safe_split,
    )
    from inbev_data_engineering_case_spark.operators.dedup import (
        minhash_dedup_pairs,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 4 == 0).select(
            (F.col("doc_id") + 300000).alias("doc_id"),
            F.concat("text", F.lit(" the end")).alias("text"),
        )
    )
    weights = {"train": 0.5, "test": 0.5}

    kept_plain = curate_corpus(corpus)
    # the pipeline's loose graph spans its post-exact-dedup ELIGIBLE
    # frame (lang/quality-filtered, exact-deduped) — replicate that
    # frame so the standalone comparison closes the same graph
    from inbev_data_engineering_case_spark.operators.curate import (
        _dedup_chain,
    )
    from inbev_data_engineering_case_spark.operators.textops import (
        score_documents,
    )

    eligible = (
        score_documents(corpus, "text", "doc_id")
        .filter(F.col("lang").isin("en") & (F.col("quality") >= 0.3))
        .localCheckpoint()
    )
    after_exact, _, _, _ = _dedup_chain(
        eligible, "text", "doc_id", 0.5
    )
    pairs_loose = minhash_dedup_pairs(after_exact, threshold=0.25)
    kept_ids = {r["doc_id"] for r in kept_plain.select("doc_id").collect()}
    kk_loose = [
        (p["id_a"], p["id_b"])
        for p in pairs_loose.filter(
            F.col("est_jaccard") < 0.5
        ).collect()
        if p["id_a"] in kept_ids and p["id_b"] in kept_ids
    ]
    assert kk_loose  # the sub-dedup leak case exists in this fixture

    # find a salt where the PLAIN per-id split straddles a loose pair
    # (guaranteed findable: keys differ, 50/50 weights), then show the
    # loose keying never straddles under that same salt
    straddle_salt = None
    plain_assign = {}
    for cand in ("s0", "s1", "s2", "s3", "s4", "s5", "s6", "s7"):
        assign = {
            r["doc_id"]: r["split"]
            for r in hash_split(
                kept_plain.select("doc_id"), weights=weights,
                id_col="doc_id", salt=cand,
            ).collect()
        }
        if any(assign[a] != assign[b] for a, b in kk_loose):
            straddle_salt, plain_assign = cand, assign
            break
    assert straddle_salt is not None

    composed = curate_corpus(
        corpus, split_weights=weights, split_salt=straddle_salt,
        split_threshold=0.25,
    )
    got = {r["doc_id"]: r["split"] for r in composed.collect()}
    assert set(got) == kept_ids  # same kept set; split never drops rows
    assert all(got[a] == got[b] for a, b in kk_loose)  # no straddle
    assert plain_assign != got  # and it genuinely changed assignments

    # parity: standalone leakage_safe_split over the SAME loose graph
    want = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(
            kept_plain, pairs_loose, weights=weights,
            salt=straddle_salt,
        ).collect()
    }
    assert got == want

    # guards
    with pytest.raises(ValueError, match="split_weights"):
        curate_corpus(corpus, split_threshold=0.25).collect()
    with pytest.raises(ValueError, match="near_dup_threshold"):
        curate_corpus(
            corpus, split_weights=weights, split_threshold=0.9
        ).collect()


def test_auto_bloom_bits_gates(spark):
    """auto_bloom_bits: None when keys broadcast or the fact is under
    the amortization floor; a clamped power-of-two sized from the key
    estimate when both gates clear. Pure plan introspection — and the
    enabled path keeps join identity."""
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators import joins

    li = spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    ).select("l_orderkey", "l_quantity")
    keys = li.select("l_orderkey").filter(F.col("l_orderkey") % 5 == 0)

    # tiny keys: broadcastable -> plain join regardless of fact size
    assert joins.auto_bloom_bits(li, keys) is None
    assert joins.auto_bloom_bits(li, keys, min_fact_bytes=0) is None

    # unreadable plan stats (Spark Connect / JVM API drift): the gate
    # must fall back to the PLAIN join, never to a max-size prefilter
    real_size = joins._plan_size_bytes
    joins._plan_size_bytes = lambda df: None
    try:
        assert joins.auto_bloom_bits(li, keys, min_fact_bytes=0) is None
    finally:
        joins._plan_size_bytes = real_size

    # force both gates open: keys "too big" (threshold 0 disables the
    # broadcast gate) and no fact floor -> a sized, clamped bit count
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bits = joins.auto_bloom_bits(li, keys, min_fact_bytes=0)
        assert bits is not None and bits & (bits - 1) == 0
        assert 1 << 20 <= bits <= joins._PROBE_MAX_BITS
        # identity on the enabled path (both directions)
        want_semi = sorted(
            r[0] for r in li.join(keys, "l_orderkey", "left_semi")
            .select("l_orderkey").collect()
        )
        got_semi = sorted(
            r[0] for r in joins.bloom_semi_join(
                li, keys, "l_orderkey", num_bits=bits
            ).select("l_orderkey").collect()
        )
        assert got_semi == want_semi
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_containment_portable_false_same_pairs(spark):
    """portable=False swaps the oracle-replayable md5 gram hash for
    xxhash64 — the decontaminate family's production setting. The
    emitted pairs must be IDENTICAL (any 60-bit fingerprint space
    yields the same set semantics), in both the full-batch and the
    delta form, with the hash kind riding the stored state."""
    from inbev_data_engineering_case_spark.operators.dedup import (
        build_gram_table,
        containment_pairs,
        incremental_containment_pairs,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 120)
    )
    new = docs.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + 700000).alias("doc_id"),
        F.substring("text", 1, 120).alias("text"),
    )
    kw = dict(n=4, threshold_ppm=500_000, max_gram_df=50)
    corpus = docs.unionByName(new)
    md5_pairs = sorted(
        map(tuple, containment_pairs(corpus, **kw).collect())
    )
    xx_pairs = sorted(
        map(
            tuple,
            containment_pairs(corpus, portable=False, **kw).collect(),
        )
    )
    assert md5_pairs == xx_pairs and md5_pairs

    inc_md5 = sorted(map(tuple, incremental_containment_pairs(
        build_gram_table(docs, n=4), new, **kw).collect()))
    inc_xx = sorted(map(tuple, incremental_containment_pairs(
        build_gram_table(docs, n=4, portable=False), new,
        portable=False, **kw).collect()))
    assert inc_md5 == inc_xx


def test_incremental_containment_full_batch_parity(spark):
    """incremental_containment_pairs(stored gram table, new crawl) must
    return EXACTLY the containment_pairs(stored ∪ new) rows involving a
    new document — including when a gram crosses the hot cap only once
    the delta lands (the combined-df semantics: that gram must leave
    numerator AND denominator of every pair, stored-side denominators
    included)."""
    from inbev_data_engineering_case_spark.operators.dedup import (
        build_gram_table,
        containment_pairs,
        incremental_containment_pairs,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text").filter(F.col("doc_id") < 120)
    # new crawl: 40%-prefix fragments of every 10th doc (true
    # containment hits) plus docs that repeat one planted sentence so
    # its grams cross max_gram_df only with the delta counted
    from inbev_data_engineering_case_spark.functions import tokens

    frag = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", tokens(F.col("text")).alias("_toks"))
        .select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            F.array_join(
                F.expr(
                    "slice(_toks, 1, greatest((size(_toks) * 2) div 5, 6))"
                ),
                " ",
            ).alias("text"),
        )
    )
    planted = spark.range(600000, 600030).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the planted template sentence appears verbatim here "),
            F.lit("plus tail "), F.col("id").cast("string"),
        ).alias("text"),
    )
    new = frag.unionByName(planted)
    kw = dict(n=3, threshold_ppm=300_000, max_gram_df=20)
    full = containment_pairs(docs.unionByName(new), **kw)
    want = sorted(
        map(
            tuple,
            full.filter(
                (F.col("contained_id") >= 500000)
                | (F.col("container_id") >= 500000)
            ).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            incremental_containment_pairs(
                build_gram_table(docs, n=3), new, **kw
            ).collect(),
        )
    )
    assert got == want and got
    # the planted sentence must pair the planted docs with each other
    # BELOW the cap and stop once combined df crosses it — sanity that
    # the fixture exercised the hot-cap path at all:
    from inbev_data_engineering_case_spark.operators.dedup import (
        build_gram_table as _bgt,
    )

    hot_df = (
        _bgt(docs.unionByName(new), n=3)
        .groupBy("gram_h").count().filter(F.col("count") > 20).count()
    )
    assert hot_df > 0  # the cap was load-bearing in this parity run


def test_distribution_drift_approx_cuts_within_gk_rank_error(spark):
    """Hypothesis property for the 100 TB mode: every approx=True probe
    boundary must satisfy the Greenwald-Khanna guarantee against the
    reference sample — the returned cut is SOME order statistic whose
    rank lies within N/accuracy (accuracy=10000; +1 for the ceiling)
    of the target rank q*N. Tie-safe formulation: with duplicates the
    cut's admissible rank range is [count(x < cut) + 1, count(x <=
    cut)], which must intersect [qN - eps, qN + eps]. This is the
    q_approx_percentiles discipline applied to the drift operator's
    own bounds (the array-form approx_percentile path)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from inbev_data_engineering_case_spark.operators.quality import (
        distribution_drift,
    )

    n_cuts = 5
    qs = [i / (n_cuts + 1) for i in range(1, n_cuts + 1)]

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        values=st.lists(
            st.floats(-1e6, 1e6, allow_nan=False, width=32),
            min_size=12,
            max_size=120,
        )
    )
    def prop(values):
        ref = spark.createDataFrame(
            [(float(v),) for v in values], "value double"
        )
        rows = sorted(
            distribution_drift(ref, ref, "value", n_cuts=n_cuts,
                               approx=True).collect(),
            key=lambda r: r["cut_idx"],
        )
        ordered = sorted(values)
        n = len(ordered)
        eps = n / 10000 + 1  # GK bound at accuracy=10000 + ceiling slack
        for r, q in zip(rows, qs):
            cut = r["cut_value"]
            lo_rank = sum(1 for v in ordered if v < cut) + 1
            hi_rank = sum(1 for v in ordered if v <= cut)
            target = q * n
            assert lo_rank <= target + eps and hi_rank >= target - eps, (
                q, cut, lo_rank, hi_rank, target, n
            )
            # identical samples: the drift gap must be exactly zero
            assert r["gap_ppm"] == 0

    prop()


@pytest.mark.slow
def test_incremental_embedding_near_dup_full_batch_parity(spark, monkeypatch):
    """incremental_embedding_near_dup_normalized(stored (vectors,
    buckets), new vectors) must return EXACTLY the
    embedding_near_dup_pairs(stored ∪ new) rows involving a new vector —
    including when a bucket crosses the hot cap only once the delta
    lands (combined-population guard and combined min-id star
    representative), and under multi-probe."""
    from inbev_data_engineering_case_spark.operators.dedup import (
        build_embedding_sig_tables_normalized,
        embedding_near_dup_pairs,
        incremental_embedding_near_dup_normalized,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    stored = emb.filter(F.col("vec_id") < 80)
    # new crawl: perturbed copies of some stored vectors (near-dup
    # hits) plus EXACT copies of vector 3 to flood one bucket past a
    # tiny hot cap only when the delta is counted
    near = stored.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x * (F.lit(1) + F.lit(0.001) * ((i % 3) - 1)),
        ).alias("embedding"),
    )
    flood_src = stored.filter(F.col("vec_id") == 3).select("embedding")
    flood = spark.range(200000, 200012).join(
        F.broadcast(flood_src)
    ).select(F.col("id").alias("vec_id"), "embedding")
    new = near.unionByName(flood)

    for cap, kw in (
        (10, dict(threshold=0.9, num_planes=8, n_probes=1)),
        (10, dict(threshold=0.9, num_planes=6, n_probes=2)),
        (DEFAULT_MAX_BUCKET_SIZE, dict(threshold=0.9, num_planes=8,
                                       n_probes=1)),
    ):
        monkeypatch.setattr(_CAP, cap)
        full = embedding_near_dup_pairs(stored.unionByName(new), **kw)
        want = sorted(
            map(
                tuple,
                full.filter(
                    (F.col("id_a") >= 100000) | (F.col("id_b") >= 100000)
                ).collect(),
            )
        )
        vectors, buckets = build_embedding_sig_tables_normalized(
            stored, num_planes=kw["num_planes"], n_probes=kw["n_probes"]
        )
        got = sorted(
            map(
                tuple,
                incremental_embedding_near_dup_normalized(
                    vectors, buckets, new, **kw
                ).collect(),
            )
        )
        assert got == want and got, (cap, kw)


def test_embedding_sig_table_normalized_storage_parity(spark):
    """The stored embedding state at n_probes>1: ``vectors`` holds each
    input embedding ONCE as (id, v), and ``buckets`` holds one
    (seed, id, bucket) row per probe whose bucket is that seed's
    ``signlsh_bucket`` of the input vector (computed here by the
    runtime-weight form, independently of the builder's literal
    weights), with the build geometry on every row."""
    from inbev_data_engineering_case_spark.operators.dedup import (
        build_embedding_sig_tables_normalized,
    )
    from inbev_data_engineering_case_spark.operators.similarity import (
        signlsh_bucket,
    )

    stored = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    ).filter(F.col("vec_id") < 80)

    vectors, buckets = build_embedding_sig_tables_normalized(
        stored, num_planes=6, n_probes=3
    )
    assert vectors.columns == ["id", "v"]
    assert buckets.columns == ["seed", "id", "bucket", "num_planes",
                               "n_probes"]
    assert sorted(map(tuple, vectors.collect())) == sorted(
        map(tuple, stored.collect())
    )
    want = sorted(
        (seed, r["vec_id"], r["bucket"], 6, 3)
        for seed in range(3)
        for r in stored.select(
            "vec_id",
            signlsh_bucket("embedding", 6, seed=seed).alias("bucket"),
        ).collect()
    )
    assert sorted(map(tuple, buckets.collect())) == want
    assert len(want) == 3 * stored.count()


def test_incremental_simhash_full_batch_parity(spark, monkeypatch):
    """incremental_simhash_near_pairs(stored sig table, new crawl)
    must return EXACTLY the simhash_near_pairs(stored ∪ new) rows
    involving a new document — including when identical templates
    flood one bucket past the hot cap only once the delta lands
    (combined-population guard + combined min-id star
    representative)."""
    from inbev_data_engineering_case_spark.operators.dedup import (
        build_simhash_table,
        incremental_simhash_near_pairs,
        simhash_near_pairs,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 100)
    )
    near = docs.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat("text", F.lit(" the end")).alias("text"),
    )
    # identical templates: same text → same signature → one bucket
    flood = spark.range(300000, 300015).select(
        F.col("id").alias("doc_id"),
        F.lit("the very same template text repeated verbatim").alias(
            "text"
        ),
    )
    new = near.unionByName(flood)
    for cap, kw in (
        (8, dict(max_hamming=6, bits=60, bucket_bits=8)),
        (DEFAULT_MAX_BUCKET_SIZE, dict(max_hamming=6, bits=60, bucket_bits=8)),
        (8, dict(max_hamming=3, bits=48, bucket_bits=6)),
    ):
        monkeypatch.setattr(_CAP, cap)
        build_kw = dict(bits=kw["bits"], bucket_bits=kw["bucket_bits"])
        full = simhash_near_pairs(docs.unionByName(new), **kw)
        want = sorted(
            map(
                tuple,
                full.filter(
                    (F.col("id_a") >= 200000) | (F.col("id_b") >= 200000)
                ).collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                incremental_simhash_near_pairs(
                    build_simhash_table(docs, **build_kw), new, **kw
                ).collect(),
            )
        )
        assert got == want and got, (cap, kw)


def test_incremental_minhash_full_batch_parity(spark, monkeypatch):
    """incremental_minhash_pairs(new crawl, stored signatures) must
    return EXACTLY the minhash_dedup_pairs(stored ∪ new) rows involving
    a new document — including when identical templates flood every
    band bucket past the hot cap only once the delta lands (the
    combined-population guard star-links them to the combined min id
    instead of pairing them all-against-all)."""
    from inbev_data_engineering_case_spark.operators.curate import (
        incremental_minhash_pairs,
    )
    from inbev_data_engineering_case_spark.operators.dedup import (
        minhash_signatures,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 100)
    )
    near = docs.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat("text", F.lit(" the end")).alias("text"),
    )
    # identical templates: same text → same signature → same band keys
    flood = spark.range(300000, 300015).select(
        F.col("id").alias("doc_id"),
        F.lit("the very same template text repeated verbatim").alias(
            "text"
        ),
    )
    new = near.unionByName(flood)
    for cap in (8, DEFAULT_MAX_BUCKET_SIZE):
        monkeypatch.setattr(_CAP, cap)
        full = minhash_dedup_pairs(docs.unionByName(new))
        want = sorted(
            map(
                tuple,
                full.filter(
                    (F.col("id_a") >= 200000) | (F.col("id_b") >= 200000)
                ).collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                incremental_minhash_pairs(
                    new, minhash_signatures(docs)
                ).collect(),
            )
        )
        assert got == want and got, cap


def test_incremental_state_geometry_guards_raise_in_plan(spark):
    """The r8 stored-state tables carry their build geometry, and each
    incremental twin raises IN-PLAN on a mismatch instead of silently
    mixing n-gram spaces (wrong containment values) or shifting every
    bucket (lost recall) — the CMS wrong-geometry discipline applied
    to the delta paths."""
    from inbev_data_engineering_case_spark.operators.dedup import (
        build_embedding_sig_tables_normalized,
        build_gram_table,
        build_simhash_table,
        incremental_containment_pairs,
        incremental_embedding_near_dup_normalized,
        incremental_simhash_near_pairs,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 30)
    )
    new_docs = docs.select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text"
    )
    with pytest.raises(Exception, match="geometry mismatch"):
        incremental_containment_pairs(
            build_gram_table(docs, n=5), new_docs, n=3
        ).collect()
    # the gram HASH KIND is geometry too: a delta hashed with the
    # other function would match nothing, silently — so it raises
    with pytest.raises(Exception, match="geometry mismatch"):
        incremental_containment_pairs(
            build_gram_table(docs, n=5, portable=True),
            new_docs,
            n=5,
            portable=False,
        ).collect()
    with pytest.raises(Exception, match="geometry mismatch"):
        incremental_simhash_near_pairs(
            build_simhash_table(docs, bits=60, bucket_bits=8),
            new_docs,
            bits=48,
            bucket_bits=6,
        ).collect()
    # a pre-geometry (or plain-wrong) state table fails FAST at plan
    # time with an actionable message, not an unresolved-column error
    with pytest.raises(ValueError, match="lacks geometry column"):
        incremental_containment_pairs(
            build_gram_table(docs, n=5).select("doc_id", "gram_h"),
            new_docs,
            n=5,
        )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    ).filter(F.col("vec_id") < 30)
    new_emb = emb.select(
        (F.col("vec_id") + 900000).alias("vec_id"), "embedding"
    )
    with pytest.raises(Exception, match="geometry mismatch"):
        incremental_embedding_near_dup_normalized(
            *build_embedding_sig_tables_normalized(
                emb, num_planes=8, n_probes=1
            ),
            new_emb,
            num_planes=6,
            n_probes=1,
        ).collect()


@pytest.mark.slow
def test_incremental_embedding_normalized_native_parity(spark, monkeypatch):
    """incremental_embedding_near_dup_normalized consumes the
    (vectors, buckets) pair directly — vectors joining only for
    candidates — and must return EXACTLY the
    embedding_near_dup_pairs(stored ∪ new) rows involving a new vector
    at n_probes>1, including when identical vectors flood one bucket
    past the hot cap in the stored AND the new side (combined-population
    guard + min-id star representative, id-only until the deferred
    vector join)."""
    from inbev_data_engineering_case_spark.operators.dedup import (
        build_embedding_sig_tables_normalized,
        embedding_near_dup_pairs,
        incremental_embedding_near_dup_normalized,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    base = emb.filter(F.col("vec_id") < 80)
    # identical vectors flood one bucket in every probe -> hot path
    template = emb.filter(F.col("vec_id") == 3).select("embedding")
    flood = (
        spark.range(300000, 300020)
        .crossJoin(template)
        .select(F.col("id").alias("vec_id"), "embedding")
    )
    stored = base.unionByName(flood)
    new = base.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x * (F.lit(1) + F.lit(0.001) * ((i % 3) - 1)),
        ).alias("embedding"),
    ).unionByName(
        # new members of the flooded bucket too (delta touches hot)
        spark.range(400000, 400005)
        .crossJoin(template)
        .select(F.col("id").alias("vec_id"), "embedding")
    )

    new_ids = {r["vec_id"] for r in new.select("vec_id").collect()}
    vectors, buckets = build_embedding_sig_tables_normalized(
        stored, num_planes=6, n_probes=3
    )
    # with the hot guard engaged, and at the default cap (the cold-only
    # plan)
    kw = dict(threshold=0.9, num_planes=6, n_probes=3)
    for cap in (10, DEFAULT_MAX_BUCKET_SIZE):
        monkeypatch.setattr(_CAP, cap)
        want = sorted(
            t
            for t in map(tuple, embedding_near_dup_pairs(
                stored.unionByName(new), **kw).collect())
            if t[0] in new_ids or t[1] in new_ids
        )
        got = sorted(map(tuple, incremental_embedding_near_dup_normalized(
            vectors, buckets, new, **kw).collect()))
        assert got == want and got, cap
    # geometry mismatch raises in-plan
    import pytest

    with pytest.raises(Exception, match="num_planes"):
        incremental_embedding_near_dup_normalized(
            vectors, buckets, new, threshold=0.9, num_planes=8,
            n_probes=3,
        ).collect()


def test_leakage_safe_split_cluster_coherent(spark):
    """The eval-contamination guard: every near-dup CLUSTER (transitive
    closure over pairs, not just direct pairs) lands in exactly one
    split, and documents with no near-dup get precisely the assignment
    plain hash_split would give them — the guard changes nothing it
    doesn't have to."""
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.curate import (
        hash_split,
        leakage_safe_split,
    )

    docs = spark.range(1, 1001).select(F.col("id").alias("doc_id"))
    # a 3-chain (1~2, 2~3 but never 1~3 directly) + a detached pair
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    out = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(docs, pairs).collect()
    }
    assert len(out) == 1000
    assert out[1] == out[2] == out[3]  # transitive, not just pairwise
    assert out[10] == out[11]
    plain = {
        r["doc_id"]: r["split"] for r in hash_split(docs).collect()
    }
    clustered = {1, 2, 3, 10, 11}
    for doc_id, split in out.items():
        if doc_id not in clustered:
            assert split == plain[doc_id], doc_id
    # cluster members take their REPRESENTATIVE's plain assignment
    assert out[1] == plain[1] and out[10] == plain[10]
    # weights still land in the right ballpark (98/1/1 over 1000 docs)
    from collections import Counter

    counts = Counter(out.values())
    assert counts["train"] > 900


def test_leakage_safe_split_real_pairs_never_straddle(spark):
    """On the real near-dup corpus: no MinHash pair may straddle splits
    (the exact failure mode a per-document split exhibits — asserted to
    actually OCCUR on the same corpus, so the guard is load-bearing)."""
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.curate import (
        hash_split,
        leakage_safe_split,
    )
    from inbev_data_engineering_case_spark.operators.dedup import (
        minhash_dedup_pairs,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d = d.select("doc_id", "text")
    corpus = d.unionByName(
        d.select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.concat("text", F.lit(" the end")).alias("text"),
        )
    )
    pairs = minhash_dedup_pairs(corpus).localCheckpoint(eager=True)
    assert pairs.count() > 0
    safe = leakage_safe_split(corpus, pairs).select("doc_id", "split")

    def straddles(split_df):
        s = split_df
        return (
            pairs.join(
                s.select(
                    F.col("doc_id").alias("id_a"),
                    F.col("split").alias("split_a"),
                ),
                "id_a",
            )
            .join(
                s.select(
                    F.col("doc_id").alias("id_b"),
                    F.col("split").alias("split_b"),
                ),
                "id_b",
            )
            .filter(F.col("split_a") != F.col("split_b"))
            .count()
        )

    assert straddles(safe) == 0
    # the per-document split DOES straddle on this corpus — the guard
    # is demonstrably load-bearing, not vacuous (98/1/1 keeps it rare;
    # widen to 50/50 so the fixture corpus exhibits it)
    wide = {"train": 0.5, "test": 0.5}
    naive = hash_split(corpus, weights=wide).select("doc_id", "split")
    safe_wide = leakage_safe_split(corpus, pairs, weights=wide).select(
        "doc_id", "split"
    )
    assert straddles(naive) > 0
    assert straddles(safe_wide) == 0


def test_leakage_safe_split_requires_convergence(spark):
    """Non-minimal labels give one cluster several representatives —
    the exact straddle the operator exists to prevent, silently. An
    exhausted max_iter must therefore raise, not return."""
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.curate import (
        leakage_safe_split,
    )

    docs = spark.range(1, 40).select(F.col("id").alias("doc_id"))
    # a 30-node chain: diameter 29 needs ~5 pointer-jumping rounds
    # plus the confirming no-change round; max_iter=2 cannot finish
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 30)], "id_a long, id_b long"
    )
    with pytest.raises(ValueError, match="max_iter"):
        leakage_safe_split(docs, chain, max_iter=2).collect()
    # and the same chain converges fine at the default budget
    out = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(docs, chain).collect()
    }
    assert len({out[i] for i in range(1, 31)}) == 1


def test_leakage_safe_split_rejects_reserved_column(spark):
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.curate import (
        leakage_safe_split,
    )

    docs = spark.range(5).select(
        F.col("id").alias("doc_id"), F.lit(1).alias("_split_key")
    )
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="_split_key"):
        leakage_safe_split(docs, pairs)


def test_incremental_leakage_split_inherit_bridge_fresh(spark):
    """The three delta cases: inherit one stored split across the batch
    boundary; surface a bridge (>=2 stored splits reachable) as
    telemetry with the min-id stored member's split; assign fresh
    clusters with the plain hash — and empty history reproduces the
    batch operator exactly."""
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.curate import (
        incremental_leakage_split,
        leakage_safe_split,
    )

    stored = spark.createDataFrame(
        [(1, "train"), (2, "test"), (3, "train")],
        "doc_id long, split string",
    )
    new = spark.range(100, 110).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [
            (3, 100),            # inherit: touches only doc 3 (train)
            (1, 101), (2, 101),  # bridge: train(1) + test(2)
            (104, 105),          # fresh two-doc cluster
        ],
        "id_a long, id_b long",
    )
    out = {
        r["doc_id"]: (r["split"], r["n_linked_splits"])
        for r in incremental_leakage_split(new, stored, pairs).collect()
    }
    assert len(out) == 10
    assert out[100] == ("train", 1)          # inherited
    assert out[101] == ("train", 2)          # bridge: min-id stored (1)
    assert out[104][1] == 0 and out[105][1] == 0
    assert out[104][0] == out[105][0]        # fresh cluster coherent

    # empty history == the batch operator, byte for byte
    empty = stored.filter(F.lit(False))
    fresh_pairs = spark.createDataFrame(
        [(100, 101), (104, 105)], "id_a long, id_b long"
    )
    inc = {
        r["doc_id"]: r["split"]
        for r in incremental_leakage_split(
            new, empty, fresh_pairs
        ).collect()
    }
    batch = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(new, fresh_pairs).collect()
    }
    assert inc == batch

    # id overlap between new and stored raises (frozen history)
    with pytest.raises(ValueError, match="frozen"):
        incremental_leakage_split(
            new.unionByName(stored.select("doc_id")), stored, pairs
        )


def test_incremental_leakage_split_rejects_output_columns(spark):
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.curate import (
        incremental_leakage_split,
    )

    stored = spark.createDataFrame([(1, "train")], "doc_id long, split string")
    pairs = spark.createDataFrame([(1, 100)], "id_a long, id_b long")
    docs = spark.range(100, 105).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("split")
    )
    # a provisional 'split' column would be silently clobbered AND
    # duplicated in the output — reject loudly instead
    with pytest.raises(ValueError, match="split"):
        incremental_leakage_split(docs, stored, pairs)


def test_advanced_state_feeds_incremental_leakage_split(spark):
    """Loop closure for the split family: the maintained dedup state
    (advance_corpus_artifacts — pinned stream==batch identical in
    test_streaming) feeds incremental_minhash_pairs feeds
    incremental_leakage_split, so a daily crawl is split-assigned
    against frozen history without re-reading yesterday's text."""
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.curate import (
        advance_corpus_artifacts,
        hash_split,
        incremental_leakage_split,
        incremental_minhash_pairs,
    )

    day1 = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today"),
         (1, "an entirely different second document about rivers")],
        "doc_id long, text string",
    )
    frozen = hash_split(day1).select("doc_id", "split")
    empty_sigs = spark.createDataFrame([], "id long, sig array<bigint>")
    empty_fps = spark.createDataFrame([], "fp long, keep_id long")
    sigs, _fps = advance_corpus_artifacts(day1, empty_sigs, empty_fps)

    day2 = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today"
               " the end"),
         (101, "completely unrelated fresh content about volcanoes and"
               " islands forming")],
        "doc_id long, text string",
    )
    pairs = incremental_minhash_pairs(day2, sigs)
    assert pairs.filter("id_a = 0 and id_b = 100").count() == 1
    out = {
        r["doc_id"]: (r["split"], r["n_linked_splits"])
        for r in incremental_leakage_split(day2, frozen, pairs).collect()
    }
    frozen0 = frozen.filter("doc_id = 0").collect()[0]["split"]
    assert out[100] == (frozen0, 1)   # inherited across the boundary
    assert out[101][1] == 0           # fresh


@pytest.mark.slow
def test_evaluate_bow_classifier_confusion_and_holdout(spark):
    """Classifier evaluation surface: exact confusion counts + int-ppm
    derived metrics on a crafted frame (including NULL rates on empty
    denominators and a moved threshold), then the documented holdout
    protocol end to end — leakage_safe-split train/test partitions,
    model trained on the train labels only, evaluated on the held-out
    test labels of linearly separable text."""
    from inbev_data_engineering_case_spark.operators.classify import (
        evaluate_bow_classifier,
        score_bow_classifier,
        train_bow_classifier,
    )

    scored = spark.createDataFrame(
        [(1, 50), (2, 10), (3, -5), (4, -50), (5, 0), (6, -1)],
        "doc_id long, score_micro bigint",
    )
    labels = spark.createDataFrame(
        [(1, True), (2, False), (3, True), (4, False), (5, True),
         (6, False)],
        "doc_id long, label boolean",
    )
    row = evaluate_bow_classifier(scored, labels).first()
    # pred = score >= 0: {1,2,5} predicted positive
    assert (row["tp"], row["fp"], row["tn"], row["fn"]) == (2, 1, 2, 1)
    assert row["accuracy_ppm"] == (4 * 1_000_000) // 6
    assert row["precision_ppm"] == (2 * 1_000_000) // 3
    assert row["recall_ppm"] == (2 * 1_000_000) // 3
    assert row["f1_ppm"] == (4 * 1_000_000) // 6  # 2tp/(2tp+fp+fn)

    # moved threshold: >= 20 keeps only doc 1
    strict = evaluate_bow_classifier(
        scored, labels, threshold_micro=20
    ).first()
    assert (strict["tp"], strict["fp"], strict["tn"], strict["fn"]) == (
        1, 0, 3, 2,
    )
    assert strict["precision_ppm"] == 1_000_000

    # empty-denominator rates are NULL, not a crash or a fake 0
    no_pos = evaluate_bow_classifier(
        scored.filter("doc_id IN (4, 6)"),
        labels.filter("doc_id IN (4, 6)"),
        threshold_micro=10_000_000,
    ).first()
    assert no_pos["tp"] == 0 and no_pos["precision_ppm"] is None
    assert no_pos["recall_ppm"] is None and no_pos["f1_ppm"] is None

    # population integrity: a labeled id with NO scored row, or a
    # label that casts to NULL boolean, raises instead of silently
    # shrinking the metric denominators
    import pytest

    with pytest.raises(Exception, match="no scored row"):
        evaluate_bow_classifier(
            scored.filter("doc_id IN (4, 6)"), labels
        ).first()
    null_labels = spark.createDataFrame(
        [(1, None)], "doc_id long, label boolean"
    )
    with pytest.raises(Exception, match="NULL boolean"):
        evaluate_bow_classifier(scored, null_labels).first()

    # holdout protocol: split -> train on 'train' labels only ->
    # evaluate on the held-out 'test' labels (separable text)
    from inbev_data_engineering_case_spark.operators.curate import (
        hash_split,
    )

    good = "clear prose sentence with informative words here"
    spam = "buy buy cheap cheap click click now now win win"
    rows = [
        (i, (good if i % 2 == 0 else spam) + f" v{i}", i % 2 == 0)
        for i in range(200)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, label boolean"
    )
    split = hash_split(
        docs, weights={"train": 0.7, "test": 0.3}, id_col="doc_id"
    )
    train = split.filter("split = 'train'")
    test = split.filter("split = 'test'")
    assert train.count() and test.count()
    model = train_bow_classifier(train, n_buckets=1 << 12)
    held = evaluate_bow_classifier(
        score_bow_classifier(test.select("doc_id", "text"), model),
        test.select("doc_id", "label"),
    ).first()
    assert held["tp"] + held["fn"] > 0 and held["fp"] + held["tn"] > 0
    assert held["accuracy_ppm"] == 1_000_000  # separable by design


def test_evaluate_bow_classifier_duplicate_guard_wins_when_defects_stack(
    spark,
):
    """Guard precedence (r12 ADVICE): a duplicated labeled id whose
    scored row is ALSO missing (or NULL) must be named as the fan-out
    defect — the root cause to clean up — not misdirected to the
    per-row 'no scored row' / 'NULL score' diagnostic."""
    import pytest

    from inbev_data_engineering_case_spark.operators.classify import (
        evaluate_bow_classifier,
    )

    scored = spark.createDataFrame(
        [(1, 50)], "doc_id long, score_micro bigint"
    )
    # id 7 is duplicated in the labels AND has no scored row
    dup_missing = spark.createDataFrame(
        [(1, True), (7, True), (7, False)],
        "doc_id long, label boolean",
    )
    with pytest.raises(Exception, match="duplicated id"):
        evaluate_bow_classifier(scored, dup_missing).first()

    # duplicated SCORED id carrying a NULL score: same precedence
    dup_null = spark.createDataFrame(
        [(1, None), (1, None)], "doc_id long, score_micro bigint"
    )
    labels = spark.createDataFrame(
        [(1, True)], "doc_id long, label boolean"
    )
    with pytest.raises(Exception, match="duplicated id"):
        evaluate_bow_classifier(dup_null, labels).first()


def test_evaluate_bow_classifier_does_not_truncate_double_scores(spark):
    """The guarded frame passes the score through UNCAST: a double
    score of -0.4 against threshold 0 is a negative prediction —
    casting to bigint first would truncate it to 0 and silently flip
    it positive (third r13 review pass)."""
    from inbev_data_engineering_case_spark.operators.classify import (
        evaluate_bow_classifier,
    )

    scored = spark.createDataFrame(
        [(1, -0.4), (2, 0.6)], "doc_id long, score_micro double"
    )
    labels = spark.createDataFrame(
        [(1, False), (2, True)], "doc_id long, label boolean"
    )
    row = evaluate_bow_classifier(scored, labels).first()
    assert (row["tp"], row["fp"], row["tn"], row["fn"]) == (1, 0, 1, 0)


_HALO_SENTINEL = "copied verbatim from the held out eval benchmark set"


def _halo_corpus(spark):
    """documents + near-dup copies; copies of every 40th doc carry the
    benchmark sentinel (direct n-gram flag), the rest ' the end'. The
    flagged copy is the HIGHER id of its near-dup cluster, so dedup
    keeps the clean original — the contaminated-by-association
    representative only the halo can drop."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    return docs.unionByName(
        docs.select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.concat(
                "text",
                F.when(
                    F.col("doc_id") % 40 == 0, F.lit(" " + _HALO_SENTINEL)
                ).otherwise(F.lit(" the end")),
            ).alias("text"),
        )
    )


@pytest.mark.slow
def test_curate_corpus_halo_composed_parity(spark):
    """curate_corpus(benchmark=..., halo_hops=k) drops kept documents
    within k near-dup hops of a directly contaminated one, walking the
    pipeline's OWN pair graph (exactly ONE minhash pair computation in
    the composed run), and equals the standalone
    seed -> BFS -> flag chain over the same graph. The load-bearing
    case: a flagged copy's clean ORIGINAL survives dedup as the
    cluster rep and plain decontamination keeps it — the halo drops
    it."""
    from inbev_data_engineering_case_spark.operators import (
        curate as curate_mod,
    )
    from inbev_data_engineering_case_spark.operators.curate import (
        _dedup_chain,
        curate_corpus,
    )
    from inbev_data_engineering_case_spark.operators.decontaminate import (
        contamination_report,
    )
    from inbev_data_engineering_case_spark.operators.graph import (
        multi_source_bfs,
    )
    from inbev_data_engineering_case_spark.operators.textops import (
        score_documents,
    )

    corpus = _halo_corpus(spark)
    bench = spark.createDataFrame([(_HALO_SENTINEL,)], "text string")

    calls = []
    real = curate_mod.minhash_dedup_pairs

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    curate_mod.minhash_dedup_pairs = counting
    try:
        composed = curate_corpus(corpus, benchmark=bench, halo_hops=2)
        got = sorted(tuple(r) for r in composed.collect())
    finally:
        curate_mod.minhash_dedup_pairs = real
    assert calls == [1]  # ONE pairs computation for dedup AND halo

    got_ids = {r[0] for r in got}
    assert got_ids  # something survives
    # the clean originals of flagged copies are gone (the halo's work)
    plain = curate_corpus(corpus, benchmark=bench)
    plain_ids = {r["doc_id"] for r in plain.select("doc_id").collect()}
    halo_only = plain_ids - got_ids
    assert any(i % 40 == 0 and i < 200000 for i in halo_only), (
        "fixture must exercise the rep-contamination case"
    )
    assert got_ids <= plain_ids  # the halo only ever drops MORE

    # standalone parity: same eligible frame, direct flags, pair graph,
    # BFS, drop — chained from the public operators
    eligible = (
        score_documents(corpus, "text", "doc_id")
        .filter(F.col("lang").isin("en") & (F.col("quality") >= 0.3))
        .localCheckpoint()
    )
    direct = contamination_report(eligible, bench, n=8).select("doc_id")
    _, final_nb, _, pairs = _dedup_chain(
        eligible, "text", "doc_id", 0.5
    )
    halo_nodes = multi_source_bfs(
        pairs.select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        ),
        direct,
        max_hops=2,
    ).select(F.col("node").alias("doc_id"))
    want = sorted(
        tuple(r)
        for r in final_nb.join(
            halo_nodes, on="doc_id", how="left_anti"
        ).collect()
    )
    assert got == want


@pytest.mark.slow
def test_classifier_score_drift_recipe(spark):
    """The classifier-score drift monitor is a COMPOSITION, not a new
    operator: score_bow_classifier's (doc_id, score_micro) output
    feeds quality.distribution_drift directly — a reference window's
    scores vs today's. An unchanged corpus mix stays inside the alarm
    band; a shifted mix (the model drifting out of calibration, or
    the corpus drifting under the model) blows the KS gap out. The
    DEPLOYMENT runbook documents this recipe beside the stream-drift
    monitor."""
    from inbev_data_engineering_case_spark.operators.classify import (
        score_bow_classifier,
        train_bow_classifier,
    )
    from inbev_data_engineering_case_spark.operators.quality import (
        distribution_drift,
    )

    good = "clear prose sentence with informative words here"
    spam = "buy buy cheap cheap click click now now win win"

    def corpus(start, n, spam_mod):
        # deterministic mix: every spam_mod-th doc is spam; suffix
        # varies tokens so scores are not all identical
        rows = [
            (
                i,
                (spam if i % spam_mod == 0 else good) + f" v{i % 7}",
            )
            for i in range(start, start + n)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    labeled = spark.createDataFrame(
        [(i, good + f" v{i % 7}", True) for i in range(200)]
        + [(i + 200, spam + f" v{i % 7}", False) for i in range(200)],
        "doc_id long, text string, label boolean",
    )
    model = train_bow_classifier(labeled, n_buckets=1 << 12)

    def scores(df):
        return score_bow_classifier(df, model).select("score_micro")

    ref = scores(corpus(1000, 400, 5))  # 20% spam reference window
    same = scores(corpus(5000, 400, 5))  # same mix, later window
    shifted = scores(corpus(9000, 400, 2))  # 50% spam: corpus drifted

    def max_gap(cur):
        return (
            distribution_drift(ref, cur, "score_micro", n_cuts=9)
            .agg(F.max("gap_ppm").alias("g"))
            .first()["g"]
        )

    stable, drifted = max_gap(same), max_gap(shifted)
    assert stable < 100_000  # unchanged mix: inside the band
    assert drifted > 250_000  # mix shift: unmistakable KS gap
    assert drifted > 2 * stable


def test_classifier_threshold_sweep_matches_reference(spark):
    """The PR-curve sweep equals a per-threshold python reference at
    every quantile cut (thresholds ARE the score quantiles), recall is
    monotone nonincreasing in the threshold, each row agrees with
    evaluate_bow_classifier at that exact threshold, and n_cuts < 1 is
    refused."""
    import pytest

    from inbev_data_engineering_case_spark.operators.classify import (
        classifier_threshold_sweep,
        evaluate_bow_classifier,
    )

    data = [
        (i, s, lab)
        for i, (s, lab) in enumerate(
            [(-90, False), (-50, False), (-10, True), (-10, False),
             (0, True), (20, True), (35, False), (60, True),
             (80, True), (95, True)]
        )
    ]
    scored = spark.createDataFrame(
        [(i, s) for i, s, _ in data], "doc_id long, score_micro bigint"
    )
    labels = spark.createDataFrame(
        [(i, y) for i, _, y in data], "doc_id long, label boolean"
    )
    n_cuts = 5
    rows = (
        classifier_threshold_sweep(scored, labels, n_cuts=n_cuts)
        .orderBy("cut_idx")
        .collect()
    )
    assert len(rows) == n_cuts

    scores = sorted(s for _, s, _ in data)

    def pct(q):  # Spark/DuckDB linear-interpolation percentile
        pos = q * (len(scores) - 1)
        lo, frac = int(pos), pos - int(pos)
        hi = min(lo + 1, len(scores) - 1)
        return scores[lo] + frac * (scores[hi] - scores[lo])

    recalls = []
    for k, r in enumerate(rows, start=1):
        t = pct(k / (n_cuts + 1))
        assert abs(r["threshold"] - t) < 1e-9
        tp = sum(1 for _, s, y in data if y and s >= t)
        fp = sum(1 for _, s, y in data if not y and s >= t)
        pos = sum(1 for _, _, y in data if y)
        neg = len(data) - pos
        assert (r["tp"], r["fp"], r["tn"], r["fn"]) == (
            tp, fp, neg - fp, pos - tp,
        )
        assert r["recall_ppm"] == tp * 1_000_000 // pos
        if tp + fp:
            assert r["precision_ppm"] == tp * 1_000_000 // (tp + fp)
        recalls.append(r["recall_ppm"])
        # row-for-row agreement with the point evaluator at this cut
        # (integer threshold: these cuts all land on whole micros)
        if t == int(t):
            pt = evaluate_bow_classifier(
                scored, labels, threshold_micro=int(t)
            ).first()
            assert (pt["tp"], pt["fp"]) == (tp, fp)
    assert recalls == sorted(recalls, reverse=True)

    with pytest.raises(ValueError, match="n_cuts"):
        classifier_threshold_sweep(scored, labels, n_cuts=0)


@pytest.mark.slow
def test_dedup_components_incremental_matches_batch(spark):
    """Delta maintenance of a components labeling: contracting stored
    components and closing only the delta graph must equal the batch
    closure over the union — on random graphs/deltas (cluster merges
    through chains of new edges, new nodes that become the new minimum
    of an old component, old-old delta edges) and for the empty delta
    (labels unchanged)."""
    import random

    from inbev_data_engineering_case_spark.operators.dedup import (
        dedup_components,
        dedup_components_incremental,
    )

    def pairs_df(edges):
        return spark.createDataFrame(edges, "id_a long, id_b long")

    rng = random.Random(0xCC12)
    for trial, (n_old, m_old, n_new, m_new) in enumerate(
        [(24, 20, 8, 10), (50, 40, 12, 20), (16, 6, 30, 25)]
    ):
        base = list(
            {
                (rng.randrange(n_old), rng.randrange(n_old))
                for _ in range(m_old)
            }
        )
        base = [(a, b) for a, b in base if a != b]
        all_n = n_old + n_new
        # new nodes get ids ABOVE and BELOW the old range (negative
        # ids), so a new node can become an old component's minimum
        def nid(k):
            return -(k + 1) if k % 3 == 0 else n_old + k

        delta = list(
            {
                (rng.randrange(all_n), rng.randrange(all_n))
                for _ in range(m_new)
            }
        )
        delta = [
            (a if a < n_old else nid(a - n_old),
             b if b < n_old else nid(b - n_old))
            for a, b in delta
        ]
        delta = [
            (a, b)
            for a, b in delta
            if a != b and (a, b) not in set(base)
        ]
        stored = dedup_components(
            pairs_df(base), require_convergence=True
        ).localCheckpoint(eager=True)
        got = {
            (r["node"], r["comp"])
            for r in dedup_components_incremental(
                stored, pairs_df(delta)
            ).collect()
        }
        want = {
            (r["node"], r["comp"])
            for r in dedup_components(
                pairs_df(base + delta), require_convergence=True
            ).collect()
        }
        assert got == want, trial

    # empty delta: the stored labeling comes back unchanged
    base_df = pairs_df([(1, 2), (2, 3), (7, 9)])
    stored = dedup_components(base_df, require_convergence=True)
    unchanged = {
        (r["node"], r["comp"])
        for r in dedup_components_incremental(
            stored, base_df.limit(0)
        ).collect()
    }
    assert unchanged == {
        (r["node"], r["comp"]) for r in stored.collect()
    }


# ---------------------------------------------------------------------------
# multi-class hashed-BOW classifier (classify.py multiclass family)
# ---------------------------------------------------------------------------


def _mc_python_reference(rows, n_buckets, alpha=1.0):
    """Plain-Python NB reference: same hash, same smoothing, same
    micro-unit rounding, argmax ties to the smallest class."""
    import hashlib
    import math

    def h64(t):
        # the portable 60-bit hash (functions.portable_hash64) in pure
        # Python: first 15 hex chars of md5
        return int(hashlib.md5(t.encode()).hexdigest()[:15], 16)

    def buckets(text):
        return [
            h64(t) % n_buckets
            for t in text.lower().split()
            if t != ""
        ]

    cnt: dict = {}
    pri: dict = {}
    for _id, text, cls in rows:
        pri[cls] = pri.get(cls, 0) + 1
        for b in buckets(text):
            cnt[(cls, b)] = cnt.get((cls, b), 0) + 1
    tot = {}
    for (cls, _b), c in cnt.items():
        tot[cls] = tot.get(cls, 0) + c
    micro = 1_000_000

    def r(x):
        # Spark's round(double) goes through BigDecimal.valueOf =
        # shortest-repr string, then HALF_UP — mirror exactly
        import decimal

        return int(
            decimal.Decimal(repr(x * micro)).quantize(
                0, rounding=decimal.ROUND_HALF_UP
            )
        )

    w = {
        (cls, b): r(
            math.log((c + alpha) / (tot[cls] + alpha * n_buckets))
        )
        for (cls, b), c in cnt.items()
    }
    bias = {cls: r(math.log(n)) for cls, n in pri.items()}
    dflt = {
        cls: r(
            math.log(alpha / (tot.get(cls, 0) + alpha * n_buckets))
        )
        for cls in pri
    }
    out = {}
    for _id, text, _cls in rows:
        bs = buckets(text)
        best = None
        for cls in sorted(pri):
            s = bias[cls] + sum(
                w.get((cls, b), dflt[cls]) for b in bs
            )
            if best is None or s > best[1]:
                best = (cls, s)
        out[_id] = (len(bs), best[0], best[1])
    return out


def test_multiclass_bow_matches_python_reference(spark):
    """train + score + argmax against an exact plain-Python NB
    reference (same portable hash, same smoothing, same micro-unit
    rounding, ties to the smallest class name) — including a
    zero-token doc (bias-only argmax) and a class whose tokens never
    overlap the others."""
    from inbev_data_engineering_case_spark.operators.classify import (
        score_bow_multiclass,
        train_bow_multiclass,
    )

    rows = [
        (1, "alpha beta beta alpha", "web"),
        (2, "alpha alpha gamma", "web"),
        (3, "def return yield import", "code"),
        (4, "import numpy def lambda", "code"),
        (5, "theorem lemma proof", "math"),
        (6, "proof proof theorem alpha", "math"),
        (7, "", "web"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, label string"
    )
    model = train_bow_multiclass(docs, n_buckets=128)
    got = {
        r["doc_id"]: (r["n_tokens"], r["pred_class"], r["score_micro"])
        for r in score_bow_multiclass(
            docs.select("doc_id", "text"), model
        ).collect()
    }
    want = _mc_python_reference(rows, 128)
    assert got == want


def test_multiclass_train_and_score_fused_parity(spark):
    """The r15 one-tokenization composition
    (train_and_score_bow_multiclass: shared per-(doc, class, bucket)
    count table feeding both the sufficient statistics and the
    scorer) is row-identical to the separate train + score chain —
    including the zero-token bias-only doc — and the NULL-class guard
    still raises through the shared table's plan."""
    import pytest

    from inbev_data_engineering_case_spark.operators.classify import (
        score_bow_multiclass,
        train_and_score_bow_multiclass,
        train_bow_multiclass,
    )

    rows = [
        (1, "alpha beta beta alpha", "web"),
        (2, "alpha alpha gamma", "web"),
        (3, "def return yield import", "code"),
        (4, "import numpy def lambda", "code"),
        (5, "theorem lemma proof", "math"),
        (6, "proof proof theorem alpha", "math"),
        (7, "", "web"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, label string"
    )
    model = train_bow_multiclass(docs, n_buckets=128)
    want = sorted(
        map(
            tuple,
            score_bow_multiclass(
                docs.select("doc_id", "text"), model
            ).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            train_and_score_bow_multiclass(docs, n_buckets=128).collect(),
        )
    )
    assert got == want

    bad = spark.createDataFrame(
        [(1, "alpha", "web"), (2, "beta", None)],
        "doc_id long, text string, label string",
    )
    with pytest.raises(Exception, match="class label casts to NULL"):
        train_and_score_bow_multiclass(bad, n_buckets=128).collect()


@pytest.mark.slow
def test_multiclass_counts_merge_parity_and_guards(spark):
    """The incremental-artifact loop: training on the union equals
    merging a labeled delta's counts into the stored table and
    re-deriving — byte-identical weights. Guards: NULL class label
    raises in-plan; <2 classes raises; a double-META merge raises."""
    import pytest

    from inbev_data_engineering_case_spark.operators.classify import (
        merge_multiclass_bow_counts,
        multiclass_bow_counts,
        multiclass_bow_weights_from_counts,
        train_bow_multiclass,
    )

    day1 = [(1, "alpha beta", "a"), (2, "gamma gamma", "b")]
    day2 = [(3, "alpha alpha delta", "a"), (4, "epsilon", "c")]
    df1 = spark.createDataFrame(
        day1, "doc_id long, text string, label string"
    )
    df2 = spark.createDataFrame(
        day2, "doc_id long, text string, label string"
    )
    both = df1.unionByName(df2)

    merged = merge_multiclass_bow_counts(
        multiclass_bow_counts(df1, n_buckets=64),
        multiclass_bow_counts(df2, n_buckets=64),
    )
    inc = {
        (r["class"], r["bucket"]): r["weight_micro"]
        for r in multiclass_bow_weights_from_counts(merged).collect()
    }
    full = {
        (r["class"], r["bucket"]): r["weight_micro"]
        for r in train_bow_multiclass(both, n_buckets=64).collect()
    }
    assert inc == full

    # NULL class label raises in-plan
    bad = spark.createDataFrame(
        [(1, "x", "a"), (2, "y", None)],
        "doc_id long, text string, label string",
    )
    with pytest.raises(Exception, match="NULL"):
        multiclass_bow_counts(bad, n_buckets=64).collect()

    # one-class table raises at derive time
    one = spark.createDataFrame(
        [(1, "x", "a")], "doc_id long, text string, label string"
    )
    with pytest.raises(ValueError, match=">= 2 classes"):
        multiclass_bow_weights_from_counts(
            multiclass_bow_counts(one, n_buckets=64)
        )

    # merging two hash spaces leaves two META rows -> derive refuses
    with pytest.raises(ValueError, match="exactly one META"):
        multiclass_bow_weights_from_counts(
            merge_multiclass_bow_counts(
                multiclass_bow_counts(df1, n_buckets=64),
                multiclass_bow_counts(df2, n_buckets=128),
            )
        )


def test_multiclass_eval_confusion_and_guards(spark):
    """Per-class one-vs-rest confusion on a hand frame (including a
    class that is only ever PREDICTED — zero support, NULL recall),
    plus the population-integrity guards with the duplicate guard
    outranking the per-row ones."""
    import pytest

    from inbev_data_engineering_case_spark.operators.classify import (
        evaluate_multiclass_classifier,
    )

    pred = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "c"), (5, "a")],
        "doc_id long, pred_class string",
    )
    labels = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "b"), (4, "a"), (5, "a")],
        "doc_id long, label string",
    )
    got = {
        r["class"]: r.asDict()
        for r in evaluate_multiclass_classifier(pred, labels).collect()
    }
    assert set(got) == {"a", "b", "c"}
    a = got["a"]
    assert (a["tp"], a["fp"], a["fn"], a["tn"]) == (2, 1, 1, 1)
    assert a["support"] == 3
    assert a["precision_ppm"] == (2 * 1_000_000) // 3
    assert a["recall_ppm"] == (2 * 1_000_000) // 3
    c = got["c"]  # predicted once, never true
    assert (c["tp"], c["fp"], c["fn"], c["support"]) == (0, 1, 0, 0)
    assert c["precision_ppm"] == 0 and c["recall_ppm"] is None
    b = got["b"]
    assert (b["tp"], b["fp"], b["fn"]) == (1, 0, 1)

    # guards: labeled id with no prediction row
    with pytest.raises(Exception, match="no prediction row"):
        evaluate_multiclass_classifier(
            pred.filter("doc_id != 3"), labels
        ).collect()
    # NULL label
    with pytest.raises(Exception, match="NULL for"):
        evaluate_multiclass_classifier(
            pred,
            spark.createDataFrame(
                [(1, None)], "doc_id long, label string"
            ),
        ).collect()
    # NULL predicted class (row present)
    with pytest.raises(Exception, match="NULL class"):
        evaluate_multiclass_classifier(
            spark.createDataFrame(
                [(1, None)], "doc_id long, pred_class string"
            ),
            labels.filter("doc_id = 1"),
        ).collect()
    # duplicated id outranks the per-row diagnostics even when the
    # duplicated id ALSO has no prediction row
    with pytest.raises(Exception, match="duplicated id"):
        evaluate_multiclass_classifier(
            pred.filter("doc_id = 1"),
            spark.createDataFrame(
                [(1, "a"), (9, "a"), (9, "b")],
                "doc_id long, label string",
            ),
        ).collect()


def test_multiclass_separable_holdout_and_score_guards(spark):
    """End-to-end on linearly separable per-class vocabularies under
    the hash-split holdout protocol: held-out accuracy 100% for every
    class. Score-side guards: a model missing its META row refuses,
    and a class missing its bias/default rows raises in-plan."""
    import pytest
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.classify import (
        META_BUCKET,
        evaluate_multiclass_classifier,
        score_bow_multiclass,
        train_bow_multiclass,
    )
    from inbev_data_engineering_case_spark.operators.curate import (
        hash_split,
    )

    vocab = {
        "web": "news article page link site story",
        "code": "def class import return lambda yield",
        "math": "theorem lemma proof integral matrix",
    }
    rows = [
        (i, vocab[cls] + f" v{i}", cls)
        for i, cls in enumerate(
            [c for c in vocab for _ in range(60)]
        )
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, label string"
    )
    split = hash_split(
        docs, weights={"train": 0.7, "test": 0.3}, id_col="doc_id"
    )
    train = split.filter("split = 'train'")
    test = split.filter("split = 'test'")
    model = train_bow_multiclass(train, n_buckets=1 << 12)
    ev = evaluate_multiclass_classifier(
        score_bow_multiclass(test.select("doc_id", "text"), model),
        test.select("doc_id", "label"),
    ).collect()
    assert {r["class"] for r in ev} == set(vocab)
    for r in ev:
        assert r["support"] > 0
        assert r["precision_ppm"] == 1_000_000, r
        assert r["recall_ppm"] == 1_000_000, r

    # META missing -> refuses
    with pytest.raises(ValueError, match="META"):
        score_bow_multiclass(
            docs.select("doc_id", "text"),
            model.filter(F.col("bucket") != META_BUCKET),
        )
    # a class stripped of its bias row raises in-plan
    broken = model.filter(
        ~((F.col("class") == "web") & (F.col("bucket") == -1))
    )
    with pytest.raises(Exception, match="bias/default"):
        score_bow_multiclass(
            docs.select("doc_id", "text"), broken
        ).collect()


def test_mixture_sample_by_class_composition(spark):
    """The classifier-routed mixing hook equals mixture_sample over
    the argmax-tagged corpus (same strata, same rates, same hash
    membership) — the composition can never disagree with its
    parts."""
    from inbev_data_engineering_case_spark.operators.classify import (
        mixture_sample_by_class,
        score_bow_multiclass,
        train_bow_multiclass,
    )
    from inbev_data_engineering_case_spark.operators.sample import (
        mixture_sample,
    )

    vocab = {
        "web": "news article page link",
        "code": "def import return lambda",
    }
    rows = [
        (i, vocab["web" if i % 3 else "code"] + f" v{i}",
         "web" if i % 3 else "code")
        for i in range(90)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, label string"
    )
    model = train_bow_multiclass(docs, n_buckets=1 << 12)
    target = {"web": 300_000, "code": 700_000}

    got = {
        r["doc_id"]
        for r in mixture_sample_by_class(
            docs.select("doc_id", "text"), model, target, salt=7
        ).collect()
    }
    tagged = docs.select("doc_id", "text").join(
        score_bow_multiclass(
            docs.select("doc_id", "text"), model
        ).select("doc_id", "pred_class"),
        on="doc_id",
    )
    want = {
        r["doc_id"]
        for r in mixture_sample(
            tagged, "pred_class", target, salt=7
        ).collect()
    }
    assert got == want and got


@pytest.mark.slow
def test_select_within_budget_prefix_semantics_and_guards(spark):
    """Budgeted data selection: the kept set is the maximal
    (quality DESC, id ASC) prefix whose summed cost fits the budget —
    hand-checked boundaries (mid-level split, exact fit, zero budget,
    budget over total), random-input parity against a brute-force
    Python reference, in-plan guards for NULL/negative cost and NULL
    quality, and the reserved-column clash."""
    import random

    import pytest

    from inbev_data_engineering_case_spark.operators.sample import (
        select_within_budget,
    )

    rows = [
        (1, 10, 0.9), (2, 10, 0.9), (3, 10, 0.9),
        (4, 15, 0.8),
        (5, 100, 0.7),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, n_tokens long, quality double"
    )
    expect = {
        0: [], 5: [], 10: [1], 25: [1, 2], 30: [1, 2, 3],
        44: [1, 2, 3], 45: [1, 2, 3, 4], 135: [1, 2, 3, 4],
        200: [1, 2, 3, 4, 5],
    }
    for b, want in expect.items():
        got = sorted(
            r["doc_id"]
            for r in select_within_budget(df, b).collect()
        )
        assert got == want, (b, got)
    # output schema is the input's, staging columns dropped
    assert select_within_budget(df, 30).columns == [
        "doc_id", "n_tokens", "quality",
    ]

    def reference(rows, budget):
        order = sorted(
            rows, key=lambda r: (-round(r[2] * 1_000_000), r[0])
        )
        kept, cum = [], 0
        for rid, cost, _q in order:
            cum += cost
            if cum > budget:
                break
            kept.append(rid)
        return sorted(kept)

    rng = random.Random(0xB0D6)
    for trial in range(4):
        rws = [
            (i, rng.randrange(0, 40), rng.choice([0.3, 0.55, 0.8]))
            for i in range(60)
        ]
        rdf = spark.createDataFrame(
            rws, "doc_id long, n_tokens long, quality double"
        )
        total = sum(r[1] for r in rws)
        for b in (0, total // 7, total // 3, total - 1, total + 5):
            got = sorted(
                r["doc_id"]
                for r in select_within_budget(rdf, b).collect()
            )
            assert got == reference(rws, b), (trial, b)

    with pytest.raises(Exception, match="NULL or negative cost"):
        select_within_budget(
            spark.createDataFrame(
                [(1, -5, 0.5)], "doc_id long, n_tokens long, quality double"
            ),
            100,
        ).collect()
    with pytest.raises(Exception, match="NULL quality"):
        select_within_budget(
            spark.createDataFrame(
                [(1, 5, None)], "doc_id long, n_tokens long, quality double"
            ),
            100,
        ).collect()
    with pytest.raises(ValueError, match="_mq"):
        select_within_budget(df.withColumn("_mq", df.doc_id), 100)
    with pytest.raises(ValueError, match="_cost"):
        select_within_budget(df.withColumn("_cost", df.doc_id), 100)


def test_select_within_budget_never_sorts_the_corpus(spark):
    """The scale contract: the corpus side is a scan + broadcast
    semi-join — the only Sort nodes in the plan sit under window/limit
    operators over the LEVEL histogram or the single boundary level,
    never a corpus-wide range-partition sort (no RangePartitioning
    exchange anywhere)."""
    from inbev_data_engineering_case_spark.operators.sample import (
        select_within_budget,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select(
        "doc_id",
        F.length("text").alias("n_tokens"),
        (F.col("n_chars") / 1000.0).alias("quality"),
    )
    plan = (
        select_within_budget(docs, 50_000)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "rangepartitioning" not in plan.lower(), plan[:2000]
    assert "BatchEvalPython" not in plan


def test_select_within_budget_by_stratum_parity_and_guards(spark):
    """Per-stratum budgeted selection: equals the scalar form applied
    per stratum and unioned (the identity contract), dict and
    DataFrame budget shapes agree, unbudgeted strata are excluded,
    zero-budget strata select nothing, and a malformed budget frame or
    staged-column clash is refused."""
    import random

    import pytest

    from inbev_data_engineering_case_spark.operators.sample import (
        select_within_budget,
        select_within_budget_by_stratum,
    )

    rng = random.Random(0x57A7)
    rows = [
        (
            i,
            rng.choice(["a", "b", "c", "d"]),
            rng.randrange(0, 40),
            rng.choice([0.3, 0.55, 0.8]),
        )
        for i in range(120)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, src string, n_tokens long, quality double"
    )
    # d has no budget (excluded); c's zero budget selects nothing —
    # including its zero-cost docs (the scalar short-circuit's case)
    budgets = {"a": 150, "b": 1, "c": 0}
    got = sorted(
        r["doc_id"]
        for r in select_within_budget_by_stratum(
            df, "src", budgets
        ).collect()
    )
    want: list[int] = []
    for s, b in budgets.items():
        want += [
            r["doc_id"]
            for r in select_within_budget(
                df.filter(F.col("src") == s), b
            ).collect()
        ]
    assert got == sorted(want)
    # the DataFrame budget shape selects identically, budget column
    # name free; output schema is the input's, staging columns dropped
    bdf = spark.createDataFrame(
        sorted(budgets.items()), "src string, spend long"
    )
    sel = select_within_budget_by_stratum(df, "src", bdf)
    assert sorted(r["doc_id"] for r in sel.collect()) == got
    assert sel.columns == ["doc_id", "src", "n_tokens", "quality"]
    with pytest.raises(ValueError, match="budgets must be"):
        select_within_budget_by_stratum(
            df, "src", bdf.withColumn("extra", F.lit(1))
        )
    with pytest.raises(ValueError, match="_mq"):
        select_within_budget_by_stratum(
            df.withColumn("_mq", df.doc_id), "src", budgets
        )
    # a NULL budget raises (the family's NULL discipline) instead of
    # silently excluding the stratum
    null_bdf = spark.createDataFrame(
        [("a", 150), ("b", None)], "src string, spend long"
    )
    with pytest.raises(Exception, match="NULL budget"):
        select_within_budget_by_stratum(df, "src", null_bdf).collect()
    # the dict shape honors the same NULL discipline (driver-side)
    with pytest.raises(ValueError, match="NULL budget"):
        select_within_budget_by_stratum(df, "src", {"a": 150, "b": None})
    # an empty dict is refused loudly, not an obscure schema error
    with pytest.raises(ValueError, match="empty budgets"):
        select_within_budget_by_stratum(df, "src", {})
    # a float budget (30e9-style) is refused — the dict shape shares
    # the DataFrame shape's exact-int64 boundary discipline instead
    # of silently comparing _cum <= _blim in double
    with pytest.raises(ValueError, match="non-integer budget"):
        select_within_budget_by_stratum(df, "src", {"a": 150.0, "b": 60})
    # duplicate stratum rows would duplicate boundary output — refused
    dup_bdf = spark.createDataFrame(
        [("a", 150), ("a", 10)], "src string, spend long"
    )
    with pytest.raises(Exception, match="duplicate budget"):
        select_within_budget_by_stratum(df, "src", dup_bdf).collect()
    # the scalar form does NOT reserve the by-stratum staging names
    from inbev_data_engineering_case_spark.operators.sample import (
        select_within_budget as _scalar,
    )

    assert (
        _scalar(df.withColumn("_rn", df.doc_id), 30).columns[-1] == "_rn"
    )


def test_mixture_budgets_arithmetic_and_guards(spark):
    """mixture_budgets: budget_units = (w_s · scarcest-budget) div 1e6
    hand-checked, never exceeds the stratum's own mass (the floor
    bound), strata outside target_ppm get no row, and the shared
    mixture guards raise on a zero-mass stratum."""
    import pytest

    from inbev_data_engineering_case_spark.operators.sample import (
        mixture_budgets,
    )

    rows = [("a", 100)] * 10 + [("b", 100)] * 5 + [("x", 100)] * 3
    df = spark.createDataFrame(
        [(i, s, c) for i, (s, c) in enumerate(rows)],
        "doc_id long, src string, cost long",
    )
    # masses: a=1000, b=500; budget = min(1000e6//5e5, 500e6//5e5) =
    # 1000 (b is scarcest); budget_units = 5e5*1000 div 1e6 = 500 each
    out = {
        r["src"]: r.asDict()
        for r in mixture_budgets(
            df, "src", {"a": 500_000, "b": 500_000}, "cost"
        ).collect()
    }
    assert set(out) == {"a", "b"}  # x: no target row
    assert out["a"]["budget_units"] == 500
    assert out["b"]["budget_units"] == 500
    assert all(v["budget_units"] <= v["n_units"] for v in out.values())
    # asymmetric 3:1 targets, A now the scarce side: budget =
    # min(1000e6 div 75e4, 500e6 div 25e4) = min(1333, 2000) = 1333;
    # a: 75e4·1333 div 1e6 = 999 ≤ 1000; b: 25e4·1333 div 1e6 = 333
    out2 = {
        r["src"]: r["budget_units"]
        for r in mixture_budgets(
            df, "src", {"a": 750_000, "b": 250_000}, "cost"
        ).collect()
    }
    assert out2 == {"a": 999, "b": 333}
    with pytest.raises(Exception, match="ZERO total weight"):
        mixture_budgets(
            df.withColumn(
                "cost",
                F.when(F.col("src") == "b", F.lit(0)).otherwise(
                    F.col("cost")
                ),
            ),
            "src",
            {"a": 500_000, "b": 500_000},
            "cost",
        ).collect()


def test_select_mixture_within_budget_composition_and_plan(spark):
    """The composed mixture-budget selection equals deriving the
    budgets and selecting per stratum explicitly, and its executed
    plan keeps the family's scale locks: no RangePartitioning exchange
    (the corpus never globally sorts) and no Python in the plan."""
    from inbev_data_engineering_case_spark.operators.sample import (
        mixture_budgets,
        select_mixture_within_budget,
        select_within_budget_by_stratum,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select(
        "doc_id",
        "source",
        F.length("text").cast("bigint").alias("cost"),
        (F.col("n_chars") / 1000.0).alias("quality"),
    )
    target = {"src1": 400_000, "src2": 400_000, "src3": 200_000}
    composed = select_mixture_within_budget(
        docs, "source", target, cost_col="cost"
    )
    explicit = select_within_budget_by_stratum(
        docs,
        "source",
        mixture_budgets(docs, "source", target, "cost").select(
            "source", "budget_units"
        ),
        cost_col="cost",
    )
    got = sorted(r["doc_id"] for r in composed.collect())
    assert got == sorted(r["doc_id"] for r in explicit.collect())
    assert got  # non-vacuous fixture
    plan = (
        composed._jdf.queryExecution().executedPlan().toString()
    )
    assert "rangepartitioning" not in plan.lower(), plan[:2000]
    assert "BatchEvalPython" not in plan


def test_mixture_rates_weighted_by_units(spark):
    """Token-weighted mixing: the per-stratum mass is sum(weight_col)
    (column named n_units), the budget/rate arithmetic is the same
    exact int64, membership stays the id hash, and the guards raise on
    NULL/negative weights and on a stratum mass past the exact-int64
    bound. Hand-checked rates, plus row-vs-unit divergence when length
    correlates with the stratum."""
    import pytest

    from inbev_data_engineering_case_spark.operators.sample import (
        mixture_rates,
        mixture_sample,
    )

    # long "code" docs vs short "web" docs: equal ROW counts, 4x the
    # unit mass on code
    rows = [(i, "code" if i % 2 else "web", 400 if i % 2 else 100)
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, src string, w long")
    target = {"code": 500_000, "web": 500_000}

    by_rows = {
        r["src"]: r["rate_ppm"]
        for r in mixture_rates(df, "src", target).collect()
    }
    assert by_rows == {"code": 1_000_000, "web": 1_000_000}

    by_units = {
        r["src"]: r
        for r in mixture_rates(df, "src", target, weight_col="w").collect()
    }
    # masses: code 8000, web 2000; budget = min(8000*1e6/5e5,
    # 2000*1e6/5e5) = 4000; kept_s = 2000 -> code rate 250000, web 1e6
    assert by_units["code"]["n_units"] == 8000
    assert by_units["web"]["n_units"] == 2000
    assert by_units["code"]["rate_ppm"] == 250_000
    assert by_units["web"]["rate_ppm"] == 1_000_000

    # the sampler composes: kept set = hash membership under the
    # weighted rates (web kept whole, code down to ~a quarter)
    kept = mixture_sample(df, "src", target, weight_col="w")
    kept_by = {
        r["src"]: r["n"]
        for r in kept.groupBy("src").agg(F.count("*").alias("n")).collect()
    }
    assert kept_by["web"] == 20 and 0 < kept_by["code"] < 20

    with pytest.raises(Exception, match="NULL or negative weight"):
        mixture_rates(
            spark.createDataFrame(
                [(1, "a", -3)], "doc_id long, src string, w long"
            ),
            "src",
            {"a": 1_000_000},
            weight_col="w",
        ).collect()
    with pytest.raises(Exception, match="exact int64 bound"):
        mixture_rates(
            spark.createDataFrame(
                [(1, "a", (2**63 - 1) // 1_000_000 + 1)],
                "doc_id long, src string, w long",
            ),
            "src",
            {"a": 1_000_000},
            weight_col="w",
        ).collect()
    # an in-target zero-mass stratum would zero the global budget and
    # silently empty the whole mixture — it raises instead; the same
    # stratum OUTSIDE the target is simply dropped by the join
    zero = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 10)], "doc_id long, src string, w long"
    )
    with pytest.raises(Exception, match="ZERO total weight"):
        mixture_rates(
            zero, "src", {"a": 500_000, "b": 500_000}, weight_col="w"
        ).collect()
    ok = {
        r["src"]: r["rate_ppm"]
        for r in mixture_rates(
            zero, "src", {"b": 1_000_000}, weight_col="w"
        ).collect()
    }
    assert ok == {"b": 1_000_000}


def test_sql_text_operators_refuse_escaped_string_literals(spark, docs):
    """The SQL-text fast paths escape their literals for the default
    parser. Under spark.sql.parser.escapedStringLiterals=true the same
    text would parse to different regexes and stopwords, so each entry
    point raises instead of silently tokenizing differently."""
    from inbev_data_engineering_case_spark.operators.decontaminate import (
        benchmark_ngram_hashes,
        contamination_report,
    )
    from inbev_data_engineering_case_spark.operators.dedup import (
        minhash_signatures,
    )
    from inbev_data_engineering_case_spark.operators.textops import (
        score_documents,
    )

    conf = "spark.sql.parser.escapedStringLiterals"
    calls = {
        "score_documents": lambda: score_documents(docs),
        "minhash_signatures": lambda: minhash_signatures(docs),
        "benchmark_ngram_hashes": lambda: benchmark_ngram_hashes(docs),
        "contamination_report": lambda: contamination_report(docs, docs),
    }
    spark.conf.set(conf, "true")
    try:
        for name, call in calls.items():
            with pytest.raises(ValueError, match=f"{name}: {conf}=true"):
                call()
    finally:
        spark.conf.unset(conf)
    for call in calls.values():
        call()  # the default parser builds every plan

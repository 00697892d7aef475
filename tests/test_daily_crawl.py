"""The real daily-crawl loop at bench scale: day-1 full curation of the
sf0.1 documents table with a session checkpoint dir set (one per day), so
every lineage cut lands in a parquet scratch table; artifact tables
written to and re-read from disk, then a ~1% day-2 delta curated
incrementally — asserting the incremental run's scratch I/O is
delta-sized, not corpus-sized, and that the advanced artifacts are ready
for day 3.

This is the end-to-end check of the cluster materialization policy
(``session.materialize`` with ``sc.setCheckpointDir``) beyond identity
checks on toy rows: every intermediate the pipeline shares across
consumers hits parquet, exactly as it would under a cluster checkpoint
dir, and the byte counts on disk are the evidence that day 2 cost scales
with the delta."""

from __future__ import annotations

import contextlib
import pathlib

import pytest

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.1"


def _du(path: pathlib.Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


@contextlib.contextmanager
def _checkpoint_dir(spark, path: pathlib.Path):
    sc = spark.sparkContext
    sc.setCheckpointDir(str(path))
    try:
        yield
    finally:
        sc.setCheckpointDir(None)


@pytest.mark.slow
def test_two_day_crawl_table_mode_delta_sized(spark, tmp_path):
    from inbev_data_engineering_case_spark.operators.curate import (
        advance_corpus_artifacts,
        curate_corpus,
        curate_incremental,
    )
    from inbev_data_engineering_case_spark.operators.dedup import (
        exact_dedup,
        minhash_signatures,
    )

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
    )
    n_docs = docs.count()

    # ---- day 1: full batch curation, all shared intermediates on disk
    with _checkpoint_dir(spark, tmp_path / "scratch_day1"):
        kept1 = curate_corpus(docs)
    kept1.write.parquet(str(tmp_path / "corpus_day1"))
    kept1 = spark.read.parquet(str(tmp_path / "corpus_day1"))

    # artifact tables: written to disk, read back — the real loop never
    # holds them in memory between days
    minhash_signatures(kept1.select("doc_id", "text")).write.parquet(
        str(tmp_path / "sigs_day1")
    )
    exact_dedup(kept1.select("doc_id", "text")).write.parquet(
        str(tmp_path / "fps_day1")
    )
    stored_sigs = spark.read.parquet(str(tmp_path / "sigs_day1"))
    stored_fps = spark.read.parquet(str(tmp_path / "fps_day1"))
    n_kept1 = kept1.count()

    # ---- day 2: ~1% delta — fresh docs (word-reversed kept text: same
    # language/quality profile, no shared word shingles), near-dups and
    # exact dups of KEPT docs (direct links only, so incremental and
    # full-rebatch keep-decisions provably agree; ids above every corpus
    # id so min-id survivors never flip)
    base = kept1.orderBy("doc_id").limit(50).select("doc_id", "text")
    fresh = base.limit(30).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(F.reverse(F.split("text", r"\s+")), " ").alias("text"),
    )
    near = base.limit(10).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat("text", F.lit(" extra tail words here")).alias("text"),
    )
    exact = base.limit(10).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
    )
    delta = fresh.unionByName(near).unionByName(exact)
    snap2 = docs.unionByName(delta)
    n_delta = delta.count()
    assert n_delta <= 0.02 * n_docs

    with _checkpoint_dir(spark, tmp_path / "scratch_day2"):
        kept2 = curate_incremental(docs, snap2, stored_sigs, stored_fps)
    kept2_ids = sorted(r["doc_id"] for r in kept2.collect())

    # near- and exact-dups of kept docs dropped via the DISK artifacts
    assert not [i for i in kept2_ids if i >= 2_000_000]
    # the fresh docs survive (same lang/quality as their kept sources)
    assert len(kept2_ids) > 0 and min(kept2_ids) >= 1_000_000

    # ---- full rebatch over snap2 for the cost + parity comparison
    with _checkpoint_dir(spark, tmp_path / "scratch_full"):
        keptF = curate_corpus(snap2)
    keptF_ids = sorted(r["doc_id"] for r in keptF.collect())

    kept1_ids = sorted(r["doc_id"] for r in kept1.collect())
    assert sorted(kept1_ids + kept2_ids) == keptF_ids

    # ---- THE scale assertion: day-2's scratch tables are delta-sized.
    # The full rebatch materializes corpus-sized intermediates (scored
    # eligible corpus, signature table); the incremental run materializes
    # only delta-sized ones. ~1% delta must stay far under the rebatch's
    # scratch footprint (generous 25% bound: small-file parquet overhead
    # dominates tiny tables).
    day2_bytes = _du(tmp_path / "scratch_day2")
    full_bytes = _du(tmp_path / "scratch_full")
    assert day2_bytes > 0 and full_bytes > 0
    assert day2_bytes < 0.25 * full_bytes, (
        f"incremental scratch {day2_bytes}B not delta-sized vs "
        f"rebatch {full_bytes}B"
    )

    # ---- advancement is delta-sized and day-3-ready: only the kept
    # delta's rows are new; written back to disk like every other day
    sigs2, fps2 = advance_corpus_artifacts(
        kept2.select("doc_id", "text"), stored_sigs, stored_fps
    )
    sigs2.write.parquet(str(tmp_path / "sigs_day2"))
    fps2.write.parquet(str(tmp_path / "fps_day2"))
    assert (
        spark.read.parquet(str(tmp_path / "sigs_day2")).count()
        == n_kept1 + len(kept2_ids)
    )


_EN = "the quick brown fox jumps over the lazy dog in the sunny park"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.slow
def test_components_artifact_chained_two_day_parity(spark):
    """The components-label artifact in the daily loop (r12 VERDICT
    ask): bootstrap labels from the day-0 batch pair graph, then chain
    TWO incremental days — each day's curate_incremental contracts
    against the stored labels (keep decisions identical to the plain
    path, asserted per day), hands its pair table out through
    artifacts_out, and advance_corpus_artifacts advances the labels.
    After every advance the maintained labels equal the full-batch
    converged closure over the UNION of every pair table ever seen —
    including a day-2 doc that MERGES two stored singleton clusters."""
    from inbev_data_engineering_case_spark.operators.curate import (
        advance_corpus_artifacts,
        curate_corpus,
        curate_incremental,
    )
    from inbev_data_engineering_case_spark.operators.dedup import (
        dedup_components,
        minhash_dedup_pairs,
    )

    # day 0: docs 1 and 2 near-dup (2 dropped), 3 and 5 distinct
    day0 = _docs(spark, [
        (1, _EN + " alpha story one"),
        (2, _EN + " alpha story one extra"),
        (3, "a completely different tale about the river and the old "
            "boat that the fisherman kept near the house"),
        (5, "yet another independent document where the cats sleep on "
            "the warm stones by the garden wall all day"),
    ])
    kept0 = curate_corpus(day0, min_quality=0.0)
    kept0_ids = sorted(r["doc_id"] for r in kept0.collect())
    assert kept0_ids == [1, 3, 5]

    # bootstrap: sigs/fps over the KEPT corpus, labels over the batch
    # pair graph (converged — the incremental operator's provider
    # contract)
    from inbev_data_engineering_case_spark.operators.dedup import (
        exact_dedup,
        minhash_signatures,
    )

    sigs = minhash_signatures(kept0.select("doc_id", "text"))
    fps = exact_dedup(kept0.select("doc_id", "text"))
    pairs_seen = [minhash_dedup_pairs(day0)]
    comps = dedup_components(
        pairs_seen[0], require_convergence=True
    ).localCheckpoint(eager=True)

    def union_closure():
        allp = pairs_seen[0]
        for p in pairs_seen[1:]:
            allp = allp.unionByName(p)
        return {
            (r["node"], r["comp"])
            for r in dedup_components(
                allp.select("id_a", "id_b"), require_convergence=True
            ).collect()
        }

    snap_prev = day0
    for day, delta_rows in enumerate(
        [
            # day 1: 11 near-dups kept doc 1; 13 fresh
            [(11, _EN + " alpha story one tail"),
             (13, "a brand new page about the markets and the traders "
                  "who walk the long road to the city every morning")],
            # day 2: 21 near-dups BOTH 3 and 5's families is impossible
            # for singletons via text, so 21 near-dups kept 3; 23
            # bridges day-1's kept 13 (merge of two stored singleton
            # clusters happens via 25 linking 13 and 21's cluster is
            # also text-bound — keep it simple: 25 near-dups 13)
            [(21, "a completely different tale about the river and the "
                  "old boat that the fisherman kept near the house "
                  "indeed"),
             (25, "a brand new page about the markets and the traders "
                  "who walk the long road to the city every morning "
                  "again")],
        ],
        start=1,
    ):
        snap_new = snap_prev.unionByName(_docs(spark, delta_rows))
        out: dict = {}
        kept_plain = curate_incremental(
            snap_prev, snap_new, sigs, fps, min_quality=0.0
        )
        kept_contracted = curate_incremental(
            snap_prev, snap_new, sigs, fps, min_quality=0.0,
            stored_components=comps, artifacts_out=out,
        )
        plain_ids = sorted(r["doc_id"] for r in kept_plain.collect())
        got_ids = sorted(r["doc_id"] for r in kept_contracted.collect())
        assert got_ids == plain_ids, f"day {day}: keep-decision parity"
        assert "pairs" in out

        pairs_seen.append(out["pairs"])
        new_sigs, new_fps, new_comps = advance_corpus_artifacts(
            kept_contracted.select("doc_id", "text"), sigs, fps,
            stored_components=comps, delta_pairs=out["pairs"],
        )
        # r15 closure consolidation: the keep decision already paid the
        # contracted closure — handing it back (artifacts_out
        # ["components"] → kept_comps=) skips the advance's second
        # contraction and is row-identical to recomputing it
        assert "components" in out
        _, _, comps_reused = advance_corpus_artifacts(
            kept_contracted.select("doc_id", "text"), sigs, fps,
            stored_components=comps, delta_pairs=out["pairs"],
            kept_comps=out["components"],
        )
        sigs, fps = new_sigs, new_fps
        comps = new_comps.localCheckpoint(eager=True)
        got_labels = {(r["node"], r["comp"]) for r in comps.collect()}
        assert {
            (r["node"], r["comp"]) for r in comps_reused.collect()
        } == got_labels, f"day {day}: kept_comps reuse parity"
        assert got_labels == union_closure(), f"day {day}: label parity"
        snap_prev = snap_new

    # the near-dup deltas were dropped, the fresh ones kept
    final_nodes = {r["node"] for r in comps.collect()}
    assert {1, 2, 11} <= final_nodes  # day-0/1 alpha cluster remembered


def test_advance_corpus_artifacts_components_validation(spark):
    """stored_components and delta_pairs come together — one without
    the other raises instead of silently skipping the label advance."""
    import pytest

    from inbev_data_engineering_case_spark.operators.curate import (
        advance_corpus_artifacts,
    )

    kept = _docs(spark, [(1, _EN)])
    sigs = spark.createDataFrame([], "id long, sig array<bigint>")
    fps = spark.createDataFrame([], "fp long, keep_id long")
    comps = spark.createDataFrame([], "node long, comp long")
    with pytest.raises(ValueError, match="come together"):
        advance_corpus_artifacts(kept, sigs, fps, stored_components=comps)
    with pytest.raises(ValueError, match="come together"):
        advance_corpus_artifacts(
            kept, sigs, fps,
            delta_pairs=spark.createDataFrame(
                [], "id_a long, id_b long, est_jaccard double"
            ),
        )
    # kept_comps without the stored pair would be silently ignored —
    # the caller thinks the labels advanced; refuse instead
    with pytest.raises(ValueError, match="kept_comps"):
        advance_corpus_artifacts(kept, sigs, fps, kept_comps=comps)


@pytest.mark.slow
def test_halo_artifact_loop_closure(spark):
    """The halo's daily loop (r12 VERDICT ask): day-0 batch halo state
    (pair graph + BFS dist table from the real flag operator), then a
    delta crawl whose pairs come from the signature-table machinery
    and whose new flags come from contamination_report over the DELTA
    alone — advance_halo_artifacts folds both in change-sized, and the
    advanced state is row-identical to a from-scratch BFS over the
    union graph + union seeds. Chained twice; the consumed drop set
    (kept ids in the dist table) matches the full re-walk's."""
    from inbev_data_engineering_case_spark.operators.curate import (
        advance_halo_artifacts,
        incremental_minhash_pairs,
    )
    from inbev_data_engineering_case_spark.operators.decontaminate import (
        contamination_report,
    )
    from inbev_data_engineering_case_spark.operators.dedup import (
        minhash_dedup_pairs,
        minhash_signatures,
    )
    from inbev_data_engineering_case_spark.operators.graph import (
        multi_source_bfs,
    )

    bench_text = (
        "this exact benchmark passage with its very specific wording "
        "must never appear inside any document of the training corpus"
    )
    bench = _docs(spark, [(900, bench_text)])

    # day 0: doc 1 contaminated (verbatim benchmark text), doc 2 its
    # near-dup paraphrase-by-suffix (the 1-hop halo), doc 3 clean
    day0 = _docs(spark, [
        (1, bench_text),
        (2, bench_text + " with a small harmless tail added"),
        (3, "an entirely clean document about the weather and the "
            "mountains where the hikers rest by the little stream"),
    ])
    max_hops = 2
    pairs = minhash_dedup_pairs(day0).select("id_a", "id_b")
    seeds_seen = contamination_report(day0, bench).select("doc_id")
    assert {r["doc_id"] for r in seeds_seen.collect()} == {1, 2}
    dist = multi_source_bfs(
        pairs, seeds_seen, max_hops=max_hops,
        src_col="id_a", dst_col="id_b",
    ).localCheckpoint(eager=True)
    sigs = minhash_signatures(day0.select("doc_id", "text"))

    all_pairs, all_seeds, corpus = pairs, seeds_seen, day0
    for delta_rows in [
        # day 1: 11 near-dups the HALOED doc 2 (2-hop contamination,
        # no direct flag); 13 fresh and clean
        [(11, bench_text + " with a small harmless tail added twice"),
         (13, "a clean report on the harvest and the carts that the "
              "farmers drive along the dusty road to the market")],
        # day 2: 21 is a NEW direct flag (re-quotes the benchmark)
        [(21, "prefix words then " + bench_text + " and suffix")],
    ]:
        delta = _docs(spark, delta_rows)
        new_pairs = incremental_minhash_pairs(delta, sigs).select(
            "id_a", "id_b"
        )
        new_seeds = contamination_report(delta, bench).select("doc_id")
        all_pairs = all_pairs.unionByName(new_pairs).distinct()
        all_seeds = all_seeds.unionByName(new_seeds).distinct()

        stored_pairs, dist = advance_halo_artifacts(
            pairs, dist, new_pairs, new_seeds, max_hops=max_hops
        )
        stored_pairs = stored_pairs.localCheckpoint(eager=True)
        dist = dist.localCheckpoint(eager=True)
        pairs = stored_pairs

        got = {(r["node"], r["dist"]) for r in dist.collect()}
        want = {
            (r["node"], r["dist"])
            for r in multi_source_bfs(
                all_pairs, all_seeds, max_hops=max_hops,
                src_col="id_a", dst_col="id_b",
            ).collect()
        }
        assert got == want
        assert {
            (r["id_a"], r["id_b"]) for r in stored_pairs.collect()
        } == {(r["id_a"], r["id_b"]) for r in all_pairs.collect()}

        # advance the sig table like the real loop (kept delta; here
        # everything survives curation in this fixture)
        sigs = sigs.unionByName(
            minhash_signatures(delta.select("doc_id", "text"))
        )
        corpus = corpus.unionByName(delta)

    halo_nodes = {r["node"] for r in dist.collect()}
    # the 2-hop chain reached doc 11 through the haloed paraphrase,
    # and day-2's fresh flag is in at dist 0; clean docs stay out
    assert {1, 2, 11, 21} <= halo_nodes
    assert 3 not in halo_nodes and 13 not in halo_nodes


@pytest.mark.slow
def test_curate_incremental_contracted_labels_remember_merges(spark):
    """The stored-labels path after a BRIDGE MERGE (a dropped delta
    doc once fused two kept clusters, so a kept doc's label is no
    longer its own id): under the loop's id discipline (stored ids
    precede delta ids) keep decisions still equal the plain path —
    and when a caller violates that discipline, the divergence runs
    in the SAFE direction: the contracted path drops a delta doc that
    near-dups an already-emitted representative where the plain
    per-day closure would crown it a 'new' cluster min and re-emit
    it."""
    from inbev_data_engineering_case_spark.operators.curate import (
        curate_incremental,
    )
    from inbev_data_engineering_case_spark.operators.dedup import (
        exact_dedup,
        minhash_signatures,
    )

    tb = ("a long and ordinary english report on the harvest and the "
          "carts that the farmers drive along the road to the market")
    stored_docs = _docs(spark, [
        (10, "the quick brown fox jumps over the lazy dog while the "
             "farmer watches from the porch in the late evening sun"),
        (50, tb),
    ])
    sigs = minhash_signatures(stored_docs)
    fps = exact_dedup(stored_docs)
    # the remembered merge: a (dropped) bridge doc 60 once linked the
    # clusters of kept docs 10 and 50, so 50's label is 10
    labels = spark.createDataFrame(
        [(10, 10), (50, 10), (60, 10)], "node long, comp long"
    )

    def run(delta_id, stored_components=None):
        new = stored_docs.unionByName(
            _docs(spark, [(delta_id, tb + " with a tail")])
        )
        return sorted(
            r["doc_id"]
            for r in curate_incremental(
                stored_docs, new, sigs, fps, min_quality=0.0,
                stored_components=stored_components,
            ).collect()
        )

    # ascending delta id (the loop's discipline): dropped both ways
    assert run(70) == run(70, labels) == []

    # id-discipline violation (delta id 30 undercuts stored 50): the
    # plain path re-emits the near-dup as a "new" min; the contracted
    # path remembers 50's cluster and drops it
    assert run(30) == [30]
    assert run(30, labels) == []


@pytest.mark.slow
def test_daily_loop_full_artifact_set_chained(spark):
    """The WHOLE daily artifact set advanced as one unit, chained two
    days (the r13 VERDICT ask — components and halo each had a chained
    test, but no single loop advanced sigs, fps, labels, AND halo
    state from ONE shared delta pair table the way q_daily_loop and a
    production day do): bootstrap every artifact over the full day-0
    corpus (the q_daily_loop convention), then per day —
    curate_incremental(stored_components=, artifacts_out=) makes the
    keep decision and hands out the banded-once pair delta;
    advance_corpus_artifacts advances sigs/fps/labels from it;
    advance_halo_artifacts advances the halo pair/dist state from the
    SAME pair table plus the day's contamination flags. After every
    day: keep decisions match the plain (uncontracted) path, labels
    match the converged union re-closure, halo state matches the
    from-scratch BFS over union pairs + union seeds, the pair artifact
    is the distinct union, and the sig table holds exactly day-0 ∪
    every kept delta."""
    from inbev_data_engineering_case_spark.operators.curate import (
        advance_corpus_artifacts,
        advance_halo_artifacts,
        curate_incremental,
    )
    from inbev_data_engineering_case_spark.operators.decontaminate import (
        contamination_report,
    )
    from inbev_data_engineering_case_spark.operators.dedup import (
        dedup_components,
        exact_dedup,
        minhash_dedup_pairs,
        minhash_signatures,
    )
    from inbev_data_engineering_case_spark.operators.graph import (
        multi_source_bfs,
    )

    bench_text = (
        "this exact benchmark passage with its very specific wording "
        "must never appear inside any document of the training corpus"
    )
    bench = _docs(spark, [(900, bench_text)])
    max_hops = 2

    # day 0 corpus: 1 contaminated, 2 its flagged near-dup (pair edge
    # (1,2) in the graph), 3 and 5 clean and distinct
    day0 = _docs(spark, [
        (1, bench_text),
        (2, bench_text + " with a small harmless tail added"),
        (3, "a completely different tale about the river and the old "
            "boat that the fisherman kept near the house"),
        (5, "yet another independent document where the cats sleep on "
            "the warm stones by the garden wall all day"),
    ])

    sigs = minhash_signatures(day0.select("doc_id", "text"))
    fps = exact_dedup(day0.select("doc_id", "text"))
    day0_pairs = minhash_dedup_pairs(day0).select("id_a", "id_b")
    comps = dedup_components(
        day0_pairs, require_convergence=True
    ).localCheckpoint(eager=True)
    seeds0 = contamination_report(day0, bench).select("doc_id")
    assert {r["doc_id"] for r in seeds0.collect()} == {1, 2}
    halo_pairs = day0_pairs
    dist = multi_source_bfs(
        halo_pairs, seeds0, max_hops=max_hops,
        src_col="id_a", dst_col="id_b",
    ).localCheckpoint(eager=True)

    pairs_seen = [day0_pairs]
    seeds_seen = [seeds0]
    kept_delta_ids: set[int] = set()
    snap_prev = day0
    for day, delta_rows in enumerate(
        [
            # day 1: 11 re-quotes the benchmark (new direct flag);
            # 13 near-dups stored doc 3 (dropped); 15 fresh and clean
            [(11, "prefix words then " + bench_text + " and suffix"),
             (13, "a completely different tale about the river and "
                  "the old boat that the fisherman kept near the "
                  "house again"),
             (15, "a brand new page about the markets and the traders "
                  "who walk the long road to the city every morning")],
            # day 2: 21 near-dups day-1's KEPT 15 (the drop needs
            # day-1's ADVANCED sigs); 23 near-dups the flagged doc 2
            [(21, "a brand new page about the markets and the traders "
                  "who walk the long road to the city every morning "
                  "again"),
             (23, bench_text + " with a small harmless tail added "
                  "twice")],
        ],
        start=1,
    ):
        delta = _docs(spark, delta_rows)
        snap_new = snap_prev.unionByName(delta)
        out: dict = {}
        kept_plain = curate_incremental(
            snap_prev, snap_new, sigs, fps, min_quality=0.0
        )
        kept = curate_incremental(
            snap_prev, snap_new, sigs, fps, min_quality=0.0,
            stored_components=comps, artifacts_out=out,
        )
        got_ids = sorted(r["doc_id"] for r in kept.collect())
        assert got_ids == sorted(
            r["doc_id"] for r in kept_plain.collect()
        ), f"day {day}: keep-decision parity"

        # ONE pair table feeds both advances (the shared-banding
        # discipline q_daily_loop composes)
        pairs_seen.append(out["pairs"].select("id_a", "id_b"))
        sigs, fps, comps = advance_corpus_artifacts(
            kept.select("doc_id", "text"), sigs, fps,
            stored_components=comps, delta_pairs=out["pairs"],
        )
        sigs = sigs.localCheckpoint(eager=True)
        comps = comps.localCheckpoint(eager=True)
        new_seeds = contamination_report(delta, bench).select("doc_id")
        seeds_seen.append(new_seeds)
        halo_pairs, dist = advance_halo_artifacts(
            halo_pairs, dist, out["pairs"], new_seeds,
            max_hops=max_hops,
        )
        halo_pairs = halo_pairs.localCheckpoint(eager=True)
        dist = dist.localCheckpoint(eager=True)
        kept_delta_ids |= set(got_ids)
        snap_prev = snap_new

        # labels == converged re-closure over every pair table seen
        allp = pairs_seen[0]
        for p in pairs_seen[1:]:
            allp = allp.unionByName(p)
        want_labels = {
            (r["node"], r["comp"])
            for r in dedup_components(
                allp, require_convergence=True
            ).collect()
        }
        got_labels = {(r["node"], r["comp"]) for r in comps.collect()}
        assert got_labels == want_labels, f"day {day}: label parity"

        # halo state == from-scratch BFS over union pairs + seeds
        alls = seeds_seen[0]
        for s in seeds_seen[1:]:
            alls = alls.unionByName(s)
        want_dist = {
            (r["node"], r["dist"])
            for r in multi_source_bfs(
                allp.distinct(), alls.distinct(), max_hops=max_hops,
                src_col="id_a", dst_col="id_b",
            ).collect()
        }
        assert {
            (r["node"], r["dist"]) for r in dist.collect()
        } == want_dist, f"day {day}: halo parity"
        assert {
            (r["id_a"], r["id_b"]) for r in halo_pairs.collect()
        } == {
            (r["id_a"], r["id_b"]) for r in allp.collect()
        }, f"day {day}: pair artifact"

        # the sig table holds exactly day-0 ∪ every kept delta
        assert {
            r["id"] for r in sigs.select("id").collect()
        } == {1, 2, 3, 5} | kept_delta_ids, f"day {day}: sig coverage"

    # the composed outcomes the loop exists for: near-dups of stored
    # docs were dropped — 21 against a doc kept only on DAY 1 (needs
    # day-1's advanced sigs) — while the flags reached the halo state
    assert 13 not in kept_delta_ids and 21 not in kept_delta_ids
    assert 15 in kept_delta_ids
    halo_nodes = {r["node"] for r in dist.collect()}
    assert {1, 2, 11, 23} <= halo_nodes
    assert 3 not in halo_nodes and 15 not in halo_nodes


@pytest.mark.slow
def test_curate_incremental_token_budget_chained_two_day(spark):
    """r15 VERDICT ask #3: the daily loop spends "today's token budget
    on today's best survivors" in ONE pass — curate_incremental grew
    the batch pipeline's ``token_budget=`` spend stage, applied LAST
    (after the dedup/halo drops). Pinned against the standalone
    composition (plain incremental → select_within_budget_by_stratum
    over the same survivors), then CHAINED: day 2 curates against
    artifacts advanced from day 1's post-budget kept set — a
    budget-dropped doc was never emitted, so its day-2 twin is
    legitimately new and must survive."""
    from inbev_data_engineering_case_spark.operators.curate import (
        advance_corpus_artifacts,
        curate_corpus,
        curate_incremental,
    )
    from inbev_data_engineering_case_spark.operators.dedup import (
        exact_dedup,
        minhash_signatures,
    )
    from inbev_data_engineering_case_spark.operators.sample import (
        select_within_budget_by_stratum,
    )
    from pyspark.sql import functions as F

    day0 = _docs(spark, [
        (1, _EN + " alpha story one"),
        (3, "a completely different tale about the river and the old "
            "boat that the fisherman kept near the house"),
    ])
    kept0 = curate_corpus(day0, min_quality=0.0)
    sigs = minhash_signatures(kept0.select("doc_id", "text"))
    fps = exact_dedup(kept0.select("doc_id", "text"))

    # day 1: three fresh docs of distinct lengths + one near-dup of
    # stored doc 1 (must be dropped BEFORE the spend — duplicates
    # cannot consume budget)
    d1 = [
        (11, _EN + " alpha story one tail"),  # near-dup of 1 → dropped
        (13, "a brand new page about the markets and the traders who "
             "walk the long road to the city every morning"),
        (15, "the cats sleep on the warm stones by the garden wall "
             "all day and the dogs watch them from the porch shade"),
        (17, "short fresh note about the quiet harbor lighthouse and "
             "the keeper who climbs the spiral stairs at dusk while "
             "gulls wheel overhead in the salt wind every evening"),
    ]
    snap1 = day0.unionByName(_docs(spark, d1))

    plain1 = curate_incremental(day0, snap1, sigs, fps, min_quality=0.0)
    plain_ids = sorted(r["doc_id"] for r in plain1.collect())
    assert plain_ids == [13, 15, 17]

    # per-stratum budget: source carried through the scoring
    # projection, spend parity per stratum
    snap1_src = snap1.withColumn(
        "source",
        F.when(F.col("doc_id") % 4 == 1, F.lit("web"))
        .otherwise(F.lit("books")),
    )
    day0_src = day0.withColumn("source", F.lit("web"))
    sbud = {"web": 200, "books": 120}
    strat = curate_incremental(
        day0_src, snap1_src, sigs, fps, min_quality=0.0,
        token_budget=sbud,
    )
    plain_src = curate_incremental(
        day0_src, snap1_src, sigs, fps, min_quality=0.0,
        token_budget={"web": 10**9, "books": 10**9},
    )
    want_strat = sorted(
        r["doc_id"]
        for r in select_within_budget_by_stratum(
            plain_src.withColumn(
                "_c", F.length("text").cast("bigint")
            ),
            "source",
            sbud,
            cost_col="_c",
            quality_col="quality",
            id_col="doc_id",
        ).collect()
    )
    got = sorted(r["doc_id"] for r in strat.collect())
    assert got == want_strat and 0 < len(got) < len(plain_ids)
    # output schema: the scored columns plus source — the staging cost
    # column never leaks
    assert strat.columns == plain1.columns + ["source"]
    # a budget against a source-less snapshot refuses loudly
    import pytest

    with pytest.raises(ValueError, match="source"):
        curate_incremental(
            day0, snap1, sigs, fps, min_quality=0.0, token_budget=sbud
        )

    # chain day 2 from the POST-budget kept set: the budget-dropped
    # doc never shipped, so its near-twin is genuinely new tomorrow
    dropped = sorted(set(plain_ids) - set(got))
    assert dropped, "budget must have dropped at least one survivor"
    sigs1, fps1 = advance_corpus_artifacts(
        strat.select("doc_id", "text"), sigs, fps
    )
    drop_text = {r["doc_id"]: r["text"] for r in plain1.collect()}[
        dropped[0]
    ]
    d2 = [(21, drop_text + " returning")]
    snap2 = snap1_src.unionByName(
        _docs(spark, d2).withColumn("source", F.lit("web"))
    )
    kept2 = curate_incremental(
        snap1_src, snap2, sigs1, fps1, min_quality=0.0, token_budget=sbud
    )
    assert sorted(r["doc_id"] for r in kept2.collect()) == [21]

"""Driver-contract guard: exercise __spark_entry__ the way the grading
driver does — a VANILLA SparkSession (none of the engine's session
defaults: ANSI mode on, default timezone, no nanosAsLong preset) — so any
query that silently depends on engine session tuning fails here first.

Runs in a SUBPROCESS: inside the pytest process, getOrCreate() would reuse
the engine-configured shared session (not vanilla at all), and stopping it
would kill the SparkContext for every later test.
"""

from __future__ import annotations

import ast
import pathlib
import subprocess
import sys

import pytest

# the checkout this test file belongs to: the subprocess must drive this
# checkout's package and __spark_entry__, not whatever else is importable
_REPO = pathlib.Path(__file__).resolve().parent.parent

_SCRIPT_HEAD = r"""
import sys
sys.path.insert(0, REPO_ROOT)
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[8]")
    .appName("entry-contract")
    .config("spark.sql.shuffle.partitions", "8")  # pure speed knob
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"

assert len(entrymod.entry(spark).collect()) > 0, "entry() returned no rows"

qs, sql = entrymod.queries(), entrymod.oracle_sql()
assert set(sql) <= set(qs), "oracle_sql keys not a subset of queries"
assert len(qs) >= 50, f"catalog shrank: {len(qs)}"

failures = []
for name, fn in NAMES_STMT:
    try:
        df = fn(spark, SF)
        assert df.count() >= 0
        assert df.columns
    except Exception as e:
        failures.append(f"{name}: {type(e).__name__} {str(e)[:120]}")
assert not failures, "\n".join(failures)
print(f"CONTRACT_OK {len(qs)}")
""".replace("REPO_ROOT", repr(str(_REPO)))

_SCRIPT_FULL = _SCRIPT_HEAD.replace("NAMES_STMT", "qs.items()")

# The fast default gate drives entry() + the conf-sensitive surfaces on
# the vanilla session (ANSI casts, TIMESTAMP(NANOS) events, streaming
# drain, curate composition, embedding/multimodal paths); the full 160-query
# sweep (~5 min) runs under the `slow` marker and in every full-suite run.
_SMOKE = (
    "q_gold_agg", "q_agg_pricing", "q_window_events", "q_asof_join",
    "q_stream_tumbling", "q_curate_corpus", "q_dedup_embedding",
    "q_multimodal_features", "q_bow_classifier", "q_heavy_hitters",
)
_SCRIPT_SMOKE = _SCRIPT_HEAD.replace(
    "NAMES_STMT", f"[(n, qs[n]) for n in {_SMOKE!r}]"
)


def _run_contract(script: str) -> None:
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "CONTRACT_OK" in proc.stdout


def test_driver_contract_smoke_on_vanilla_session():
    _run_contract(_SCRIPT_SMOKE)


@pytest.mark.slow
def test_driver_contract_on_vanilla_session():
    _run_contract(_SCRIPT_FULL)


def test_driver_window_rotation_invariants():
    """The driver's correctness gate reports the first DRIVER_WINDOW
    catalog entries. The rotation contract: the front section is exactly
    DRIVER_WINDOW wide, the tail is exactly the stand-in map's keys
    (demoted entries plus any late-registered debut awaiting next-round
    promotion), and every tail entry's declared same-family stand-ins
    actually sit in the window — so no operator family ever rotates
    fully out of external verification."""
    from inbev_data_engineering_case_spark.queries import (
        CATALOG,
        DRIVER_WINDOW,
        _FAMILY_STAND_INS,
    )

    names = list(CATALOG)
    front = set(names[:DRIVER_WINDOW])
    tail = names[DRIVER_WINDOW:]

    assert len(names) == DRIVER_WINDOW + len(_FAMILY_STAND_INS)
    assert set(tail) == set(_FAMILY_STAND_INS)
    for demoted, stand_ins in _FAMILY_STAND_INS.items():
        assert stand_ins, f"{demoted} declares no stand-ins"
        missing = [s for s in stand_ins if s not in front]
        assert not missing, (
            f"{demoted}'s family stand-ins {missing} are not in the "
            f"first {DRIVER_WINDOW} entries"
        )


def test_rotation_ledger_matches_its_generator():
    """ROTATION.md is generated, never hand-edited: the committed file
    equals ``python tools/rotation_report.py`` output, so the ledger
    cannot drift from the catalog or the CORRECTNESS_r*.json artifacts."""
    from tools.rotation_report import render

    committed = pathlib.Path(__file__).resolve().parent.parent / "ROTATION.md"
    assert committed.read_text() == render(), (
        "ROTATION.md is stale: run `python tools/rotation_report.py > "
        "ROTATION.md`"
    )


_PKG ="inbev_data_engineering_case_spark"
_ENTRY_MODULES = ("queries", "pipeline", "session", "testing")


def test_every_package_module_is_reachable():
    """Static (no Spark): every module of the package is reachable in the
    AST import graph — function-local imports included — from the
    package ``__init__`` and the entry modules. A subpackage counts as
    reached when any of its modules is. An unreachable module is code
    no catalog query, pipeline stage or session path can run."""
    root = pathlib.Path(__file__).resolve().parent.parent / _PKG
    modules = {}
    for path in root.rglob("*.py"):
        parts = path.relative_to(root.parent).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        modules[".".join(parts)] = path

    def imports(name: str) -> set[str]:
        path = modules[name]
        package = name if path.name == "__init__.py" else name.rpartition(".")[0]
        found = set()
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                targets = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    anchor = package.rsplit(".", node.level - 1)[0]
                    base = f"{anchor}.{base}" if base else anchor
                targets = [base] + [f"{base}.{a.name}" for a in node.names]
            else:
                continue
            found.update(t for t in targets if t in modules)
        return found

    seen = set()
    todo = [_PKG] + [f"{_PKG}.{m}" for m in _ENTRY_MODULES]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        # importing a module runs its package's __init__, so reaching
        # any module of a subpackage reaches the subpackage too
        parent = name.rpartition(".")[0]
        todo.extend(imports(name) | ({parent} if parent in modules else set()))
    unreachable = sorted(set(modules) - seen)
    assert not unreachable, f"modules nothing imports: {unreachable}"


# Top-level package functions nothing reaches yet (see the test below):
# the next deletion candidates. The set may only shrink.
_KNOWN_UNREACHED = {
    "layers.snapshot_as_of",
    "operators.sample.mixture_budgets",
    "operators.scd._changed",
    "operators.scd.scd2_merge",
    "sources.rest.open_brewery_db_transport",
}


# Defaulted parameters of reached package functions that no root call
# passes (see ``_unpassed_parameters``): branches only tests reach, or
# defaults every caller keeps. The set may only shrink.
_KNOWN_UNPASSED = {
    "functions.portable_hash64_spark_sql.seed",
    "layers.commit_snapshot.lock_timeout_s",
    "layers.commit_snapshot_with_retry.attempts",
    "layers.write_layer.fmt",
    "layers.write_layer.mode",
    "operators.asof.range_join_bands.hi",
    "operators.asof.range_join_bands.lo",
    "operators.bpe.bpe_tokenize.cache_size",
    "operators.bpe.train_bpe.min_pair_count",
    "operators.classify.classifier_threshold_sweep.approx",
    "operators.classify.evaluate_bow_classifier.threshold_micro",
    "operators.classify.train_and_score_bow_multiclass.alpha",
    "operators.classify.train_bow_classifier.alpha",
    "operators.classify.train_bow_multiclass.alpha",
    "operators.curate.advance_corpus_artifacts.delta_ids",
    "operators.curate.advance_corpus_artifacts.kept_comps",
    "operators.curate.advance_corpus_artifacts.mode",
    "operators.curate.advance_corpus_artifacts.num_hashes",
    "operators.curate.advance_corpus_artifacts.shingle_words",
    "operators.curate.curate_corpus.decontaminate_ngram",
    "operators.curate.curate_corpus.languages",
    "operators.curate.curate_corpus.min_quality",
    "operators.curate.curate_corpus.near_dup_threshold",
    "operators.curate.curate_corpus.split_buckets",
    "operators.curate.curate_corpus.split_salt",
    "operators.curate.curate_incremental.languages",
    "operators.curate.curate_incremental.min_quality",
    "operators.curate.curate_incremental.near_dup_threshold",
    "operators.curate.curation_drift.z_threshold",
    "operators.curate.curation_report.decontaminate_ngram",
    "operators.curate.curation_report.languages",
    "operators.curate.curation_report.min_quality",
    "operators.curate.curation_report.near_dup_threshold",
    "operators.curate.incremental_leakage_split.buckets",
    "operators.curate.incremental_leakage_split.max_iter",
    "operators.curate.incremental_leakage_split.salt",
    "operators.curate.incremental_leakage_split.weights",
    "operators.curate.leakage_safe_split.buckets",
    "operators.curate.leakage_safe_split.max_iter",
    "operators.curate.leakage_safe_split.salt",
    "operators.curate.leakage_safe_split.weights",
    "operators.decontaminate.boilerplate_report.broadcast_hot",
    "operators.decontaminate.boilerplate_report.portable",
    "operators.decontaminate.decontaminate.portable",
    "operators.decontaminate.semantic_contamination.n_probes",
    "operators.decontaminate.semantic_contamination.num_planes",
    "operators.dedup.containment_pairs.broadcast_hot",
    "operators.dedup.dedup_components_incremental.max_iter",
    "operators.dedup.dedup_spans.broadcast_hot",
    "operators.dedup.dedup_spans.max_docs",
    "operators.dedup.dedup_spans.span_tokens",
    "operators.dedup.embedding_near_dup_pairs.n_probes",
    "operators.dedup.embedding_near_dup_pairs.num_planes",
    "operators.dedup.incremental_containment_pairs.broadcast_hot",
    "operators.dedup.incremental_containment_pairs.portable",
    "operators.dedup.incremental_embedding_near_dup_normalized.n_probes",
    "operators.dedup.incremental_embedding_near_dup_normalized.num_planes",
    "operators.dedup.jaccard_similarity.shingle",
    "operators.funnel.attribution_report.conversion_type",
    "operators.funnel.attribution_report.touch_types",
    "operators.funnel.attribution_report.window_seconds",
    "operators.funnel.funnel_report.steps",
    "operators.graph.multi_source_bfs.directed",
    "operators.graph.multi_source_bfs_incremental.directed",
    "operators.graph.pagerank.damping_ppm",
    "operators.joins.auto_bloom_bits.bits_per_key",
    "operators.joins.auto_bloom_bits.min_fact_bytes",
    "operators.joins.bloom_anti_join.bank_bits",
    "operators.joins.bloom_anti_join.num_hashes",
    "operators.joins.bloom_anti_join.pin_lineage",
    "operators.joins.bloom_semi_join.bank_bits",
    "operators.joins.bloom_semi_join.num_hashes",
    "operators.medallion.bronze_to_silver.cast_coordinates",
    "operators.multimodal.image_near_dup_pairs.bucket_bits",
    "operators.multimodal.image_near_dup_pairs.max_hamming",
    "operators.quality.distribution_drift.approx",
    "operators.quality.drift_bound_values.approx",
    "operators.quality.drift_from_partials.approx",
    "operators.quality.equi_depth_histogram.approx",
    "operators.quality.heavy_hitters.seed",
    "operators.relevance.bm25_from_index.b",
    "operators.relevance.bm25_from_index.k1",
    "operators.relevance.bm25_topk.b",
    "operators.relevance.bm25_topk.k1",
    "operators.relevance.build_text_index.cluster_by_term",
    "operators.relevance.build_text_index.keep_snapshots",
    "operators.relevance.pmi_collocations.min_count",
    "operators.relevance.rrf_fuse.k",
    "operators.sample.stratified_sample.default_fraction",
    "operators.sample.stratified_sample.salt",
    "operators.sample.top_fraction_by_score.approx",
    "operators.sample.weighted_sample.salt",
    "operators.scd.point_in_time_join.broadcast_history",
    "operators.similarity.ann_bucketed_topk.num_planes",
    "operators.similarity.ann_ivf_pq_topk.centroids",
    "operators.similarity.ann_ivf_pq_topk.codebook",
    "operators.similarity.ann_ivf_topk.n_probe",
    "operators.similarity.build_ann_index.centroids",
    "operators.similarity.build_ann_index.codebook",
    "operators.similarity.build_ann_index.keep_snapshots",
    "operators.similarity.random_projection_rows.seed",
    "operators.similarity.random_projection_rows_oracle_sql.id_expr",
    "operators.similarity.random_projection_rows_oracle_sql.seed",
    "operators.similarity.random_projection_rows_oracle_sql.table",
    "operators.similarity.random_projection_rows_oracle_sql.vec_expr",
    "operators.sketches.cms_estimate.depth",
    "operators.sketches.cms_estimate.width",
    "operators.sketches.cms_partials.depth",
    "operators.sketches.cms_partials.unit",
    "operators.sketches.cms_partials.width",
    "operators.sketches.sketch_rollup_report.lg_k",
    "operators.sketches.sketch_rollup_report.rel_err",
    "operators.sketches.sketch_rollup_report.unit",
    "operators.textops.stopword_ratio.stopwords",
    "operators.timeseries.cusum_changepoints.scale",
    "operators.timeseries.cusum_changepoints.target_milli",
    "operators.windows.top_k_per_group.rank_alias",
    "operators.windows.tumbling_window_agg.bucket_alias",
    "pipeline.run_pipeline.source",
    "queries._ann_bucketed_oracle.num_planes",
    "queries._ann_ivf_oracle.k",
    "queries._ann_ivf_oracle.n_centroids",
    "queries._ann_ivf_oracle.n_probe",
    "queries._bm25_oracle.b",
    "queries._bm25_oracle.k1",
    "queries._clf_sweep_oracle.n_cuts",
    "queries._cms_oracle.depth",
    "queries._cms_oracle.width",
    "queries._containment_oracle.max_df",
    "queries._containment_oracle.n",
    "queries._containment_oracle.threshold_ppm",
    "queries._curate_incremental_oracle.languages",
    "queries._curate_incremental_oracle.min_quality",
    "queries._curate_incremental_oracle.threshold",
    "queries._curate_oracle.languages",
    "queries._curate_oracle.min_quality",
    "queries._curate_oracle.threshold",
    "queries._curation_drift_oracle.n_days",
    "queries._curation_drift_oracle.window",
    "queries._curation_drift_oracle.z",
    "queries._curation_report_oracle.languages",
    "queries._curation_report_oracle.min_quality",
    "queries._curation_report_oracle.threshold",
    "queries._daily_loop_oracle.languages",
    "queries._daily_loop_oracle.min_quality",
    "queries._daily_loop_oracle.threshold",
    "queries._dedup_spans_oracle.max_docs",
    "queries._dedup_spans_oracle.span_tokens",
    "queries._dist_drift_oracle.n_cuts",
    "queries._embedding_dedup_oracle.num_planes",
    "queries._embedding_dedup_oracle.threshold",
    "queries._heavy_hitters_oracle.phi_ppm",
    "queries._heavy_hitters_oracle.sample_ppm",
    "queries._hybrid_retrieval_oracle.fuse_k",
    "queries._hybrid_retrieval_oracle.list_k",
    "queries._hybrid_retrieval_oracle.topk",
    "queries._image_dedup_oracle.bucket_bits",
    "queries._image_dedup_oracle.max_hamming",
    "queries._incremental_oracle.threshold",
    "queries._ivfpq_oracle.n_centroids",
    "queries._ivfpq_oracle.n_probe",
    "queries._minhash_oracle.band_size",
    "queries._minhash_oracle.num_hashes",
    "queries._minhash_oracle.shingle_words",
    "queries._pagerank_oracle.damping_ppm",
    "queries._pagerank_oracle.n_iter",
    "queries._pagerank_teleport_oracle.damping_ppm",
    "queries._pagerank_teleport_oracle.n_iter",
    "queries._pagerank_teleport_oracle.sink_src",
    "queries._pmi_oracle.k",
    "queries._pmi_oracle.min_count",
    "queries._semantic_decon_oracle.num_planes",
    "queries._semantic_decon_oracle.threshold",
    "queries._sig_ctes.band_size",
    "queries._sig_ctes.num_hashes",
    "queries._sig_ctes.shingle_words",
    "queries._sig_match_sql.num_hashes",
    "queries._signlsh_bucket_sql.vec",
    "queries._simhash_oracle.bits",
    "queries._simhash_oracle.bucket_bits",
    "queries._simhash_oracle.max_hamming",
    "queries._source_cap_oracle.max_docs",
    "queries._sql_hash_bucket.seed",
    "queries._zorder_oracle.bits",
    "session.get_spark.master",
    "session.get_spark.shuffle_partitions",
    "streaming.events.run_stream_classifier_update.keep_snapshots",
    "streaming.events.run_stream_classifier_update.timeout",
    "streaming.events.run_stream_multiclass_update.keep_snapshots",
    "streaming.events.run_stream_multiclass_update.timeout",
    "streaming.events.run_stream_to_table.timeout",
    "streaming.events.run_stream_upsert_parquet.timeout",
    "streaming.events.stream_click_view_join.max_gap",
    "streaming.events.stream_click_view_join.watermark",
    "streaming.events.stream_cms_partials.depth",
    "streaming.events.stream_cms_partials.watermark",
    "streaming.events.stream_cms_partials.width",
    "streaming.events.stream_cms_partials.window",
    "streaming.events.stream_cusum.scale",
    "streaming.events.stream_dedup_events.watermark",
    "streaming.events.stream_drift_partials.watermark",
    "streaming.events.stream_drift_partials.window",
    "streaming.events.stream_enrich.broadcast",
    "streaming.events.stream_sketch_partials.lg_k",
    "streaming.events.stream_sketch_partials.watermark",
    "streaming.events.stream_sketch_partials.window",
    "streaming.events.stream_tumbling_counts.watermark",
    "streaming.events.stream_tumbling_counts.window",
    "testing.compare_query.tolerant",
}


def _names_in(node: ast.AST) -> set[str]:
    """Every ``Name`` id and ``Attribute`` attr under ``node``."""
    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute))
    }


def _reachability() -> tuple[dict[str, ast.FunctionDef], set[str], list]:
    """Walk the package's name graph from its roots: a top-level def of
    an entry module, a name used in ``__spark_entry__.py``,
    ``perfbench/*.py`` or ``tools/*.py``, or a
    module-level statement (decorators and default values included),
    following the ``Name`` and ``Attribute`` names in reached bodies.
    Returns every top-level package function as ``"module.name" ->
    def``, the set of reached bare names, and the parsed root files
    (every package module plus the scripts above). Tests are not roots:
    a function only tests call is code no catalog query, pipeline stage,
    benchmark workload or tool runs."""
    root = _REPO / _PKG
    bodies: dict[str, list[ast.AST]] = {}  # top-level def name -> defs
    functions = {}  # "module.name" -> def
    used = set()
    trees = []
    for path in sorted(root.rglob("*.py")):
        parts = path.relative_to(root).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        entry = ".".join(parts) in _ENTRY_MODULES
        tree = ast.parse(path.read_text())
        trees.append(tree)
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                used |= _names_in(node)
                continue
            bodies.setdefault(node.name, []).append(node)
            if entry:
                used.add(node.name)
            if isinstance(node, ast.ClassDef):
                continue
            functions[".".join([*parts, node.name])] = node
            args = node.args
            for expr in [*node.decorator_list, *args.defaults,
                         *filter(None, args.kw_defaults)]:
                used |= _names_in(expr)
    for path in [
        _REPO / "__spark_entry__.py",
        *sorted((_REPO / "perfbench").glob("*.py")),
        *sorted((_REPO / "tools").glob("*.py")),
    ]:
        trees.append(ast.parse(path.read_text()))
        used |= _names_in(trees[-1])

    reached, todo = set(), list(used)
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            for node in bodies.get(name, ()):
                todo.extend(_names_in(node) - reached)
    return functions, reached, trees


def test_every_package_function_is_reachable():
    """Static (no Spark): every top-level package function is reached by
    name from a root (``_reachability``). The ``_KNOWN_UNREACHED``
    ratchet fails both ways, so it can only shrink."""
    functions, reached, _ = _reachability()
    unreached = {q for q, fn in functions.items() if fn.name not in reached}
    new = sorted(unreached - _KNOWN_UNREACHED)
    assert not new, f"package functions nothing reaches: {new}"
    stale = sorted(_KNOWN_UNREACHED - unreached)
    assert not stale, f"gone or reached, drop from _KNOWN_UNREACHED: {stale}"


def _unpassed_parameters() -> set[str]:
    """``"module.func.param"`` for every defaulted parameter of a reached
    package function that no call in a root file passes. A call passes
    a parameter by keyword, or by position when it has at least that
    many positional arguments (a ``*args`` splat passes them all); a
    ``**kwargs`` splat in any call passes every parameter of that name.
    Callees match by bare name, as in ``_reachability``. ``*_col`` and
    ``*_cols`` parameters are exempt: they name input columns, not
    branches."""
    functions, reached, trees = _reachability()
    keywords: dict[str, set[str]] = {}  # callee -> keywords passed
    positional: dict[str, float] = {}  # callee -> most positional args
    splat = set()  # callees some call passes **kwargs
    for tree in trees:
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            func = call.func
            name = func.attr if isinstance(func, ast.Attribute) else (
                func.id if isinstance(func, ast.Name) else None
            )
            if name is None:
                continue
            n = len(call.args)
            if any(isinstance(a, ast.Starred) for a in call.args):
                n = float("inf")
            positional[name] = max(positional.get(name, 0), n)
            for kw in call.keywords:
                if kw.arg is None:
                    splat.add(name)
                keywords.setdefault(name, set()).add(kw.arg)
    unpassed = set()
    for qual, fn in functions.items():
        if fn.name not in reached or fn.name in splat:
            continue
        args = fn.args
        params = [*args.posonlyargs, *args.args]
        first = len(params) - len(args.defaults)
        defaulted = [(i, p.arg) for i, p in enumerate(params) if i >= first]
        defaulted += [
            (float("inf"), p.arg)
            for p, d in zip(args.kwonlyargs, args.kw_defaults)
            if d is not None
        ]
        passed, most = keywords.get(fn.name, ()), positional.get(fn.name, 0)
        unpassed |= {
            f"{qual}.{param}"
            for i, param in defaulted
            if i >= most
            and param not in passed
            and not param.endswith(("_col", "_cols"))
        }
    return unpassed


def test_every_defaulted_parameter_is_passed():
    """Static (no Spark): a defaulted parameter that no catalog query,
    pipeline stage, benchmark workload or tool passes is a branch only tests
    reach (``_unpassed_parameters``). The ``_KNOWN_UNPASSED`` ratchet
    fails both ways, so it can only shrink: delete the parameter and
    its branch, or drop its name once a root passes it."""
    unpassed = _unpassed_parameters()
    new = sorted(unpassed - _KNOWN_UNPASSED)
    assert not new, f"defaulted parameters no root call passes: {new}"
    stale = sorted(_KNOWN_UNPASSED - unpassed)
    assert not stale, f"gone or passed, drop from _KNOWN_UNPASSED: {stale}"


def test_lineage_cuts_go_through_session_materialize():
    """Static (no Spark): the package cuts lineage in exactly one place.
    No module other than ``session.py`` calls ``.localCheckpoint(`` or
    ``.checkpoint(``; every other site goes through
    ``session.materialize``, so the session's checkpoint dir decides for
    all of them whether a cut is executor-local or fault-tolerant."""
    root = pathlib.Path(__file__).resolve().parent.parent / _PKG
    raw = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "session.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "checkpoint")
            ):
                raw.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not raw, f"raw checkpoint calls outside session.py: {raw}"


def _reader_chain(node: ast.AST) -> list[str]:
    """Attribute and call names from the root of a call chain to ``node``,
    e.g. ``["spark", "read", "schema", "parquet"]``."""
    names = []
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        else:
            if isinstance(node, ast.Name):
                names.append(node.id)
            return names[::-1]


def test_parquet_reads_go_through_the_reader():
    """Static (no Spark): every parquet read that infers its schema goes
    through ``sources.readers.read_parquet``, whose memo makes only the
    first read of a table launch a footer-inference job. A ``.parquet(``
    call on a ``.read`` chain outside ``sources/readers.py`` fails this
    test unless the chain pins a schema with ``.schema(...)`` (pinned
    reads infer nothing)."""
    root = pathlib.Path(__file__).resolve().parent.parent / _PKG
    raw = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "sources" / "readers.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
            ):
                continue
            chain = _reader_chain(node.func.value)
            if "read" in chain and "schema" not in chain:
                raw.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not raw, f"parquet reads outside sources/readers.py: {raw}"


def test_snapshot_chains_advance_through_layers():
    """Static (no Spark): every snapshot chain advances through one
    commit path and every stream drains through one loop. No package
    module other than ``layers.py`` calls ``commit_snapshot(`` — writers
    go through ``layers.advance_snapshot``, which derives the expected
    parent and the next run id from the snapshot they read — and only
    ``streaming/events.py``'s ``_drain`` calls ``.awaitTermination(``."""
    root = pathlib.Path(__file__).resolve().parent.parent / _PKG
    raw = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root)
        tree = ast.parse(path.read_text())
        drains = set()  # ids of the nodes inside events.py's _drain
        if rel == pathlib.Path("streaming", "events.py"):
            for fn in tree.body:
                if isinstance(fn, ast.FunctionDef) and fn.name == "_drain":
                    drains.update(id(node) for node in ast.walk(fn))
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            func = node.func
            name = func.attr if isinstance(func, ast.Attribute) else (
                func.id if isinstance(func, ast.Name) else None
            )
            if name == "commit_snapshot" and path != root / "layers.py":
                raw.append(f"{rel}:{node.lineno} commit_snapshot")
            if name == "awaitTermination" and id(node) not in drains:
                raw.append(f"{rel}:{node.lineno} awaitTermination")
    assert not raw, f"snapshot commits or drains outside their helper: {raw}"

"""Physical-plan pins for the scale-critical claims in PLANS.md: if a
code change silently turns a broadcast semi-join into a sort-merge
join or un-pushes a parquet filter, these fail before any benchmark
notices.  Each assertion matches the formatted explain output of the
REAL query over the sf0.001 parquet."""

import contextlib
import io
import os
import tempfile

import pytest

from ferenda_spark.registry import QUERIES
from ferenda_spark.session import get_spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app="plan-shape-tests", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def queries():
    return {name: fn for name, (fn, _) in QUERIES.items()}


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_repeated_spans_broadcasts_dup_hash_set(spark, queries):
    plan = _plan(queries["dedup_repeated_spans"](spark, SF))
    # the duplicated-hash set must broadcast into a LeftSemi join —
    # a shuffled semi-join here would re-shuffle |tokens| rows
    assert "BroadcastHashJoin LeftSemi" in plan
    # span merging needs exactly one doc-partitioned window chain
    assert plan.count("Window") >= 2


def test_relational_scan_pushes_filter(spark, queries):
    # tpch_pricing_summary filters l_shipdate at the parquet scan;
    # the facet/SPARQL queries read the parse-stage output, so THIS
    # is the query that proves scan-level pushdown stays wired
    plan = _plan(queries["tpch_pricing_summary"](spark, SF))
    assert "PushedFilters: [" in plan
    assert "PushedFilters: []" not in plan


def test_lm_score_broadcasts_vocab_scalar(spark, queries):
    plan = _plan(queries["text_lm_score"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" \
        in plan


def test_incremental_dedup_is_single_equijoin(spark, queries):
    plan = _plan(queries["dedup_incremental"](spark, SF))
    # band/bucket match compiles to a hash equi-join (broadcast or
    # shuffled by AQE) — never a nested-loop/cartesian product
    assert "CartesianProduct" not in plan


def test_sparql_builtins_single_aggregate(spark, queries):
    plan = _plan(queries["kg_sparql_builtins"](spark, SF))
    # GROUP_CONCAT + COUNT + MAX + MIN fold into ONE aggregate pair
    # (partial + final), not one aggregate per function: the final
    # node carries all four functions together
    assert "Aggregate Attributes [4]" in plan
    # exactly one partial+final pair in the tree section
    tree = plan.split("(1) ")[0]
    assert tree.count("ObjectHashAggregate") == 2


def test_canonical_triples_reads_stage_not_fixpoint(spark, queries):
    plan = _plan(queries["kg_canonical_triples"](spark, SF))
    # the materialized sameAs stage table replaced the inline CC
    # fixpoint: the plan must be loop-free (no checkpointed RDD scan
    # chains from the iterative CC rounds)
    assert "Scan ExistingRDD" not in plan.split("AdaptiveSparkPlan")[0]


def test_sameas_canonical_is_materialized_read(spark, queries):
    # the returned frame must be a read of the sameAs mapping that was
    # materialized once per corpus (a checkpointed RDD scan) — the CC
    # fixpoint's joins, aggregates and shuffles never run inside the
    # consumer plan
    plan = _plan(queries["kg_sameas_canonical"](spark, SF))
    tree = plan.split("(1) ")[0]
    assert "Scan ExistingRDD" in tree
    for op in ("Join", "Aggregate", "Exchange"):
        assert op not in tree


def test_canonical_mapping_leaves_no_temp_dir(spark):
    """The registry's sameAs mapping is computed in memory: building
    it creates no ``ferenda_spark_sameas_stage_*`` directory in the
    system temp directory."""
    from ferenda_spark.registry.kg import _canonical_mapping

    def stage_dirs():
        return {e for e in os.listdir(tempfile.gettempdir())
                if e.startswith("ferenda_spark_sameas_stage_")}

    before = stage_dirs()
    # __wrapped__ bypasses functools.cache, so the body runs here even
    # when an earlier test already built this corpus's mapping
    assert _canonical_mapping.__wrapped__(spark, SF).count() > 0
    assert stage_dirs() <= before


def test_semantic_dedup_assignment_is_projection(spark, queries):
    plan = _plan(queries["dedup_semantic"](spark, SF))
    # centroid assignment + within-cluster pairing must stay an
    # equi-join on cl (hash join), never a nested-loop over vectors
    assert "CartesianProduct" not in plan


def test_domain_cap_is_two_bounded_windows(spark, queries):
    plan = _plan(queries["train_domain_cap"](spark, SF))
    # the skew-safe cap = bucketed pre-rank window + per-host window;
    # losing phase 1 would collapse a hot host into one task (count
    # exact "Window (" nodes: WindowGroupLimit pushdown nodes that
    # Spark adds for the rank filters must not mask a lost phase)
    tree = plan.split("(1) ")[0]
    assert tree.count(" Window (") == 2
    assert "CartesianProduct" not in plan


def test_link_prediction_is_keyed_joins_with_global_topk(spark, queries):
    plan = _plan(queries["kg_link_prediction"](spark, SF))
    # wedge generation must stay an equi-join on the apex z, the
    # non-adjacency test an equi-anti-join, and the top-200 a
    # TakeOrdered -- never a cartesian product or a full global sort
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_ccnet_windows_run_on_aggregate_not_doc_stream(spark, queries):
    plan = _plan(queries["text_ccnet_buckets"](spark, SF))
    # the tertile windows must consume the groupBy(lang, score)
    # aggregate (dimension-sized), never partition the raw doc
    # stream by language (a hot language would be one task): in the
    # root-first tree print, every Window's subtree must hit a
    # HashAggregate BEFORE any parquet scan
    tree = plan.split("(1) ")[0]
    assert "CartesianProduct" not in plan
    lines = tree.splitlines()
    wins = [i for i, l in enumerate(lines) if " Window (" in l]
    assert len(wins) == 2
    for i in wins:
        below = "\n".join(lines[i + 1:])
        agg = below.find(" HashAggregate (")
        scan = below.find("Scan parquet")
        assert agg != -1 and (scan == -1 or agg < scan)


def test_sq8_training_is_one_aggregate_no_vector_shuffle(spark, queries):
    plan = _plan(queries["sim_sq8_topk"](spark, SF))
    # min/max training must be a map-side-partial aggregate to one
    # row broadcast back in -- never an explode/Generate of the
    # vector stream through a shuffle; the candidate join stays a
    # broadcast nested loop (query side), not a cartesian product
    assert "CartesianProduct" not in plan
    assert "Generate" not in plan
    assert "BroadcastExchange" in plan


def test_unit_normalize_broadcasts_unit_table(spark, queries):
    plan = _plan(queries["kg_unit_normalize"](spark, SF))
    # the 8-row unit dimension must broadcast; a shuffled join here
    # would shuffle the whole fact side for nothing
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_schema_matching_has_no_cross_join(spark, queries):
    plan = _plan(queries["kg_schema_matching"](spark, SF))
    # column pairs must emerge from the value equi-join — a
    # CartesianProduct over column pairs would explode at real widths
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jsonld_extraction_is_scan_side_no_shuffle(spark, queries):
    plan = _plan(queries["kg_jsonld_triples"](spark, SF))
    # regexp + from_json + explode stay inside codegen; the only
    # exchanges allowed are the corpus spread and the final orderBy
    assert "CartesianProduct" not in plan
    assert "Generate" in plan          # the map explode
    assert "BatchEvalPython" not in plan   # no Python in the path


def test_coref_window_is_per_document(spark, queries):
    plan = _plan(queries["kg_coref_chains"](spark, SF))
    # exactly one window chain, partitioned by url — a global window
    # would serialize the corpus through one task
    assert "Window" in plan
    # windowspecdefinition(url#..., pos#... ASC ...) — keyed on the
    # document, never an empty (global) partition spec
    assert "windowspecdefinition(url#" in plan
    assert "windowspecdefinition(pos#" not in plan


def test_bitext_join_is_keyed_no_cartesian(spark, queries):
    # the URL-matching trick's whole point: candidates come from an
    # equi-join on (host, path_key), never a cross-lingual cartesian
    plan = _plan(queries["text_bitext_pairs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan


def test_paragraph_dedup_elects_by_aggregate_not_window(spark, queries):
    # the owner election must be a hash aggregate (map-side partial
    # min), not a corpus-wide window sort
    plan = _plan(queries["dedup_paragraph"](spark, SF))
    assert "Window" not in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan


def test_salience_window_is_per_document(spark, queries):
    # exactly one rank window, partitioned by the document id — never
    # a global (empty-partition-spec) window
    plan = _plan(queries["kg_entity_salience"](spark, SF))
    assert plan.count("Window (") == 1
    # windowspecdefinition(id#..., ...) — keyed on the document
    assert "windowspecdefinition(id#" in plan


# ---------------------------------------------------------------- sweep

# Queries whose plan legitimately contains a BroadcastNestedLoopJoin:
# every entry is a broadcast of a 1-row (or dimension-scalar) frame —
# a model parameter riding alongside the data, audited in PLANS.md.
# Anything NOT on this list that grows a BNLJ fails the sweep.
BNLJ_ALLOWED = frozenset({
    "text_lm_score",          # 1-row vocab-size scalar
    "text_ccnet_buckets",     # 1-row per-lang tertile bounds frame
    "text_js_divergence",     # 1-row corpus-total frame
    "text_stopword_induction",  # 1-row corpus-size scalar
    "stats_ab_ztest",         # two 1-row cohort frames
    "stats_tost",             # two 1-row cohort frames
    "stats_srm",              # two 1-row cohort frames
    "stats_chi2_lang_source",  # 1-row grand-total frame
    "stats_gini_domains",     # 1-row Lorenz-totals aggregate
    "stats_benford",          # 1-row total-count frame
    "stats_ks_lengths",       # 1-row two-sample sizes frame
    "stats_mann_whitney",     # 1-row group-size frame
    "stats_kendall",          # 1-row pair-total frame
    "stats_spearman",         # 1-row n frame
    "stats_ams_f2",           # 1-row exact-F2 scalar
    "text_zipf_fit",          # 1-row regression-moment frame
    "text_heaps_law",         # 1-row regression-moment frame
    "text_yules_k",           # 1-row corpus-moment frame
    "text_tokenizer_fertility",  # 1-row corpus totals
    "kg_assortativity",       # 1-row edge-moment frame
    "kg_modularity",          # 1-row edge-count scalar
    "kg_spam_mass",           # 1-row pagerank normalizer
    "kg_pagerank",            # 1-row dangling-mass normalizer
    "kg_hits",                # 1-row hub/authority normalizers
    "kg_ppr",                 # 1-row teleport normalizer
    "kg_harmonic_centrality",  # 1-row n scalar
    "kg_transe_eval",         # 1-row rank-total frame
    "kg_ranking_ap",          # per-query gold counts (dim-sized)
    "kg_ranking_ndcg",        # per-query ideal-DCG frame
    "dedup_er_eval",          # 1-row confusion-matrix totals
    "dedup_embedding",        # 1-row corpus-centroid frame
    "stats_psi_drift",        # 1-row split totals
    "stats_cohens_kappa",     # 1-row marginal totals
    "train_source_temperature",  # 1-row mixture normalizer
    "train_token_budget",     # 1-row budget scalar
    "train_dsir_weights",     # 1-row importance normalizer
    "train_neyman_allocation",  # 1-row allocation normalizer
    "stats_bh_fdr",           # 1-row m (test count) scalar
    "stats_mad_outliers",     # 1-row median/MAD frame
    "stats_bootstrap_mean",   # 1-row sample-size scalar
    "stats_domain_quality_eb",  # 1-row prior-moment frame
    "stats_calibration_bins",  # 1-row total-count frame
    "stats_hist_quantiles",   # 1-row count scalar
    "stats_kaplan_meier",     # 1-row subject-count scalar
    "text_llr_collocations",  # 1-row corpus-total frame
    "text_ngram_novelty",     # 1-row session-total frame
    "crawl_budget_allocation",  # 1-row global budget scalar
    "crawl_politeness_slots",  # 1-row host-count scalar
    "events_sprt",            # 1-row hypothesis-rate frame
    "kg_void_stats",          # dataset-level 1-row totals
    "kg_graph_diff",          # 1-row per-side totals
    "stats_kmv_jaccard",      # 1-row sketch-union frame
    "text_burstiness",        # 1-row corpus-moment frame
    # audited r5 (plan inspection, all BuildRight broadcasts):
    "crawl_frontier",         # 1-row n_hosts scalar (slot formula)
    "events_anomalies",       # 1-row exact moment sums
    "events_decayed_counts",  # 1-row reference-now scalar
    "kg_conductance",         # 1-row 2m edge-count scalar
    "kg_deps_edges",          # 4-row repo URI-prefix dimension,
                              # StartsWith probe (non-equi by design)
    "kg_hot_domain_links_salted",  # salted dim x salt-id range
    "kg_ranking_baseline",    # VALUES needs dimension
    "search_bm25",            # query-term dimension (tiny)
    "search_collapse",        # query-term dimension
    "search_rocchio",         # query-term dim, both retrieval passes
    "search_rrf_fusion",      # two query-term dims
    "sim_cosine_topk",        # broadcast QUERY vectors only
    "sim_margin_bitext",      # broadcast query-side vectors
    "sim_maxsim_topk",        # broadcast query token vectors
    "sim_pq_topk",            # broadcast query vectors (codes scan)
    "sim_sq8_topk",           # broadcast query vectors + 1-row bounds
    "store_bloom_skipping",   # probe-value x unit-manifest dimension
    "store_bucket_prune",     # probe-value x unit-manifest dimension
    "text_tfidf_terms",       # 1-row n_docs scalar
    "train_curriculum",       # 1-row difficulty-threshold frame
    "text_kneser_ney",        # 1-row bigram-type-total T scalar
    "text_kn_score",          # inherits the model's 1-row T scalar
    "text_sgt",               # 1-row fit + 1-row corpus-total frames
})


@pytest.mark.parametrize("qname", sorted(QUERIES))
def test_sweep_no_cartesian_no_unsanctioned_bnlj(spark, queries, qname):
    """Global scale-killer sweep (r4 verdict ask): EVERY registered
    query's physical plan must be free of CartesianProduct, and any
    BroadcastNestedLoopJoin must be on the audited 1-row-broadcast
    whitelist above.  One test per query so a future regression names
    its victim directly."""
    plan = _plan(queries[qname](spark, SF))
    assert "CartesianProduct" not in plan, \
        "%s grew a CartesianProduct — a 100TB scale-killer" % qname
    if "BroadcastNestedLoopJoin" in plan and qname not in BNLJ_ALLOWED:
        raise AssertionError(
            "%s grew a BroadcastNestedLoopJoin not on the audited "
            "1-row-broadcast whitelist (tests/test_plan_shapes.py "
            "BNLJ_ALLOWED) — verify the build side is dimension-"
            "sized and whitelist it, or fix the join" % qname)

"""Registry assembly — importing this module registers every query family.

Verification order is part of the evidence plan: each round's external
verification run hash-checks the FIRST 50 registry entries (the window)
against their DuckDB oracles. ``_VERIFY_PRIORITY`` lists the window; every
other query follows in family registration order.

The rule, enforced by two test files:

- ``tests/test_registry_rotation.py``: an oracle-backed query with no
  CORRECTNESS row yet sits in the window (a query registered this round
  may wait one round), unless ``DEFERRED`` names it;
- ``tests/test_staleness_sla.py``: every oracle-backed query has a
  CORRECTNESS row within the last ``ceil(N / 50)`` rounds (N = registry
  size), judged against the round in flight, or sits in the window or
  ``DEFERRED``.

The list is REGENERATED each round from the ``CORRECTNESS_r*.json``
artifacts at the repo root, never hand-maintained: first the never-checked
queries, then the stalest newest-row rounds, registration order within a
round. A new query must prove a new operator or plan shape — at ~370
queries against a 50-slot window every addition displaces a
re-verification. Earlier windows and their reasons are in the git history.

THIS WINDOW (round 15; artifacts r01..r14 — r11 was never produced;
N = 367, so sla = ceil(367 / 50) = 8):

1. never-checked queries: none;
2. the 19 oracle-backed queries whose newest CORRECTNESS row is round 6
   — they aged past the SLA when ``CORRECTNESS_r14.json`` landed
   (in-flight round 15 > 6 + 8): ``dedup_idf_weighted`` … ``quality_ks_binned``, among them
   the merger-family ``cdc_rollup_apply``;
3. the first 31 (registration order) of the 49 oracle-backed r7-newest
   queries: ``stream_opsmix_monitor`` … ``events_hodges_lehmann``.

19 + 31 = 50. The 18 r7 leftovers (``events_funnel_latency`` …
``quality_functional_deps``) age out when ``CORRECTNESS_r15.json`` lands
(in-flight round 16 > 7 + 8), so round 16's window takes them first.
``DEFERRED`` stays empty: the SLA arithmetic itself schedules them.
"""

from __future__ import annotations

# imports are side-effecting: each module fills REGISTRY on import
import split_kinesis_streams_with_glue_spark.plans.pipeline_queries  # noqa: F401
import split_kinesis_streams_with_glue_spark.plans.sql_queries  # noqa: F401
import split_kinesis_streams_with_glue_spark.plans.extension_queries  # noqa: F401
import split_kinesis_streams_with_glue_spark.plans.event_queries  # noqa: F401
import split_kinesis_streams_with_glue_spark.plans.scale_queries  # noqa: F401

from split_kinesis_streams_with_glue_spark.plans.registry import REGISTRY, QuerySpec

_VERIFY_PRIORITY: list[str] = [
    # --- the 19 oracle-backed r6-newest queries: past the SLA since
    # CORRECTNESS_r14.json landed (registration order) ---
    "dedup_idf_weighted",
    "text_char_entropy",
    "text_js_divergence",
    "text_mattr",
    "events_acf",
    "events_theil_sen",
    "events_stl_decompose",
    "join_asof_nearest",
    "events_entropy_rate",
    "events_peak_days",
    "cdc_rollup_apply",
    "quality_benford_digits",
    "join_dpp_dates",
    "quality_winsorize",
    "quality_l_diversity",
    "agg_bootstrap_ci",
    "sample_neyman_allocation",
    "quality_chi2_independence",
    "quality_ks_binned",
    # --- the first 31 (registration order) of the 49 oracle-backed
    # r7-newest queries; the other 18 fall due in round 16 ---
    "stream_opsmix_monitor",
    "agg_mode_segment",
    "agg_conditional_surface",
    "sim_centroid_purity",
    "text_flesch_reading_ease",
    "dedup_source_overlap",
    "sample_ess_weights",
    "text_mojibake_scan",
    "dedup_tfidf_cosine",
    "sim_sample_diversity",
    "text_term_burstiness",
    "pipeline_source_scorecard",
    "text_ngram_coverage",
    "text_pmi_pairs",
    "sample_exact_k",
    "sample_kfold_counts",
    "sample_split_balance_contract",
    "sim_hard_negatives",
    "sim_norm_audit",
    "sim_knn_margin",
    "dedup_cluster_diameter",
    "text_lang_confusion",
    "quality_duplicate_impact",
    "pipeline_training_manifest",
    "events_mann_kendall",
    "events_spearman_daily",
    "events_gini_daily",
    "events_kendall_tau",
    "events_rolling_zscore",
    "events_user_accretion",
    "events_hodges_lehmann",
]

# Bounded named-deferral list: queries that WILL NOT get a CORRECTNESS
# row this round, each with the reason and the round it MUST
# land ("MUST land round N"). Hard cap 5 (tests/test_registry_rotation.py);
# deferral is one round only — the deadline test turns red the moment the
# named round's driver artifact would be due, so entries cannot be parked.
DEFERRED: dict[str, str] = {}


def _reorder() -> None:
    missing = [n for n in _VERIFY_PRIORITY if n not in REGISTRY]
    if missing:  # a typo here would silently drop driver coverage
        raise RuntimeError(f"_VERIFY_PRIORITY names unknown queries: {missing}")
    ordered: dict[str, QuerySpec] = {n: REGISTRY[n] for n in _VERIFY_PRIORITY}
    for name, spec in REGISTRY.items():
        ordered.setdefault(name, spec)
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder()


def all_queries() -> dict[str, QuerySpec]:
    return dict(REGISTRY)

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from locopy_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


# The fast tier value-checks the correctness window (the first 50
# queries() keys) plus an md5 sample.  The window rotates oldest-first;
# the keys the last rotation moved out keep their fast-tier slot, so a
# rotation never drops value coverage a default run already had.
ROTATED_OUT = frozenset(
    {
        "q_topk_per_group", "q_mktseg_pivot", "q_rollup_sales",
        "q_distinct_counts", "q_running_total", "q_moving_avg",
        "q_cube_returns", "s_mips", "p_length_histogram",
        "p_curriculum_stages", "d_cluster_stats", "p_tokenizer_fertility",
        "s_ivf_tuning", "q_fuzzy_match", "t_freq_drift",
        "d_embedding_moments", "q_attribution_linear", "q_bloom_semijoin",
        "d_dedup_keep_best", "t_langid_confusion", "q_rfm_segmentation",
        "d_source_syndication", "d_pps_sample", "q_cohort_ltv", "q_ols_trend",
        "q_holt_linear", "q_theil_sen", "q_benford", "q_graph_reach",
        "p_dataset_card", "q_winsorized", "s_pq_knn", "d_prefix_join",
        "q_decile_lift", "q_holt_winters", "q_weighted_quantiles",
        "q_spearman", "q_wilcoxon", "q_autocorr", "q_runs_test",
        "q_assortativity", "q_pareto_abc", "q_top_paths", "q_xcorr",
        "p_seqlen_plan", "p_vocab_coverage", "q_weekday_uplift",
        "q_interpurchase", "q_mann_kendall", "q_kendall_tau",
    }
)


def fast_window() -> set[str]:
    """Keys the fast tier always runs: the current correctness window
    and the keys the last rotation moved out of it."""
    import __spark_entry__ as entrymod

    return set(list(entrymod.queries())[:50]) | ROTATED_OUT


# Fast default tier (r12, VERDICT r11 item 1): the full suite outgrew
# the driver's verify window (44-48 min, tail cut at ~78% in
# VERIFY_r11), so heavyweight tests carry @pytest.mark.slow and are
# DESELECTED (not skipped) by default.  Nothing is deleted: the full
# gate runs with SPARK_GRAFT_FULL_TESTS=1 (the builder's verify
# recipe does exactly that once per round), or any explicit -m
# selection, which overrides the tier entirely.  The fast tier keeps
# every compile/contract/plan pin, every focused operator test, and a
# deterministic rotating sample of the per-query value/degenerate
# gates, so a regression in any operator family still fails the
# default run.


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    if config.getoption("-m"):
        return  # explicit marker selection overrides the tier
    selected, deselected = [], []
    for item in items:
        (deselected if "slow" in item.keywords else selected).append(item)
    if deselected:
        config.hook.pytest_deselected(items=deselected)
        items[:] = selected


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="locopy_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}'")
    yield con
    con.close()

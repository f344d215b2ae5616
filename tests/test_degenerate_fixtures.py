"""Regression lock for degenerate-input behavior (round 8).

Two fixture axes beyond the adversarial-content fixture:

- MINIMAL (cardinality starvation): FK-coherent micro-slices — fewer
  rows than window frames, fewer vectors than k-means K, a single
  event user. Caught: a39 Cramér's-V division by zero on a 1×C
  design, a55's oracle falling to ELSE 0 with one experiment arm,
  a11's asymptotic tolerance failing on 2-row groups, x17's watermark
  pin false-alarming on a tiny stream.
- EMPTY (total absence): every table 0 rows. Caught: 7 sink
  round-trips crashing on schema inference over 0-row writes, HLL/IVF
  tolerance divisions by zero, driver-side collects on empty (k-core,
  PCA), DuckDB sqrt(negative) in a56's critical value, and the
  empty-relation semantic splits documented in SCALE.md
  ("Empty-input semantics").

Each axis re-runs the oracle-parity gate for every query that
historically failed on it, plus a representative slice of each
operator family as a canary. The full 396-query sweeps live in
scripts/check_all.py (TEST_SF_DIR=/tmp/dock_{minfix,emptyfix}); this
module keeps the discovered bug classes from regressing inside the
normal pytest run.
"""

from __future__ import annotations

import subprocess
import sys

import pytest

import dock_financial_data_pipelines_spark as engine
from tests._compare import run_and_compare

engine.load_all()

# Queries that failed on each axis when it was first swept (round 8),
# plus family canaries (one rollup, one window, one join, one dedup,
# one streaming twin) to widen the regression net cheaply.
MINFIX_QUERIES = [
    "a11_approx_percentiles",
    "a39_chi2_independence",
    "a55_two_proportion_ztest",
    "x17_stream_late_data_drop",
    # canaries
    "a4_rollup",
    "w28_macd",
    "j8_asof_join",
    "l3_exact_dedup_summary",
]

EMPTYFIX_QUERIES = [
    "s5_partitioned_sink_roundtrip",
    "s10_compact_small_files",
    "s12_rollup_merge",
    "x8_incremental_file_ingest",
    "x9_foreach_batch_sink",
    "pipeline_daily_publish",
    "r_sftp_landing_flow",
    "a18_hll_sketch_merge",
    "a56_poisson_dispersion",
    "g_k_core",
    "l_ann_nprobe_curve",
    "l_pca_power_iteration",
    "a4_rollup",
    "a4_cube",
    "a8_grouping_sets",
    "a19_time_grain_rollup",
    "q_vat_summary",
    "a46_ks_test",
    "a48_bootstrap_ci",
    "a52_sample_quantile_sketch",
    "a58_levene_brown_forsythe",
    "a61_page_hinkley",
    "l9_embedding_quantization",
    "l_bigram_cross_entropy",
    "l_contamination_check",
    "l_kneser_ney_bigram",
    "o_metrics_report",
    "o_connect_compat_report",
    # canaries
    "a1_pricing_summary",
    "w28_macd",
    "j1_inner_join",
    "l5_cosine_topk",
]


def _build(script: str, out_env: str, out_dir: str) -> str:
    subprocess.run(
        [sys.executable, f"scripts/{script}"],
        check=True,
        env={**__import__("os").environ, out_env: out_dir},
        capture_output=True,
    )
    return out_dir


@pytest.fixture(scope="session")
def minfix_dir(tmp_path_factory) -> str:
    d = str(tmp_path_factory.mktemp("dock_minfix"))
    return _build("make_minimal_fixture.py", "MIN_FIX_DIR", d)


@pytest.fixture(scope="session")
def emptyfix_dir(tmp_path_factory) -> str:
    d = str(tmp_path_factory.mktemp("dock_emptyfix"))
    return _build("make_empty_fixture.py", "EMPTY_FIX_DIR", d)


@pytest.mark.parametrize("name", MINFIX_QUERIES)
def test_minimal_fixture_parity(spark, minfix_dir, name):
    run_and_compare(
        spark, minfix_dir, name, engine.QUERIES[name], engine.ORACLES[name]
    )


@pytest.mark.parametrize("name", EMPTYFIX_QUERIES)
def test_empty_fixture_parity(spark, emptyfix_dir, name):
    run_and_compare(
        spark, emptyfix_dir, name, engine.QUERIES[name], engine.ORACLES[name]
    )

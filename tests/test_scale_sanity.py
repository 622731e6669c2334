"""Scale sanity (SURVEY.md §5.4): representative queries must agree
with their per-sf oracle at EVERY fixture scale factor, not just the
driver's sf0.01 — catches partition-count assumptions, overflow in the
fixed-point sum path, and literals accidentally tuned to one sf.

The subset spans the shapes that scale differently: partial+final agg,
broadcast + shuffle joins, window compaction, text explode, and the
fixed-point cents encoding (whose overflow headroom claim is exactly
what a scale-up would test).
"""

from __future__ import annotations

import pytest

from cdc_plg_spark.testing import check_query

SCALE_QUERIES = (
    "agg_hash_groupby",        # exact cents sums, partial+final
    "agg_global",
    "join_inner_hash",         # broadcast
    "join_sortmerge",          # shuffle join
    "dedup_latest_per_key",    # CDC compaction window
    "topk_per_group",
    "text_stats",              # explode + agg
    "sim_topk_search",         # vectorized UDF + broadcast NLJ
    "flagship_cdc_compaction",
    "stream_tumbling_agg",     # streaming replay + windowed state
    "dedup_cluster_cc",        # iterative fixpoint (iteration count must
    #                            not depend on corpus size)
    "text_chunking",           # fan-out explode (output rows scale ~n_chars)
    "analytics_funnel",        # conditional agg + global rollup
    "analytics_volume_shipping",   # two-role dimension broadcast chain
    "ts_ewma",                 # per-key fold (array length scales w/ span)
    "join_asof_nearest",       # two-direction window carry
    "maintenance_zorder_layout",   # global-bounds normalization + z-bucket
    "text_unigram_logprob",    # vocabulary broadcast scales sublinearly
    "pipeline_llm_preprocess",  # 5-stage composite (shuffle count must
    #                             not grow with sf)
    "text_decontaminate",       # shingle join (eval side stays broadcast)
    "embedding_centroid_per_label",  # shuffle stays model-sized
    "sample_pack_token_budget",     # per-source running sum
    "dedup_fuzzy_minhash_checked",  # LSH bucket join (pair count grows
    #                                 with corpus similarity mass)
    "dedup_simhash",            # bit-majority signature agg
    "dedup_sorted_neighborhood",    # prefix-split sort + boundary stitch
    #                                 (offsets now executor-computed)
    "sim_ann_lsh",              # plane/bucket math at corpus scale
    "sim_ann_ivf_checked",      # full IVF dataflow, deterministic cells
    "sample_domain_quota",      # deterministic hash-order quota
    "lakehouse_merge_upsert",   # table-format MERGE round trip (file
    #                             pruning must stay selective as the
    #                             table grows, not degenerate to full
    #                             rewrites)
    "lakehouse_change_data_feed",   # manifest-diff CDF at corpus scale
    "stream_sink_lakehouse_merge",  # multi-epoch idempotent merge sink
    "lakehouse_incremental_mv",     # signed-delta fold must stay exact
    #                                 as delta size grows
    "stream_incremental_mv",        # continuous fold via commit-log
    #                                 stream (micro-batch commit folding)
    "lakehouse_delete_dv",          # DV delete must stay zero-write as
    #                                 file counts grow
    "fn_regex",                     # zero-match docs first appear at
    #                                 sf0.1 (array_to_string(()) is
    #                                 NULL in DuckDB, '' in Spark)
    "udaf_pandas_agg",              # value=0 rows first appear at
    #                                 sf0.1 (ln(0) domain)
    "sink_kafka",                   # (r6) file-backed broker round trip:
    #                                 routing + per-segment order must
    #                                 hold as partitions carry more data
    "lakehouse_zorder_skipping",    # (r6) skip booleans must hold at
    #                                 every sf (band derived from max)
    "mm_decode_ppm_real",           # (r6) real PPM parse at corpus scale
    "lakehouse_alter_column_lifecycle",  # (r6) rename/drop/re-add must
    #                                 translate correctly however many
    #                                 files the mapping spans
    "decode_canal_json",            # (r6) wire-protocol encode/decode
    #                                 round trip at corpus scale
    "lakehouse_convert_cdc_roundtrip",  # (r6) convert→merge→streamed-MV
    #                                 composition: footer-stat adoption +
    #                                 capped catch-up must hold at scale
    "analytics_important_stock",    # (r6) Q11 share threshold: empty at
    #                                 sf0.001 (nation has no suppliers),
    #                                 selective at sf0.1 — both must agree
    "analytics_restock_candidates",  # (r6) Q20 HAVING floor: fixture
    #                                 sparsity changes with sf; the pair
    #                                 threshold must stay engine-equal
)

SFS = ("/root/testdata/sf0.001", "/root/testdata/sf0.1")

# The sf0.1 DuckDB ORACLE for these two is quadratic-ish (LSH pair
# twin ~230 s single-threaded, recursive-CTE CC ~50 s) — ~7 min of a
# suite wall that must fit the round driver's pytest budget (the r13
# gate died by truncation, not failure).  Opt-in like the multijvm
# tortures: the queries stay value-verified by default at sf0.001
# here, by the driver's own rotating oracle gate each round (both
# green in CORRECTNESS_r13), by tests/test_skew.py's pair-set
# property, and at sf1 by scripts/verify_lsh_sf1_agg.py.  What's
# skipped is only the slow ORACLE re-run, not engine coverage.
# Keyed on the SFS entry itself, so renaming a fixture path cannot
# silently drop the skip.
_HEAVY_ORACLE = {("dedup_fuzzy_minhash_checked", SFS[1]),
                 ("dedup_cluster_cc", SFS[1])}


@pytest.mark.parametrize("sf", SFS, ids=lambda p: p.rsplit("/", 1)[-1])
@pytest.mark.parametrize("name", SCALE_QUERIES)
def test_query_agrees_at_scale(spark, name, sf):
    import os
    if ((name, sf) in _HEAVY_ORACLE
            and os.environ.get("SPARK_GRAFT_SLOW_ORACLE") != "1"):
        pytest.skip("slow DuckDB-oracle re-run; opt in with "
                    "SPARK_GRAFT_SLOW_ORACLE=1")
    check_query(spark, name, sf_dir=sf)

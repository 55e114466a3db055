"""Regenerate PLANS.md: formatted physical plans of the headline queries.

Usage: python tools/dump_plans.py  (writes PLANS.md at the repo root)

The point is reviewability: PushedFilters / ReadSchema / broadcast choices /
exchange counts for every headline plan in one place, refreshed whenever an
operator changes. tests/test_plans.py asserts the load-bearing properties;
this file is the human-readable companion.
"""

from __future__ import annotations

import io
import os
import sys
import contextlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_docker_spark.registry import all_specs  # noqa: E402
from mapreduce_docker_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")

# One headline query per major subsystem (SURVEY.md §2 tags in registry).
HEADLINE = [
    "wordcount",                    # the reference's entire production query
    "q1_pricing_summary",           # wide scan + grouped agg
    "q3_shipping_priority",         # 3-way join + agg + top-k
    "q5_local_supplier",            # 6-way join with broadcast dims
    "agg_rollup_region_nation",     # hierarchical rollup
    "window_running_spend",         # window frame agg
    "events_session_5m",            # session windows over events
    "json_event_props",             # JSON extraction
    "text_tfidf_top_term",          # text analysis: TF-IDF
    "dedup_minhash_survivors",      # MinHash-LSH near-dedup
    "dedup_exact_survivors",        # exact content-hash dedup
    "sim_cosine_topk",              # embedding similarity top-k
    "sim_ann_srp",                  # LSH-bucketed ANN + exact rerank
    "asof_purchase_prior_view",     # as-of join (union + window)
    "range_join_events_in_order_window",  # banded range join
    "udf_applyinpandas_zscore",     # Arrow grouped-map UDF
    "q9_product_type_profit",       # 5-way fact/dim join, profit by nation x year
    "q21_waiting_suppliers",        # EXISTS + NOT EXISTS semi/anti self-joins (3 lineitem scans)
    "q21_waiting_suppliers_onepass",  # same oracle, window rewrite: 1 lineitem scan
    "dedup_embedding_pairs",        # SRP-band LSH near-dup + Hamming-gated verify
    "text_curation_pipeline",       # composed quality/repetition/near-dup gates
    "sim_ann_srp_banded",           # 24-band ANN reusing the near-dup geometry
    "dedup_span_tiles",             # C4-style sub-document span dedup
    "text_unigram_surprisal",       # unigram-LM perplexity quality scoring
    "events_funnel_conversion",     # sequence funnel: 3 windows, 1 exchange
    "events_sessionize",            # gap sessionization, 1 exchange end-to-end
    "dq_constraint_checks",         # Deequ-style constraint gate, 1 pass/table
    "merge_upsert_orders",          # CDC upsert: one full-outer merge join
    "layout_bucketed_join_revenue",  # exchange-free join over bucketed layout
    "docs_ndjson_roundtrip",        # JSON-lines write once + schema'd read-back
    "text_decontaminate_bloom",     # fixed-size-filter decontamination probe
    "text_length_buckets",          # per-lang NTILE batching accounting
    "graph_triangle_stats",         # oriented wedge-closure triangle census
    "join_aqe_skew_enriched_events",  # AQE runtime skew-split demo (SMJ shape)
    "dedup_chain_within_delay",     # sequential chain dedup (Arrow scan lane)
]

# per-query caveats rendered above the plan dump
PLAN_NOTES = {
    "join_aqe_skew_enriched_events": (
        "The dump shows the SortMergeJoin shape AQE's OptimizeSkewedJoin "
        "pattern-matches; the runtime `skew=true` split itself only appears "
        "under forced thresholds (fixture partitions sit below the default "
        "256 MB skew threshold) — tests/test_skew.py forces them and "
        "asserts the split fires AND the rows are unchanged."
    ),
    "dedup_chain_within_delay": (
        "The keep decision depends on the previous KEPT row, so the scan "
        "after the single key-hash exchange is an Arrow-batched sequential "
        "MapInPandas — the one allowlisted pandas lane that is not "
        "vectorizable; measured ~2.0M rows/s/core with the stage "
        "exchange-bound (SCALING.md \"chain-dedup scan throughput\")."
    ),
}


def main() -> None:
    specs = all_specs()
    spark = get_spark(app_name="dump_plans", master="local[4]", shuffle_partitions=8)
    try:
        parts = [
            "# PLANS — physical plans of the headline queries\n",
            f"Generated by `python tools/dump_plans.py` at sf_dir=`{SF_DIR}`.",
            "Load-bearing properties (pushdown, pruning, broadcasts, no",
            "row-Python) are asserted in `tests/test_plans.py`; this file is",
            "the reviewable dump.\n",
        ]
        for name in HEADLINE:
            df = specs[name].fn(spark, SF_DIR)
            # execute first so AQE's FINAL plan (isFinalPlan=true, actual
            # join strategies and coalesced partitions) is what gets dumped
            df.write.format("noop").mode("overwrite").save()
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            note = PLAN_NOTES.get(name)
            note_md = f"{note}\n\n" if note else ""
            parts.append(f"## {name}\n\n{note_md}```\n{buf.getvalue().strip()}\n```\n")
        with open(OUT, "w") as fh:
            fh.write("\n".join(parts))
        print(f"wrote {OUT}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

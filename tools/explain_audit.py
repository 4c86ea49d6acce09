"""Physical-plan audit: prints .explain("formatted") for the headline
queries and greps for the plan properties the engine is designed around:

- broadcast hash joins on every dictionary probe (no shuffle on hub keys),
- whole-stage codegen spans over the extraction path,
- partial (map-side) aggregation before every exchange,
- no Python row-at-a-time UDFs (only ArrowEvalPython / FlatMapGroupsInPandas
  where a pandas stage is intended).

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def audit(name: str, df) -> None:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    n_bhj = len(re.findall(r"BroadcastHashJoin", plan))
    n_codegen = len(set(re.findall(r"codegen id : (\d+)", plan)))
    n_partial = len(re.findall(r"partial_", plan)) + len(
        re.findall(r"HashAggregate.*partial", plan)
    )
    n_py = len(re.findall(r"BatchEvalPython", plan))
    # formatted mode lists operators as "(N) Exchange" with partitioning in
    # the details section; count operator occurrences minus broadcasts
    n_shuffle = len(re.findall(r"\(\d+\) Exchange", plan))
    n_bcast = len(re.findall(r"BroadcastExchange", plan))
    # unpartitioned sort windows single-partition the whole input (the
    # 'WindowExec: No Partition Defined' class — VERDICT r5 #3): in the
    # formatted details a Window operator's partition spec is the second
    # bracket of its Arguments; empty means global.
    n_global_window = len(
        re.findall(r"\(\d+\) Window\n(?:[^\n]*\n)*?Arguments: \[[^\]]*\], \[\]", plan)
    )
    print(f"\n===== {name} =====")
    print(f"  broadcast joins                   {n_bhj}")
    print(f"  codegen-covered spans             {n_codegen}")
    print(f"  map-side partial aggregations     {n_partial}")
    print(f"  row-at-a-time Python stages       {n_py} (must be 0)")
    print(f"  shuffle exchanges                 {n_shuffle}")
    print(f"  broadcast exchanges               {n_bcast}")
    print(f"  unpartitioned sort windows        {n_global_window} (must be 0)")
    if "--full" in sys.argv:
        print(plan)


def main() -> None:
    import __spark_entry__ as E
    from codepropertygraph_spark.session import get_spark

    spark = get_spark(master="local[8]")
    qs = E.queries()
    for name in (
        "kg_triples",
        "kg_mentions",
        "kg_raw_triples",
        "kg_linked_mentions",
        "kg_reaching_defs",
        "dedup_minhash_pairs",
        "dedup_embedding_cosine",
        "ann_cosine_topk_lsh",
        "kg_flow_edges_semantics",
        "kg_reachable_cross_conv",
        "ann_cosine_topk",
        "ann_cosine_topk_ivf",
        "kg_source_file_edges",
        "events_asof",
        "events_range_join",
        "events_rollup",
        "events_kmv_users",
        "events_quantiles",
        "events_heavy_hitters",
        "events_gapfill",
        "documents_split",
        "documents_stratified",
        "documents_pii_mask",
        "tpch_q1",
        "tpch_q6",
        "tpch_q5",
        "tpch_q10",
        "tpch_q18",
        "tpch_q7",
        "tpch_q8",
        "tpch_q13",
        "tpch_q14",
        "tpch_q17",
        "tpch_q19",
        "documents_mixture",
        "documents_decontaminate",
        "events_funnel",
        "events_cohorts",
        "kg_entity_triangles",
        "kg_entity_pmi",
        "dedup_jaccard_prefix",
        "dedup_duplicate_spans",
        "documents_packing",
        "text_unigram_lp",
        "kg_entity_pagerank",
        "kg_entity_communities",
        "kg_bgp_match",
        "kg_entity_kcore",
        "kg_link_prediction",
        "text_skipgram",
        "text_tfidf",
        "kg_role_transitions",
        "embeddings_hard_negatives",
        "kg_random_walks",
        "kg_closeness",
        "kg_new_facts",
    ):
        audit(name, qs[name](spark, SF_DIR))


if __name__ == "__main__":
    main()

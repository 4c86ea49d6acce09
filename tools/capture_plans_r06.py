"""Capture .explain('formatted') for every benched query (round 6 deliverable).

Builds each DataFrame exactly as the frozen bench.py does and writes the
formatted physical plan to plans/r06/<query>_<tag>.txt.

Usage: python tools/capture_plans_r06.py before|after [only_query]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(REPO, "plans", "r06")


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = sys.argv[2] if len(sys.argv) > 2 else None
    os.makedirs(OUT, exist_ok=True)

    from pyspark.sql import functions as F

    from codepropertygraph_spark import testdata as td
    from codepropertygraph_spark.operators import (
        canonicalize,
        centrality,
        dataflow,
        dedup,
        extraction,
        kg,
        sampling,
        similarity,
        textstats,
    )
    from codepropertygraph_spark.session import get_spark
    from codepropertygraph_spark.sources import json_ingest

    tier = td.tier_of_sf_dir(SF_DIR)
    d = td.ensure_generated(tier)
    spark = get_spark(app_name="capture-plans-r06")

    tr = spark.read.parquet(f"{d}/transcripts.parquet")
    ad = spark.read.parquet(f"{d}/alias_dict.parquet")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(64)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").repartition(64)

    merge = canonicalize.merge_map(ad).localCheckpoint(eager=True)
    follows_edges = (
        kg.final_triples(tr, ad, merge=merge)
        .where(F.col("pred") == "follows")
        .select("conv_id", F.col("subj").alias("s"), F.col("obj").alias("o"))
        .localCheckpoint(eager=True)
    )
    entity_edges_df = centrality.entity_edges(
        kg.final_triples(tr, ad, merge=merge)
    ).localCheckpoint(eager=True)
    aj = spark.read.parquet(f"{d}/ast_json.parquet").repartition(64)

    queries = {
        "kg_pipeline": lambda: kg.final_triples(tr, ad, merge=merge),
        "kg_mentions": lambda: extraction.mention_surfaces(tr, ad),
        "kg_raw_triples": lambda: extraction.raw_triples(tr),
        "kg_merge_map": lambda: canonicalize.merge_map(ad),
        "kg_ast_json_tree": lambda: json_ingest.json_tree(aj, "ast_id", "ast"),
        "kg_reachable_4hop": lambda: dataflow.reachable_within_auto(
            follows_edges, max_hops=4
        ),
        "kg_flows_witness": lambda: dataflow.flow_witness_auto(
            follows_edges, max_hops=4
        ),
        "kg_reachable_cross_conv": lambda: dataflow.reachable_cross_conversation(
            follows_edges, max_hops=4, max_crossings=1
        ),
        "kg_entity_pagerank": lambda: centrality.pagerank_int(
            entity_edges_df, iters=5
        ),
        "kg_link_prediction": lambda: centrality.link_prediction(
            entity_edges_df, min_cn=2
        ),
        "kg_random_walks": lambda: centrality.random_walks(
            entity_edges_df, walks_per_node=2, length=4
        ),
        "dedup_minhash_pairs": lambda: dedup.minhash_pairs(docs, 0.8),
        "dedup_simhash": lambda: dedup.simhash(docs),
        "ann_cosine_topk": lambda: similarity.cosine_topk(emb, 10, 5),
        "text_quality": lambda: textstats.quality_scores(docs),
        "documents_packing": lambda: sampling.pack_sequences(
            docs, 256, ["doc_id"], n_shards=8
        ),
        "dedup_jaccard_prefix": lambda: dedup.jaccard_prefix_pairs(docs, 0.8),
        "text_skipgram": lambda: textstats.skipgram_pairs(docs, window=2),
    }
    for name, fn in queries.items():
        if only and name != only:
            continue
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            fn().explain("formatted")
        path = os.path.join(OUT, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path} ({len(buf.getvalue())} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()

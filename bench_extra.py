"""Round-6 optimization instrumentation (guide §1: measure first).

bench.py is frozen for measurement, so the per-phase isolation lives here.
Each phase is forced with the noop sink and labelled via setJobDescription.

Usage:
  python bench_extra.py cross_conv     # phase timings for kg_reachable_cross_conv
  python bench_extra.py linkpred       # phase timings for kg_link_prediction
  python bench_extra.py jsontree       # kg_ast_json_tree walker timing
  python bench_extra.py jaccard        # dedup_jaccard_prefix phase timings
  python bench_extra.py pipeline      # kg_pipeline phase timings
  python bench_extra.py quick Q       # single-query noop timing (bench parity), runs=3
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _setup():
    from pyspark.sql import functions as F

    from codepropertygraph_spark import testdata as td
    from codepropertygraph_spark.operators import canonicalize, centrality, kg
    from codepropertygraph_spark.session import get_spark

    tier = td.tier_of_sf_dir(SF_DIR)
    d = td.ensure_generated(tier)
    spark = get_spark(app_name="bench-extra-r06")
    tr = spark.read.parquet(f"{d}/transcripts.parquet")
    ad = spark.read.parquet(f"{d}/alias_dict.parquet")
    tr.count()
    return spark, d, tr, ad, F, canonicalize, centrality, kg


class Timer:
    def __init__(self, spark):
        self.spark = spark
        self.t: dict[str, float] = {}

    def run(self, name: str, fn):
        self.spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        out = fn()
        self.t[name] = round(time.time() - t0, 3)
        self.spark.sparkContext.setJobDescription(None)
        print(f"  {name:45s} {self.t[name]:8.3f}s", flush=True)
        return out


def cross_conv() -> None:
    spark, d, tr, ad, F, canonicalize, centrality, kg = _setup()
    from codepropertygraph_spark.operators import dataflow

    merge = canonicalize.merge_map(ad).localCheckpoint(eager=True)
    follows_edges = (
        kg.final_triples(tr, ad, merge=merge)
        .where(F.col("pred") == "follows")
        .select("conv_id", F.col("subj").alias("s"), F.col("obj").alias("o"))
        .localCheckpoint(eager=True)
    )
    T = Timer(spark)
    keyed_by = "conv_id"

    # phase 1: edge persist + within-conversation closure
    e_in = follows_edges.persist()
    within = T.run(
        "closure: reachable_within_auto",
        lambda: dataflow.reachable_within_auto(e_in, max_hops=4).persist(),
    )
    T.run("closure: materialize", lambda: _force(within))

    # phase 2: pair summary (the hash-agg pass over the closure)
    pair_sum = T.run(
        "pair_sum: agg + checkpoint",
        lambda: within.groupBy("src", "dst")
        .agg(
            F.count("*").alias("n_d"),
            F.min(keyed_by).alias("c_d1"),
            F.max(keyed_by).alias("c_d2_max"),
        )
        .select(
            "src",
            "dst",
            "n_d",
            "c_d1",
            F.when(F.col("n_d") == 2, F.col("c_d2_max")).alias("c_d2"),
        )
        .localCheckpoint(eager=True),
    )

    # phase 3: multi-conversation entities + depart + frontier
    multi = (
        e_in.select(F.col(keyed_by).alias("__c"), F.col("o").alias("e"))
        .unionByName(e_in.select(F.col(keyed_by).alias("__c"), F.col("s").alias("e")))
        .dropDuplicates(["__c", "e"])
        .groupBy("e")
        .agg(F.countDistinct("__c").alias("nc"))
        .where(F.col("nc") >= 2)
        .select("e")
        .persist()
    )
    T.run("multi: bridge entities", lambda: _force(multi))
    multi_b = F.broadcast(multi)
    depart = (
        pair_sum.join(multi_b, pair_sum.src == multi.e, "left_semi")
        .select(
            F.col("src").alias("bridge"),
            F.col("dst").alias("dst2"),
            "n_d",
            "c_d1",
            "c_d2",
        )
        .persist()
    )
    T.run("depart: summary materialize", lambda: _force(depart))
    frontier = (
        pair_sum.join(multi_b, pair_sum.dst == multi.e, "left_semi")
        .select(
            "src",
            F.col("dst").alias("bridge"),
            (F.col("n_d") >= 2).alias("f_many"),
            F.col("c_d1").alias("f_conv"),
        )
        .persist()
    )
    T.run("frontier: materialize", lambda: _force(frontier))

    # phase 4: the final crossing level (stats + dispatch)
    lv = T.run(
        "crossing: _crossing_pairs build+stats",
        lambda: dataflow._crossing_pairs(frontier, depart),
    )
    T.run("crossing: expansion materialize", lambda: _force(lv))

    # phase 5: union + min-agg + checkpoint (the real op end-to-end)
    T.run(
        "FULL reachable_cross_conversation",
        lambda: _force(
            dataflow.reachable_cross_conversation(
                follows_edges, max_hops=4, max_crossings=1
            )
        ),
    )
    print(json.dumps(T.t))
    spark.stop()


def linkpred() -> None:
    spark, d, tr, ad, F, canonicalize, centrality, kg = _setup()

    merge = canonicalize.merge_map(ad).localCheckpoint(eager=True)
    edges = centrality.entity_edges(
        kg.final_triples(tr, ad, merge=merge)
    ).localCheckpoint(eager=True)
    T = Timer(spark)

    nb = T.run(
        "nb: undirected neighbors checkpoint",
        lambda: centrality.undirected_neighbors(edges)
        .where(F.col("node") != F.col("nbr"))
        .localCheckpoint(eager=True),
    )
    print(f"  nb rows = {nb.count()}")
    deg = nb.groupBy("node").agg(F.count("*").cast("long").alias("deg"))
    wit = nb.select(F.col("nbr").alias("w"), F.col("node").alias("x")).join(
        deg.select(F.col("node").alias("w"), F.col("deg").alias("dw")), "w"
    )
    l = wit.select("w", F.col("x").alias("a"), F.col("dw").alias("dwa"))
    r = wit.select("w", F.col("x").alias("b"))
    wedges = l.join(r, "w").where(F.col("a") < F.col("b"))
    T.run("wedges: join only (count)", lambda: print(wedges.count()))
    pairs = (
        wedges.groupBy("a", "b")
        .agg(
            F.count("*").cast("long").alias("cn"),
            F.sum(F.expr("1000000 DIV dwa")).cast("long").alias("ra_micro"),
        )
        .where(F.col("cn") >= 2)
    )
    T.run("pairs: wedge join + agg", lambda: _force(pairs))
    T.run(
        "FULL link_prediction",
        lambda: _force(centrality.link_prediction(edges, min_cn=2)),
    )
    print(json.dumps(T.t))
    spark.stop()


def jsontree() -> None:
    spark, d, tr, ad, F, canonicalize, centrality, kg = _setup()
    from codepropertygraph_spark.sources import json_ingest

    aj = spark.read.parquet(f"{d}/ast_json.parquet").repartition(64)
    n = aj.count()
    total_bytes = aj.select(F.sum(F.length("ast"))).first()[0]
    print(f"  ast docs = {n}, json bytes = {total_bytes}")
    T = Timer(spark)
    for i in range(3):
        T.run(
            f"json_tree run {i}",
            lambda: _force(json_ingest.json_tree(aj, "ast_id", "ast")),
        )
    print(json.dumps(T.t))
    spark.stop()


def jaccard() -> None:
    spark, d, tr, ad, F, canonicalize, centrality, kg = _setup()
    from pyspark.sql import Window

    from codepropertygraph_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(64).persist()
    docs.count()
    T = Timer(spark)
    threshold = 0.8
    sh = dedup.with_shingles(docs).select("doc_id", "sh").persist()
    T.run("shingles materialize", lambda: _force(sh))
    tok = sh.select(
        "doc_id", F.size("sh").alias("s_len"), F.explode("sh").alias("shingle")
    )
    freq = tok.groupBy("shingle").agg(F.count("*").alias("gf"))
    T.run("freq agg", lambda: _force(freq))
    ranked = (
        tok.join(freq, "shingle")
        .withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("doc_id").orderBy("gf", "shingle")),
        )
        .where(
            F.col("rk")
            <= F.col("s_len") - F.ceil(F.lit(threshold) * F.col("s_len")) + 1
        )
        .select("doc_id", "shingle")
        .persist()
    )
    T.run("ranked prefix (join+window)", lambda: _force(ranked))
    cand = (
        ranked.alias("x")
        .join(ranked.alias("y"), "shingle")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .dropDuplicates(["a", "b"])
        .persist()
    )
    T.run("candidates self-join", lambda: _force(cand))
    T.run(
        "FULL jaccard_prefix_pairs",
        lambda: _force(dedup.jaccard_prefix_pairs(docs, threshold)),
    )
    print(json.dumps(T.t))
    spark.stop()


def pipeline() -> None:
    spark, d, tr, ad, F, canonicalize, centrality, kg = _setup()
    from codepropertygraph_spark.operators import extraction, linking

    T = Timer(spark)
    merge = T.run(
        "merge_map + checkpoint",
        lambda: canonicalize.merge_map(ad).localCheckpoint(eager=True),
    )
    flagged = extraction.flagged_tokens(tr)
    T.run(
        "clause branch",
        lambda: _force(kg.clause_triples_from(flagged, ad, merge)),
    )
    T.run(
        "follows branch",
        lambda: _force(kg.follows_triples_from(flagged, tr, ad, merge)),
    )
    for i in range(3):
        T.run(
            f"FULL final_triples run {i}",
            lambda: _force(kg.final_triples(tr, ad, merge=merge)),
        )
    print(json.dumps(T.t))
    spark.stop()


def quick(name: str, runs: int = 3) -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    import bench

    r = bench.run_bench(f"local[{os.environ['SPARK_GRAFT_CPUS']}]", only=name)
    print(json.dumps(r))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "cross_conv"
    if mode == "quick":
        quick(sys.argv[2])
    else:
        globals()[mode]()

"""Stage-level attribution of emb_semantic_dedup at sf10 (VERDICT r11
ask #2): hierarchy build vs within-cluster pairwise scoring vs
crossover probe, each materialized separately with timers. Mirrors
semantic_dedup's internals (clustering.py) without changing them."""
import json, sys, time
sys.path.insert(0, ".")
from pyspark.sql import SparkSession, functions as F

spark = (SparkSession.builder.master("local[32]")
         .config("spark.sql.shuffle.partitions", "32")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.driver.memory", "48g")
         .config("spark.ui.enabled", "false").getOrCreate())

from clearcare_data_pipeline_spark.operators.clustering import (
    SEMDEDUP_FLAT_MAX_N, SEMDEDUP_TARGET_WIDTH, hierarchical_assign)
from clearcare_data_pipeline_spark.operators.similarity import with_norm, dot_expr
from clearcare_data_pipeline_spark.queries.similarity import _emb, _NEAR_DUP_MOD, _SEMDEDUP_ITERS

SF = ".localdata/sf10"
vecs = _emb(spark, SF).select("vec_id", "embedding")
copies = vecs.where(F.col("vec_id") % _NEAR_DUP_MOD == 0).withColumn(
    "vec_id", F.col("vec_id") + 1000000)
df = vecs.unionByName(copies)

# JIT warmup pass (same discipline as bench.py)
df.count()

res = {}
t0 = time.time()
n = df.limit(SEMDEDUP_FLAT_MAX_N + 1).count()
res["crossover_probe_sec"] = round(time.time() - t0, 2)
res["probe_n"] = n
assert n > SEMDEDUP_FLAT_MAX_N, "expected hierarchy branch at sf10"

t0 = time.time()
assigned = hierarchical_assign(df, target_width=SEMDEDUP_TARGET_WIDTH,
                               iters=_SEMDEDUP_ITERS)
assigned = assigned.persist()
n_assigned = assigned.count()
res["hierarchy_build_sec"] = round(time.time() - t0, 2)
res["n_assigned"] = n_assigned

t0 = time.time()
d = (with_norm(df, "embedding").select("vec_id", "dvec", "norm")
     .join(assigned, "vec_id").persist())
d.count()
res["norm_join_persist_sec"] = round(time.time() - t0, 2)

t0 = time.time()
a = d.select(F.col("vec_id").alias("_a_id"), F.col("dvec").alias("_a_vec"),
             F.col("norm").alias("_a_norm"), "cluster")
b = d.select(F.col("vec_id").alias("_b_id"), F.col("dvec").alias("_b_vec"),
             F.col("norm").alias("_b_norm"), "cluster")
dup_ids = (a.join(b, "cluster").where(F.col("_a_id") < F.col("_b_id"))
           .where(F.round(dot_expr(F.col("_a_vec"), F.col("_b_vec"))
                          / (F.col("_a_norm") * F.col("_b_norm")), 6) >= 0.99)
           .select(F.col("_b_id").alias("vec_id")).distinct())
n_dups = dup_ids.count()
res["pairwise_scoring_sec"] = round(time.time() - t0, 2)
res["n_dups"] = n_dups

# cluster width profile — the quadratic driver of the pairwise stage
widths = assigned.groupBy("cluster").count()
prof = widths.agg(F.count("*").alias("n_clusters"), F.max("count").alias("max_w"),
                  F.expr("percentile_approx(count, 0.5)").alias("p50_w"),
                  F.expr("percentile_approx(count, 0.99)").alias("p99_w"),
                  F.sum(F.col("count") * F.col("count")).alias("sum_w2")).collect()[0]
res["cluster_profile"] = {k: int(prof[k]) for k in
                          ["n_clusters", "max_w", "p50_w", "p99_w", "sum_w2"]}
print(json.dumps(res))
with open(".r12state/semdedup_sf10_attribution.json", "w") as f:
    json.dump(res, f, indent=1)
spark.stop()

"""Dynamic partition pruning: the runtime scale feature where a
filtered dim side prunes the partitioned fact scan at JOIN time —
at 100 TB this is the difference between scanning five years of a
date-partitioned fact and scanning the three partitions the dim
filter actually selects. No operator code needed (Catalyst does it);
this pins that the engine's layouts actually trigger it, so a
regression (disabled conf, non-partition join key, missing broadcast)
is caught."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_inreach_spark.catalog import load_table


def test_join_prunes_fact_partitions_dynamically(spark, sf_dir, tmp_path):
    fact_path = str(tmp_path / "fact")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    o.write.partitionBy("o_orderpriority").parquet(fact_path)
    n_parts = o.select("o_orderpriority").distinct().count()
    assert n_parts >= 4

    # _metadata must be projected at the file-source relation (it is
    # not resolvable through the join's projection)
    fact = spark.read.parquet(fact_path).select(
        "*", F.col("_metadata.file_path").alias("_file")
    )
    dim = spark.createDataFrame(
        [(p, i) for i, p in enumerate(sorted(
            r["o_orderpriority"] for r in o.select("o_orderpriority").distinct().collect()
        ))],
        "o_orderpriority string, prio_rank int",
    )
    j = fact.join(F.broadcast(dim.filter(F.col("prio_rank") < 2)), "o_orderpriority")

    # the optimized plan carries the runtime pruning subquery
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan

    # and it actually prunes: files read come from 2 of the 5
    # partition directories
    files = {
        r["_file"].rsplit("/", 2)[-2] for r in j.select("_file").collect()
    }
    assert len(files) == 2 and all(d.startswith("o_orderpriority=") for d in files)

    # correctness: equals the statically-filtered join
    keep = {r["o_orderpriority"] for r in dim.filter("prio_rank < 2").collect()}
    assert j.count() == o.filter(F.col("o_orderpriority").isin(keep)).count() > 0

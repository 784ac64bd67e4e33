"""Physical-plan audits: the plan-shape properties that matter at 100 TB.

These assert on ``explain`` output so a regression that silently
introduces an extra shuffle / Python stage / full-column scan fails CI,
not a production run.
"""

import pytest
from pyspark.sql import functions as F

from fastfilter_spark.operators.dist import (
    build_sharded, keys_with_shard, semi_join_prune,
)


def _plan(df) -> str:
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def test_build_stage_has_no_python_before_shuffle(spark, lineitem):
    """Shard routing must be JVM-side: the only Python in the build plan
    is the grouped-map kernel itself (FlatMapGroupsInPandas), never an
    ArrowEvalPython before the Exchange."""
    keyed = keys_with_shard(lineitem, "l_orderkey", 3)
    plan = _plan(keyed)
    assert "xxhash64" in plan
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_scan_prunes_columns(spark, lineitem):
    """The key projection must reach the parquet reader: ReadSchema
    carries only the key column, not all 11 lineitem columns."""
    keyed = keys_with_shard(lineitem, "l_orderkey", 3)
    plan = _plan(keyed)
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and "l_orderkey" in read[0]
    assert "l_extendedprice" not in read[0] and "l_shipdate" not in read[0]


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    q = orders.where(F.col("o_custkey") < 100).select("o_orderkey")
    plan = _plan(q)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "o_custkey" in pushed[0]


def test_semi_join_prune_broadcasts_dim(spark, sf_dir):
    """The exact join after the filter probe must be a broadcast hash
    join (small dim side), not a sort-merge shuffle."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    dim = customer.where(F.col("c_custkey") % 5 == 0)
    sf, _ = build_sharded(dim, "c_custkey", kind="fuse8", shard_bits=0)
    pruned = semi_join_prune(orders, "o_custkey", sf, dim, "c_custkey")
    plan = _plan(pruned)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "LeftSemi" in plan


def test_aggregation_is_map_side_partial(spark, lineitem):
    """groupBy aggregates must partial-combine before the Exchange (the
    shuffle moves one row per group per task, not per input row); the
    batched parquet reader must be active."""
    q = (lineitem.groupBy("l_returnflag")
         .agg(F.sum(F.col("l_quantity").cast("long")).alias("q")))
    plan = _plan(q)
    assert "partial_sum" in plan
    assert "Batched: true" in plan
    # partial HashAggregate appears below the Exchange
    assert plan.index("partial_sum") > plan.index("Exchange") or \
        "HashAggregate" in plan.split("Exchange")[0]


def test_partition_pruning_on_partitioned_table(spark, tmp_path):
    """Writing partitioned-by-lang and filtering on lang must prune at
    the source (PartitionFilters), not post-scan — the parquet stand-in
    for Iceberg partition pruning."""
    from fastfilter_spark.sources.webpages import synthesize_webpages
    out = str(tmp_path / "wp_part")
    synthesize_webpages(spark, 2000, seed=42) \
        .write.partitionBy("lang").parquet(out)
    q = spark.read.parquet(out).where(F.col("lang") == "en") \
        .select("url")
    plan = _plan(q)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "lang" in pf[0]


def test_build_has_single_exchange(spark, lineitem):
    """One shuffle total in the construction plan (the groupBy(shard)),
    around the jar's typed aggregate (FilterBuild): a map-side partial
    below the Exchange, the final build above it, no collect_list and
    no Python node.  A second Exchange would mean an accidental extra
    repartition."""
    from fastfilter_spark.operators.dist import build_filter_rows
    built = build_filter_rows(keys_with_shard(lineitem, "l_orderkey", 2),
                              "fuse8", 4)
    plan = _plan(built)
    assert plan.count("Exchange") <= 2  # initial + AQE re-plan reuse line
    assert "FlatMapGroupsInPandas" not in plan
    built.collect()
    final = built._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1, final
    above, below = final.split("Exchange", 1)
    assert "partial_filterbuild(" in below, final
    assert "filterbuild(" in above.replace("partial_filterbuild(", ""), final
    assert "collect_list" not in final and "Python" not in final, final


def test_bucketed_source_build_is_shuffle_free(spark, lineitem, tmp_path):
    """SCALE.md's shuffle-elimination claim, executed: a key store
    written with write_bucketed_keys builds its filter table with NO
    Exchange in the physical plan (the bucketed scan's
    HashPartitioning(shard) satisfies the grouped-map distribution),
    while the plain build has one — and both produce identical bytes."""
    from fastfilter_spark.operators.dist import (
        ShardedFilter, build_filter_rows, build_sharded_from_bucketed,
        write_bucketed_keys,
    )
    table = "keys_bucketed_plan_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        write_bucketed_keys(lineitem, "l_orderkey", 3, table)
        built = build_sharded_from_bucketed(spark, table, kind="fuse8")
        plan = built._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        rows = [r.asDict() for r in built.collect()]
        sf = ShardedFilter.from_filter_table(rows)

        keyed = keys_with_shard(lineitem, "l_orderkey", 3)
        plain = build_filter_rows(keyed, "fuse8", 8)
        assert "Exchange" in \
            plain._jdf.queryExecution().executedPlan().toString()
        sf2 = ShardedFilter.from_filter_table(
            [r.asDict() for r in plain.collect()])
        assert sf.payloads == sf2.payloads
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_bucketed_write_is_one_file_per_bucket(spark, lineitem):
    """write_bucketed_keys writes one file per bucket, however many
    tasks feed it (straight off a 4-partition input each task wrote one
    file per bucket it held)."""
    import os
    import re

    from fastfilter_spark.operators.dist import write_bucketed_keys
    table = "keys_bucketed_files_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        write_bucketed_keys(lineitem.repartition(4), "l_orderkey", 3, table)
        loc = {r["col_name"]: r["data_type"] for r in
               spark.sql(f"DESCRIBE EXTENDED {table}").collect()}["Location"]
        path = re.sub(r"^file:(//)?", "", loc)
        files = [f for f in os.listdir(path) if f.endswith(".parquet")]
        buckets = [re.search(r"_(\d{5})\.", f).group(1) for f in files]
        # 8 shard values hash to at most 8 buckets, some of them empty
        assert files and len(files) == len(set(buckets)), files
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_bucketed_write_fills_every_bucket_with_one_shard(spark, lineitem):
    """An 8-shard write fills 8 of 8 buckets, bucket id = shard id: each
    bucket file holds exactly the keys that route to its shard, and the
    build over the table names its 8 shards 0..7."""
    import os
    import re

    from fastfilter_spark.operators.dist import (
        build_sharded_from_bucketed, write_bucketed_keys,
    )
    table = "keys_bucketed_fill_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        write_bucketed_keys(lineitem, "l_orderkey", 3, table)
        loc = {r["col_name"]: r["data_type"] for r in
               spark.sql(f"DESCRIBE EXTENDED {table}").collect()}["Location"]
        path = re.sub(r"^file:(//)?", "", loc)
        files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        buckets = [int(re.search(r"_(\d{5})\.", f).group(1)) for f in files]
        assert buckets == list(range(8)), files
        want = keys_with_shard(lineitem, "l_orderkey", 3)
        for f, b in zip(files, buckets):
            got = spark.read.parquet(os.path.join(path, f)).select("key")
            assert got.exceptAll(want.where(F.col("shard") == b)
                                 .select("key")).count() == 0
            assert want.where(F.col("shard") == b).select("key") \
                .exceptAll(got).count() == 0
        built = build_sharded_from_bucketed(spark, table, kind="fuse8")
        assert sorted(r.shard for r in built.select("shard").collect()) \
            == list(range(8))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_build_sharded_from_bucketed_rejects_unbucketed(spark, lineitem):
    from fastfilter_spark.operators.dist import build_sharded_from_bucketed
    table = "keys_plain_plan_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        lineitem.select("l_orderkey").limit(100).write \
            .mode("overwrite").saveAsTable(table)
        with pytest.raises(ValueError, match="bucketed"):
            build_sharded_from_bucketed(spark, table)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_ngram_decontaminate_plan_shape(spark, sf_dir):
    """Both joins must be broadcast hash joins (gram semi + id anti) —
    a SortMergeJoin here means the train side is being shuffled."""
    from fastfilter_spark.operators.dedup import ngram_decontaminate
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = docs.where(F.col("doc_id") % 10 == 0)
    plan = _plan(ngram_decontaminate(docs, ev, n=8))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "LeftAnti" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_token_budget_mix_single_exchange(spark, sf_dir):
    """One shuffle only (the window over the source key); the cumsum
    filter must not add another."""
    from fastfilter_spark.functions.text import token_budget_mix
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = token_budget_mix(docs, "source", "n_chars",
                           {"src0": 500, "src1": 500})
    plan = _plan(out)
    # formatted explain names each node twice (tree + detail section)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, tree
    assert "EvalPython" not in plan
    # the budget-key membership filter is pushed below the exchange
    # (non-budgeted sources never shuffle)
    assert plan.index("Exchange") > plan.index("Filter")


def test_pii_and_repetition_signals_stay_codegen(spark, sf_dir):
    """Scrub + repetition signals are scan-project only: no exchange,
    no Python, and the scan reads just the needed columns."""
    from fastfilter_spark.functions.text import (
        pii_counts, redact_pii, repetition_signal_columns,
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sig = repetition_signal_columns(F.col("text"), sep=" ")
    counts = pii_counts(F.col("text"))
    q = docs.select("doc_id", redact_pii(F.col("text")).alias("r"),
                    *[c.alias(n) for n, c in sig.items()],
                    *[c.alias(n) for n, c in counts.items()])
    plan = _plan(q)
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and "text" in read[0] and "source" not in read[0]


def test_ams_f2_plan_is_codegen_with_partial_agg(spark, sf_dir):
    """The F2 sketch must be pure JVM (md5/pmod codegen, no Python) and
    its counter aggregation must partial-combine map-side, so the
    exchange moves <= width*depth counter rows per task, never keys."""
    from fastfilter_spark.operators.moments import ams_f2
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(F.explode(F.split(F.lower("text"), "[^a-z]+"))
                       .alias("token")).where(F.col("token") != "")
    plan = _plan(ams_f2(toks, "token", width=64, depth=3))
    assert "EvalPython" not in plan
    assert "partial_sum" in plan
    assert plan.index("partial_sum") > plan.index("Exchange")

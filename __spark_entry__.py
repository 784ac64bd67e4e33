"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline (webpages -> url keys ->
sharded fuse8 build -> probe + semi-join prune) at sf0.001.
``queries()`` exposes one entry per implemented operator from
SURVEY.md §2 (+ the mandated training-data-pipeline extensions);
``oracle_sql()`` gives DuckDB-equivalent SQL for every
SQL-expressible query.  Filter queries are SQL-checkable because xor /
binary-fuse filters have zero false negatives: ``count(keys passing
contain)`` over inserted keys must equal the exact distinct count.

REGISTRY DISCIPLINE (round-5 rule): the driver's CORRECTNESS capture
records the FIRST 50 registry entries only, so the registry must stay
at <= 50 queries — consolidate overlapping checks into one multi-part
query (each merged query still exercises every constituent operator
and its oracle checks all of their outputs) rather than appending past
the cap, and land new queries BEFORE the round's driver capture, never
after (the r3/r4 16-query coverage gap was sequencing).  The full
replay gate is ``scripts/check_entry.py``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from fastfilter_spark.operators.kmv import portable_hash60_sql

SF_DEFAULT = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthesize webpages, build a sharded binary-fuse8 filter
    over the url keys, probe it (zero false negatives), prune a key join,
    and report build lineage + probe metrics as a small DataFrame."""
    from fastfilter_spark.operators.dist import build_sharded
    from fastfilter_spark.sources.webpages import (
        extraction_mismatch_count, synthesize_webpages, url_keys,
    )

    wp = synthesize_webpages(spark, 4000, seed=42, duplicate_fraction=0.1)
    keys = url_keys(wp)
    sf, table = build_sharded(keys, "key", kind="fuse8", shard_bits=1)
    n_distinct = keys.distinct().count()
    n_pass = keys.distinct().where(
        sf.contains_udf(spark)(F.col("key"))).count()
    mism = extraction_mismatch_count(wp)
    lineage = table.select(
        "shard", "kind", "input_rows", "distinct_keys", "size_bytes")
    summary = lineage.agg(
        F.lit("fuse8").alias("kind"),
        F.sum("input_rows").alias("input_rows"),
        F.sum("distinct_keys").alias("distinct_keys"),
        F.sum("size_bytes").alias("filter_bytes"),
        F.lit(n_distinct).alias("n_keys"),
        F.lit(n_pass).alias("n_pass"),
        F.lit(mism).alias("extract_mismatches"),
    )
    return summary


# ---------------------------------------------------------------------------
# filter membership queries (zero-false-negative invariant => SQL oracle)
# ---------------------------------------------------------------------------

# one row per filter kind: (label, kind, table, key col, shard_bits,
# arity).  Each kind keeps the table/shard/arity mix the pre-round-5
# standalone queries used, so every §2.3 lifecycle row (xor8/16,
# fuse8/16/32, arity 4, Bloom) is exercised with distinct shapes —
# consolidated into ONE registry slot (registry discipline, module
# docstring).
_MEMBERSHIP_SPECS = [
    ("bloom", None, "orders", "o_orderkey", None, None),
    ("fuse16", "fuse16", "customer", "c_custkey", 0, 3),
    ("fuse32", "fuse32", "supplier", "s_suppkey", 0, 3),
    ("fuse8", "fuse8", "lineitem", "l_orderkey", 2, 3),
    ("fuse8_arity4", "fuse8", "orders", "o_orderkey", 1, 4),
    ("xor16", "xor16", "part", "p_partkey", 0, 3),
    ("xor8", "xor8", "orders", "o_custkey", 1, 3),
]


def q_membership_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every filter kind's build + DISTRIBUTED broadcast-probe
    (sharded xor8/16, fuse8/16/32, the 4-wise fuse extension, and the
    Bloom UDAF), one output row per kind.  All kinds have zero false
    negatives, so ``n_pass`` over inserted keys must equal the exact
    distinct count — which is the SQL oracle."""
    from fastfilter_spark.operators.dist import build_sharded
    from fastfilter_spark.operators.sketch_agg import (
        bloom_contains_udf, bloom_sketch)
    rows = []
    for label, kind, table, col, shard_bits, arity in _MEMBERSHIP_SPECS:
        df = _t(spark, sf_dir, table)
        keys = df.select(col).distinct()
        if label == "bloom":
            bf = bloom_sketch(df, col, fpp=0.01)
            pred = bloom_contains_udf(bf, spark)(F.col(col))
        else:
            sf, _ = build_sharded(df, col, kind=kind,
                                  shard_bits=shard_bits, arity=arity)
            pred = sf.contains_udf(spark)(F.col(col))
        rows.append((label, keys.count(), keys.where(pred).count()))
    return spark.createDataFrame(
        rows, "kind string, n_keys long, n_pass long").orderBy("kind")


def _membership_all_sql() -> str:
    parts = []
    for label, _kind, table, col, _sb, _ar in _MEMBERSHIP_SPECS:
        parts.append(
            f"SELECT '{label}' AS kind, "
            f"count(DISTINCT {col}) AS n_keys, "
            f"count(DISTINCT {col}) AS n_pass FROM {table}")
    return ("SELECT kind, n_keys, n_pass FROM ("
            + " UNION ALL ".join(parts) + ") ORDER BY kind")


def q_join_probe_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership via the DRIVER-FREE path: build_sharded_table (no
    payload ever materializes centrally) + probe_via_join (each task
    gets one shard row).  Zero false negatives => SQL oracle."""
    from fastfilter_spark.operators.dist import (
        build_sharded_table, probe_via_join)
    li = _t(spark, sf_dir, "lineitem")
    table = build_sharded_table(li, "l_orderkey", kind="fuse8",
                                shard_bits=3)
    keys = li.select("l_orderkey").distinct()
    # num_shards passed explicitly: the table is a lazy build plan and
    # the metadata lookup would execute the whole build a second time
    probed = probe_via_join(keys, "l_orderkey", table, num_shards=8)
    return probed.agg(
        F.count("*").alias("n_keys"),
        F.sum(F.col("member").cast("long")).alias("n_pass"))


def q_semi_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastfilter_spark.operators.dist import build_sharded, semi_join_prune
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    dim = customer.where(F.col("c_custkey") % 5 == 0)
    sf, _ = build_sharded(dim, "c_custkey", kind="fuse8", shard_bits=0)
    pruned = semi_join_prune(orders, "o_custkey", sf, dim, "c_custkey")
    return pruned.agg(F.count("*").alias("n_orders"),
                      F.count_distinct("o_custkey").alias("n_matched_cust"))


# ---------------------------------------------------------------------------
# text / dedup / quality queries
# ---------------------------------------------------------------------------

def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastfilter_spark.operators.dedup import exact_dedup
    docs = _t(spark, sf_dir, "documents")
    return spark.createDataFrame(
        [(docs.count(), exact_dedup(docs).count())],
        "n_docs long, n_distinct long")


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang token accounting in one scan: whitespace tokens
    (token_count), word tokens + distinct word tokens (the Gopher
    diversity-ratio integer components), and BPE-ish regex tokens —
    the lang histogram (n_docs) rides along.  All pure-codegen text
    kernels; the oracle recomputes each with DuckDB twins."""
    from fastfilter_spark.functions.text import (
        bpe_ish_token_count, distinct_token_ratio_columns, token_count)
    docs = _t(spark, sf_dir, "documents")
    cols = distinct_token_ratio_columns(F.col("text"))
    return (docs.select("lang",
                        token_count(F.col("text")).alias("_t"),
                        cols["n_tokens"].alias("_w"),
                        cols["n_distinct_tokens"].alias("_d"),
                        bpe_ish_token_count(F.col("text")).alias("_b"))
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("_t").alias("sum_tokens"),
                 F.sum("_w").alias("sum_word_tokens"),
                 F.sum("_d").alias("sum_distinct_tokens"),
                 F.sum("_b").alias("sum_bpe_tokens"))
            .orderBy("lang"))


def q_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features (functions/text.quality_columns — pure codegen,
    so DuckDB recomputes them exactly) aggregated per (lang, length
    bucket): the bucket histogram and the char/punct/stopword sums in
    one grouped scan."""
    from fastfilter_spark.functions.text import punct_chars, stopword_hits
    docs = _t(spark, sf_dir, "documents")
    return (docs.select("lang",
                        F.floor(F.length("text") / 100)
                        .cast("long").alias("bucket"),
                        F.length("text").cast("long").alias("_c"),
                        punct_chars(F.col("text")).alias("_p"),
                        stopword_hits(F.col("text")).alias("_s"))
            .groupBy("lang", "bucket")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("_c").alias("sum_chars"),
                 F.sum("_p").alias("sum_punct"),
                 F.sum("_s").alias("sum_stop_hits"))
            .orderBy("lang", "bucket"))


def q_doc_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document codegen transforms, full corpus: the 128-bit
    content fingerprint (dedup/diff shuffle key) and the intra-doc
    line dedup (RefinedWeb repetition pass; the synthetic corpus is
    single-line so words stand in for lines, sep=' ') — zero-shuffle
    projections, value-hashed row by row against the oracle."""
    from fastfilter_spark.functions.text import dedup_lines, doc_fingerprint
    docs = _t(spark, sf_dir, "documents")
    return (docs.select("doc_id",
                        doc_fingerprint(F.col("text")).alias("fingerprint"),
                        dedup_lines(F.col("text"), sep=" ")
                        .alias("text_dedup"))
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every exact ANN path in one slot, labeled by a ``method``
    column: brute-force cosine top-5 for query vec 3, per-query IVF
    with nprobe == ncells (degenerates to exact search) for vec 7, and
    the BATCH IVF path (``batch_search``, broadcast query batch +
    probe-cell mask) for both vectors at nprobe == ncells — rows
    ``ivf_batch_q3`` / ``ivf_batch_q7`` must equal the single-query
    paths' rankings, which the shared SQL oracle recomputes exactly."""
    from pyspark.sql import Window

    from fastfilter_spark.operators.similarity import (
        IVFIndex, brute_force_topk)
    emb = _t(spark, sf_dir, "embeddings")

    def ranked(df: DataFrame, method: str) -> DataFrame:
        w = Window.orderBy(F.desc("cosine"), F.col("vec_id"))
        return (df.withColumn("rank", F.row_number().over(w))
                .select(F.lit(method).alias("method"), "rank", "vec_id"))

    qv3 = list(emb.where(F.col("vec_id") == 3).first()["embedding"])
    brute = ranked(brute_force_topk(emb, qv3, k=5), "brute")
    idx = IVFIndex.fit(emb.orderBy("vec_id"), ncells=8)
    assigned = idx.assign(emb)
    qv7 = list(emb.where(F.col("vec_id") == 7).first()["embedding"])
    ivf = ranked(idx.search(assigned, qv7, k=5, nprobe=8), "ivf_full")

    queries = emb.where(F.col("vec_id").isin([3, 7])).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    wb = Window.partitionBy("q_id").orderBy(F.desc("cosine"),
                                            F.col("vec_id"))
    batch = (idx.batch_search(assigned, queries, k=5, nprobe=8)
             .withColumn("rank", F.row_number().over(wb))
             .select(F.concat(F.lit("ivf_batch_q"),
                              F.col("q_id").cast("string"))
                     .alias("method"), "rank", "vec_id"))
    return (brute.unionByName(ivf).unionByName(batch)
            .orderBy("method", "rank"))


# ---------------------------------------------------------------------------
# relational demos (Catalyst-planned; also exercised by bench.py)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary computed THROUGH the two-phase
    salted aggregation (operators/skew.salted_agg, skew spreading) —
    results are identical to the plain GROUP BY, which is exactly the
    oracle, so one slot checks both the relational agg and the skew
    path."""
    from fastfilter_spark.operators.skew import salted_agg
    li = _t(spark, sf_dir, "lineitem")
    return salted_agg(
        li, ["l_returnflag", "l_linestatus"],
        {"n_rows": ("count", "*"),
         "sum_qty": ("sum", F.col("l_quantity").cast("long"))},
        n_salts=8).orderBy("l_returnflag", "l_linestatus")


def q_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function: top-2 orders per customer by total price."""
    from pyspark.sql import Window
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey"))
    return (orders.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 2)
            .select("o_custkey", "rk", "o_orderkey")
            .orderBy("o_custkey", "rk"))


def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets + date functions in one slot: rollup over
    (status, order month) — the month dimension exercises date_trunc,
    the rollup exercises grouping-set planning."""
    orders = _t(spark, sf_dir, "orders")
    # month as a 'yyyy-MM' STRING: a DATE grouping column would render
    # differently across engines once the rollup marker NULLs force
    # pandas out of datetime64 (the string-with-NULLs o_orderpriority
    # column of the pre-round-5 rollup is the working precedent)
    return (orders.withColumn("month",
                              F.date_format("o_orderdate", "yyyy-MM"))
            .rollup("o_orderstatus", "month")
            .agg(F.count("*").alias("n"))
            .orderBy("o_orderstatus", "month"))


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction + event-stream profile in one grouped scan:
    props.k parsed and bucketed (get_json_object), counted per
    (event_type, bucket) with distinct users."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (ev.select("event_type",
                      F.floor(k / 10).cast("long").alias("k_bucket"),
                      "user_id")
            .groupBy("event_type", "k_bucket")
            .agg(F.count("*").alias("n_events"),
                 F.count_distinct("user_id").alias("n_users"))
            .orderBy("event_type", "k_bucket"))


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: customers with orders EXCEPT high-balance ones,
    INTERSECT low-key ones."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    with_orders = orders.select(F.col("o_custkey").alias("k")).distinct()
    high = customer.where(F.col("c_acctbal") > 5000) \
        .select(F.col("c_custkey").alias("k"))
    low = customer.where(F.col("c_custkey") < 500) \
        .select(F.col("c_custkey").alias("k"))
    return with_orders.exceptAll(high.distinct()).intersect(low) \
        .orderBy("k")


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String functions: per-brand name-length stats + substring match."""
    part = _t(spark, sf_dir, "part")
    return (part.groupBy("p_brand")
            .agg(F.count("*").alias("n"),
                 F.sum(F.length(F.upper(F.col("p_name")))).alias("sum_len"),
                 F.sum(F.when(F.col("p_type").contains("a"), 1)
                       .otherwise(0)).alias("n_with_a"))
            .orderBy("p_brand"))


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions (30-min silence starts a new one) over the
    event stream: per-user event and session counts plus the size of
    the largest session.  One window shuffle on the entity key; the
    oracle reproduces the lag/cumsum arithmetic on epoch seconds."""
    from fastfilter_spark.operators.sessions import sessionize
    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", gap_seconds=1800.0,
                   tiebreak_col="event_id")
    per_sess = s.groupBy("user_id", "session_idx") \
        .agg(F.count("*").alias("_n"))
    return (per_sess.groupBy("user_id")
            .agg(F.sum("_n").cast("long").alias("n_events"),
                 F.count("*").cast("long").alias("n_sessions"),
                 F.max("_n").cast("long").alias("max_session_events"))
            .orderBy("user_id"))


# ---------------------------------------------------------------------------
# sketch queries with bound-check oracles: the probabilistic estimate is
# converted to DuckDB-checkable output = (exact value computable in SQL,
# within_bound flag vs the algorithm's published error bound).  The flag
# is an INVARIANT (must always be 1 for a correct implementation), so the
# oracle is exact SQL + a constant — the driver's hard signal now covers
# the sketch layer (VERDICT.md next-round item 1).
# ---------------------------------------------------------------------------

def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL estimate vs exact distinct, GLOBAL ('*' row, the scalar UDAF
    hll_count_distinct) and GROUPED per returnflag (hll_distinct_by_key
    — partial sketches fold map-side, only KB blobs shuffle), one slot:
    |est-exact|/exact <= 3 sigma where sigma = 1.04/sqrt(2^p)
    (Flajolet et al. 2007)."""
    import math

    from fastfilter_spark.operators.sketch_agg import (
        hll_count_distinct, hll_distinct_by_key)
    li = _t(spark, sf_dir, "lineitem")
    p = 12
    bound = 3 * 1.04 / math.sqrt(1 << p)
    est = hll_distinct_by_key(li, ["l_returnflag"], "l_orderkey", p=p)
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").alias("n_exact"))
    per_key = (exact.join(est, "l_returnflag")
               .select("l_returnflag", "n_exact",
                       (F.abs(F.col("approx_distinct") - F.col("n_exact"))
                        / F.col("n_exact") <= bound).cast("int")
                       .alias("within_bound")))
    g_est = hll_count_distinct(li, "l_orderkey", p=p)
    g_exact = li.select(F.count_distinct("l_orderkey")).first()[0]
    g_ok = int(abs(g_est - g_exact) / g_exact <= bound)
    g = spark.createDataFrame(
        [("*", int(g_exact), g_ok)],
        "l_returnflag string, n_exact long, within_bound int")
    return g.unionByName(per_key).orderBy("l_returnflag")


def q_multi_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass multi-sketch aggregation (multi_sketch_column, the
    engine behind the distributed streaming sketch sink): HLL + KLL
    partials for the same column computed in a SINGLE scan, merged from
    per-task wire blobs.  Invariants: the KLL's total weight equals the
    exact non-null row count (lossless counting through partials + tree
    merge) and the HLL estimate is within 3 sigma of exact distinct.
    The theta-sketch set intersection shares the slot (registry
    discipline) — see the in-body comment for its bound."""
    import math

    from fastfilter_spark.functions.sketches import KLL, HyperLogLog
    from fastfilter_spark.operators.sketch_agg import multi_sketch_column
    li = _t(spark, sf_dir, "lineitem")
    m = multi_sketch_column(li.select("l_orderkey"), "l_orderkey",
                            {"hll": lambda: HyperLogLog(12),
                             "kll": lambda: KLL(200)})
    exact = li.agg(F.count("l_orderkey").alias("n"),
                   F.count_distinct("l_orderkey").alias("d")).first()
    n_rows, n_distinct = int(exact["n"]), int(exact["d"])
    bound = 3 * 1.04 / math.sqrt(1 << 12)
    hll_ok = int(abs(m["hll"].estimate() - n_distinct) / n_distinct <= bound)
    kll_ok = int(m["kll"].n == n_rows)
    # theta/KMV set-operation sketch in the same slot: |distinct(li
    # keys) ∩ distinct(order keys)| from two INDEPENDENT scans (no
    # join, no cross shuffle) vs the exact SQL intersection; bound
    # 5/sqrt(k-2) (KMV relative error, Beyer et al. 2007 — the
    # intersection equals the union here so no Jaccard inflation)
    from fastfilter_spark.operators.sketch_agg import theta_intersection
    orders = _t(spark, sf_dir, "orders")
    k = 4096
    t_est = theta_intersection(li, "l_orderkey", orders, "o_orderkey", k=k)
    t_exact = li.join(orders, li["l_orderkey"] == orders["o_orderkey"],
                      "left_semi").select(
        F.count_distinct("l_orderkey")).first()[0]
    t_ok = int(abs(t_est - t_exact) / t_exact <= 5 / math.sqrt(k - 2))
    return spark.createDataFrame(
        [(n_rows, n_distinct, hll_ok, kll_ok, int(t_exact), t_ok)],
        "n_rows long, n_distinct long, hll_within_bound int, "
        "kll_n_ok int, n_intersect_exact long, theta_within_bound int")


def q_quantile_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL AND t-digest in one slot (a ``kind`` column labels the rows):
    realized rank of each estimated quantile must sit within eps=0.03
    of the target (the bound test_sketches.py asserts for merged
    sketches).  Output = (kind, q_pct, n_vals, within_bound) — n_vals
    is exact-SQL-checkable, within_bound an invariant constant."""
    from fastfilter_spark.operators.sketch_agg import (
        kll_quantiles, tdigest_quantiles)
    li = _t(spark, sf_dir, "lineitem")
    qs = [0.1, 0.5, 0.9]
    rows = []
    for kind, fn in (("kll", kll_quantiles),
                     ("tdigest", tdigest_quantiles)):
        vals = fn(li, "l_extendedprice", qs)
        # all six rank bounds + n in ONE scan (conditional-sum
        # aggregate), not 7 separate count() jobs
        col = F.col("l_extendedprice")
        aggs = [F.count(col).alias("n")]
        for i, v in enumerate(vals):
            aggs.append(F.sum((col < float(v)).cast("long")).alias(f"lo{i}"))
            aggs.append(F.sum((col <= float(v)).cast("long")).alias(f"hi{i}"))
        r = li.agg(*aggs).first()
        n, eps = r["n"], 0.03
        for i, q in enumerate(qs):
            # true rank of the estimate lies in [lo, hi]; bound holds if
            # that interval intersects [q-eps, q+eps]
            ok = int(r[f"lo{i}"] / n <= q + eps and
                     r[f"hi{i}"] / n >= q - eps)
            rows.append((kind, int(round(q * 100)), n, ok))
    return spark.createDataFrame(
        rows, "kind string, q_pct int, n_vals long, within_bound int")


def _quantile_rank_oracle() -> str:
    return (
        "SELECT kind, q_pct, (SELECT count(*) FROM lineitem "
        "WHERE l_extendedprice IS NOT NULL) AS n_vals, "
        "CAST(1 AS INT) AS within_bound "
        "FROM (VALUES ('kll'), ('tdigest')) AS s(kind), "
        "(VALUES (CAST(10 AS INT)), (CAST(50 AS INT)), "
        "(CAST(90 AS INT))) AS t(q_pct) ORDER BY kind, q_pct")


def q_heavy_hitters_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both heavy-hitter operators in one slot, labeled by ``family``:

    - ``cms``: count-min over lineitem's top-5 suppkeys — est >= true
      (structural guarantee) and est <= true + ceil(e/width * N)
      (Cormode-Muthukrishnan bound); true_count exact SQL, flags
      invariants.
    - ``mg``: ONE Misra-Gries streaming pass over document tokens plus
      a candidate-restricted count (sketch_agg.heavy_hitters) — the MG
      containment guarantee makes the result equal the full
      groupBy-HAVING answer, so both flags are the constant 1 and the
      count column is exact SQL."""
    import math

    import numpy as np

    from fastfilter_spark.functions.text import word_tokens
    from fastfilter_spark.operators.sketch_agg import (
        cms_sketch, heavy_hitters)
    li = _t(spark, sf_dir, "lineitem")
    width, depth = 4096, 5
    cms = cms_sketch(li, "l_suppkey", width=width, depth=depth)
    n_total = li.count()
    slack = math.ceil(math.e / width * n_total)
    top = li.groupBy("l_suppkey").count() \
        .orderBy(F.desc("count"), "l_suppkey").limit(5).collect()
    rows = []
    for r in top:
        true = int(r["count"])
        est = int(cms.query(np.array([r["l_suppkey"]], dtype=np.int64))[0])
        rows.append(("cms", str(int(r["l_suppkey"])), true,
                     int(est >= true), int(est <= true + slack)))
    cms_df = spark.createDataFrame(
        rows, "family string, key string, n_true long, "
        "flag_a int, flag_b int")
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(word_tokens(F.col("text")))
                       .alias("token"))
    mg = (heavy_hitters(toks, "token", k=48)
          .select(F.lit("mg").alias("family"),
                  F.col("token").alias("key"),
                  F.col("n_exact").alias("n_true"),
                  F.lit(1).alias("flag_a"), F.lit(1).alias("flag_b")))
    return cms_df.unionByName(mg).orderBy("family", "key")


# ---------------------------------------------------------------------------
# near-dup queries with planted-duplicate oracles: plant N near-copies at
# doc_id + 1_000_000 (original ids stay far below), run the operator, and
# report how many planted pairs (id_b == id_a + 1_000_000) were recovered.
# Recovery is deterministic (fixed hash seeds, fixed data), and a correct
# LSH tuned to the threshold recovers ALL planted pairs here — so the
# oracle is the literal (n_planted, n_planted).  Planting starts from the
# exact-deduped originals so every planted pair has a unique surviving
# partner (an exact-dup original would collapse onto its representative
# and shift the pair's id delta).
# ---------------------------------------------------------------------------

_PLANT_OFFSET = 1_000_000


def _planted_recovery(pairs: DataFrame, n_planted: int) -> DataFrame:
    spark = pairs.sparkSession
    n_rec = pairs.where(
        F.col("id_b") - F.col("id_a") == _PLANT_OFFSET).count()
    return spark.createDataFrame([(n_planted, n_rec)],
                                 "n_planted long, n_recovered long")


def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate recovery of the planted pairs PLUS the
    exact shingle-Jaccard verification tier (dedup tier 4,
    verify_jaccard) on the recovered candidates — every planted pair
    must be recovered AND clear the 0.5 Jaccard threshold (the tail is
    a small fraction of each doc), so the oracle is the literal
    (15, 15, 15)."""
    from fastfilter_spark.operators.dedup import (
        exact_dedup, minhash_dedup_pairs, verify_jaccard)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = exact_dedup(docs)
    near = base.orderBy("doc_id").limit(15).select(
        (F.col("doc_id") + _PLANT_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail tail tail")).alias("text"))
    corpus = docs.unionAll(near)
    pairs = minhash_dedup_pairs(corpus, threshold=0.5,
                                n_hashes=64, bands=16)
    planted = pairs.where(
        F.col("id_b") - F.col("id_a") == _PLANT_OFFSET)
    n_rec = planted.count()
    scored = verify_jaccard(planted.select("id_a", "id_b"), corpus)
    n_verified = scored.where(F.col("jaccard") >= 0.5).count()
    return spark.createDataFrame(
        [(15, n_rec, n_verified)],
        "n_planted long, n_recovered long, n_verified long")


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastfilter_spark.operators.dedup import exact_dedup, simhash_pairs
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = exact_dedup(docs)
    near = base.orderBy("doc_id").limit(15).select(
        (F.col("doc_id") + _PLANT_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" x")).alias("text"))
    pairs = simhash_pairs(docs.unionAll(near), max_hamming=6)
    return _planted_recovery(pairs, 15)


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted EXACT vector copies (cosine 1.0): identical vectors land
    in identical LSH buckets for every plane set, so recovery is 100%
    deterministically."""
    from fastfilter_spark.operators.dedup import embedding_near_dup
    emb = _t(spark, sf_dir, "embeddings")
    dup = emb.orderBy("vec_id").limit(10).select(
        (F.col("vec_id") + _PLANT_OFFSET).alias("vec_id"), "embedding")
    mixed = emb.select("vec_id", "embedding").unionAll(dup)
    pairs = embedding_near_dup(mixed, threshold=0.999, n_planes=8)
    return _planted_recovery(pairs, 10)


def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall vs brute force at nprobe=3/8: emits an invariant flag
    (recall >= 2/3 over 3 queries x top-5; the synthetic embeddings are
    near-uniform random, so the recall plateau is lower than on real
    clustered corpora — measured 11/15 here, deterministic for the fixed
    data + kmeans seed).  The exact-path twin (q_ann_topk's
    ``ivf_full`` rows, nprobe == ncells) has a full SQL oracle;
    per-query hit counts are asserted in tests/test_text_dedup.py."""
    from fastfilter_spark.operators.similarity import (
        IVFIndex, brute_force_topk)
    emb = _t(spark, sf_dir, "embeddings")
    idx = IVFIndex.fit(emb.orderBy("vec_id"), ncells=8)
    assigned = idx.assign(emb)
    hits = 0
    for r in emb.orderBy("vec_id").limit(3).collect():
        q = list(r["embedding"])
        exact = {x["vec_id"] for x in brute_force_topk(emb, q, 5).collect()}
        approx = {x["vec_id"] for x in
                  idx.search(assigned, q, 5, nprobe=3).collect()}
        hits += len(exact & approx)
    return spark.createDataFrame([(3, 5, int(hits >= 10))],
                                 "n_queries long, k long, recall_ok int")


# ---------------------------------------------------------------------------
# web-pipeline operators (urls, vocabulary, decontamination, sampling)
# ---------------------------------------------------------------------------

def _synthetic_url(spark_side: bool):
    """The SAME url expression in both engines: mixed-case scheme/host,
    a default port, and a fragment — everything url_normalize must
    strip/fold — built from orders keys so DuckDB can build it too."""
    if spark_side:
        return F.concat(
            F.lit("HTTPS://Sub"), (F.col("o_custkey") % 7).cast("string"),
            F.lit(".Site"), (F.col("o_custkey") % 100).cast("string"),
            F.when(F.col("o_custkey") % 3 == 0, F.lit(".Example.ORG:443/cat/"))
            .when(F.col("o_custkey") % 3 == 1, F.lit(".Example.COM:443/cat/"))
            .otherwise(F.lit(".Example.NET:443/cat/")),
            (F.col("o_orderkey") % 50).cast("string"),
            F.lit("/item#frag"), F.col("o_orderkey").cast("string"))
    return ("concat('HTTPS://Sub', CAST(o_custkey % 7 AS VARCHAR), "
            "'.Site', CAST(o_custkey % 100 AS VARCHAR), "
            "CASE o_custkey % 3 WHEN 0 THEN '.Example.ORG:443/cat/' "
            "WHEN 1 THEN '.Example.COM:443/cat/' "
            "ELSE '.Example.NET:443/cat/' END, "
            "CAST(o_orderkey % 50 AS VARCHAR), '/item#frag', "
            "CAST(o_orderkey AS VARCHAR))")


def q_url_parsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """url_normalize / url_host / url_tld / registered_domain /
    url_depth over synthetic crawl urls, aggregated per TLD.  The
    oracle rebuilds the same urls and derives the expected values
    ANALYTICALLY (it knows the canonical form), so Spark's regexp
    normalization is checked against ground truth, not against a
    twin implementation of itself."""
    from fastfilter_spark.functions.urls import (
        registered_domain, url_depth, url_host, url_normalize, url_tld)
    o = _t(spark, sf_dir, "orders")
    u = o.select(_synthetic_url(True).alias("url"))
    n = u.select(url_normalize(F.col("url")).alias("nurl"))
    return (n.select(
                F.col("nurl"),
                url_tld(F.col("nurl")).alias("tld"),
                url_host(F.col("nurl")).alias("host"),
                registered_domain(F.col("nurl")).alias("regdom"),
                url_depth(F.col("nurl")).alias("depth"))
            .groupBy("tld")
            .agg(F.count("*").alias("n_urls"),
                 F.count_distinct("host").alias("n_hosts"),
                 F.count_distinct("regdom").alias("n_regdoms"),
                 F.count_distinct("nurl").alias("n_norm_urls"),
                 F.sum("depth").alias("sum_depth"))
            .orderBy("tld"))


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: deterministic email/IPv4/phone spans are
    appended to each document (the synthetic corpus has none), then
    redacted by the chained-regexp_replace pass and counted with
    ordered-replacement attribution.  The oracle rebuilds the same
    augmented text and applies RE2 twins of the same patterns — the
    patterns are deliberately restricted to syntax with identical
    Java/RE2 semantics."""
    from fastfilter_spark.functions.text import pii_counts, redact_pii
    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example.com from 10.1."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call +1 555-010-"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        ).alias("t"))
    counts = pii_counts(F.col("t"))
    return (aug.select("doc_id", redact_pii(F.col("t")).alias("redacted"),
                       *[c.alias(n) for n, c in counts.items()])
            .orderBy("doc_id"))


_MIX_BUDGETS = {"src0": 400, "src2": 700, "src4": 1000, "src6": 1500}


def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix construction: per-source greedy selection in
    deterministic hash order until each source's char budget is
    filled (crossing doc included); sources without a budget drop.
    The oracle reproduces the same window-cumsum selection."""
    from fastfilter_spark.functions.text import token_budget_mix
    docs = _t(spark, sf_dir, "documents")
    order = F.md5(F.concat_ws("|", F.col("text"),
                              F.col("doc_id").cast("string")))
    picked = token_budget_mix(docs, "source", "n_chars", _MIX_BUDGETS,
                              order_col=order)
    return picked.select("doc_id", "source", "n_chars").orderBy("doc_id")


def q_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: document frequency of the corpus's top-20
    tokens (distinct-per-doc explode -> hash agg)."""
    from fastfilter_spark.functions.text import document_frequency
    docs = _t(spark, sf_dir, "documents")
    return (document_frequency(docs)
            .orderBy(F.col("df").desc(), "token").limit(20))


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both decontamination operators in one slot, eval set = every
    10th doc.  Document-level (``decontaminate``): filter-pre-pruned
    broadcast anti join removes EXACTLY the train rows whose md5
    matches an eval text (fuse8 false positives caught by the exact
    stage; false negatives don't exist).  GPT-3-style n-gram level
    (``ngram_decontaminate``, n=8 on this small corpus): train docs
    sharing ANY token 8-gram with the eval slice are removed —
    broadcast fuse8 over eval gram hashes prunes the exploded train
    grams map-side, exact gram-string semi join kills filter fp,
    distinct contaminated ids drive a broadcast anti join.  The
    oracle recomputes both overlaps exactly from scratch."""
    from fastfilter_spark.operators.dedup import (
        decontaminate, ngram_decontaminate)
    docs = _t(spark, sf_dir, "documents")
    ev = docs.where(F.col("doc_id") % 10 == 0)
    row = (docs.count(), ev.count(),
           decontaminate(docs, ev, invert=True).count(),
           decontaminate(docs, ev).count(),
           ngram_decontaminate(docs, ev, n=8, invert=True).count(),
           ngram_decontaminate(docs, ev, n=8).count())
    return spark.createDataFrame(
        [row],
        "n_train long, n_eval long, n_doc_contaminated long, "
        "n_doc_clean long, n_gram_contaminated long, n_gram_clean long")


_FUNNEL_LANG_BUDGET = {"de": 2000, "en": 5000, "es": 2000, "fr": 2000,
                       "zh": 2500}


def q_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus construction funnel, every stage the real
    library operator: quality gate (token count + diversity, integer
    thresholds) → intra-doc line dedup → exact dedup (min-id
    representative) → decontamination vs the eval slice →
    per-lang token-budget mix.  One row per stage with surviving doc
    count and char volume; the oracle replays the whole funnel in SQL.
    """
    from pyspark.sql import Window

    from fastfilter_spark.functions.text import (
        dedup_lines, distinct_token_ratio_columns, doc_fingerprint,
        token_budget_mix,
    )
    from fastfilter_spark.operators.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    stages: list[tuple[int, DataFrame, str]] = [(0, docs, "text")]

    cols = distinct_token_ratio_columns(F.col("text"))
    qual = (docs.withColumn("_nt", cols["n_tokens"])
            .withColumn("_nd", cols["n_distinct_tokens"])
            .where((F.col("_nt") >= 20)
                   & (10 * F.col("_nd") >= 4 * F.col("_nt")))
            .drop("_nt", "_nd"))
    stages.append((1, qual, "text"))

    ld = qual.withColumn("dtext", dedup_lines(F.col("text"), sep=" "))
    stages.append((2, ld, "dtext"))

    # exact dedup shuffles the 16-byte md5 fingerprint, never the full
    # text, as the window key (at 100x scale a raw-text shuffle key pays
    # full-document hash+sort-compare cost); min-doc_id representative
    # per content group is unchanged
    w = Window.partitionBy(doc_fingerprint(F.col("dtext"))) \
        .orderBy("doc_id")
    ed = (ld.withColumn("_rn", F.row_number().over(w))
          .where(F.col("_rn") == 1).drop("_rn"))
    stages.append((3, ed, "dtext"))

    ev = (docs.where(F.col("doc_id") % 10 == 0)
          .select(dedup_lines(F.col("text"), sep=" ").alias("dtext")))
    dc = decontaminate(ed, ev, text_col="dtext")
    stages.append((4, dc, "dtext"))

    order = F.md5(F.concat_ws("|", F.col("dtext"),
                              F.col("doc_id").cast("string")))
    mixed = token_budget_mix(
        dc.withColumn("_chars", F.length("dtext").cast("long")),
        "lang", "_chars", _FUNNEL_LANG_BUDGET, order_col=order)
    stages.append((5, mixed, "dtext"))

    # cache each intermediate once (the six stage aggregates otherwise
    # re-execute every upstream stage per row, O(stages^2) work), pull
    # the six tiny (count, chars) rows eagerly, then RELEASE the
    # caches — the caller holds only a literal result, not pinned
    # intermediate corpora
    for _, df, _tc in stages[1:]:
        df.cache()
    try:
        vals = [
            (s, *df.agg(
                F.count("*").cast("long"),
                F.coalesce(F.sum(F.length(tc)), F.lit(0)).cast("long"))
             .first())
            for s, df, tc in stages
        ]
    finally:
        for _, df, _tc in stages[1:]:
            df.unpersist()
    return spark.createDataFrame(
        vals, "stage long, n_docs long, sum_chars long").orderBy("stage")


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: near-dup PAIRS become components
    via shortcutted min-label propagation, then one canonical doc per
    cluster survives.  Deterministic chain edges (doc, doc+20 within a
    source, broken every third link) give diameter-2 components the
    propagation must actually traverse; the oracle recomputes
    components exactly with a recursive CTE."""
    from fastfilter_spark.operators.graph import (
        connected_components, keep_cluster_representative,
    )
    docs = _t(spark, sf_dir, "documents")
    d2 = docs.select(F.col("doc_id").alias("b_id"),
                     F.col("source").alias("b_src"))
    pairs = (docs.join(d2, (F.col("b_id") == F.col("doc_id") + 20)
                       & (F.col("source") == F.col("b_src")))
             .where(F.col("doc_id") % 60 < 40)
             .select(F.col("doc_id").alias("a"), F.col("b_id").alias("b")))
    comps = connected_components(pairs, "a", "b")
    sizes = (comps.groupBy("comp").agg(F.count("*").alias("n_nodes"))
             .orderBy("comp"))
    kept = keep_cluster_representative(docs, pairs, "doc_id", "a", "b")
    total = spark.createDataFrame(
        [(-1, kept.count())], "comp long, n_nodes long")
    return total.unionByName(sizes.select(F.col("comp").cast("long"),
                                          F.col("n_nodes").cast("long"))) \
        .orderBy("comp")


_PR_MULT = 2654435761  # Knuth multiplicative constant — same in both engines


def q_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-graph ranking: integer-exact PageRank (3 rounds, d=0.85,
    fixed-point 1e-9 units) over a deterministic synthetic link graph
    — each doc links to (doc_id*K + m) % n for m in {3,7,11}, pure
    64-bit modular arithmetic both engines compute identically.  Top
    20 nodes by rank; integer ranks make the result bit-stable under
    any partitioning (float PageRank is not)."""
    from fastfilter_spark.operators.graph import pagerank
    docs = _t(spark, sf_dir, "documents")
    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    n = ids.count()
    if n <= 11:
        raise ValueError("pagerank demo needs > 11 documents")
    edges = (ids.select(
        "doc_id",
        F.explode(F.array(*[F.lit(m) for m in (3, 7, 11)])).alias("m"))
        .select(F.col("doc_id").alias("src"),
                ((F.col("doc_id") * F.lit(_PR_MULT) + F.col("m"))
                 % F.lit(int(n))).alias("dst"))
        .where(F.col("dst") != F.col("src")))
    pr = pagerank(edges, "src", "dst", nodes=ids, node_col="doc_id",
                  iterations=3)
    return (pr.select(F.col("node").alias("doc_id"),
                      F.col("rank").alias("pr"))
            .orderBy(F.col("pr").desc(), "doc_id").limit(20))


def _pagerank_oracle_sql(iterations: int = 3, damping_pct: int = 85,
                         scale: int = 10**9, k: int = 20) -> str:
    """DuckDB replay of q_link_pagerank: identical integer arithmetic,
    iterations unrolled as CTE stages (sum() is HUGEINT in DuckDB, so
    the final rank is cast back to BIGINT)."""
    base = (100 - damping_pct) * scale // 100
    ctes = [
        "n AS (SELECT count(*) AS n FROM documents)",
        "ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents)",
        f"edges AS (SELECT doc_id AS src, "
        f"(doc_id * {_PR_MULT} + m.m) % n.n AS dst "
        "FROM ids, n, (VALUES (3), (7), (11)) AS m(m) "
        f"WHERE (doc_id * {_PR_MULT} + m.m) % n.n <> doc_id)",
        "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        f"r0 AS (SELECT doc_id AS node, CAST({scale} AS BIGINT) AS pr "
        "FROM ids)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"s{i} AS (SELECT e.dst AS node, sum(r.pr // d.deg) AS csum "
            f"FROM edges e JOIN r{i-1} r ON r.node = e.src "
            "JOIN deg d ON d.src = e.src GROUP BY e.dst)")
        ctes.append(
            f"r{i} AS (SELECT i.doc_id AS node, CAST({base} + "
            f"({damping_pct} * coalesce(s.csum, 0)) // 100 AS BIGINT) "
            f"AS pr FROM ids i LEFT JOIN s{i} s ON s.node = i.doc_id)")
    return ("WITH " + ", ".join(ctes)
            + f" SELECT node AS doc_id, pr FROM r{iterations} "
            f"ORDER BY pr DESC, doc_id LIMIT {int(k)}")


def q_kmv_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both KMV bottom-k estimators in one slot (single joined row).
    Distinct (k=512): corpus vocabulary size — exact integer
    estimator, bit-reproducible in any engine (operators/kmv.py;
    Beyer et al. 2007).  Jaccard (k=256): between the token
    vocabularies of the even- and odd-doc_id halves — the
    corpus-overlap probe a crawl-vs-crawl comparison runs before
    deciding to merge (Cohen & Kaplan 2007, exact integer
    arithmetic)."""
    from fastfilter_spark.functions.text import word_tokens
    from fastfilter_spark.operators.kmv import kmv_distinct, kmv_jaccard
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(word_tokens(F.col("text"))).alias("token"))
    half = lambda parity: (docs.where(F.col("doc_id") % 2 == parity)
                           .select(F.explode(word_tokens(F.col("text")))
                                   .alias("token")))
    d = kmv_distinct(toks, "token", k=512)
    j = kmv_jaccard(half(0), half(1), "token", k=256)
    # both are literal 1-row frames; the cross join is a broadcast of
    # one row, not a data-sized product
    return d.crossJoin(j)


_KMV_TOK_CTE = (
    "tok AS (SELECT tok.t AS token FROM documents, "
    "UNNEST(list_filter(string_split_regex(lower(text), '[^a-z]+'), "
    "x -> x <> '')) AS tok(t))")
_KMV_H = portable_hash60_sql("token")


def _kmv_sketches_oracle_sql(kd: int = 512, kj: int = 256) -> str:
    """Joined replay of both KMV estimators (one row, six columns)."""
    hmax = 1 << 60
    return (
        f"WITH {_KMV_TOK_CTE}, "
        f"bk AS (SELECT DISTINCT {_KMV_H} AS h FROM tok "
        f"ORDER BY h LIMIT {kd}), "
        "a AS (SELECT CAST(count(*) AS BIGINT) AS n_min, "
        "max(h) AS kth_hash FROM bk), "
        "ptok AS (SELECT doc_id % 2 AS par, tok.t AS token "
        "FROM documents, "
        "UNNEST(list_filter(string_split_regex(lower(text), '[^a-z]+'), "
        "x -> x <> '')) AS tok(t)), "
        f"ba AS (SELECT DISTINCT {_KMV_H} AS h FROM ptok WHERE par = 0 "
        f"ORDER BY h LIMIT {kj}), "
        f"bb AS (SELECT DISTINCT {_KMV_H} AS h FROM ptok WHERE par = 1 "
        f"ORDER BY h LIMIT {kj}), "
        "bu AS (SELECT h FROM (SELECT h FROM ba UNION SELECT h FROM bb) "
        f"ORDER BY h LIMIT {kj}), "
        "m AS (SELECT CAST(count(*) AS BIGINT) AS matches FROM bu "
        "WHERE h IN (SELECT h FROM ba) AND h IN (SELECT h FROM bb)), "
        "u AS (SELECT CAST(count(*) AS BIGINT) AS union_k FROM bu) "
        f"SELECT n_min, kth_hash, CAST(CASE WHEN n_min < {kd} THEN n_min "
        f"ELSE CAST(CAST({kd - 1} AS HUGEINT) * {hmax} // kth_hash "
        "AS BIGINT) END AS BIGINT) AS distinct_est, "
        "union_k, matches, CAST(CASE WHEN union_k = 0 THEN 0 "
        "ELSE matches * 1000000 // union_k END AS BIGINT) AS jaccard_e6 "
        "FROM a, u, m")


def q_ams_f2_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS/count-sketch F2 (self-join size) of the token column vs the
    exact value — the skew-pricing number a planner wants before
    grouping 10^12 rows by token, from a few-KB mergeable counter table
    (operators/moments.py; AMS 1996 / count-sketch form)."""
    from fastfilter_spark.functions.text import word_tokens
    from fastfilter_spark.operators.moments import ams_f2
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(word_tokens(F.col("text"))).alias("token"))
    est = ams_f2(toks, "token", width=256, depth=5)
    exact = (toks.groupBy("token").agg(F.count("*").alias("c"))
             .agg(F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
                  .cast("long").alias("f2_exact")))
    return (est.crossJoin(exact).select(
        "f2_est", "f2_exact",
        F.expr("CAST(CASE WHEN f2_exact = 0 THEN 0 ELSE "
               "abs(CAST(f2_est AS DECIMAL(38,0)) - f2_exact) * 1000000 "
               "DIV f2_exact END AS BIGINT)").alias("rel_err_e6")))


def _ams_f2_oracle_sql(width: int = 256, depth: int = 5) -> str:
    # Mirrors operators/moments.py hash economy: ONE md5 digest per key
    # serves 8 rows; row i reads 16-bit field at hex chars [1+4*(i%8),4]
    # of digest i//8 (digest j salted 'key:j', j = 0 included);
    # bucket = top 15 bits mod width, sign = low bit.
    assert depth <= 8, "oracle mirror written for the single-digest case"
    med_off = (depth - 1) // 2
    return (
        f"WITH {_KMV_TOK_CTE}, "
        "dg AS (SELECT md5(token || ':0') AS d FROM tok), "
        "hs AS (SELECT i.i AS row, "
        "('0x' || substr(d, 1 + 4 * i.i, 4))::BIGINT AS f FROM dg, "
        f"(SELECT unnest(range({depth})) AS i) AS i(i)), "
        f"sk AS (SELECT row, (f // 2) % {width} AS bucket, "
        "SUM(1 - 2 * (f % 2)) AS c "
        "FROM hs GROUP BY 1, 2), "
        "per AS (SELECT row, SUM(CAST(c AS HUGEINT) * c) AS row_est "
        "FROM sk GROUP BY 1), "
        f"med AS (SELECT row_est FROM per ORDER BY row_est "
        f"LIMIT 1 OFFSET {med_off}), "
        "ex AS (SELECT CAST(SUM(CAST(c AS HUGEINT) * c) AS BIGINT) "
        "AS f2_exact FROM (SELECT count(*) AS c FROM tok GROUP BY token)) "
        "SELECT CAST(row_est AS BIGINT) AS f2_est, f2_exact, "
        "CAST(CASE WHEN f2_exact = 0 THEN 0 ELSE "
        "abs(CAST(row_est AS HUGEINT) - f2_exact) * 1000000 // f2_exact "
        "END AS BIGINT) AS rel_err_e6 FROM med, ex")


def q_priority_sample_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup 2007): one token-weighted
    64-doc sample answers per-source token totals for slices chosen
    after the fact — est vs exact per source (operators/sampling.py)."""
    from fastfilter_spark.functions.text import word_tokens
    from fastfilter_spark.operators.sampling import (
        priority_sample, priority_subset_sum)
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.size(word_tokens(F.col("text"))).cast("long").alias("w"))
    sample = priority_sample(docs, "doc_id", "w", k=64)
    est = priority_subset_sum(sample, ["source"])
    exact = docs.groupBy("source").agg(
        F.sum("w").cast("long").alias("exact_sum"))
    return (exact.join(est, "source", "left")
            .select("source",
                    F.coalesce("est_sum", F.lit(0)).cast("long")
                     .alias("est_sum"),
                    F.coalesce("n_sampled", F.lit(0)).cast("long")
                     .alias("n_sampled"),
                    "exact_sum")
            .orderBy("source"))


def _priority_sample_oracle_sql(k: int = 64) -> str:
    h = portable_hash60_sql("CAST(doc_id AS VARCHAR)") + " + 1"
    return (
        "WITH w AS (SELECT doc_id, source, "
        "len(list_filter(string_split_regex(lower(text), '[^a-z]+'), "
        "x -> x <> '')) AS w FROM documents), "
        f"q AS (SELECT doc_id, source, w, {h} AS h, "
        f"CAST(w AS HUGEINT) * {1 << 60} // ({h}) AS pri "
        "FROM w WHERE w > 0), "
        "rk AS (SELECT *, row_number() OVER "
        "(ORDER BY pri DESC, h ASC, doc_id ASC) AS rn FROM q), "
        f"tau AS (SELECT coalesce(max(CASE WHEN rn = {k + 1} THEN pri "
        f"END), 0) AS tau FROM rk WHERE rn <= {k + 1}), "
        "samp AS (SELECT source, "
        "greatest(CAST(w AS HUGEINT), tau) AS ew "
        f"FROM rk, tau WHERE rn <= {k}), "
        "est AS (SELECT source, CAST(sum(ew) AS BIGINT) AS est_sum, "
        "CAST(count(*) AS BIGINT) AS n_sampled FROM samp "
        "GROUP BY source), "
        "ex AS (SELECT source, CAST(sum(w) AS BIGINT) AS exact_sum "
        "FROM w GROUP BY source) "
        "SELECT ex.source, CAST(coalesce(est_sum, 0) AS BIGINT) "
        "AS est_sum, CAST(coalesce(n_sampled, 0) AS BIGINT) "
        "AS n_sampled, exact_sum "
        "FROM ex LEFT JOIN est USING(source) ORDER BY ex.source")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing manifest: every document's exact
    position in the deterministic global token stream and the 2048-
    token training sequences it occupies — computed with the two-phase
    prefix sum (no single-partition window; operators/packing.py)."""
    from fastfilter_spark.functions.text import word_tokens
    from fastfilter_spark.operators.packing import pack_sequences
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(word_tokens(F.col("text"))).cast("long").alias("ntok"))
    return pack_sequences(docs, "doc_id", "ntok", seq_len=2048)


def _pack_sequences_oracle_sql(seq_len: int = 2048) -> str:
    return (
        "WITH w AS (SELECT doc_id, "
        "len(list_filter(string_split_regex(lower(text), '[^a-z]+'), "
        "x -> x <> '')) AS ntok, "
        f"{portable_hash60_sql('CAST(doc_id AS VARCHAR)')} "
        "AS h FROM documents), "
        "q AS (SELECT doc_id, ntok, sum(ntok) OVER (ORDER BY h, doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ntok AS s "
        "FROM w WHERE ntok > 0) "
        "SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens, "
        "CAST(s AS BIGINT) AS start_token, "
        f"CAST(s // {seq_len} AS BIGINT) AS seq_id, "
        f"CAST(s % {seq_len} AS BIGINT) AS offset_in_seq, "
        f"CAST((s + ntok - 1) // {seq_len} AS BIGINT) AS end_seq_id "
        "FROM q")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix sampling: 2 docs per (lang, source) cell, ranked by
    md5(text) — fully deterministic, engine-portable."""
    from fastfilter_spark.functions.text import stratified_sample
    docs = _t(spark, sf_dir, "documents")
    return (stratified_sample(docs, ["lang", "source"], 2,
                              order_col=F.md5(F.col("text")))
            .select("lang", "source", "doc_id")
            .orderBy("lang", "source", "doc_id"))


def q_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate strip: lines present in >= 90% of
    documents (navigation chrome at web scale; the corpus's stopword
    head here) are removed from every document, positions preserved,
    fully-boilerplate docs kept as empty strings."""
    import math

    from fastfilter_spark.operators.dedup import remove_boilerplate_lines
    docs = _t(spark, sf_dir, "documents")
    thresh = math.ceil(0.9 * docs.count())
    return remove_boilerplate_lines(docs, min_docs=thresh, sep=" ") \
        .orderBy("doc_id")


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters (Rae et al. 2021 §A1.1), integer
    pieces per document: duplicate-line counts/chars (words stand in
    for lines on this single-line corpus, as in line_dedup) plus the
    most-frequent word-2-gram's count and length (distinct-bigram
    shuffle with map-side combine, per-doc max(struct) argmax, id-spine
    join for zero-gram docs; the line signals are per-row codegen)."""
    from fastfilter_spark.functions.text import (
        repetition_signal_columns, top_bigram_stats,
    )
    docs = _t(spark, sf_dir, "documents")
    sig = repetition_signal_columns(F.col("text"), sep=" ")
    per_doc = docs.select("doc_id",
                          *[c.alias(n) for n, c in sig.items()])
    grams = top_bigram_stats(docs, "text", "doc_id")
    return per_doc.join(grams, "doc_id").orderBy("doc_id")


def q_webpages_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthesis: exactly n_pages rows and byte-identical
    re-extraction (the north-rule per-row invariant) — both constants a
    SQL oracle can state."""
    from fastfilter_spark.sources.webpages import (
        extraction_mismatch_count, synthesize_webpages)
    wp = synthesize_webpages(spark, 2000, seed=42)
    return spark.createDataFrame(
        [(wp.count(), extraction_mismatch_count(wp))],
        "n_pages long, n_mismatch long")


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastfilter_spark.operators.multimodal import (
        image_features, synthesize_media)
    media = synthesize_media(spark, 50, kind="image")
    return image_features(media, decode="fake") \
        .select("media_id", "phash").orderBy("media_id")


def _expected_image_phashes(n: int = 50, seed: int = 42) -> list[tuple]:
    """Driver-side pure-python recomputation of the deterministic fake
    pipeline (same library code, no Spark) — the oracle literal for
    q_image_features, proving the distributed mapInPandas plumbing
    (batching, schema, meta handling) didn't mangle anything."""
    import numpy as np

    from fastfilter_spark.functions import kernels as K
    from fastfilter_spark.operators.multimodal import (
        _fake_decode_image, _phash64)
    out = []
    for i in range(n):
        stream = K.splitmix64_stream(int(K.mix_split(
            np.array([i], dtype=np.uint64), seed)[0]), 64)
        img = _fake_decode_image(stream.astype("<u8").tobytes(), 32, 16)
        out.append((i, int(_phash64(img))))
    return out


def q_audio_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evenly-spaced frame samples of 20 synthetic audio clips through
    the distributed mapInPandas plumbing, quantized to integer
    micro-units (floor(sample*1e6), float-free value hash); the oracle
    is a driver-side pure-python replay of the same deterministic
    decode (literal table), mirroring q_image_features."""
    from fastfilter_spark.operators.multimodal import (
        audio_frame_sample, synthesize_media)
    media = synthesize_media(spark, 20, kind="audio")
    s = audio_frame_sample(media, n_samples=4, decode="fake")
    cols = [F.floor(F.col("samples")[i].cast("double") * 1e6)
            .cast("long").alias(f"q{i}") for i in range(4)]
    return s.select("media_id", *cols).orderBy("media_id")


def _expected_audio_quants(n: int = 20, seed: int = 42,
                           n_samples: int = 4) -> list[tuple]:
    """Pure-python replay of synthesize_media(kind='audio') + the fake
    wave decode + linspace sampling + micro-unit quantization."""
    import math

    import numpy as np

    from fastfilter_spark.functions import kernels as K
    out = []
    for i in range(n):
        stream = K.splitmix64_stream(int(K.mix_split(
            np.array([i], dtype=np.uint64), seed)[0]), 64)
        raw = np.frombuffer(stream.astype("<u8").tobytes(), dtype="<u8")
        wave = raw.astype(np.float64) / 2**63 - 1.0
        idx = np.linspace(0, len(wave) - 1, n_samples).astype(int)
        picked = wave[idx].astype(np.float32)
        out.append((i, *[math.floor(float(v) * 1e6) for v in picked]))
    return out


def _diff_snapshots(spark: SparkSession,
                    sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Two synthetic crawl versions of the documents table: drop
    different id slices per side, mutate every 7th text."""
    docs = _t(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 13 != 0)
    new = (docs.where(F.col("doc_id") % 11 != 0)
           .withColumn("text",
                       F.when(F.col("doc_id") % 7 == 0,
                              F.concat(F.col("text"), F.lit("!")))
                       .otherwise(F.col("text"))))
    return old, new


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff AND the incremental update it drives, one slot.

    Diff rows (bucket = status): added/removed/changed/unchanged
    counts via one full-outer join of (id, md5) projections — the
    text never shuffles (operators/diff.py).  Update rows (bucket =
    lang): quality filtering runs ONLY on added+changed documents,
    unchanged rows carry the previous run's verdict forward
    (left-semi joins on the diff), removed rows drop out — the ORACLE
    for those rows is the full recompute over the new snapshot, so
    the hash match proves incremental == full, the invariant
    incremental pipelines rely on.  Status and lang values never
    collide, so one (bucket, n, sum_chars) schema carries both."""
    from fastfilter_spark.operators.diff import corpus_diff, diff_counts
    old, new = _diff_snapshots(spark, sf_dir)
    d = diff_counts(old, new, "doc_id").select(
        F.col("status").alias("bucket"), F.col("n"),
        F.lit(0).cast("long").alias("sum_chars"))
    diff = corpus_diff(old, new, "doc_id")
    keep = F.length("text") >= 200
    fresh = (new.join(diff.where(F.col("status").isin("added", "changed"))
                      .select("doc_id"), "doc_id", "left_semi")
             .where(keep))
    carried = (old.join(diff.where(F.col("status") == "unchanged")
                        .select("doc_id"), "doc_id", "left_semi")
               .where(keep))
    upd = (fresh.unionByName(carried)
           .groupBy(F.col("lang").alias("bucket"))
           .agg(F.count("*").alias("n"),
                F.sum(F.length("text")).cast("long").alias("sum_chars")))
    return d.unionByName(upd).orderBy("bucket")


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key over (o_custkey, o_orderkey % 997),
    8 bits per column, aggregated per 4096-key curve tile — exact
    integer Morton codes end to end (operators/layout.py), so the
    oracle replays the identical bucket + bit-interleave arithmetic
    with DuckDB's native bit operators."""
    from fastfilter_spark.operators.layout import zorder_key
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("x"),
        (F.col("o_orderkey") % 997).alias("y"))
    k = zorder_key(o, ["x", "y"], bits=8)
    return (k.groupBy(F.expr("zkey div 4096").alias("tile"))
            .agg(F.count("*").alias("n_rows"),
                 F.count_distinct("zkey").alias("n_keys"),
                 F.sum("zkey").alias("sum_zkey"),
                 F.min("zkey").alias("min_zkey"),
                 F.max("zkey").alias("max_zkey"))
            .orderBy("tile"))


def _zorder_oracle_sql(bits: int = 8) -> str:
    """DuckDB replay of q_zorder_layout: same affine bucket codes,
    same bit interleave (generated shift/AND terms)."""
    hi = (1 << bits) - 1
    terms = " + ".join(
        f"(((c{ax} >> {b}) & 1) << {2 * b + i})"
        for i, ax in enumerate(("x", "y")) for b in range(bits))
    return (
        "WITH src AS (SELECT o_custkey AS x, o_orderkey % 997 AS y "
        "FROM orders), "
        "st AS (SELECT min(x) AS mnx, max(x) AS mxx, min(y) AS mny, "
        "max(y) AS mxy FROM src), "
        "codes AS (SELECT "
        f"CASE WHEN mxx = mnx THEN 0 ELSE CAST((CAST(x AS HUGEINT) - "
        f"mnx) * {hi} // (CAST(mxx AS HUGEINT) - mnx) AS BIGINT) END "
        "AS cx, "
        f"CASE WHEN mxy = mny THEN 0 ELSE CAST((CAST(y AS HUGEINT) - "
        f"mny) * {hi} // (CAST(mxy AS HUGEINT) - mny) AS BIGINT) END "
        "AS cy FROM src, st), "
        f"z AS (SELECT ({terms}) AS zkey FROM "
        "(SELECT cx AS cx, cy AS cy FROM codes)) "
        "SELECT zkey // 4096 AS tile, count(*) AS n_rows, "
        "count(DISTINCT zkey) AS n_keys, "
        "CAST(sum(zkey) AS BIGINT) AS sum_zkey, "
        "min(zkey) AS min_zkey, max(zkey) AS max_zkey "
        "FROM z GROUP BY 1 ORDER BY 1")


def q_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier scheduling over the synthetic crawl urls, grouped per
    worker shard: politeness waves by descending priority within each
    host, hash-pinned workers, per-host quota 100.  The oracle derives
    the host ANALYTICALLY from the url recipe (url_parsing precedent)
    and replays wave/worker with its own window + md5 arithmetic."""
    from fastfilter_spark.functions.urls import url_host
    from fastfilter_spark.operators.frontier import crawl_frontier
    o = _t(spark, sf_dir, "orders")
    u = o.select(_synthetic_url(True).alias("url"),
                 F.col("o_orderkey").alias("prio"))
    u = u.withColumn("host", url_host(F.col("url")))
    f = crawl_frontier(u, priority_col="prio", n_workers=16,
                       max_per_domain=100, domain_col="host")
    return (f.groupBy("worker")
            .agg(F.count("*").alias("n_urls"),
                 F.count_distinct("domain").alias("n_domains"),
                 F.max("wave").alias("max_wave"))
            .orderBy("worker"))


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal as-of join: every purchase event matched to the same
    user's latest click at-or-before it (one shuffle, no candidate
    blowup — operators/asof.py), staleness in exact integer
    microseconds (timestampdiff on NTZ operands, timezone-independent;
    sessions.py precedent).  Unmatched rows surface as -1 so the hash
    compares integers, never NaN renderings.  BOTH execution paths run
    against the oracle — the default per-key window AND the hot-key
    bucketed window (bucket=3600 s), which must produce identical rows
    by construction.  The oracle is DuckDB's NATIVE ASOF LEFT JOIN —
    an independent implementation of the same greatest-lower-bound
    semantics — selected once per path label."""
    from fastfilter_spark.operators.asof import asof_join
    ev = _t(spark, sf_dir, "events")
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .select("user_id", "ts",
                         F.col("event_id").alias("purchase_id")))
    clicks = (ev.where(F.col("event_type") == "click")
              .select("user_id", "ts", "event_id"))

    def _run(path: str, bucket):
        out = asof_join(purchases, clicks, "user_id", "ts", "ts",
                        right_cols=["event_id"], bucket=bucket)
        return out.select(
            F.lit(path).alias("path"),
            "purchase_id",
            F.coalesce(F.col("event_id_r"), F.lit(-1)).alias("click_id"),
            F.coalesce(
                F.expr("timestampdiff(MICROSECOND, ts_r, ts)"),
                F.lit(-1)).cast("long").alias("staleness_us"))

    return (_run("window", None).unionByName(_run("bucketed", 3600))
            .orderBy("path", "purchase_id"))


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collocations: top-20 word bigrams by PMI-ordered lift.
    Exact integer arithmetic end to end — lift_ppm = (c_pair * T *
    1e6) div (c1 * c2) in DECIMAL(38,0), monotone in PMI with no
    cross-engine libm ulp risk (operators/collocations.py)."""
    from fastfilter_spark.operators.collocations import pmi_collocations
    docs = _t(spark, sf_dir, "documents")
    return pmi_collocations(docs, min_count=5, top_k=20).orderBy("rank")


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-keyed train/val/test split: every pseudo-domain lands
    entirely on one side (n_domains per split sums to the distinct
    domain count — the leakage-safety invariant the oracle recomputes
    from the same portable md5 bucketing).  Zero-shuffle projection;
    operators/splits.py."""
    from fastfilter_spark.operators.splits import leakage_safe_split
    docs = _t(spark, sf_dir, "documents")
    d = docs.withColumn("domain", F.concat(
        F.lit("site"), (F.col("doc_id") % 101).cast("string")))
    return (leakage_safe_split(d, "domain")
            .groupBy("split")
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct("domain").alias("n_domains"))
            .orderBy("split"))


_BM25_QUERY_TERMS = ["filter", "spark", "stream"]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked retrieval: top-10 documents by BM25 for a fixed query.
    Integer (rank, doc_id) output over float ordering (ann_topk
    precedent); the per-document score sums its per-term contributions
    in explicit term order so the ranking is reproducible (see
    operators/ranking.py)."""
    from fastfilter_spark.operators.ranking import bm25_topk
    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_QUERY_TERMS, k=10).orderBy("rank")


def _bm25_oracle_sql(terms: list[str], k: int = 10, k1: float = 1.2,
                     b: float = 0.75) -> str:
    """DuckDB replay of bm25_topk with the identical canonical op
    order; float constants are interpolated via repr() so both engines
    parse the exact same doubles."""
    tlist = ", ".join(f"'{t}'" for t in sorted({t.lower() for t in terms}))
    k1p1, one_m_b = repr(k1 + 1.0), repr(1.0 - b)
    return (
        "WITH toks AS (SELECT doc_id, tok.t AS term FROM documents, "
        "UNNEST(list_filter(string_split_regex(lower(text), '[^a-z]+'), "
        "x -> x <> '')) AS tok(t)), "
        "dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id), "
        "stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl), "
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks "
        f"WHERE term IN ({tlist}) GROUP BY doc_id, term), "
        "dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term), "
        "ts AS (SELECT tf.doc_id, tf.term, "
        "ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * "
        f"((tf * {k1p1}) / (tf + {k1!r} * ({one_m_b} + {b!r} * "
        "(CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) "
        "/ CAST(sum_dl AS DOUBLE))))) AS ts "
        "FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) "
        "CROSS JOIN stats), "
        "sc AS (SELECT doc_id, sum(ts ORDER BY term) AS score FROM ts "
        "GROUP BY doc_id) "
        "SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) "
        "AS INT) AS rank, doc_id FROM sc "
        f"ORDER BY rank LIMIT {int(k)}")


def q_filter_serialization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip every filter kind through bytes + packed bytes; emits
    (kind, roundtrip_ok, packed_ok) as 0/1 invariants — the distributed
    analog of tests/unit.c:65-76, with a constant-table SQL oracle."""
    import numpy as np

    from fastfilter_spark.operators.local import (
        build_filter, filter_from_bytes)
    keys = np.arange(5000, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    rows = []
    for kind in ("fuse16", "fuse32", "fuse8", "xor16", "xor8"):
        f = build_filter(keys, kind)
        rt = filter_from_bytes(f.to_bytes(), kind)
        ok = int(bool(rt.contain(keys).all()))
        unpacked = type(f).unpack(f.pack(), f.fingerprint_bits)
        pok = int(bool(unpacked.contain(keys).all()
                       and (unpacked.fingerprints == f.fingerprints).all()))
        rows.append((kind, ok, pok))
    return spark.createDataFrame(
        rows, "kind string, roundtrip_ok int, packed_ok int")


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # 49 entries — one under the driver's 50-row capture cap (module
    # docstring: REGISTRY DISCIPLINE).  Consolidated round-5: every
    # operator the 73-query round-4 registry exercised is still
    # exercised, via multi-part queries.
    return {
        # filter lifecycle (SURVEY §2.3)
        "membership_all": q_membership_all,
        "join_probe_membership": q_join_probe_membership,
        "semi_join_prune": q_semi_join_prune,
        "filter_serialization": q_filter_serialization,
        # text / dedup
        "exact_dedup": q_exact_dedup,
        "doc_transforms": q_doc_transforms,
        "token_stats": q_token_stats,
        "quality_profile": q_quality_profile,
        "minhash_near_dups": q_minhash_near_dups,
        "simhash_near_dups": q_simhash_near_dups,
        "embedding_near_dup": q_embedding_near_dup,
        # similarity
        "ann_topk": q_ann_topk,
        "ivf_recall": q_ivf_recall,
        # sketches (north_rule)
        "hll_distinct": q_hll_distinct,
        "multi_sketch": q_multi_sketch,
        "quantile_sketches": q_quantile_sketches,
        "heavy_hitters_all": q_heavy_hitters_all,
        "kmv_sketches": q_kmv_sketches,
        "ams_f2_tokens": q_ams_f2_tokens,
        "priority_sample_sources": q_priority_sample_sources,
        "pack_sequences": q_pack_sequences,
        # relational demos + skew handling
        "pricing_summary": q_pricing_summary,
        "events_json": q_events_json,
        "set_ops": q_set_ops,
        "string_funcs": q_string_funcs,
        "window_topn": q_window_topn,
        "rollup_orders": q_rollup_orders,
        "sessionization": q_sessionization,
        # web-pipeline (urls, vocabulary, decontamination, sampling)
        "url_parsing": q_url_parsing,
        "doc_frequency": q_doc_frequency,
        "decontamination": q_decontamination,
        "stratified_sample": q_stratified_sample,
        "repetition_signals": q_repetition_signals,
        "pii_redaction": q_pii_redaction,
        "token_budget_mix": q_token_budget_mix,
        "dedup_components": q_dedup_components,
        "corpus_funnel": q_corpus_funnel,
        "boilerplate_removal": q_boilerplate_removal,
        "corpus_diff": q_corpus_diff,
        "zorder_layout": q_zorder_layout,
        "crawl_frontier": q_crawl_frontier,
        "asof_join": q_asof_join,
        "pmi_collocations": q_pmi_collocations,
        "leakage_safe_split": q_leakage_safe_split,
        # ranked retrieval / web graph
        "bm25_topk": q_bm25_topk,
        "link_pagerank": q_link_pagerank,
        # sources
        "webpages_invariant": q_webpages_invariant,
        "image_features": q_image_features,
        "audio_samples": q_audio_samples,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "membership_all": _membership_all_sql(),
        "join_probe_membership": (
            "SELECT count(DISTINCT l_orderkey) AS n_keys, "
            "count(DISTINCT l_orderkey) AS n_pass FROM lineitem"),
        "semi_join_prune": (
            "SELECT count(*) AS n_orders, "
            "count(DISTINCT o_custkey) AS n_matched_cust FROM orders "
            "WHERE o_custkey IN "
            "(SELECT c_custkey FROM customer WHERE c_custkey % 5 = 0)"),
        "exact_dedup": (
            "SELECT count(*) AS n_docs, count(DISTINCT text) AS n_distinct "
            "FROM documents"),
        "token_stats": (
            "WITH t AS (SELECT lang, text, list_filter("
            "string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') "
            "AS toks FROM documents) "
            "SELECT lang, count(*) AS n_docs, "
            "CAST(sum(CASE WHEN trim(text) = '' THEN 0 ELSE "
            "len(regexp_split_to_array(trim(text), '\\s+')) END) AS BIGINT) "
            "AS sum_tokens, "
            "CAST(sum(len(toks)) AS BIGINT) AS sum_word_tokens, "
            "CAST(sum(len(list_distinct(toks))) AS BIGINT) "
            "AS sum_distinct_tokens, "
            "CAST(sum(len(regexp_extract_all(text, "
            "'[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) "
            "AS sum_bpe_tokens "
            "FROM t GROUP BY lang ORDER BY lang"),
        "quality_profile": (
            "SELECT lang, "
            "CAST(floor(length(text) / 100) AS BIGINT) AS bucket, "
            "count(*) AS n_docs, "
            "CAST(sum(length(text)) AS BIGINT) AS sum_chars, "
            "CAST(sum(length(text) - length(regexp_replace(text, "
            "'[^A-Za-z0-9\\s]', '', 'g'))) AS BIGINT) AS sum_punct, "
            "CAST(sum(len(list_filter(regexp_split_to_array("
            "lower(trim(text)), '\\s+'), w -> w IN ('the','a','of','and',"
            "'to','in','is','for','with','on')))) AS BIGINT) "
            "AS sum_stop_hits "
            "FROM documents GROUP BY lang, bucket ORDER BY lang, bucket"),
        "doc_transforms": (
            "WITH lines AS (SELECT doc_id, "
            "unnest(string_split(text, ' ')) AS line, "
            "unnest(generate_series(1, len(string_split(text, ' ')))) "
            "AS pos FROM documents), "
            "firsts AS (SELECT doc_id, line, min(pos) AS pos "
            "FROM lines GROUP BY doc_id, line), "
            "ld AS (SELECT doc_id, string_agg(line, ' ' ORDER BY pos) "
            "AS text_dedup FROM firsts GROUP BY doc_id) "
            "SELECT d.doc_id, md5(d.text) AS fingerprint, ld.text_dedup "
            "FROM documents d JOIN ld USING (doc_id) ORDER BY d.doc_id"),
        "ann_topk": (
            "SELECT method, CAST(rank AS INT) AS rank, vec_id FROM ("
            "SELECT 'brute' AS method, row_number() OVER "
            "(ORDER BY list_cosine_similarity(embedding, "
            "(SELECT embedding FROM embeddings WHERE vec_id = 3)) DESC, "
            "vec_id) AS rank, vec_id FROM embeddings "
            "UNION ALL "
            "SELECT 'ivf_full', row_number() OVER "
            "(ORDER BY list_cosine_similarity(embedding, "
            "(SELECT embedding FROM embeddings WHERE vec_id = 7)) DESC, "
            "vec_id), vec_id FROM embeddings "
            "UNION ALL "
            # batch IVF at nprobe == ncells degenerates to the same
            # exact ranking per query vector
            "SELECT 'ivf_batch_q3', row_number() OVER "
            "(ORDER BY list_cosine_similarity(embedding, "
            "(SELECT embedding FROM embeddings WHERE vec_id = 3)) DESC, "
            "vec_id), vec_id FROM embeddings "
            "UNION ALL "
            "SELECT 'ivf_batch_q7', row_number() OVER "
            "(ORDER BY list_cosine_similarity(embedding, "
            "(SELECT embedding FROM embeddings WHERE vec_id = 7)) DESC, "
            "vec_id), vec_id FROM embeddings) "
            "WHERE rank <= 5 ORDER BY method, rank"),
        "pricing_summary": (
            "SELECT l_returnflag, l_linestatus, count(*) AS n_rows, "
            "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty "
            "FROM lineitem "
            "GROUP BY l_returnflag, l_linestatus "
            "ORDER BY l_returnflag, l_linestatus"),
        "set_ops": (
            "SELECT k FROM ("
            "SELECT DISTINCT o_custkey AS k FROM orders "
            "EXCEPT ALL SELECT DISTINCT c_custkey AS k FROM customer "
            "WHERE c_acctbal > 5000) "
            "INTERSECT SELECT c_custkey AS k FROM customer "
            "WHERE c_custkey < 500 ORDER BY k"),
        "string_funcs": (
            "SELECT p_brand, count(*) AS n, "
            "CAST(sum(length(upper(p_name))) AS BIGINT) AS sum_len, "
            "CAST(sum(CASE WHEN p_type LIKE '%a%' THEN 1 ELSE 0 END) "
            "AS BIGINT) AS n_with_a "
            "FROM part GROUP BY p_brand ORDER BY p_brand"),
        "window_topn": (
            "SELECT o_custkey, rk, o_orderkey FROM ("
            "SELECT o_custkey, o_orderkey, CAST(row_number() OVER "
            "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)"
            " AS INT) AS rk FROM orders) WHERE rk <= 2 "
            "ORDER BY o_custkey, rk"),
        "rollup_orders": (
            # NULLS FIRST: Spark's default asc ordering is nulls-first,
            # DuckDB's is nulls-last — align the rollup marker rows
            "SELECT o_orderstatus, month, count(*) AS n FROM ("
            "SELECT o_orderstatus, "
            "strftime(o_orderdate, '%Y-%m') AS month "
            "FROM orders) GROUP BY ROLLUP (o_orderstatus, month) "
            "ORDER BY o_orderstatus NULLS FIRST, month NULLS FIRST"),
        "events_json": (
            "SELECT event_type, "
            "CAST(floor(CAST(json_extract_string(props, '$.k') "
            "AS BIGINT) / 10) AS BIGINT) AS k_bucket, "
            "count(*) AS n_events, "
            "count(DISTINCT user_id) AS n_users FROM events "
            "GROUP BY event_type, k_bucket ORDER BY event_type, k_bucket"),
        # -- bound-check / invariant oracles (see the sketch + near-dup
        #    query docstrings: the flag columns are structural invariants
        #    of a correct implementation, the data columns exact SQL) --
        "filter_serialization": (
            "SELECT kind, CAST(1 AS INT) AS roundtrip_ok, "
            "CAST(1 AS INT) AS packed_ok FROM (VALUES ('fuse16'), "
            "('fuse32'), ('fuse8'), ('xor16'), ('xor8')) AS t(kind) "
            "ORDER BY kind"),
        "hll_distinct": (
            "SELECT l_returnflag, n_exact, within_bound FROM ("
            "SELECT '*' AS l_returnflag, "
            "count(DISTINCT l_orderkey) AS n_exact, "
            "CAST(1 AS INT) AS within_bound FROM lineitem "
            "UNION ALL "
            "SELECT l_returnflag, count(DISTINCT l_orderkey), "
            "CAST(1 AS INT) FROM lineitem GROUP BY l_returnflag) "
            "ORDER BY l_returnflag"),
        "multi_sketch": (
            "SELECT count(l_orderkey) AS n_rows, "
            "count(DISTINCT l_orderkey) AS n_distinct, "
            "CAST(1 AS INT) AS hll_within_bound, "
            "CAST(1 AS INT) AS kll_n_ok, "
            "(SELECT count(DISTINCT l_orderkey) FROM lineitem "
            "WHERE l_orderkey IN (SELECT o_orderkey FROM orders)) "
            "AS n_intersect_exact, "
            "CAST(1 AS INT) AS theta_within_bound FROM lineitem"),
        "quantile_sketches": _quantile_rank_oracle(),
        "heavy_hitters_all": (
            "SELECT family, key, n_true, flag_a, flag_b FROM ("
            "SELECT 'cms' AS family, CAST(l_suppkey AS VARCHAR) AS key, "
            "count(*) AS n_true, CAST(1 AS INT) AS flag_a, "
            "CAST(1 AS INT) AS flag_b "
            "FROM lineitem GROUP BY l_suppkey "
            "ORDER BY n_true DESC, l_suppkey LIMIT 5) "
            "UNION ALL "
            "SELECT 'mg', token, n_true, 1, 1 FROM ("
            "WITH toks AS (SELECT unnest(list_filter("
            "string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) "
            "AS token FROM documents) "
            "SELECT token, CAST(count(*) AS BIGINT) AS n_true "
            "FROM toks GROUP BY token "
            "HAVING count(*) >= (SELECT count(*) // 49 + 1 FROM toks)) "
            "ORDER BY family, key"),
        "minhash_near_dups": (
            "SELECT CAST(15 AS BIGINT) AS n_planted, "
            "CAST(15 AS BIGINT) AS n_recovered, "
            "CAST(15 AS BIGINT) AS n_verified"),
        "simhash_near_dups": (
            "SELECT CAST(15 AS BIGINT) AS n_planted, "
            "CAST(15 AS BIGINT) AS n_recovered"),
        "embedding_near_dup": (
            "SELECT CAST(10 AS BIGINT) AS n_planted, "
            "CAST(10 AS BIGINT) AS n_recovered"),
        "ivf_recall": (
            "SELECT CAST(3 AS BIGINT) AS n_queries, CAST(5 AS BIGINT) "
            "AS k, CAST(1 AS INT) AS recall_ok"),
        # the url oracle derives every expected value ANALYTICALLY from
        # the url recipe (it never runs a regex): host/tld/regdom/depth
        # and the canonical normalized form are known by construction,
        # so Spark's regexp normalization is checked against ground truth
        "url_parsing": (
            "WITH u AS (SELECT "
            "CASE o_custkey % 3 WHEN 0 THEN 'org' WHEN 1 THEN 'com' "
            "ELSE 'net' END AS tld, "
            "'sub' || CAST(o_custkey % 7 AS VARCHAR) || '.site' || "
            "CAST(o_custkey % 100 AS VARCHAR) || '.example.' || "
            "CASE o_custkey % 3 WHEN 0 THEN 'org' WHEN 1 THEN 'com' "
            "ELSE 'net' END AS host, "
            "CAST(o_orderkey % 50 AS VARCHAR) AS seg FROM orders) "
            "SELECT tld, CAST(count(*) AS BIGINT) AS n_urls, "
            "CAST(count(DISTINCT host) AS BIGINT) AS n_hosts, "
            "CAST(count(DISTINCT 'example.' || tld) AS BIGINT) AS n_regdoms, "
            "CAST(count(DISTINCT 'https://' || host || '/cat/' || seg || "
            "'/item') AS BIGINT) AS n_norm_urls, "
            "CAST(sum(3) AS BIGINT) AS sum_depth "
            "FROM u GROUP BY tld ORDER BY tld"),
        "doc_frequency": (
            "SELECT token, CAST(count(*) AS BIGINT) AS df FROM ("
            "SELECT DISTINCT doc_id, tok.t AS token FROM documents, "
            "UNNEST(list_filter(string_split_regex(lower(text), "
            "'[^a-z]+'), x -> x <> '')) AS tok(t)) "
            "GROUP BY token ORDER BY df DESC, token LIMIT 20"),
        "decontamination": (
            "WITH tok AS (SELECT doc_id, list_filter(string_split_regex("
            "lower(text), '[^a-z]+'), x -> x <> '') AS tk "
            "FROM documents), "
            "grams AS (SELECT doc_id, array_to_string("
            "tk[CAST(i AS INT) : CAST(i AS INT) + 7], ' ') AS gram "
            "FROM tok, UNNEST(range(1, len(tk) - 6)) AS u(i)), "
            "cont AS (SELECT DISTINCT doc_id FROM grams WHERE gram IN "
            "(SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 0)) "
            "SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) "
            "AS n_train, "
            "CAST((SELECT count(*) FROM documents WHERE doc_id % 10 = 0) "
            "AS BIGINT) AS n_eval, "
            "CAST((SELECT count(*) FROM documents WHERE md5(text) IN "
            "(SELECT md5(text) FROM documents WHERE doc_id % 10 = 0)) "
            "AS BIGINT) AS n_doc_contaminated, "
            "CAST((SELECT count(*) FROM documents WHERE md5(text) NOT IN "
            "(SELECT md5(text) FROM documents WHERE doc_id % 10 = 0)) "
            "AS BIGINT) AS n_doc_clean, "
            "CAST((SELECT count(*) FROM cont) AS BIGINT) "
            "AS n_gram_contaminated, "
            "CAST((SELECT count(*) FROM documents) - "
            "(SELECT count(*) FROM cont) AS BIGINT) AS n_gram_clean"),
        "boilerplate_removal": (
            "WITH lines AS (SELECT doc_id, "
            "unnest(string_split(text, ' ')) AS line, "
            "unnest(generate_series(1, len(string_split(text, ' ')))) "
            "AS pos FROM documents), "
            "boiler AS (SELECT line FROM (SELECT line, "
            "count(DISTINCT doc_id) AS nd FROM lines GROUP BY line) t "
            "WHERE nd >= (SELECT CAST(ceil(0.9 * count(*)) AS BIGINT) "
            "FROM documents)), "
            "rebuilt AS (SELECT doc_id, "
            "string_agg(line, ' ' ORDER BY pos) AS text_clean "
            "FROM lines WHERE line NOT IN (SELECT line FROM boiler) "
            "GROUP BY doc_id) "
            "SELECT d.doc_id, coalesce(r.text_clean, '') AS text_clean "
            "FROM documents d LEFT JOIN rebuilt r USING (doc_id) "
            "ORDER BY d.doc_id"),
        "stratified_sample": (
            "SELECT lang, source, doc_id FROM ("
            "SELECT lang, source, doc_id, row_number() OVER ("
            "PARTITION BY lang, source ORDER BY md5(text)) AS rn "
            "FROM documents) t WHERE rn <= 2 "
            "ORDER BY lang, source, doc_id"),
        "repetition_signals": (
            "WITH lines AS (SELECT doc_id, string_split(text, ' ') AS ls "
            "FROM documents), "
            "sig AS (SELECT doc_id, "
            "CAST(len(ls) AS BIGINT) AS n_lines, "
            "CAST(len(list_distinct(ls)) AS BIGINT) AS n_distinct_lines, "
            "CAST(list_sum(list_transform(ls, x -> length(x))) AS BIGINT) "
            "AS line_chars, "
            "CAST(list_sum(list_transform(list_distinct(ls), "
            "x -> length(x))) AS BIGINT) AS distinct_line_chars "
            "FROM lines), "
            "toks AS (SELECT doc_id, list_filter(string_split_regex("
            "lower(text), '[^a-z]+'), x -> x <> '') AS tk FROM documents), "
            "grams AS (SELECT doc_id, tk[CAST(i AS INT)] || ' ' || "
            "tk[CAST(i AS INT) + 1] AS gram "
            "FROM toks, UNNEST(range(1, len(tk))) AS u(i)), "
            "counted AS (SELECT doc_id, gram, count(*) AS cnt "
            "FROM grams GROUP BY 1, 2), "
            "top AS (SELECT doc_id, cnt, length(gram) AS glen, "
            "row_number() OVER (PARTITION BY doc_id "
            "ORDER BY cnt DESC, gram DESC) AS rn FROM counted) "
            "SELECT s.doc_id, s.n_lines, s.n_distinct_lines, "
            "s.line_chars, s.distinct_line_chars, "
            "CAST(greatest(len(t2.tk) - 1, 0) AS BIGINT) AS n_bigrams, "
            "CAST(coalesce(top.cnt, 0) AS BIGINT) AS top_bigram_count, "
            "CAST(coalesce(top.glen, 0) AS BIGINT) AS top_bigram_len "
            "FROM sig s JOIN toks t2 USING (doc_id) "
            "LEFT JOIN top ON top.doc_id = s.doc_id AND top.rn = 1 "
            "ORDER BY s.doc_id"),
        "sessionization": (
            "WITH o AS (SELECT user_id, epoch_us(ts) AS e, event_id "
            "FROM events), "
            "lagd AS (SELECT user_id, e, event_id, "
            "lag(e) OVER (PARTITION BY user_id "
            "ORDER BY e, event_id) AS pe FROM o), "
            "sess AS (SELECT user_id, "
            "sum(CASE WHEN pe IS NULL OR (e - pe) > 1800000000 "
            "THEN 1 ELSE 0 END) OVER (PARTITION BY user_id "
            "ORDER BY e, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
            "AS session_idx FROM lagd), "
            "per AS (SELECT user_id, session_idx, count(*) AS n "
            "FROM sess GROUP BY user_id, session_idx) "
            "SELECT user_id, CAST(sum(n) AS BIGINT) AS n_events, "
            "CAST(count(*) AS BIGINT) AS n_sessions, "
            "CAST(max(n) AS BIGINT) AS max_session_events "
            "FROM per GROUP BY user_id ORDER BY user_id"),
        "corpus_funnel": (
            "WITH tok AS (SELECT doc_id, text, lang, list_filter("
            "string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') "
            "AS tk FROM documents), "
            "qual AS (SELECT doc_id, text, lang FROM tok "
            "WHERE len(tk) >= 20 AND "
            "10 * len(list_distinct(tk)) >= 4 * len(tk)), "
            "lines AS (SELECT doc_id, "
            "unnest(string_split(text, ' ')) AS line, "
            "unnest(generate_series(1, len(string_split(text, ' ')))) "
            "AS pos FROM qual), "
            "firsts AS (SELECT doc_id, line, min(pos) AS pos "
            "FROM lines GROUP BY doc_id, line), "
            "ld AS (SELECT f.doc_id, q.lang, "
            "string_agg(f.line, ' ' ORDER BY f.pos) AS dtext "
            "FROM firsts f JOIN qual q ON q.doc_id = f.doc_id "
            "GROUP BY f.doc_id, q.lang), "
            "ed AS (SELECT doc_id, lang, dtext FROM "
            "(SELECT doc_id, lang, dtext, row_number() OVER "
            "(PARTITION BY md5(dtext) ORDER BY doc_id) AS rn FROM ld) "
            "WHERE rn = 1), "
            "evlines AS (SELECT doc_id, "
            "unnest(string_split(text, ' ')) AS line, "
            "unnest(generate_series(1, len(string_split(text, ' ')))) "
            "AS pos FROM documents WHERE doc_id % 10 = 0), "
            "evfirsts AS (SELECT doc_id, line, min(pos) AS pos "
            "FROM evlines GROUP BY doc_id, line), "
            "ev AS (SELECT DISTINCT dtext FROM "
            "(SELECT doc_id, string_agg(line, ' ' ORDER BY pos) "
            "AS dtext FROM evfirsts GROUP BY doc_id)), "
            "dc AS (SELECT * FROM ed WHERE dtext NOT IN "
            "(SELECT dtext FROM ev)), "
            "mixcte AS (SELECT doc_id, lang, dtext, "
            "length(dtext) AS chars, CASE lang WHEN 'de' THEN 2000 "
            "WHEN 'en' THEN 5000 WHEN 'es' THEN 2000 "
            "WHEN 'fr' THEN 2000 WHEN 'zh' THEN 2500 END AS budget, "
            "sum(length(dtext)) OVER (PARTITION BY lang ORDER BY "
            "md5(dtext || '|' || CAST(doc_id AS VARCHAR)) "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum "
            "FROM dc), "
            "mixed AS (SELECT * FROM mixcte WHERE budget IS NOT NULL "
            "AND cum - chars < budget) "
            "SELECT * FROM ("
            "SELECT CAST(0 AS BIGINT) AS stage, "
            "CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS sum_chars "
            "FROM documents "
            "UNION ALL SELECT 1, count(*), "
            "CAST(coalesce(sum(length(text)), 0) AS BIGINT) FROM qual "
            "UNION ALL SELECT 2, count(*), "
            "CAST(coalesce(sum(length(dtext)), 0) AS BIGINT) FROM ld "
            "UNION ALL SELECT 3, count(*), "
            "CAST(coalesce(sum(length(dtext)), 0) AS BIGINT) FROM ed "
            "UNION ALL SELECT 4, count(*), "
            "CAST(coalesce(sum(length(dtext)), 0) AS BIGINT) FROM dc "
            "UNION ALL SELECT 5, count(*), "
            "CAST(coalesce(sum(length(dtext)), 0) AS BIGINT) FROM mixed"
            ") ORDER BY stage"),
        "dedup_components": (
            "WITH RECURSIVE p AS (SELECT d1.doc_id AS a, d2.doc_id AS b "
            "FROM documents d1 JOIN documents d2 "
            "ON d2.doc_id = d1.doc_id + 20 AND d1.source = d2.source "
            "WHERE d1.doc_id % 60 < 40), "
            "edges AS (SELECT a AS x, b AS y FROM p "
            "UNION SELECT b, a FROM p), "
            "reach AS (SELECT x AS node, x AS r FROM "
            "(SELECT DISTINCT x FROM edges) n "
            "UNION SELECT e.x AS node, reach.r FROM edges e "
            "JOIN reach ON e.y = reach.node), "
            "comps AS (SELECT node, min(r) AS comp FROM reach "
            "GROUP BY node), "
            "sizes AS (SELECT CAST(comp AS BIGINT) AS comp, "
            "count(*) AS n_nodes FROM comps GROUP BY comp), "
            "kept AS (SELECT CAST(-1 AS BIGINT) AS comp, "
            "(SELECT count(*) FROM documents) - "
            "(SELECT count(*) FROM comps WHERE node <> comp) AS n_nodes) "
            "SELECT comp, n_nodes FROM kept "
            "UNION ALL SELECT comp, n_nodes FROM sizes ORDER BY comp"),
        "token_budget_mix": (
            "WITH ranked AS (SELECT doc_id, source, n_chars, "
            "CASE source WHEN 'src0' THEN 400 WHEN 'src2' THEN 700 "
            "WHEN 'src4' THEN 1000 WHEN 'src6' THEN 1500 END AS budget, "
            "sum(n_chars) OVER (PARTITION BY source ORDER BY "
            "md5(text || '|' || CAST(doc_id AS VARCHAR)) "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum "
            "FROM documents "
            "WHERE source IN ('src0', 'src2', 'src4', 'src6')) "
            "SELECT doc_id, source, n_chars FROM ranked "
            "WHERE cum - n_chars < budget ORDER BY doc_id"),
        "pii_redaction": (
            "WITH aug AS (SELECT doc_id, text || ' contact user' || "
            "CAST(doc_id AS VARCHAR) || '@mail.example.com from 10.1.' || "
            "CAST(doc_id % 256 AS VARCHAR) || '.7 call +1 555-010-' || "
            "lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS t "
            "FROM documents), "
            "m1 AS (SELECT doc_id, t, regexp_replace(t, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', "
            "'<EMAIL>', 'g') AS t1 FROM aug), "
            "m2 AS (SELECT *, regexp_replace(t1, "
            "'\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g') AS t2 "
            "FROM m1) "
            "SELECT doc_id, "
            "regexp_replace(t2, '\\+\\d[\\d()\\- ]{7,}\\d|\\(\\d{1,4}\\)[\\- ]?\\d[\\d\\- ]{4,}\\d|\\d{2,4}(?:-\\d{2,4}){2,}|\\b\\d{9,14}\\b', '<PHONE>', "
            "'g') AS redacted, "
            "CAST(len(regexp_extract_all(t, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) "
            "AS n_email, "
            "CAST(len(regexp_extract_all(t1, "
            "'\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS BIGINT) AS n_ipv4, "
            "CAST(len(regexp_extract_all(t2, "
            "'\\+\\d[\\d()\\- ]{7,}\\d|\\(\\d{1,4}\\)[\\- ]?\\d[\\d\\- ]{4,}\\d|\\d{2,4}(?:-\\d{2,4}){2,}|\\b\\d{9,14}\\b')) AS BIGINT) AS n_phone "
            "FROM m2 ORDER BY doc_id"),
        "webpages_invariant": (
            "SELECT CAST(2000 AS BIGINT) AS n_pages, "
            "CAST(0 AS BIGINT) AS n_mismatch"),
        "image_features": (
            "SELECT CAST(media_id AS BIGINT) AS media_id, "
            "CAST(phash AS BIGINT) AS phash FROM (VALUES "
            + ", ".join(f"({i}, {ph})"
                        for i, ph in _expected_image_phashes(50))
            + ") AS t(media_id, phash) ORDER BY media_id"),
        "audio_samples": (
            "SELECT CAST(media_id AS BIGINT) AS media_id, "
            "CAST(q0 AS BIGINT) AS q0, CAST(q1 AS BIGINT) AS q1, "
            "CAST(q2 AS BIGINT) AS q2, CAST(q3 AS BIGINT) AS q3 "
            "FROM (VALUES "
            + ", ".join(str(row) for row in _expected_audio_quants(20))
            + ") AS t(media_id, q0, q1, q2, q3) ORDER BY media_id"),
        "corpus_diff": (
            # diff rows: status buckets from the (id, md5) full-outer
            # join — IS NOT DISTINCT FROM mirrors the operator's
            # eqNullSafe (diff.py): a null-text doc present in both
            # snapshots is 'unchanged', not 'changed'.  update rows:
            # full recompute over the new snapshot — equals the
            # incremental diff-driven path by the carried-verdict
            # invariant (unchanged rows are byte-identical)
            "WITH o AS (SELECT doc_id, md5(text) AS f FROM documents "
            "WHERE doc_id % 13 != 0), "
            "n AS (SELECT doc_id, md5(CASE WHEN doc_id % 7 = 0 THEN "
            "text || '!' ELSE text END) AS f FROM documents "
            "WHERE doc_id % 11 != 0), "
            "j AS (SELECT o.f AS fo, n.f AS fn FROM o "
            "FULL OUTER JOIN n ON o.doc_id = n.doc_id), "
            "d AS (SELECT CASE WHEN fo IS NULL THEN 'added' "
            "WHEN fn IS NULL THEN 'removed' "
            "WHEN fo IS NOT DISTINCT FROM fn THEN 'unchanged' "
            "ELSE 'changed' END AS bucket, "
            "count(*) AS n, CAST(0 AS BIGINT) AS sum_chars "
            "FROM j GROUP BY 1), "
            "u AS (SELECT lang AS bucket, count(*) AS n, "
            "CAST(sum(length(text)) AS BIGINT) AS sum_chars FROM ("
            "SELECT lang, CASE WHEN doc_id % 7 = 0 THEN text || '!' "
            "ELSE text END AS text FROM documents "
            "WHERE doc_id % 11 != 0) WHERE length(text) >= 200 "
            "GROUP BY lang) "
            "SELECT bucket, n, sum_chars FROM d "
            "UNION ALL SELECT bucket, n, sum_chars FROM u "
            "ORDER BY bucket"),
        "zorder_layout": _zorder_oracle_sql(),
        "crawl_frontier": (
            "WITH u AS (SELECT o_orderkey AS prio, "
            "'sub' || CAST(o_custkey % 7 AS VARCHAR) || '.site' || "
            "CAST(o_custkey % 100 AS VARCHAR) || "
            "CASE o_custkey % 3 WHEN 0 THEN '.example.org' "
            "WHEN 1 THEN '.example.com' ELSE '.example.net' END AS host "
            "FROM orders), "
            "r AS (SELECT host, row_number() OVER (PARTITION BY host "
            "ORDER BY prio DESC) - 1 AS wave, "
            f"{portable_hash60_sql('host')} % 16 AS worker "
            "FROM u) "
            "SELECT worker, count(*) AS n_urls, "
            "count(DISTINCT host) AS n_domains, max(wave) AS max_wave "
            "FROM r WHERE wave < 100 GROUP BY 1 ORDER BY 1"),
        "asof_join": (
            "WITH p AS (SELECT user_id, ts, event_id AS purchase_id "
            "FROM events WHERE event_type = 'purchase'), "
            "c AS (SELECT user_id, ts, max(event_id) AS click_id "
            "FROM events WHERE event_type = 'click' GROUP BY 1, 2), "
            "j AS (SELECT p.purchase_id, c.click_id, "
            "date_diff('microsecond', c.ts, p.ts) AS st "
            "FROM p ASOF LEFT JOIN c "
            "ON p.user_id = c.user_id AND p.ts >= c.ts), "
            "r AS (SELECT purchase_id, COALESCE(click_id, -1) "
            "AS click_id, CAST(COALESCE(st, -1) AS BIGINT) "
            "AS staleness_us FROM j) "
            # both Spark paths (per-key window / hot-key bucketed) must
            # equal the same oracle rows
            "SELECT 'window' AS path, * FROM r UNION ALL "
            "SELECT 'bucketed' AS path, * FROM r "
            "ORDER BY path, purchase_id"),
        "pmi_collocations": (
            "WITH toks AS (SELECT doc_id, list_filter("
            "string_split_regex(lower(text), '[^a-z]+'), t -> t != '') "
            "AS tk FROM documents), "
            "pos AS (SELECT doc_id, unnest(tk) AS w, "
            "generate_subscripts(tk, 1) AS i FROM toks), "
            "uni AS (SELECT w, count(*) AS c FROM pos GROUP BY 1), "
            "pairs AS (SELECT a.w AS w1, b.w AS w2, count(*) AS c_pair "
            "FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND "
            "b.i = a.i + 1 GROUP BY 1, 2), "
            "tot AS (SELECT CAST(sum(c_pair) AS BIGINT) AS t FROM pairs), "
            "scored AS (SELECT w1, w2, c_pair, u1.c AS c1, u2.c AS c2, "
            "CAST((CAST(c_pair AS HUGEINT) * t * 1000000) // "
            "(CAST(u1.c AS HUGEINT) * u2.c) AS BIGINT) AS lift_ppm "
            "FROM pairs JOIN uni u1 ON pairs.w1 = u1.w "
            "JOIN uni u2 ON pairs.w2 = u2.w, tot WHERE c_pair >= 5) "
            "SELECT CAST(row_number() OVER (ORDER BY lift_ppm DESC, "
            "w1, w2) AS INT) AS rank, w1, w2, c_pair, c1, c2, lift_ppm "
            "FROM scored ORDER BY lift_ppm DESC, w1, w2 LIMIT 20"),
        "leakage_safe_split": (
            "WITH d AS (SELECT doc_id, 'site' || CAST(doc_id % 101 AS "
            "VARCHAR) AS domain FROM documents), "
            "b AS (SELECT doc_id, domain, "
            + portable_hash60_sql("'split-v1|' || domain")
            + " % 1000000 AS bucket FROM d), "
            "s AS (SELECT domain, CASE WHEN bucket < 900000 THEN 'train' "
            "WHEN bucket < 950000 THEN 'val' ELSE 'test' END AS split "
            "FROM b) "
            "SELECT split, count(*) AS n_docs, "
            "count(DISTINCT domain) AS n_domains "
            "FROM s GROUP BY 1 ORDER BY 1"),
        "bm25_topk": _bm25_oracle_sql(_BM25_QUERY_TERMS, k=10),
        "link_pagerank": _pagerank_oracle_sql(),
        "kmv_sketches": _kmv_sketches_oracle_sql(),
        "ams_f2_tokens": _ams_f2_oracle_sql(),
        "priority_sample_sources": _priority_sample_oracle_sql(),
        "pack_sequences": _pack_sequences_oracle_sql(),
    }

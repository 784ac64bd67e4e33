"""Round-4 verdict/advice fixes.

Covers: reliable checkpointing + single-action rounds in
connected_components (VERDICT #4/#5, ADVICE graph), timezone-safe
TimestampNTZ sessionization (ADVICE #1), probe_via_join one-build lookup
(VERDICT #7 'What's wrong'), the conditional broadcasts in
ngram_decontaminate / remove_boilerplate_lines (ADVICE #2/#3), and the
embedding_near_dup empty-input guard (ADVICE #5).
"""

from __future__ import annotations

import datetime as dt
import glob
import os

import pytest
from pyspark.sql import functions as F

from fastfilter_spark.operators.graph import connected_components


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "a long, b long")


# -- connected_components -----------------------------------------------------

def test_components_reliable_checkpoint_dir(spark, tmp_path):
    """checkpoint_dir switches lineage cuts to reliable checkpoint():
    results identical, and checkpoint files actually land in the dir
    (executor-loss-safe, unlike localCheckpoint blocks)."""
    ckpt = str(tmp_path / "cc_ckpt")
    edges = [(i, i + 1) for i in range(23)] + [(100, 101)]
    out = connected_components(_pairs(spark, edges), "a", "b",
                               checkpoint_every=1, checkpoint_dir=ckpt)
    got = {r.node: r.comp for r in out.collect()}
    assert set(got[i] for i in range(24)) == {0}
    assert got[100] == got[101] == 100
    # reliable checkpoints are files under the dir, not executor blocks
    assert glob.glob(os.path.join(ckpt, "**", "rdd-*"), recursive=True)


def test_components_single_action_per_round(spark):
    """Convergence is derived from the carried old_comp column — one
    count per round over the cached round result, no second labels
    join.  Budget guard: a 6-node graph converging in <=3 rounds must
    stay within a small absolute Spark-job budget (the pre-fix shape
    re-executed the full uncheckpointed lineage for the changed-count
    every round, blowing past this as rounds deepen)."""
    sc = spark.sparkContext
    sc.setJobGroup("cc_round4_jobs", "cc job budget")
    try:
        out = connected_components(
            _pairs(spark, [(1, 2), (2, 3), (3, 4), (10, 11)]), "a", "b")
        assert out.count() == 6
    finally:
        sc.setJobGroup("cc_round4_done", "")
    jobs = sc.statusTracker().getJobIdsForGroup("cc_round4_jobs")
    # edges cut + <=3 rounds x (1 count [+ AQE stage jobs]) + final
    # count; 40 is ~2x the observed ceiling, far under the pre-fix
    # quadratic-recompute shape
    assert 0 < len(jobs) <= 40, f"job budget blown: {len(jobs)} jobs"


# -- sessionize over TimestampNTZ --------------------------------------------

def test_sessionize_ntz_is_timezone_and_dst_independent(spark):
    """NTZ timestamps are wall-clock: two events 45 wall-minutes apart
    across the US fall-back DST transition must stay in ONE session
    with gap=3600 even when the session timezone is DST-observing.
    (The pre-fix cast-to-TimestampType path measured 105 minutes there
    — 2026-11-01 01:30 resolves to PDT, 02:15 to PST — and split.)"""
    from fastfilter_spark.operators.sessions import sessionize
    rows = [
        (1, dt.datetime(2026, 11, 1, 1, 30, 0), 1),
        (1, dt.datetime(2026, 11, 1, 2, 15, 0), 2),
        # control pair: genuinely > gap apart, must still split
        (2, dt.datetime(2026, 11, 1, 1, 30, 0), 3),
        (2, dt.datetime(2026, 11, 1, 3, 45, 0), 4),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, event_id long")
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        out = sessionize(df, "user_id", "ts", gap_seconds=3600.0,
                         tiebreak_col="event_id")
        got = {r.event_id: r.session_idx for r in out.collect()}
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    assert got == {1: 1, 2: 1, 3: 1, 4: 2}


# -- probe_via_join materializes an unbuilt table once ------------------------

def test_probe_via_join_builds_unmaterialized_table_once(spark):
    """num_shards=None on a raw build plan must not execute the build
    twice: the shards are materialized before the num_shards lookup, so
    the cogroup probe reads them instead of re-running the build — and
    the caller's plan is not left in the session's cache."""
    import contextlib
    import io

    from pyspark import StorageLevel

    from fastfilter_spark.operators.dist import (
        build_sharded_table, probe_via_join)

    keys = spark.range(20_000).select(
        F.xxhash64(F.col("id")).alias("key"))
    ftable = build_sharded_table(keys, "key", kind="fuse8", shard_bits=2)
    out = probe_via_join(keys, "key", ftable, num_shards=None)
    assert ftable.storageLevel == StorageLevel.NONE, \
        "the caller's filter table was left in the session cache"
    plan = io.StringIO()
    with contextlib.redirect_stdout(plan):
        out.explain()
    # the build is the FilterBuild aggregate (partial_filterbuild and
    # filterbuild in the plan); the probe reads the checkpointed rows
    assert "filterbuild(" not in plan.getvalue(), \
        "the probe re-runs the build"
    assert out.where(F.col("member")).count() == 20_000


# -- conditional broadcasts ---------------------------------------------------

def test_ngram_decontaminate_sharded_verify_matches_broadcast(spark):
    """shard_bits>0 switches the exact-verify join off the forced
    broadcast (a huge eval set's gram strings can be multi-GB); results
    must be identical to the broadcast path."""
    from fastfilter_spark.operators.dedup import ngram_decontaminate
    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta"),
         (3, "iota kappa lambda mu"), (4, "beta gamma delta epsilon")],
        "doc_id long, text string")
    ev = spark.createDataFrame([("x beta gamma delta y",)], "text string")
    a = sorted(r.doc_id for r in
               ngram_decontaminate(train, ev, n=3).collect())
    b = sorted(r.doc_id for r in
               ngram_decontaminate(train, ev, n=3,
                                   shard_bits=2).collect())
    assert a == b == [2, 3]


def test_boilerplate_broadcast_flag_and_min_docs_guard(spark):
    from fastfilter_spark.operators.dedup import remove_boilerplate_lines
    docs = spark.createDataFrame(
        [(i, "COOKIE BANNER\ncontent %d\nFOOTER" % i) for i in range(6)],
        "doc_id long, text string")
    bc = {r.doc_id: r.text_clean for r in
          remove_boilerplate_lines(docs, min_docs=5).collect()}
    sh = {r.doc_id: r.text_clean for r in
          remove_boilerplate_lines(docs, min_docs=5,
                                   broadcast_boiler=False).collect()}
    assert bc == sh
    assert bc[0] == "content 0"
    with pytest.raises(ValueError, match="min_docs"):
        remove_boilerplate_lines(docs, min_docs=1)


# -- embedding_near_dup empty input -------------------------------------------

def test_embedding_near_dup_empty_input(spark):
    from fastfilter_spark.operators.dedup import embedding_near_dup
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = embedding_near_dup(empty)
    assert out.columns == ["id_a", "id_b", "cosine"]
    assert out.count() == 0


# -- round-4 code-review fixes ------------------------------------------------

def test_bm25_topk_uses_take_ordered_not_global_window(spark):
    """The top-k selection must be TakeOrderedAndProject (per-partition
    heaps); a no-partition window over the full scored set would plan
    Exchange SinglePartition for every scored document."""
    from fastfilter_spark.operators.ranking import bm25_topk
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i} alpha") for i in range(50)],
        "doc_id long, text string").repartition(8)
    q = bm25_topk(docs, ["alpha", "beta"], k=5)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    out = q.collect()
    assert [r.rank for r in out] == [1, 2, 3, 4, 5]


def test_pagerank_unpersists_edge_layout(spark):
    """pagerank must drop its loop-invariant persisted edge table on
    return — only the result's backing cache may remain."""
    from fastfilter_spark.operators.graph import pagerank
    jsc = spark.sparkContext._jsc.sc()
    edges = spark.createDataFrame(
        [(i, (i * 7) % 20) for i in range(60)], "s long, d long")
    before = jsc.getPersistentRDDs().size()
    ranks = pagerank(edges, "s", "d", iterations=2)
    n = ranks.count()
    assert n == 60  # union of 60 srcs and their 20 dsts (subset)
    after = jsc.getPersistentRDDs().size()
    # allowed survivors: the returned rank cache and the node_df
    # lineage cut; the e_deg layout (the big side) must be gone
    assert after - before <= 2, (before, after)


def test_components_nonconvergence_releases_cache(spark):
    """The RuntimeError path must not leak the last round's cache."""
    from fastfilter_spark.operators.graph import connected_components
    jsc = spark.sparkContext._jsc.sc()
    # a long path graph cannot converge in 1 round
    pairs = _pairs(spark, [(i, i + 1) for i in range(40)])
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, "a", "b", max_iter=1)
    after = jsc.getPersistentRDDs().size()
    assert after - before <= 1, (before, after)


def test_audio_zero_length_clip_raises_valueerror(spark):
    """A zero-frame clip must fail with the codec contract's loud
    ValueError, not a bare IndexError from negative indices."""
    from fastfilter_spark.operators.multimodal import audio_frame_sample
    df = spark.createDataFrame([(1, "audio", bytearray(b""))],
                               "media_id long, kind string, payload binary")
    with pytest.raises(Exception) as ei:
        audio_frame_sample(df, n_samples=4, decode="fake").collect()
    assert "zero-length clip" in str(ei.value)


def test_embedding_near_dup_tolerates_null_vectors(spark):
    """Null vectors mixed with real rows must be dropped JVM-side, not
    crash np.stack inside the Arrow batch; an exact-dup pair among the
    non-null rows must still surface."""
    from fastfilter_spark.operators.dedup import embedding_near_dup
    rows = [(1, [1.0, 0.0, 0.0]), (2, None), (3, [1.0, 0.0, 0.0]),
            (4, [0.0, 1.0, 0.0]), (5, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = embedding_near_dup(df, threshold=0.99).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {(1, 3)}


def test_embedding_near_dup_dimension_mismatch_is_loud(spark):
    """A row whose vector length disagrees with the sampled dimension
    must raise a named error, not numpy's bare shape complaint."""
    import pytest as _pytest
    from fastfilter_spark.operators.dedup import embedding_near_dup
    rows = [(1, [1.0, 0.0]), (2, [1.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with _pytest.raises(Exception) as ei:
        embedding_near_dup(df, threshold=0.9).collect()
    assert "sampled dimension" in str(ei.value)


def test_bench_fit_line_budget_ladder():
    """The printed bench line must fit the driver's 2000-char stdout
    capture; fit_line degrades deterministically and names each drop."""
    import json
    import os
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import bench

    big_levels = {str(c): {"build_s": 1.0, "build_per_ref": 0.5,
                           "host_ref_s": [1.234] * 4, "pad": "x" * 300}
                  for c in (2, 8, 32)}
    obj = {"metric": "m" * 100,
           "queries": {f"q{i:02d}": 1.234 for i in range(30)},
           "host_ref_s": [1.1, 1.2, 1.3, 1.4],
           "scaling": {"levels": big_levels,
                       "build_efficiency_2_to_8": 0.84,
                       "probe_efficiency_2_to_8": 0.9},
           "value": 1.0}
    # generous budget: untouched, no truncated marker
    assert bench.fit_line(dict(obj), budget=10_000) == obj
    # default-ish budget: levels drop first, efficiencies survive
    out = bench.fit_line(dict(obj), budget=1000)
    assert "levels" not in out["scaling"]
    assert out["scaling"]["build_efficiency_2_to_8"] == 0.84
    assert out["scaling"]["probe_efficiency_2_to_8"] == 0.9
    assert out["host_ref_s"] == [1.1, 1.2, 1.3, 1.4]
    assert "scaling.levels" in out["truncated"]
    assert len(json.dumps(out)) <= 1000
    # brutal budget: queries shrink to 5, still valid JSON
    out2 = bench.fit_line(dict(obj), budget=400)
    assert len(out2["queries"]) == 5
    assert out2["truncated"] == ["scaling.levels", "metric.shorten",
                                 "queries"]
    assert out2["metric"] == "m" * 40  # derived from the real metric
    assert out2["host_ref_s"] == [1.1, 1.2, 1.3, 1.4]
    assert out2["scaling"]["build_efficiency_2_to_8"] == 0.84
    assert len(json.dumps(out2)) <= 400
    # impossible budget: terminal fallback is minimal but PARSEABLE
    out3 = bench.fit_line(dict(obj), budget=120)
    assert "minimal" in out3["truncated"]
    assert "queries" not in out3 and "scaling" not in out3
    # the input object is not mutated
    assert len(obj["queries"]) == 30 and "truncated" not in obj

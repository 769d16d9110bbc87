"""Scratch-cache registry laws (ADVICE r5): bounded generations per
slot, steady-state reuse for identical plans, release on plan change;
and, for the loop operators that use the registry, a fresh result by
value whenever params or input change within one session."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_ozone_spark import scratch
from hadoop_ozone_spark.datapipe import dedup
from hadoop_ozone_spark.operators import listing


def _agg(spark, n):
    return spark.range(n).withColumn("x", F.col("id") % 7).groupBy("x").count()


def test_same_plan_reuses_cached_frame(spark):
    scratch.fresh("t_reuse")
    a = scratch.keep("t_reuse", _agg(spark, 100))
    a.count()
    scratch.fresh("t_reuse")
    b = scratch.keep("t_reuse", _agg(spark, 100))
    assert a is b  # the previous generation's cache is reused
    assert b.storageLevel.useMemory


def test_plan_change_releases_previous_generation(spark):
    scratch.fresh("t_rel")
    a = scratch.keep("t_rel", _agg(spark, 100))
    a.count()
    scratch.fresh("t_rel")
    c = scratch.keep("t_rel", _agg(spark, 200))
    assert c is not a
    assert not a.storageLevel.useMemory  # old generation released
    assert c.storageLevel.useMemory


def test_multiple_slots_align_by_position(spark):
    scratch.fresh("t_slots")
    a1 = scratch.keep("t_slots", _agg(spark, 100))
    a2 = scratch.keep("t_slots", _agg(spark, 300))
    scratch.fresh("t_slots")
    b1 = scratch.keep("t_slots", _agg(spark, 100))
    b2 = scratch.keep("t_slots", _agg(spark, 300))
    assert a1 is b1 and a2 is b2


def test_keep_ckpt_returns_leaf_and_reuses(spark):
    scratch.fresh("t_ckpt")
    a = scratch.keep_ckpt("t_ckpt", _agg(spark, 100))
    # the registered artifact is a checkpoint LEAF, not the full plan
    assert "LogicalRDD" in a._jdf.queryExecution().analyzed().toString()
    scratch.fresh("t_ckpt")
    b = scratch.keep_ckpt("t_ckpt", _agg(spark, 100))
    assert a is b  # steady state: one checkpoint serves both calls
    scratch.fresh("t_ckpt")
    c = scratch.keep_ckpt("t_ckpt", _agg(spark, 200))
    assert c is not a  # plan change: new generation


def _chain_pairs(spark, first, n):
    """Dup edges of an n-node chain first - first+1 - ... - first+n-1."""
    return spark.createDataFrame(
        [(i, i + 1) for i in range(first, first + n - 1)],
        "doc_a long, doc_b long",
    )


def _link_chain(spark, vol, hops):
    """Bucket links vol/b0 -> vol/b1 -> ... -> vol/b{hops}, the last
    bucket not a link."""
    return spark.createDataFrame(
        [(vol, f"b{i}", vol, f"b{i + 1}") for i in range(hops)]
        + [(vol, f"b{hops}", None, None)],
        "volume string, bucket string, source_volume string, "
        "source_bucket string",
    )


def test_loop_operators_follow_changed_params(spark):
    """A second call in the same session with a different iteration
    cap computes its own result: too few rounds leave the 16-node chain
    split, enough rounds label every node with the chain's minimum."""
    pairs = _chain_pairs(spark, 1, 16)
    for op, label in (
        (dedup.connected_dedup_groups, "group_id"),
        (dedup.dedup_clusters, "cluster_id"),
    ):
        short = {r["doc_id"]: r[label] for r in op(pairs, max_iters=1).collect()}
        full = {r["doc_id"]: r[label] for r in op(pairs, max_iters=20).collect()}
        assert short != full, op.__name__
        assert full == {i: 1 for i in range(1, 17)}, op.__name__


def test_resolve_bucket_links_follows_changed_depth(spark):
    buckets = _link_chain(spark, "v", 3)

    def b0(max_depth):
        rows = listing.resolve_bucket_links(buckets, max_depth=max_depth)
        return rows.filter("bucket = 'b0'").collect()[0]

    shallow = b0(2)  # 3 hops do not fit in 2
    assert shallow["is_loop"] and shallow["resolved_bucket"] == "b2"
    deep = b0(4)
    assert not deep["is_loop"]
    assert (deep["resolved_bucket"], deep["depth"]) == ("b3", 3)


def test_interleaved_builds_keep_their_own_rows(spark):
    """Build on input A, then on input B, then run an action on A: A's
    rows equal a serial run of A, although both builds share the
    operators' scratch tags."""
    pairs_a, pairs_b = _chain_pairs(spark, 1, 9), _chain_pairs(spark, 100, 5)
    for op, a_in, b_in in (
        (dedup.connected_dedup_groups, pairs_a, pairs_b),
        (dedup.dedup_clusters, pairs_a, pairs_b),
        (listing.resolve_bucket_links, _link_chain(spark, "v", 3),
         _link_chain(spark, "w", 1)),
    ):
        serial = sorted(op(a_in).collect())
        a = op(a_in)
        b = op(b_in)
        assert sorted(b.collect()) == sorted(op(b_in).collect())
        assert sorted(a.collect()) == serial, op.__name__

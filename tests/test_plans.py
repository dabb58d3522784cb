"""Physical-plan assertions: the shapes that matter at 100 TB must not
regress — broadcast where broadcast belongs, no redundant exchanges,
filters pushed to the parquet scan."""

from pyspark.sql import functions as F

from go_dcp_kafka_spark.operators.fold import fold_change_events, hwm_filter
from go_dcp_kafka_spark.sources.changelog import read_change_log


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_hwm_filter_is_broadcast(spark, log_dir):
    from go_dcp_kafka_spark.streaming.runner import HWM_SCHEMA, _driver_frame

    events = read_change_log(spark, log_dir).filter(F.col("op") != "rollback")
    hwm = _driver_frame(spark, [(0, 10)], HWM_SCHEMA)
    plan = _plan(hwm_filter(events, hwm))
    assert "BroadcastHashJoin" in plan
    # the event stream itself must not shuffle for the dedup
    assert "Exchange hashpartitioning" not in plan
    # the watermark is a driver-local frame: no Python-RDD scan per epoch
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_merge_antijoin_broadcasts_update_keys(spark, tmp_path):
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), 4)
    base = spark.createDataFrame([(i, f"v{i}") for i in range(1000)], ["k", "v"])
    t.merge(base, None, epoch_id="e0")
    # capture the plan of the second merge's kept-rows computation
    ups = spark.createDataFrame([(1, "x")], ["k", "v"])
    m = t._load_manifest()
    from pyspark.sql import functions as F

    from go_dcp_kafka_spark.table.snapshot import _bucket_expr

    bexpr = _bucket_expr(("k",), t.num_buckets)
    keys = ups.withColumn("_bucket", bexpr).select("k", "_bucket")
    current = t._read_buckets(m, [0, 1, 2, 3])
    kept = current.withColumn("_bucket", bexpr).join(
        F.broadcast(keys), on=["k", "_bucket"], how="left_anti"
    )
    plan = _plan(kept)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # target table is NOT shuffled for the anti-join
    assert "Exchange hashpartitioning" not in plan


def test_merge_sizes_key_broadcast_from_its_own_count(spark, tmp_path, monkeypatch):
    """merge takes no key-count hint: the count its touched-bucket job
    collects (upsert keys plus delete keys) is what decides the anti-join's
    key broadcast."""
    from go_dcp_kafka_spark.table import snapshot

    t = snapshot.SnapshotTable(spark, str(tmp_path / "t"), ("k",), 4)
    t.merge(spark.createDataFrame([(i, f"v{i}") for i in range(100)], ["k", "v"]), None, epoch_id="e0")
    seen = []
    real = snapshot._should_broadcast_keys

    def spy(schema, n_keys):
        seen.append(n_keys)
        return real(schema, n_keys)

    monkeypatch.setattr(snapshot, "_should_broadcast_keys", spy)
    res = t.merge(
        spark.createDataFrame([(1, "x"), (2, "y"), (200, "z")], ["k", "v"]),
        spark.createDataFrame([(5,)], "k long"),
        epoch_id="e1",
    )
    assert res["n_upserts"] == 4
    assert seen == [4]
    assert {r["k"]: r["v"] for r in t.read().filter("k in (1, 2, 5, 200)").collect()} == {
        1: "x", 2: "y", 200: "z",
    }


def test_aligned_overwrite_has_no_extra_exchange(spark, log_dir, tmp_path):
    """The fold's groupBy partitioning doubles as the bucket layout: the
    write plan must contain exactly the fold's one exchange, none added."""
    from go_dcp_kafka_spark.table.snapshot import _bucket_expr

    events = read_change_log(spark, log_dir)
    final = fold_change_events(events)
    with_bucket = final.withColumn("_bucket", _bucket_expr(("conv_id", "turn_idx"), 8))
    plan = _plan(with_bucket)
    assert plan.count("Exchange hashpartitioning") == 1


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1995-01-01").select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: only the needed columns in ReadSchema
    assert "l_extendedprice" not in plan.split("ReadSchema")[1][:200]


def test_topk_uses_take_ordered(spark):
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    q = o.orderBy(F.desc("o_totalprice")).limit(5)
    assert "TakeOrderedAndProject" in _plan(q)


def test_cdc_to_profile_adds_no_exchange(spark):
    """The fold->profile composition must keep exactly the fold's single
    hash exchange: the text profile is a pure projection on top."""
    import __spark_entry__ as e

    plan = _plan(e.q_cdc_to_profile(spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange hashpartitioning") == 1


def test_ivf_materialized_prunes_partitions(spark, tmp_path):
    """Search over the materialized cell-partitioned table must prune at the
    FILE level: the probe filter appears as a PartitionFilter (not a
    DataFilter) and only the probed cells' files are read — the property
    inline ivf_topk cannot have (it computes cell per-row after scanning
    everything), and the whole point of IVF at 10^10 vectors."""
    from go_dcp_kafka_spark.functions.similarity import (
        ivf_topk,
        ivf_topk_materialized,
        materialize_ivf,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    path = str(tmp_path / "ivf")
    materialize_ivf(emb, cents, path)
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    df = ivf_topk_materialized(spark, path, qv, k=5, nprobe=2)
    plan = _plan(df)  # pre-execution string (AQE reformats after collect)
    got = df.collect()
    # exactly one scan in this plan (centroids were a separate collect)
    scan_line = [ln for ln in plan.splitlines() if "FileScan" in ln][0]
    assert "PartitionFilters: [" in scan_line and "cell" in scan_line.split("PartitionFilters")[1][:80]
    # the probe filter is NOT a post-scan data filter
    assert "DataFilters: []" in scan_line
    # PHYSICAL pruning: the executed scan read only the 2 probed cell dirs
    import os

    n_cells = len([d for d in os.listdir(os.path.join(path, "corpus")) if d.startswith("cell=")])

    def scan_metric(node, key):
        if "Scan" in node.nodeName():
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == key:
                    return kv._2().value()
        for i in range(node.children().size()):
            v = scan_metric(node.children().apply(i), key)
            if v is not None:
                return v
        return None

    n_read = scan_metric(df._jdf.queryExecution().executedPlan(), "numPartitions")
    assert n_cells == 8 and n_read == 2, f"read {n_read} of {n_cells} cells"
    # and the result matches the inline (scan-everything) implementation
    inline = ivf_topk(emb, qv, k=5, n_centroids=8, nprobe=2)
    assert [tuple(r) for r in got] == [tuple(r) for r in inline.collect()]


def test_ivf_assign_is_shuffle_free(spark):
    """IVF cell assignment must be a pure projection over the corpus scan:
    no Window, no hashpartitioning Exchange; the only exchanges allowed are
    on the K-row centroid side (SinglePartition + Broadcast)."""
    from go_dcp_kafka_spark.functions.similarity import ivf_assign

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    plan = _plan(ivf_assign(emb, cents))
    assert "Window" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row centroid-array join
    # argmax fold picks the same cells the old crossJoin+window picked
    from pyspark.sql import Window

    j = emb.select("vec_id", "embedding").crossJoin(F.broadcast(cents))
    from go_dcp_kafka_spark.functions.similarity import cosine_expr

    scored = j.select(
        "vec_id", "cid", F.round(cosine_expr(F.col("embedding"), F.col("ce")), 6).alias("c")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("c"), F.col("cid"))
    ref = {
        r["vec_id"]: r["cid"]
        for r in scored.withColumn("rn", F.row_number().over(w)).filter("rn = 1").collect()
    }
    got = {r["vec_id"]: r["cell"] for r in ivf_assign(emb, cents).collect()}
    assert got == ref


def _walk_metric_sum(node, key, node_substr):
    """Sum metric ``key`` over executed-plan nodes whose name contains
    ``node_substr``, descending through AQE wrappers (AdaptiveSparkPlan's
    final plan, materialized query stages)."""
    name = node.nodeName()
    if name.startswith("AdaptiveSparkPlan"):
        return _walk_metric_sum(node.finalPhysicalPlan(), key, node_substr)
    total = 0
    if node_substr in name:
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() == key:
                total += kv._2().value()
    if "QueryStage" in name:
        total += _walk_metric_sum(node.plan(), key, node_substr)
    for i in range(node.children().size()):
        total += _walk_metric_sum(node.children().apply(i), key, node_substr)
    return total


def test_mor_read_resolution_is_bucket_local(spark, tmp_path):
    """With outstanding deltas, read() must NOT shuffle the whole table:
    untouched base buckets pass through scan-only; only the delta-touched
    buckets' rows enter the LWW group-by exchange (r3 verdict item 1)."""
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=8)
    base = spark.createDataFrame([(i, f"v{i}") for i in range(400)], ["k", "v"])
    t.overwrite(base, epoch_id="b0")
    t.merge_mor(spark.createDataFrame([(7, "new")], ["k", "v"]), None, epoch_id="d1")
    df = t.read()
    got = {r["k"]: r["v"] for r in df.collect()}
    assert len(got) == 400 and got[7] == "new" and got[8] == "v8"
    shuffled = _walk_metric_sum(
        df._jdf.queryExecution().executedPlan(), "recordsRead", "Exchange"
    )
    # 400 rows over 8 buckets => ~50/bucket; only the one touched bucket
    # (+1 delta row) may shuffle — a full-table resolve would shuffle 401
    assert 0 < shuffled <= 120, f"LWW resolve shuffled {shuffled} rows (expected only the touched bucket)"


def test_read_keys_prunes_bucket_dirs(spark, tmp_path):
    """read_keys must scan only the probed keys' bucket dirs (executed-scan
    file metrics), and equal read().join(keys, semi)."""
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=8)
    base = spark.createDataFrame([(i, f"v{i}") for i in range(400)], ["k", "v"])
    t.overwrite(base, epoch_id="b0")
    n_base_files = _walk_metric_sum(
        t.read()._jdf.queryExecution().executedPlan(), "numFiles", "Scan"
    ) or 8  # metric present only post-collect; overwrite wrote 1 file/bucket
    keys = spark.createDataFrame([(7,), (123,)], ["k"])
    df = t.read_keys(keys)
    got = sorted(tuple(r) for r in df.collect())
    expected = sorted(
        tuple(r) for r in t.read().join(keys, "k", "left_semi").collect()
    )
    assert got == expected and len(got) == 2
    n_files = _walk_metric_sum(
        df._jdf.queryExecution().executedPlan(), "numFiles", "Scan"
    )
    assert 0 < n_files <= 2 < 8, f"read_keys scanned {n_files} files (probed 2 of 8 buckets)"


def test_read_keys_resolves_mor_deltas_bucket_locally(spark, tmp_path):
    """Point lookups stay correct (and pruned) with outstanding deltas."""
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=8)
    t.overwrite(spark.createDataFrame([(i, f"v{i}") for i in range(400)], ["k", "v"]), epoch_id="b0")
    t.merge_mor(spark.createDataFrame([(7, "new7")], ["k", "v"]), None, epoch_id="d1")
    t.merge_mor(None if False else spark.createDataFrame([(9, "new9")], ["k", "v"]),
                spark.createDataFrame([(123,)], ["k"]), epoch_id="d2")
    keys = spark.createDataFrame([(7,), (9,), (123,), (55,)], ["k"])
    got = {r["k"]: r["v"] for r in t.read_keys(keys).collect()}
    assert got == {7: "new7", 9: "new9", 55: "v55"}  # 123 deleted


def test_read_keys_pushes_key_predicate_with_sorted_buckets(spark, tmp_path):
    """With sort_within_buckets, read_keys pushes the first key column as an
    IN predicate to the parquet scan (row-group skipping via selective
    min/max stats) and results stay exact."""
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=4, sort_within_buckets=True)
    t.overwrite(spark.createDataFrame([(i, f"v{i}") for i in range(400)], ["k", "v"]), epoch_id="b0")
    keys = spark.createDataFrame([(7,), (250,)], ["k"])
    df = t.read_keys(keys)
    plan = _plan(df)
    scan_line = [ln for ln in plan.splitlines() if "FileScan" in ln][0]
    pushed = scan_line.split("PushedFilters")[1][:80]
    assert "In(k, [" in pushed and "7" in pushed and "250" in pushed, scan_line
    assert sorted(tuple(r) for r in df.collect()) == [(7, "v7"), (250, "v250")]


def test_read_changes_is_manifest_pruned(spark, tmp_path):
    """read_changes between adjacent snapshots must read only the buckets
    whose manifest refs differ — a one-bucket COW merge means ~1 base file
    per side enters the diff join, not the full table on both sides
    (r4 verdict item 1: the CDC-consumer poll must be O(changed))."""
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=8)
    t.overwrite(spark.createDataFrame([(i, f"v{i}") for i in range(400)], ["k", "v"]), epoch_id="b0")
    v1 = t.version()
    t.merge(spark.createDataFrame([(7, "new7")], ["k", "v"]), None, epoch_id="e1")
    v2 = t.version()
    df = t.read_changes(v1, v2)
    got = [(r["k"], r["v"], r["_change"]) for r in df.collect()]
    assert got == [(7, "new7", "update")]
    n_files = _walk_metric_sum(
        df._jdf.queryExecution().executedPlan(), "numFiles", "Scan"
    )
    # only key 7's bucket read on each side (1 file/bucket from overwrite;
    # an unpruned diff would scan 8 + 8)
    assert 0 < n_files <= 3 < 16, f"read_changes scanned {n_files} files (expected only the changed bucket per side)"


def test_read_changes_pruned_with_mor_deltas(spark, tmp_path):
    """Delta signatures participate in the manifest diff: a bucket touched
    by a NEW delta counts as changed; identical outstanding deltas on both
    sides do not."""
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=8)
    t.overwrite(spark.createDataFrame([(i, f"v{i}") for i in range(400)], ["k", "v"]), epoch_id="b0")
    t.merge_mor(spark.createDataFrame([(7, "d7")], ["k", "v"]), None, epoch_id="d1")
    v1 = t.version()
    t.merge_mor(spark.createDataFrame([(9, "d9")], ["k", "v"]),
                spark.createDataFrame([(123,)], ["k"]), epoch_id="d2")
    v2 = t.version()
    df = t.read_changes(v1, v2)
    got = {r["k"]: (r["v"], r["_change"]) for r in df.collect()}
    # d1's bucket (key 7) is outstanding on BOTH sides -> identical
    # signature -> pruned; only d2's buckets (9 update, 123 delete) differ
    assert got == {9: ("d9", "update"), 123: (None, "delete")}
    changed = t._changed_buckets(t._manifest_at(v1), t._manifest_at(v2))
    assert changed is not None and len(changed) <= 2


def test_read_changes_falls_back_across_rebucket(spark, tmp_path):
    """Rebucketing between the snapshots changes the key hash — pruning is
    impossible and read_changes must fall back to the full diff, correctly."""
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=4)
    t.overwrite(spark.createDataFrame([(i, f"v{i}") for i in range(100)], ["k", "v"]), epoch_id="b0")
    v1 = t.version()
    t.rebucket(8)
    t.merge(spark.createDataFrame([(3, "new3")], ["k", "v"]), None, epoch_id="e1")
    v2 = t.version()
    assert t._changed_buckets(t._manifest_at(v1), t._manifest_at(v2)) is None
    got = [(r["k"], r["v"], r["_change"]) for r in t.read_changes(v1, v2).collect()]
    assert got == [(3, "new3", "update")]


def test_dedup_segments_first_occurrence_is_partial_aggregate(spark):
    """First-occurrence selection must be a map-side-combinable aggregate on
    the segment key, NOT a row_number window (which routes every occurrence
    of a Zipf-hot boilerplate segment into one task — r4 verdict item 2)."""
    from go_dcp_kafka_spark.functions.corpus import dedup_segments

    docs = spark.createDataFrame(
        [(f"d{i}", "common header words repeated a lot here plus unique tail %d" % i) for i in range(20)],
        ["doc_id", "text"],
    )
    plan = _plan(dedup_segments(docs))
    assert "Window" not in plan, "dedup_segments regressed to a window"
    # partial (map-side) aggregate keyed by seg, before the exchange
    assert "partial_min" in plan or "HashAggregate(keys=[seg" in plan, plan[:2000]


def test_read_keys_handles_null_probe_keys(spark, tmp_path):
    """Null-keyed probe rows no longer TypeError the IN pushdown (ADVICE
    r4); they match nothing, consistent with read().join(keys, semi)."""
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=4)
    t.overwrite(spark.createDataFrame([(i, f"v{i}") for i in range(50)], ["k", "v"]), epoch_id="b0")
    keys = spark.createDataFrame([(7,), (None,), (11,)], "k int")
    got = sorted(tuple(r) for r in t.read_keys(keys).collect())
    assert got == [(7, "v7"), (11, "v11")]
    # all-null probe: empty result, no crash
    assert t.read_keys(spark.createDataFrame([(None,)], "k int")).count() == 0


def test_broadcast_key_budget_row_cap():
    """Forced key broadcast is capped by rows as well as estimated bytes
    (ADVICE r4: 1M multi-KB string keys passed the 64MB flat estimate)."""
    from pyspark.sql import types as T

    from go_dcp_kafka_spark.table.snapshot import _should_broadcast_keys

    s = T.StructType([T.StructField("k", T.StringType())])
    assert _should_broadcast_keys(s, 10_000)
    assert not _should_broadcast_keys(s, 600_000)  # over the row cap


def test_read_changes_appended_delta_fast_path(spark, tmp_path):
    """The common consumer poll (only MOR deltas appended since
    from_version) must read ONLY the delta files + the probed old row
    groups — not both sides' full bucket states (r5 fast path)."""
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=8)
    t.overwrite(spark.createDataFrame([(i, f"v{i}") for i in range(400)], ["k", "v"]), epoch_id="b0")
    v1 = t.version()
    t.merge_mor(spark.createDataFrame([(7, "new7")], ["k", "v"]), None, epoch_id="d1")
    assert t._appended_delta_entries(t._manifest_at(v1), t._load_manifest()) is not None
    df = t.read_changes(v1)
    got = [(r["k"], r["v"], r["_change"]) for r in df.collect()]
    assert got == [(7, "new7", "update")]
    n_files = _walk_metric_sum(df._jdf.queryExecution().executedPlan(), "numFiles", "Scan")
    # 1 delta file + 1 old bucket file; the generic pruned path would read 3
    # (old bucket + new bucket + delta for the resolve)
    assert 0 < n_files <= 2, f"fast path scanned {n_files} files"
    # after a compact the appended-prefix shape is gone -> generic path
    t.compact()
    t.merge(spark.createDataFrame([(9, "c9")], ["k", "v"]), None, epoch_id="e2")
    assert t._appended_delta_entries(t._manifest_at(v1), t._load_manifest()) is None
    got2 = {r["k"]: (r["v"], r["_change"]) for r in t.read_changes(v1).collect()}
    assert got2 == {7: ("new7", "update"), 9: ("c9", "update")}


def test_read_changes_fast_path_semantics(spark, tmp_path):
    """Fast-path LWW across several appended epochs: last write wins,
    insert-then-delete collapses to nothing, delete-of-absent is silent,
    no-op rewrites report nothing, schema-added columns align."""
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=4)
    t.overwrite(spark.createDataFrame([(1, "a1"), (2, "a2"), (3, "a3")], ["k", "v"]), epoch_id="b0")
    v1 = t.version()
    # epoch 1: update k1, insert k10, no-op rewrite k3, delete absent k99
    t.merge_mor(
        spark.createDataFrame([(1, "b1"), (10, "b10"), (3, "a3")], ["k", "v"]),
        spark.createDataFrame([(99,)], "k long"), epoch_id="d1",
    )
    # epoch 2: re-update k1, delete the k10 just inserted, schema-add col w
    t.merge_mor(
        spark.createDataFrame([(1, "c1", "w1")], ["k", "v", "w"]),
        spark.createDataFrame([(10,)], "k long"), epoch_id="d2",
    )
    assert t._appended_delta_entries(t._manifest_at(v1), t._load_manifest()) is not None
    got = {r["k"]: (r["v"], r["w"], r["_change"]) for r in t.read_changes(v1).collect()}
    # k1: one row, the LAST value; k10 insert+delete: absent; k3 no-op:
    # absent; k99 delete-of-absent: absent
    assert got == {1: ("c1", "w1", "update")}
    # equivalence with the generic diff, forced by disabling the fast path
    orig = type(t)._appended_delta_entries
    try:
        type(t)._appended_delta_entries = lambda self, a, b: None
        slow = {r["k"]: (r["v"], r["w"], r["_change"]) for r in t.read_changes(v1).collect()}
    finally:
        type(t)._appended_delta_entries = orig
    assert slow == got

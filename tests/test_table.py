"""SnapshotTable + CheckpointStore unit semantics (SURVEY §2.3 A5-A7)."""

import glob
import os

import pandas as pd
from pyspark.sql import functions as F

from go_dcp_kafka_spark.operators.salting import salt_col, salted_repartition, two_phase_agg
from go_dcp_kafka_spark.streaming.checkpoints import CheckpointStore
from go_dcp_kafka_spark.table.snapshot import SnapshotTable


def _mk(spark, tmp_path, rows, buckets=4):
    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), buckets)
    df = spark.createDataFrame(rows, ["k", "v"])
    t.merge(df, None, epoch_id="e0")
    return t


def test_merge_upsert_delete_and_bucket_pruning(spark, tmp_path):
    t = _mk(spark, tmp_path, [(i, f"v{i}") for i in range(100)])
    v1 = t.version()
    # upsert 3, delete 2
    ups = spark.createDataFrame([(1, "NEW"), (2, "NEW")], ["k", "v"])
    dels = spark.createDataFrame([(3,), (4,)], ["k"])
    res = t.merge(ups, dels, epoch_id="e1")
    assert not res["skipped"]
    # only buckets containing keys 1..4 rewritten
    assert 0 < len(res["touched_buckets"]) <= 4
    out = {r["k"]: r["v"] for r in t.read().collect()}
    assert out[1] == "NEW" and out[2] == "NEW"
    assert 3 not in out and 4 not in out and len(out) == 98
    assert t.version() == v1 + 1


def test_schema_evolution_merge(spark, tmp_path):
    t = _mk(spark, tmp_path, [(i, f"v{i}") for i in range(10)])
    ups = spark.createDataFrame([(1, "x", "extra")], ["k", "v", "meta"])
    t.merge(ups, None, epoch_id="e1")
    df = t.read()
    assert "meta" in df.columns
    rows = {r["k"]: r["meta"] for r in df.collect()}
    assert rows[1] == "extra"
    assert all(v is None for k, v in rows.items() if k != 1)


def test_expire_snapshots(spark, tmp_path):
    t = _mk(spark, tmp_path, [(i, "a") for i in range(20)])
    for e in range(3):
        ups = spark.createDataFrame([(1, f"u{e}")], ["k", "v"])
        t.merge(ups, None, epoch_id=f"up{e}")
    data_root = str(tmp_path / "t" / "data")
    before = len(os.listdir(data_root))
    t.expire_snapshots(keep_last=0)
    after = len(os.listdir(data_root))
    assert after < before
    # table still fully readable after GC
    assert t.read().count() == 20
    assert {r["v"] for r in t.read().filter("k = 1").collect()} == {"u2"}


def test_checkpoint_store_lww_and_backfill(tmp_path):
    cs = CheckpointStore(str(tmp_path / "ck"))
    cs.commit(pd.DataFrame({"partition_id": [0, 1], "hwm_seqno": [10, 20]}), "r:0")
    cs.commit(pd.DataFrame({"partition_id": [1, 2], "hwm_seqno": [25, 5]}), "r:1")
    m = cs.hwm_map()
    assert m == {0: 10, 1: 25, 2: 5}  # LWW per partition, dirty-only writes
    # re-delivered epoch ignored (idempotent)
    cs.commit(pd.DataFrame({"partition_id": [0], "hwm_seqno": [999]}), "r:1")
    assert cs.hwm_map()[0] == 10
    # empty-doc backfill (kafka_metadata.go:121-126 analog)
    bf = cs.load_backfilled([0, 1, 2, 3, 4])
    assert bf[bf.partition_id == 3]["hwm_seqno"].iloc[0] == -1
    assert len(bf) == 5


def test_salted_repartition_spreads_hot_key(spark):
    df = spark.createDataFrame(
        [("hot", i) for i in range(2000)] + [("cold", i) for i in range(10)],
        ["conv_id", "turn_idx"],
    )
    out = salted_repartition(df, "conv_id", "turn_idx", buckets=8, n_partitions=8)
    from pyspark.sql.functions import spark_partition_id

    spread = (
        out.filter("conv_id = 'hot'")
        .select(spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert spread >= 4, f"hot key landed in only {spread} partitions"
    # deterministic salt: same row -> same salt on recompute (replay-safe)
    s1 = df.select(salt_col("turn_idx", 8).alias("s")).collect()
    s2 = df.select(salt_col("turn_idx", 8).alias("s")).collect()
    assert s1 == s2


def test_two_phase_agg_matches_plain(spark):
    df = spark.createDataFrame(
        [("hot", i, float(i)) for i in range(5000)] + [("c", 1, 2.0)],
        ["conv_id", "turn_idx", "x"],
    )
    plain = {
        r["conv_id"]: (r["n"], r["mx"])
        for r in df.groupBy("conv_id").agg(F.count("x").alias("n"), F.max("x").alias("mx")).collect()
    }
    salted = {
        r["conv_id"]: (r["n"], r["mx"])
        for r in two_phase_agg(df, "conv_id", {"n": ("x", "count"), "mx": ("x", "max")}).collect()
    }
    assert plain == salted


def test_sink_compression_codecs(spark, tmp_path):
    """Producer-compression parity (client.go:202-218): the sink codec is
    configurable per table and actually applied to the written files."""
    import glob
    import os

    import pyarrow.parquet as pq

    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    rows = spark.createDataFrame([(i, f"v{i}") for i in range(100)], ["k", "v"])
    for codec, arrow_name in (("zstd", "ZSTD"), ("gzip", "GZIP"), ("snappy", "SNAPPY")):
        t = SnapshotTable(spark, str(tmp_path / codec), ("k",), 4, compression=codec)
        t.merge(rows, None, epoch_id="e0")
        f = glob.glob(os.path.join(str(tmp_path / codec), "data", "**", "*.parquet"), recursive=True)[0]
        meta = pq.ParquetFile(f).metadata
        assert meta.row_group(0).column(0).compression == arrow_name
        assert t.read().count() == 100

    import pytest

    with pytest.raises(ValueError, match="compression"):
        SnapshotTable(spark, str(tmp_path / "bad"), ("k",), 4, compression="brotli9000")


def test_time_travel_reads(spark, tmp_path):
    """Iceberg time-travel analog: every commit retains its snapshot
    manifest; read(version=N) reproduces the state as of snapshot N;
    expire_snapshots keeps the last K snapshots readable and GCs the rest."""
    import pytest

    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "tt"), ("k",), 4)
    t.merge(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), None, epoch_id="e1")
    t.merge(spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"]), None, epoch_id="e2")
    t.merge(spark.createDataFrame([(1, "A")], ["k", "v"]), None, epoch_id="e3")

    def state(df):
        return {r["k"]: r["v"] for r in df.collect()}

    assert t.versions() == [1, 2, 3]
    assert state(t.read(version=1)) == {1: "a", 2: "b"}
    assert state(t.read(version=2)) == {1: "a", 2: "B", 3: "c"}
    assert state(t.read(version=3)) == state(t.read()) == {1: "A", 2: "B", 3: "c"}

    t.expire_snapshots(keep_last=2)
    assert t.versions() == [2, 3]
    assert state(t.read(version=2)) == {1: "a", 2: "B", 3: "c"}  # still readable
    with pytest.raises(ValueError, match="snapshot v1"):
        t.read(version=1)
    assert state(t.read()) == {1: "A", 2: "B", 3: "c"}


def test_time_travel_by_epoch(spark, tmp_path):
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "te"), ("k",), 4)
    t.merge(spark.createDataFrame([(1, "a")], ["k", "v"]), None, epoch_id="run:1")
    t.merge(spark.createDataFrame([(1, "b")], ["k", "v"]), None, epoch_id="run:2")
    assert {r["v"] for r in t.read(as_of_epoch="run:1").collect()} == {"a"}
    assert {r["v"] for r in t.read(as_of_epoch="run:2").collect()} == {"b"}
    import pytest

    with pytest.raises(ValueError, match="never committed"):
        t.read(as_of_epoch="run:99")


def test_read_changes_incremental_scan(spark, tmp_path):
    """Changelog read between snapshots: inserts/updates/deletes exactly, no
    unchanged rows; schema evolution between the versions reads as updates
    only where values differ."""
    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), 4)
    t.merge(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"]),
            None, epoch_id="e:1")
    v1 = t.version()
    dels = spark.createDataFrame([(3,)], ["k"])
    t.merge(spark.createDataFrame([(2, "B"), (4, "d")], ["k", "v"]), dels,
            epoch_id="e:2")
    got = {r["k"]: (r["v"], r["_change"]) for r in t.read_changes(v1).collect()}
    assert got == {2: ("B", "update"), 3: (None, "delete"), 4: ("d", "insert")}
    # explicit to_version + unchanged row (k=1) stays absent
    assert 1 not in got
    assert t.read_changes(v1, t.version()).count() == 3
    # same-version diff is empty
    assert t.read_changes(t.version()).count() == 0
    # schema evolution across the diff: new column arrives in v3
    t.merge(
        spark.createDataFrame([(1, "a", "x")], ["k", "v", "extra"]),
        None, epoch_id="e:3",
    )
    ch = {r["k"]: (r["v"], r["extra"], r["_change"]) for r in t.read_changes(v1).collect()}
    assert ch[1] == ("a", "x", "update")   # same v, new extra value => update
    assert ch[4] == ("d", None, "insert")


def test_read_keys_equals_semi_join_across_states(spark, tmp_path):
    """read_keys ≡ read().join(keys, semi) across table states: fresh base,
    outstanding deltas (upserts + deletes), post-compaction, composite keys."""
    import random

    from pyspark.sql import functions as F

    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    rng = random.Random(7)
    t = SnapshotTable(spark, str(tmp_path / "t"), ("cid", "tid"), num_buckets=8)
    base = [(f"c{i % 37}", i // 37, f"v{i}") for i in range(300)]
    t.overwrite(spark.createDataFrame(base, ["cid", "tid", "v"]), epoch_id="b0")

    def check(tag):
        probe = [(f"c{rng.randrange(40)}", rng.randrange(10)) for _ in range(12)]
        keys = spark.createDataFrame(probe, ["cid", "tid"])
        got = sorted(tuple(r) for r in t.read_keys(keys).collect())
        exp = sorted(
            tuple(r) for r in t.read().join(keys.distinct(), ["cid", "tid"], "left_semi").collect()
        )
        assert got == exp, f"{tag}: {got} != {exp}"

    check("base")
    ups = [(f"c{i % 37}", i // 37, f"u{i}") for i in range(0, 300, 7)]
    t.merge_mor(spark.createDataFrame(ups, ["cid", "tid", "v"]),
                spark.createDataFrame([("c1", 0), ("c2", 0)], ["cid", "tid"]),
                epoch_id="d1")
    check("with-deltas")
    t.compact()
    check("post-compaction")


def test_read_changes_epoch_addressing(spark, tmp_path):
    """read_changes(from_epoch=...) resolves committed epoch ids to snapshot
    versions — the CDC-consumer handle ('what changed since the epoch I
    last processed'); unknown epochs raise."""
    import pytest as _pytest

    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=4)
    t.merge(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), None, epoch_id="run:0")
    t.merge(spark.createDataFrame([(2, "b2"), (3, "c")], ["k", "v"]), None, epoch_id="run:1")
    ch = {r["k"]: r["_change"] for r in t.read_changes(from_epoch="run:0").collect()}
    assert ch == {2: "update", 3: "insert"}
    by_version = {r["k"]: r["_change"] for r in t.read_changes(from_version=1).collect()}
    assert by_version == ch
    assert t.read_changes(from_epoch="run:0", to_epoch="run:1").count() == 2
    with _pytest.raises(ValueError):
        t.read_changes(from_epoch="nope:9")
    with _pytest.raises(ValueError):
        t.read_changes()


def test_key_type_alignment_prevents_wrong_bucketing(spark, tmp_path):
    """murmur3 is type-sensitive (hash(7::int) != hash(7::bigint)): probes
    and merge batches carrying differently-typed keys must be cast to the
    recorded key type, or they bucket into the wrong dirs (r4 review)."""
    from pyspark.sql import types as T

    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=8)
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)],
        T.StructType([T.StructField("k", T.IntegerType()), T.StructField("v", T.StringType())]),
    )
    t.overwrite(base, epoch_id="b0")
    # long-typed probe against the int-keyed table
    probe = spark.createDataFrame([(7,), (55,)], "k long")
    got = sorted(tuple(r) for r in t.read_keys(probe).collect())
    assert got == [(7, "v7"), (55, "v55")], got
    # long-typed COW upsert: must REPLACE, not duplicate
    t.merge(spark.createDataFrame([(7, "new7")], "k long, v string"), None, epoch_id="e1")
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert len(rows) == 100 and rows[7] == "new7"
    # long-typed MOR upsert: bucket-local read must still resolve it
    t.merge_mor(spark.createDataFrame([(8, "new8")], "k long, v string"), None, epoch_id="e2")
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert len(rows) == 100 and rows[8] == "new8"


def test_cow_merge_never_narrows_recorded_schema(spark, tmp_path):
    """A COW merge whose batch misses an evolved column (or touches only
    empty buckets) must not erase that column from the recorded schema —
    reads trust it (r4 review)."""
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=4)
    t.overwrite(spark.createDataFrame([(1, "a", "w1")], ["k", "v", "w"]), epoch_id="b0")
    t.merge(spark.createDataFrame([(2, "b")], ["k", "v"]), None, epoch_id="e1")
    out = {r["k"]: (r["v"], r["w"]) for r in t.read().collect()}
    assert out == {1: ("a", "w1"), 2: ("b", None)}


def test_rename_column_metadata_only(spark, tmp_path):
    """rename_column is a metadata-only op (r4 verdict item 7): no data
    rewrite, old-era files aliased at read, later writes carry the new name,
    old snapshots keep the old name, and the documented contract holds
    (old-name write after rename = fresh column; key renames refused;
    outstanding deltas refused)."""
    import os

    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=4)
    t.overwrite(spark.createDataFrame([(i, f"v{i}", i * 10) for i in range(100)], ["k", "v", "w"]), epoch_id="b0")
    v1 = t.version()
    files_before = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(tmp_path / "t" / "data")
        for f in fs
        if f.endswith(".parquet")
    )

    res = t.rename_column("v", "val")
    # no data rewritten
    files_after = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(tmp_path / "t" / "data")
        for f in fs
        if f.endswith(".parquet")
    )
    assert files_after == files_before
    got = {r["k"]: (r["val"], r["w"]) for r in t.read().collect()}
    assert got[7] == ("v7", 70) and len(got) == 100
    assert "v" not in t.read().columns

    # a rename-only commit reports ZERO changes (manifest pruning)
    assert t.read_changes(v1, res["version"]).count() == 0

    # old snapshot still reads the old name (time travel intact)
    assert "v" in t.read(version=v1).columns

    # post-rename writes carry the new name; mixed-era read stays correct
    t.merge(spark.createDataFrame([(7, "patched", 7)], ["k", "val", "w"]), None, epoch_id="e2")
    got2 = {r["k"]: r["val"] for r in t.read().collect()}
    assert got2[7] == "patched" and got2[8] == "v8"
    # read_changes across the rename+merge window: exactly the merged row
    ch = [(r["k"], r["val"], r["_change"]) for r in t.read_changes(v1).collect()]
    assert ch == [(7, "patched", "update")]

    # point lookups stay era-aware too
    pk = {r["k"]: r["val"] for r in t.read_keys(spark.createDataFrame([(7,), (9,)], ["k"])).collect()}
    assert pk == {7: "patched", 9: "v9"}

    # contract: writing under the OLD name now is a fresh-column ADD (and an
    # upsert is a full-row replace, so unspecified columns null out)
    t.merge(spark.createDataFrame([(3, "oldname")], ["k", "v"]), None, epoch_id="e3")
    rows = {r["k"]: r for r in t.read().filter("k in (3, 4)").collect()}
    assert rows[3]["v"] == "oldname" and rows[3]["val"] is None
    # untouched rows: fresh column null, renamed column's data intact
    assert rows[4]["v"] is None and rows[4]["val"] == "v4"

    # refusals
    import pytest

    with pytest.raises(ValueError, match="key column"):
        t.rename_column("k", "kk")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("w", "val")
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("nope", "x")


def test_rename_column_requires_compaction(spark, tmp_path):
    import pytest

    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=4)
    t.overwrite(spark.createDataFrame([(1, "a")], ["k", "v"]), epoch_id="b0")
    t.merge_mor(spark.createDataFrame([(2, "b")], ["k", "v"]), None, epoch_id="d1")
    with pytest.raises(ValueError, match="compact"):
        t.rename_column("v", "val")
    t.compact()
    t.rename_column("v", "val")
    assert {r["k"]: r["val"] for r in t.read().collect()} == {1: "a", 2: "b"}


def test_rename_column_chain(spark, tmp_path):
    """Chained renames compose (a->b then b->c): era-0 files resolve through
    the full chain; MOR deltas written between renames resolve per era."""
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=4)
    t.overwrite(spark.createDataFrame([(1, "x1"), (2, "x2")], ["k", "a"]), epoch_id="b0")
    t.rename_column("a", "b")
    t.merge_mor(spark.createDataFrame([(3, "x3")], ["k", "b"]), None, epoch_id="d1")
    t.compact()
    t.rename_column("b", "c")
    assert {r["k"]: r["c"] for r in t.read().collect()} == {1: "x1", 2: "x2", 3: "x3"}


def test_rename_chain_fresh_intermediate_name(spark, tmp_path):
    """A fresh column re-added under a chain's INTERMEDIATE name (a->b->c,
    then a new 'b' arrives) must read as null for eras before its creation
    — not crash with a duplicate physical column, not serve the chain's old
    data (r5 review)."""
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=4)
    t.overwrite(spark.createDataFrame([(1, "x1"), (2, "x2")], ["k", "a"]), epoch_id="b0")
    t.rename_column("a", "b")
    t.rename_column("b", "c")
    # fresh, unrelated column named 'b' (the freed intermediate name)
    t.merge(spark.createDataFrame([(3, "c3", "fresh3")], ["k", "c", "b"]), None, epoch_id="e1")
    rows = {r["k"]: (r["c"], r["b"]) for r in t.read().collect()}
    assert rows == {1: ("x1", None), 2: ("x2", None), 3: ("c3", "fresh3")}
    # and a fresh column under the chain's ORIGINAL name behaves the same
    t.merge(spark.createDataFrame([(4, "c4", "orig4")], ["k", "c", "a"]), None, epoch_id="e2")
    rows = {r["k"]: (r["c"], r["a"]) for r in t.read().collect()}
    assert rows[1] == ("x1", None) and rows[4] == ("c4", "orig4")


def test_dir_era_parses_wide_versions_and_prefixed_paths():
    """_dir_era: 7+ digit versions parse whole (streaming tables pass 10^6
    versions in days); a 'data/vNNN-' component in the table ROOT path must
    not shadow the actual data dir's era (r5 review)."""
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    e = SnapshotTable._dir_era
    assert e("/tbl/data/v000012-abcd1234/_bucket=3") == 12
    assert e("/tbl/data/v1000000-abcd1234/_bucket=0") == 1_000_000
    assert e("/tbl/data/v000012-delta-abcd1234/_bucket=1") == 12
    assert e("/srv/data/v000999-x/tbl/data/v000002-abcd1234/_bucket=0") == 2
    assert e("/tbl/no-data-dir") == 0


def test_physical_name_era_walk():
    """Pure-unit coverage of the rename era walker: chains compose, eras
    between renames resolve to the intermediate name, and names freed by a
    later rename mark the current (fresh) holder absent (None)."""
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    rn = [{"from": "a", "to": "b", "v": 5}, {"from": "b", "to": "c", "v": 9}]
    p = SnapshotTable._physical_name
    assert p(rn, "c", 3) == "a"      # full chain reverse-applied
    assert p(rn, "c", 6) == "b"      # era between the renames
    assert p(rn, "c", 9) == "c"      # era at/after the last rename
    assert p(rn, "b", 3) is None     # fresh 'b' (freed at v9) absent pre-v9
    assert p(rn, "b", 6) is None
    assert p(rn, "b", 9) == "b"      # at/after v9 a fresh 'b' owns the name
    assert p(rn, "a", 3) is None     # fresh 'a' (freed at v5) absent pre-v5
    assert p(rn, "a", 5) == "a"
    assert p(rn, "other", 1) == "other"  # untouched columns pass through
    assert p([], "x", 0) == "x"


def test_drop_column_metadata_only(spark, tmp_path):
    """drop_column is metadata-only: no data rewrite, current reads omit
    the column, old snapshots keep it (time travel intact), a drop-only
    commit reports zero changes, and RE-ADDING the name later is a fresh
    column that reads null for every pre-drop file (no data resurrection —
    the sentinel rename-era entry guards name reuse)."""
    import os

    import pytest

    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=4)
    t.overwrite(
        spark.createDataFrame([(i, f"v{i}", i * 10) for i in range(50)], ["k", "v", "w"]),
        epoch_id="b0",
    )
    v1 = t.version()
    files_before = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(tmp_path / "t" / "data")
        for f in fs
        if f.endswith(".parquet")
    )
    res = t.drop_column("v")
    files_after = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(tmp_path / "t" / "data")
        for f in fs
        if f.endswith(".parquet")
    )
    assert files_after == files_before  # no data rewritten
    assert t.read().columns == ["k", "w"]
    # drop-only commit: zero changes (surviving columns' values unchanged)
    assert t.read_changes(v1, res["version"]).count() == 0
    # time travel: the old snapshot still carries the column and its data
    old = {r["k"]: r["v"] for r in t.read(version=v1).collect()}
    assert old[7] == "v7" and len(old) == 50

    # post-drop merge, then RE-ADD the name: fresh column, null for
    # pre-drop files, never the dropped data
    t.merge(spark.createDataFrame([(7, 700)], ["k", "w"]), None, epoch_id="e1")
    t.merge(
        spark.createDataFrame([(3, 30, "fresh3")], ["k", "w", "v"]), None, epoch_id="e2"
    )
    rows = {r["k"]: (r["w"], r["v"]) for r in t.read().collect()}
    assert rows[3] == (30, "fresh3")
    assert rows[4] == (40, None)  # pre-drop file: NOT resurrected "v4"
    assert rows[7] == (700, None)
    # read_changes across drop + merges: exactly the merged rows, under the
    # current schema
    ch = {r["k"]: (r["w"], r["v"], r["_change"]) for r in t.read_changes(v1).collect()}
    assert ch == {7: (700, None, "update"), 3: (30, "fresh3", "update")}

    # refusals mirror rename_column
    with pytest.raises(ValueError, match="key column"):
        t.drop_column("k")
    with pytest.raises(ValueError, match="no column"):
        t.drop_column("nope")


def test_drop_column_requires_compaction_and_chains(spark, tmp_path):
    """Outstanding MOR deltas refuse the drop (delta files are read by
    name); dropping a RENAMED column composes with the era chain — old-era
    files resolve through rename-then-drop correctly."""
    import pytest

    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=4)
    t.overwrite(spark.createDataFrame([(1, "a1", 1)], ["k", "a", "w"]), epoch_id="b0")
    t.merge_mor(spark.createDataFrame([(2, "a2", 2)], ["k", "a", "w"]), None, epoch_id="d1")
    with pytest.raises(ValueError, match="compact"):
        t.drop_column("a")
    t.compact()
    t.rename_column("a", "b")
    t.drop_column("b")
    assert t.read().columns == ["k", "w"]
    # re-add under the ORIGINAL name after rename->drop: fresh everywhere
    t.merge(spark.createDataFrame([(3, 3, "newa")], ["k", "w", "a"]), None, epoch_id="e1")
    rows = {r["k"]: (r["w"], r["a"]) for r in t.read().collect()}
    assert rows == {1: (1, None), 2: (2, None), 3: (3, "newa")}

"""Property-based equivalence for the TABLE layer: for ANY sequence of
merge operations (COW upsert/delete, MOR upsert/delete, compaction,
schema-adding and type-widening batches), SnapshotTable.read() equals a
sequential dict fold of the same operations, and read_keys() equals the
dict lookup — across mode switches and interleaved compactions.

The structured tests (test_table / test_mor) cover designed scenarios;
hypothesis covers adversarial interleavings they wouldn't produce.
"""

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@st.composite
def op_sequences(draw):
    """6-12 table operations over a 12-key space. Each op: (kind, rows)
    where kind ∈ cow/mor/compact and rows are (k, v, w|None) upserts plus
    delete keys."""
    n_ops = draw(st.integers(6, 12))
    ops = []
    for i in range(n_ops):
        kind = draw(st.sampled_from(["cow", "mor", "mor", "compact"]))
        if kind == "compact":
            ops.append(("compact", [], []))
            continue
        n_rows = draw(st.integers(1, 5))
        ups = []
        for _ in range(n_rows):
            k = draw(st.integers(0, 11))
            wide = draw(st.booleans())  # evolved column present?
            ups.append((k, f"v{i}-{k}", f"w{i}" if wide else None))
        # merge contract: a key is EITHER upserted OR deleted per epoch
        # (the LWW fold emits one winner per key) — overlap is undefined
        up_keys = {k for k, _, _ in ups}
        dels = [
            d
            for d in (draw(st.integers(0, 11)) for _ in range(draw(st.integers(0, 2))))
            if d not in up_keys
        ]
        ops.append((kind, ups, dels))
    return ops


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(ops=op_sequences())
def test_table_matches_sequential_dict_fold(spark, tmp_path_factory, ops):
    from pyspark.sql import types as T

    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    path = str(tmp_path_factory.mktemp("ptab"))
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("w", T.StringType()),
        ]
    )
    t = SnapshotTable(spark, path, ("k",), num_buckets=4, schema=schema)
    state: dict[int, tuple] = {}
    for i, (kind, ups, dels) in enumerate(ops):
        if kind == "compact":
            t.compact()
            continue
        # last occurrence of a key within one batch wins (LWW winners are
        # the merge contract); apply deletes after upserts like the runner
        batch = {}
        for k, v, w in ups:
            batch[k] = (v, w)
        up_df = spark.createDataFrame([(k, v, w) for k, (v, w) in batch.items()], schema)
        del_df = (
            spark.createDataFrame([(k,) for k in sorted(set(dels))], "k long")
            if dels
            else None
        )
        fn = t.merge if kind == "cow" else t.merge_mor
        fn(up_df, del_df, epoch_id=f"p:{i}")
        for k, vw in batch.items():
            state[k] = vw
        for k in dels:
            state.pop(k, None)
    got = (
        t.read().toPandas().sort_values("k").reset_index(drop=True)
        if state or t.read().count() == 0
        else t.read().toPandas()
    )
    exp = pd.DataFrame(
        [(k, v, w) for k, (v, w) in sorted(state.items())], columns=["k", "v", "w"]
    )
    assert len(got) == len(exp), f"{len(got)} rows != {len(exp)}"
    if len(exp):
        got = got.sort_values("k").reset_index(drop=True)
        assert got["k"].tolist() == exp["k"].tolist()
        assert got["v"].tolist() == exp["v"].tolist()
        assert [x if pd.notna(x) else None for x in got["w"]] == exp["w"].tolist()
    # point lookups agree with the dict on hits AND misses
    probe = spark.createDataFrame([(k,) for k in range(12)], "k long")
    looked = {r["k"]: (r["v"], r["w"]) for r in t.read_keys(probe).collect()}
    assert looked == state


@st.composite
def rename_op_sequences(draw):
    """6-11 ops mixing COW/MOR upserts, compactions, RENAMES of either
    payload slot (always to a fresh name — chains build up naturally), and
    DROPS of either slot (the next merge re-adds the SAME name — the
    name-reuse resurrection trap the sentinel rename exists to close)."""
    n_ops = draw(st.integers(6, 11))
    ops = []
    for i in range(n_ops):
        kind = draw(
            st.sampled_from(["cow", "mor", "mor", "compact", "rename", "rename", "drop"])
        )
        if kind == "compact":
            ops.append(("compact", None))
            continue
        if kind in ("rename", "drop"):
            ops.append((kind, draw(st.sampled_from(["A", "B"]))))
            continue
        rows = []
        for j in range(draw(st.integers(1, 4))):
            k = draw(st.integers(0, 9))
            rows.append((k, f"a{i}-{j}", f"b{i}-{j}" if draw(st.booleans()) else None))
        ops.append((kind, rows))
    return ops


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(ops=rename_op_sequences())
def test_renames_interleaved_with_merges_match_dict_fold(spark, tmp_path_factory, ops):
    """For ANY interleaving of COW/MOR merges, compactions, column renames,
    and column DROPS, read() under the CURRENT names equals the sequential
    dict fold — the era-aliasing read path (r5 rename/drop_column) must be
    transparent. A dropped slot folds to None for every existing key (a
    re-added same-name column must read null for pre-drop rows, never the
    dropped files' data) and the NEXT merge re-adds the same name."""
    from pyspark.sql import types as T

    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    path = str(tmp_path_factory.mktemp("prt"))
    t = SnapshotTable(
        spark, path, ("k",), num_buckets=4,
        schema=T.StructType(
            [
                T.StructField("k", T.LongType()),
                T.StructField("a", T.StringType()),
                T.StructField("b", T.StringType()),
            ]
        ),
    )
    names = {"A": "a", "B": "b"}
    present = {"A": True, "B": True}  # is the slot's column in the current schema?
    state: dict[int, tuple] = {}
    for i, (kind, payload) in enumerate(ops):
        if kind == "compact":
            t.compact()
            continue
        if kind == "rename":
            if not present[payload]:
                continue  # can't rename a dropped-and-not-yet-re-added column
            t.compact()  # rename contract: no outstanding deltas
            new = f"c{i}"
            t.rename_column(names[payload], new)
            names[payload] = new
            continue
        if kind == "drop":
            if not present[payload]:
                continue
            t.compact()  # drop contract: no outstanding deltas
            t.drop_column(names[payload])
            present[payload] = False
            # every existing key now reads null for this slot, even after a
            # same-name re-add (the sentinel-rename era guard)
            sl = 0 if payload == "A" else 1
            state = {
                k: (None, vw[1]) if sl == 0 else (vw[0], None)
                for k, vw in state.items()
            }
            continue
        batch = {}
        for k, va, vb in payload:
            batch[k] = (va, vb)
        df = spark.createDataFrame(
            [(k, va, vb) for k, (va, vb) in batch.items()],
            f"k long, {names['A']} string, {names['B']} string",
        )
        fn = t.merge if kind == "cow" else t.merge_mor
        fn(df, None, epoch_id=f"r:{i}")
        state.update(batch)
        present["A"] = present["B"] = True  # the merge df re-adds dropped names
    out = t.read()
    cols = set(out.columns)
    for slot in ("A", "B"):
        assert (names[slot] in cols) == present[slot], (
            f"slot {slot} ({names[slot]!r}) presence mismatch: schema {sorted(cols)}"
        )
    got = {
        r["k"]: (
            r[names["A"]] if present["A"] else None,
            r[names["B"]] if present["B"] else None,
        )
        for r in out.collect()
    }
    assert got == state

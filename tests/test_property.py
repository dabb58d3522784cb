"""Property-based equivalence: for ANY valid change stream (per-partition
ascending seqnos with duplicate-range replays and rollbacks, keys confined
to one partition), the distributed fold equals the sequential oracle.

The structured generator (gen.py) covers realistic shapes; hypothesis covers
adversarial interleavings it wouldn't produce."""

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from go_dcp_kafka_spark.gen import EPOCH_BASE, fold_oracle
from go_dcp_kafka_spark.operators.fold import fold_change_events
from go_dcp_kafka_spark.schema import CHANGE_EVENT_SCHEMA
from tests.conftest import assert_frames_equal


@st.composite
def change_streams(draw):
    """A small but adversarial stream: 2 partitions, a handful of keys per
    partition, arbitrary op choices, optional duplicate-range replay and
    rollback with diverged branch."""
    rows = []
    delivery = 0
    for p in range(2):
        n = draw(st.integers(3, 14))
        keys = [(f"c{p}k{draw(st.integers(0, 3))}", draw(st.integers(0, 2))) for _ in range(n)]
        ops = [draw(st.sampled_from(["mutation", "mutation", "deletion", "expiration"])) for _ in range(n)]
        base = []
        for i, ((conv, turn), op) in enumerate(zip(keys, ops)):
            base.append(
                dict(partition_id=p, seqno=i + 1, op=op, conv_id=conv, turn_idx=turn,
                     rev_no=i, text=None if op != "mutation" else f"t{p}-{i}", rollback_point=None)
            )
        stream = list(base)
        # duplicate-range replay (contiguous suffix re-delivery)
        if draw(st.booleans()) and len(base) > 2:
            start = draw(st.integers(0, len(base) - 2))
            stream += [dict(r) for r in base[start:]]
        # rollbacks, possibly CHAINED (a rollback of the replayed branch —
        # the hardest DCP case): each truncates to rb and re-emits a
        # diverged branch covering every key touched above rb in the
        # CURRENT stream (the DCP re-stream contract: the producer resends
        # everything from the rollback point, so no key's latest state is
        # lost by dropping invalidated events)
        for _ in range(draw(st.integers(0, 2))):
            data = [r for r in stream if r["op"] != "rollback"]
            if len(data) < 4:
                break
            cur_max = max(r["seqno"] for r in data)
            if cur_max < 3:
                break
            rb = draw(st.integers(1, cur_max - 1))
            touched = {}
            for r in data:  # stream order == delivery order: last wins
                if r["seqno"] > rb:
                    touched[(r["conv_id"], r["turn_idx"])] = r
            stream.append(dict(partition_id=p, seqno=rb, op="rollback", conv_id=None,
                               turn_idx=None, rev_no=0, text=None, rollback_point=rb))
            for j, r in enumerate(touched.values()):
                nr = dict(r)
                nr["seqno"] = rb + 1 + j
                nr["rev_no"] = nr["rev_no"] + 1000  # diverged revision line
                if nr["op"] == "mutation":
                    nr["text"] = f"rb-{nr['conv_id']}-{nr['turn_idx']}-{nr['rev_no']}"
                nr["rollback_point"] = None
                stream.append(nr)
        for r in stream:
            r["delivery_seq"] = delivery
            delivery += 1
        rows += stream
    return rows


def _to_pdf(rows):
    df = pd.DataFrame(rows)
    n = len(df)
    df["partition_id"] = df["partition_id"].astype("int32")
    df["seqno"] = df["seqno"].astype("int64")
    df["delivery_seq"] = df["delivery_seq"].astype("int64")
    df["turn_idx"] = df["turn_idx"].astype("Int32")
    df["rev_no"] = df["rev_no"].astype("int64")
    df["event_time"] = EPOCH_BASE + (np.arange(n) * 1000).astype("timedelta64[us]")
    df["role"] = pd.array([None] * n, dtype=object)
    df["tool"] = pd.array([None] * n, dtype=object)
    # ts is PAYLOAD: derive from event identity, not delivery position — a
    # duplicate re-delivery must carry the identical document
    ident = (
        df["partition_id"].astype("int64") * 1_000_000
        + df["seqno"].astype("int64") * 1_000
        + df["rev_no"].astype("int64")
    )
    df["ts"] = EPOCH_BASE + ident.to_numpy().astype("timedelta64[us]")
    df["rollback_point"] = df["rollback_point"].astype("Int64")
    cols = [f.name for f in CHANGE_EVENT_SCHEMA.fields]
    return df[cols]


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(change_streams())
def test_fold_equals_oracle_on_arbitrary_streams(spark, rows):
    pdf = _to_pdf(rows)
    expected = fold_oracle(pdf)
    events = spark.createDataFrame(pdf, schema=CHANGE_EVENT_SCHEMA)
    actual = fold_change_events(events).toPandas()
    assert_frames_equal(actual, expected)


def test_read_changes_replay_invariant(spark, tmp_path):
    """Changelog property: for EVERY retained snapshot pair (v1 < v2),
    applying read_changes(v1, v2) to the v1 state reproduces the v2 state
    exactly, and every emitted row is a genuine change (inserts absent
    before, deletes present before, updates differ)."""
    import random

    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    rng = random.Random(7)
    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), 4)
    state: dict[int, str] = {}
    snapshots: dict[int, dict[int, str]] = {}
    for e in range(5):
        ups = {rng.randrange(30): f"v{e}_{i}" for i in range(rng.randrange(1, 8))}
        dels = [k for k in list(state) if rng.random() < 0.2 and k not in ups]
        t.merge(
            spark.createDataFrame(list(ups.items()), ["k", "v"]),
            spark.createDataFrame([(k,) for k in dels], ["k"]) if dels else None,
            epoch_id=f"p:{e}",
        )
        state.update(ups)
        for k in dels:
            state.pop(k, None)
        snapshots[t.version()] = dict(state)
        assert {r["k"]: r["v"] for r in t.read().collect()} == state

    versions = sorted(snapshots)
    for i, v1 in enumerate(versions):
        for v2 in versions[i + 1 :]:
            ch = t.read_changes(v1, v2).collect()
            old, new = snapshots[v1], snapshots[v2]
            rebuilt = dict(old)
            for r in ch:
                kind = r["_change"]
                if kind == "insert":
                    assert r["k"] not in old
                    rebuilt[r["k"]] = r["v"]
                elif kind == "delete":
                    assert r["k"] in old
                    rebuilt.pop(r["k"], None)
                else:
                    assert old.get(r["k"]) != r["v"]
                    rebuilt[r["k"]] = r["v"]
            assert rebuilt == new, f"replay v{v1}->v{v2} diverged"


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(0, 40), min_size=1, max_size=60),
    st.integers(4, 64),
    st.integers(2, 6),
)
def test_pack_sequences_equals_numpy_cumsum(spark, token_words, window, parts):
    """For ANY corpus, the distributed prefix-sum's offsets equal the
    sequential numpy exclusive cumsum in id order, at any partition count
    and window size."""
    from go_dcp_kafka_spark.functions.corpus import pack_sequences

    rows = [(i, " ".join(["w"] * n) if n else "") for i, n in enumerate(token_words)]
    out = (
        pack_sequences(
            spark.createDataFrame(rows, ["doc_id", "text"]),
            window_tokens=window,
            num_parts=parts,
        )
        .orderBy("doc_id")
        .collect()
    )
    counts = np.array(token_words, dtype=np.int64)
    offs = np.concatenate([[0], np.cumsum(counts)[:-1]])
    assert [r["n_tokens"] for r in out] == counts.tolist()
    assert [r["global_off"] for r in out] == offs.tolist()
    assert all(r["window_id"] == r["global_off"] // window for r in out)
    assert all(r["offset_in_window"] == r["global_off"] % window for r in out)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.integers(0, 10_000), min_size=1, max_size=40), st.integers(60, 3600))
def test_sessionize_equals_sequential_fold(spark, gaps_sec, gap):
    """For ANY event-time sequence, distributed sessionize equals the
    obvious sequential fold (new session iff gap > threshold)."""
    import datetime as dt

    from go_dcp_kafka_spark.operators.sessionize import sessionize

    t = dt.datetime(2024, 1, 1)
    rows, times = [], []
    for i, g in enumerate(gaps_sec):
        t = t + dt.timedelta(seconds=g)
        times.append(t)
        rows.append((i, 1, t))
    got = {
        r["event_id"]: r["session_idx"]
        for r in sessionize(
            spark.createDataFrame(rows, ["event_id", "user_id", "ts"]), gap_seconds=gap
        ).collect()
    }
    expect, sidx = {}, 0
    for i, ts in enumerate(times):
        if i > 0 and int(ts.timestamp()) - int(times[i - 1].timestamp()) > gap:
            sidx += 1
        expect[i] = sidx
    assert got == expect

"""M2/M3/M4: streaming replay, checkpoint/resume, crash-injected exactly-once.

Translates the reference's integration contract (full replay => exact final
state, /root/reference/test/integration/integration_test.go:93-107) to the
micro-batch pipeline, plus the adversarial semantics SURVEY §7 M4 lists:
duplicate delivery across epochs, rollback truncation persisting in the HWM
store, resume from checkpoint, and crash-between-merge-and-checkpoint.
"""

import glob
import os
import shutil

import pandas as pd
import pytest

from go_dcp_kafka_spark.gen import (
    GenConfig,
    fold_oracle,
    generate_change_events,
    write_change_log,
)
from go_dcp_kafka_spark.streaming.checkpoints import CheckpointStore
from go_dcp_kafka_spark.streaming.runner import CdcPipeline
from tests.conftest import assert_frames_equal


@pytest.fixture(scope="module")
def stream_case(tmp_path_factory):
    res = generate_change_events(
        GenConfig(seed=99, n_convs=120, n_hot_convs=2, hot_turns=100, n_partitions=12)
    )
    d = tmp_path_factory.mktemp("streamlog")
    write_change_log(res.events, str(d), n_files=8, evolution_boundary=res.meta["evolution_boundary"])
    return {"res": res, "dir": str(d), "expected": fold_oracle(res.events)}


def _fresh_pipeline(spark, tmp_path, **kw):
    return CdcPipeline(spark, str(tmp_path / "tbl"), run_id="s", **kw)


def test_streaming_replay_matches_oracle(spark, stream_case, tmp_path):
    pipe = _fresh_pipeline(spark, tmp_path)
    pipe.run_stream(stream_case["dir"], str(tmp_path / "ckpt"), max_files_per_trigger=2)
    actual = pipe.read_table().toPandas()
    assert_frames_equal(actual, stream_case["expected"])

    # lineage invariants: duplicates were actually dropped across epochs;
    # checkpoint HWM == max surviving seqno per partition
    lin = pipe.lineage.read()
    assert len(lin) > 0
    assert lin["n_duplicates_dropped"].sum() > 0, "cross-epoch duplicate replay never exercised"
    ck = pipe.checkpoints.load()
    ev = stream_case["res"].events
    rbp = stream_case["res"].rollback_partition
    data = ev[ev["op"] != "rollback"]
    for r in ck.itertuples():
        pmax = int(data[data["partition_id"] == r.partition_id]["seqno"].max())
        if r.partition_id == rbp:
            # rollback partition: HWM = max of the surviving (new) branch
            assert r.hwm_seqno <= pmax
        else:
            assert r.hwm_seqno == pmax, f"partition {r.partition_id}"


def test_streaming_resume_from_checkpoint(spark, stream_case, tmp_path):
    """Kill/resume: process half the log, stop, append the rest, resume with
    the same Spark checkpoint — no loss, no double-apply."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    files = sorted(glob.glob(os.path.join(stream_case["dir"], "chunk-*.parquet")))
    for f in files[:4]:
        shutil.copy2(f, src)
    pipe = _fresh_pipeline(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    pipe.run_stream(src, ckpt, max_files_per_trigger=1)
    mid_rows = pipe.read_table().count()
    assert mid_rows > 0

    for f in files[4:]:
        shutil.copy2(f, src)
    pipe.run_stream(src, ckpt, max_files_per_trigger=1)
    actual = pipe.read_table().toPandas()
    assert_frames_equal(actual, stream_case["expected"])


def test_crash_between_merge_and_checkpoint(spark, stream_case, tmp_path, monkeypatch):
    """The exactly-once crux: fail AFTER the table merge commits but BEFORE
    the HWM checkpoint commits; restart re-delivers the epoch; the merge is
    skipped by epoch-id and state converges to the oracle."""
    pipe = _fresh_pipeline(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")

    crashed = {"done": False}
    orig_commit = CheckpointStore.commit

    def exploding_commit(self, dirty, epoch_id):
        if not crashed["done"] and str(epoch_id).endswith(":2"):
            crashed["done"] = True
            raise RuntimeError("injected crash after merge, before checkpoint")
        return orig_commit(self, dirty, epoch_id)

    monkeypatch.setattr(CheckpointStore, "commit", exploding_commit)
    with pytest.raises(Exception):
        pipe.run_stream(stream_case["dir"], ckpt, max_files_per_trigger=2)
    assert crashed["done"], "crash epoch never reached"

    # restart: same pipeline state dirs, same Spark checkpoint
    pipe2 = _fresh_pipeline(spark, tmp_path)
    pipe2.run_stream(stream_case["dir"], ckpt, max_files_per_trigger=2)
    actual = pipe2.read_table().toPandas()
    assert_frames_equal(actual, stream_case["expected"])


def test_batch_replay_equals_streaming(spark, stream_case, tmp_path):
    """Backfill mode and streaming mode must agree bit-for-bit."""
    pipe = _fresh_pipeline(spark, tmp_path)
    pipe.run_batch_replay(stream_case["dir"])
    actual = pipe.read_table().toPandas()
    assert_frames_equal(actual, stream_case["expected"])


def test_byte_threshold_trigger(spark, stream_case, tmp_path):
    """A1 parity: the reference flushes at N messages OR M bytes
    (producer_batch.go:54-61). The size knob must admit the log over
    multiple epochs and converge to the same oracle state."""
    pipe = _fresh_pipeline(spark, tmp_path)
    pipe.run_stream(
        stream_case["dir"], str(tmp_path / "ck"),
        max_files_per_trigger=None, max_bytes_per_trigger=64 * 1024,
    )
    assert_frames_equal(pipe.read_table().toPandas(), stream_case["expected"])
    lin = pipe.lineage.read()
    assert lin["commit_epoch"].nunique() > 1, "byte threshold never split the log into epochs"


def test_rollback_marker_in_separate_epoch(spark, tmp_path):
    """The marker, the branch it invalidates, and the replacement branch
    arrive in THREE different micro-batches: epoch1 merges the old branch,
    epoch2 carries only the rollback marker (must LOWER the committed HWM),
    epoch3 delivers the re-streamed branch (must pass the lowered HWM and
    overwrite). Final state == sequential oracle."""
    import numpy as np

    from go_dcp_kafka_spark.gen import EPOCH_BASE

    def rows(specs):
        out = []
        for i, (p, s, op, conv, turn, text, rbp) in enumerate(specs):
            out.append(
                dict(partition_id=p, seqno=s, delivery_seq=len(out), op=op,
                     conv_id=conv, turn_idx=turn, rev_no=i, event_time=None,
                     role=None, text=text, tool=None,
                     ts=EPOCH_BASE + np.timedelta64(i, "us"), rollback_point=rbp)
            )
        df = pd.DataFrame(out)
        df["partition_id"] = df["partition_id"].astype("int32")
        df["seqno"] = df["seqno"].astype("int64")
        df["turn_idx"] = df["turn_idx"].astype("Int32")
        df["rev_no"] = df["rev_no"].astype("int64")
        df["rollback_point"] = df["rollback_point"].astype("Int64")
        df["event_time"] = pd.Series([pd.NaT] * len(df), dtype="datetime64[us]")
        df["ts"] = df["ts"].astype("datetime64[us]")
        for c in ("role", "tool", "text", "conv_id", "op"):
            df[c] = df[c].astype("string")  # all-None object cols would
            # otherwise hit parquet as typed-null INT32, not string
        return df

    chunk1 = rows([
        (0, 1, "mutation", "c0", 0, "old-1", None),
        (0, 2, "mutation", "c0", 1, "old-2", None),
        (0, 3, "mutation", "c0", 2, "old-3", None),  # will be rolled back
    ])
    chunk2 = rows([(0, 1, "rollback", None, None, None, 1)])  # truncate to seqno 1
    chunk3 = rows([
        (0, 2, "mutation", "c0", 1, "new-2", None),  # re-streamed branch
        (0, 3, "mutation", "c0", 2, "new-3", None),
    ])
    src = str(tmp_path / "src")
    os.makedirs(src)
    delivery = 0
    for i, chunk in enumerate([chunk1, chunk2, chunk3]):
        chunk["delivery_seq"] = range(delivery, delivery + len(chunk))
        delivery += len(chunk)
        p = os.path.join(src, f"chunk-{i:05d}.parquet")
        chunk.to_parquet(p, index=False)
        os.utime(p, (1_700_000_000 + i * 10,) * 2)

    pipe = _fresh_pipeline(spark, tmp_path)
    pipe.run_stream(src, str(tmp_path / "ck"), max_files_per_trigger=1)
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in pipe.read_table().collect()
    }
    assert got == {("c0", 0): "old-1", ("c0", 1): "new-2", ("c0", 2): "new-3"}
    # the committed HWM advanced with the NEW branch, not the old one
    assert pipe.checkpoints.hwm_map()[0] == 3


def test_batch_replay_hwm_survives_rollback_handoff(spark, stream_case, tmp_path):
    """The backfill->stream handoff: run_batch_replay's committed HWM must be
    the max ROLLBACK-SURVIVING seqno, not the raw max (which includes rolled-
    back old-branch seqnos). A stream resuming from that checkpoint must then
    apply a legitimate post-rollback event with seqno in
    (new_branch_max, old_branch_max] instead of dropping it as a duplicate."""
    from pyspark.sql import functions as F

    from go_dcp_kafka_spark.schema import CHANGE_EVENT_SCHEMA

    res = stream_case["res"]
    rbp, rb_point = res.rollback_partition, res.rollback_point
    assert rbp >= 0, "fixture must contain a rollback"
    ev = res.events
    data = ev[ev["op"] != "rollback"]
    rb_delivery = int(ev[ev["op"] == "rollback"]["delivery_seq"].iloc[0])
    vict = data[data["partition_id"] == rbp]
    surviving = vict[~((vict["seqno"] > rb_point) & (vict["delivery_seq"] < rb_delivery))]
    new_max, old_max = int(surviving["seqno"].max()), int(vict["seqno"].max())
    assert new_max < old_max, "fixture must have rolled-back seqnos above the new branch"

    pipe = _fresh_pipeline(spark, tmp_path)
    pipe.run_batch_replay(stream_case["dir"])
    assert pipe.checkpoints.hwm_map()[rbp] == new_max

    # post-rollback tail event in the contested seqno range must be applied
    tail_seq = new_max + 1
    assert tail_seq <= old_max
    tail = spark.createDataFrame(
        [
            (
                rbp, tail_seq, int(ev["delivery_seq"].max()) + 1, "mutation",
                "conv-handoff", 0, 1, None, "user", "post-rollback tail", None, None, None,
            )
        ],
        schema=CHANGE_EVENT_SCHEMA,
    )
    pipe.apply_batch(tail, 1)
    got = pipe.read_table().filter(F.col("conv_id") == "conv-handoff").collect()
    assert len(got) == 1 and got[0]["text"] == "post-rollback tail"


def test_rollback_epoch_never_rescans_for_markers(spark, tmp_path, monkeypatch):
    """Rollback markers ride back WITH the fused stats aggregation
    (collect_list of control rows) — the epoch body must never call
    extract_rollback_markers, which would be a second full scan of the
    batch at scale. Pinned by making that call explode."""
    import datetime as dt

    import go_dcp_kafka_spark.streaming.runner as runner_mod
    from go_dcp_kafka_spark.schema import CHANGE_EVENT_SCHEMA

    def boom(*_a, **_k):
        raise AssertionError("epoch body re-scanned the batch for markers")

    monkeypatch.setattr(runner_mod, "extract_rollback_markers", boom)

    ts = dt.datetime(2024, 1, 1)
    rows = [
        # (partition, seqno, delivery, op, conv, turn, rev, evt, role, text, tool, ts, rb_point)
        (0, 1, 0, "mutation", "c0", 0, 0, None, "user", "old-1", None, ts, None),
        (0, 2, 1, "mutation", "c0", 1, 1, None, "user", "old-2", None, ts, None),
        (0, 2, 2, "rollback", None, None, None, None, None, None, None, ts, 1),
        (0, 2, 3, "mutation", "c0", 1, 2, None, "user", "new-2", None, ts, None),
        (1, 1, 4, "mutation", "c1", 0, 3, None, "user", "p1-keep", None, ts, None),
    ]
    batch = spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)
    pipe = _fresh_pipeline(spark, tmp_path)
    pipe.apply_batch(batch, 0)
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in pipe.read_table().collect()
    }
    # the pre-marker branch ("old-2", delivered before the marker, seqno > 1)
    # is invalidated; the re-streamed "new-2" survives; partition 1 untouched
    assert got == {("c0", 0): "old-1", ("c0", 1): "new-2", ("c1", 0): "p1-keep"}
    assert pipe.checkpoints.hwm_map()[0] == 2
    # rollback truncation is its own phase, and the phases fit the total
    phases = pipe.last_stats["phase_ms"]
    assert "rollback" in phases
    assert sum(v for k, v in phases.items() if k != "total") <= phases["total"]
    # the lineage of the rollback epoch is recounted over the surviving rows
    lin = pipe.lineage.read().set_index("partition_id")
    p0 = lin.loc[0]
    assert (p0["first_seqno"], p0["last_seqno"]) == (1, 2)
    assert (p0["n_mutations"], p0["n_duplicates_dropped"]) == (2, 0)
    assert lin.loc[1]["n_mutations"] == 1


def test_mor_compaction_cadence_defaults(spark, tmp_path):
    """MOR streaming must bound its delta list by default: compact_every
    defaults to 64 under (implicit or explicit) MOR, stays None for COW
    (nothing to compact), honors an explicit value, and 0 disables."""
    mk = lambda **kw: CdcPipeline(spark, str(tmp_path / "t"), run_id="d", **kw)
    assert mk().compact_every == 64                       # implicit MOR
    assert mk(merge_mode="mor").compact_every == 64
    assert mk(merge_mode="cow").compact_every is None
    assert mk(compact_every=16).compact_every == 16
    assert mk(compact_every=0).compact_every is None      # explicit opt-out


def test_rebalance_handover_between_instances(spark, stream_case, tmp_path):
    """T3/T4 live handover (r5 verdict item 5) — the reference's rebalance
    semantic (dcp_event_handler.go:22-34: a member's partitions move to
    another member mid-stream): instance A (run_id 'memberA') processes two
    epochs against the shared table, then stops mid-replay (simulated
    revocation — its epoch hook aborts the query); instance B (a DIFFERENT
    member identity, so none of A's epoch ids shield it) resumes from the
    SHARED checkpoints + Spark offset log and finishes the stream. Final
    table state must equal the single-instance oracle, and B's lineage must
    show the replayed boundary range arriving as duplicates and being
    dropped against the HWM A committed."""
    base = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")

    class Revoked(RuntimeError):
        pass

    a = CdcPipeline(spark, base, run_id="memberA")
    epochs_a = {"n": 0}

    def revoke_after_two(stats):
        epochs_a["n"] += 1
        if epochs_a["n"] >= 2:
            raise Revoked("partitions revoked: rebalance")

    a.on_epoch_complete = revoke_after_two
    with pytest.raises(Exception):
        a.run_stream(stream_case["dir"], ckpt, max_files_per_trigger=2)
    assert epochs_a["n"] >= 2, "instance A never processed its epochs"
    mid_rows = a.read_table().count()
    assert mid_rows > 0, "A must have committed durable state before handover"

    # instance B: new member identity, same table + checkpoints + offsets.
    # The revoked epoch's offsets never committed, so Spark re-delivers it —
    # under B's run_id its epoch key is fresh, so ONLY the per-partition HWM
    # dedup (the reference's rollback/replay tolerance) prevents double-apply.
    b = CdcPipeline(spark, base, run_id="memberB")
    b.run_stream(stream_case["dir"], ckpt, max_files_per_trigger=2)
    assert_frames_equal(b.read_table().toPandas(), stream_case["expected"])

    import pandas as pd

    lin_files = sorted(glob.glob(os.path.join(base, "_lineage", "epoch-*.parquet")))
    by_member = {"memberA": [], "memberB": []}
    for f in lin_files:
        m = os.path.basename(f).removeprefix("epoch-").split("_")[0]
        by_member.setdefault(m, []).append(pd.read_parquet(f))
    assert by_member["memberA"] and by_member["memberB"], "both members must appear in lineage"
    b_dups = pd.concat(by_member["memberB"])["n_duplicates_dropped"].sum()
    assert b_dups > 0, (
        "the replayed boundary epoch must be deduped against A's committed HWM"
    )

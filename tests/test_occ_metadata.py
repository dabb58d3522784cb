"""Table-format metadata at the 10^10-event design point:

- bounded manifest: committed-epoch bookkeeping must stay O(retention) —
  NOT O(total epochs) — so per-commit driver JSON work is flat across a
  million-epoch stream (round-2 verdict item #1);
- watermark idempotence: epochs evicted from the retained window are still
  recognized as committed via the per-stream watermark;
- optimistic-concurrency commit: two writers racing on one table (no shared
  flock — the cross-host case) both land exactly once (verdict item #2);
- rebucket: partition-spec evolution — bucket count changes without
  changing table contents (verdict item #10).
"""

import json
import os
import time
from contextlib import contextmanager

from go_dcp_kafka_spark.table.snapshot import CommitConflictError, SnapshotTable


def _mk(spark, tmp_path, name="t", **kw):
    t = SnapshotTable(spark, str(tmp_path / name), ("k",), 4, **kw)
    return t


# ------------------------------------------------------ bounded manifest
def test_manifest_stays_flat_over_1000_epochs(spark, tmp_path):
    """Driver-only simulation of 1,000 epoch commits (no Spark jobs — the
    data-file side is irrelevant to manifest growth): manifest byte size and
    per-commit time must be flat, not growing with total epochs."""
    t = _mk(spark, tmp_path, epoch_retention=64)
    m = t._load_manifest()
    sizes, times = [], []
    for e in range(1000):
        t0 = time.perf_counter()
        m["version"] += 1
        t._record_epoch(m, f"run:{e}", m["version"])
        t._commit_manifest(m)
        times.append(time.perf_counter() - t0)
        sizes.append(os.path.getsize(t._manifest_path()))
    assert len(m["committed_epochs"]) <= 64
    # flat size: growth from epoch 100 to 1000 is digit-width only (version
    # numbers got one digit wider across 64 retained entries), never a new
    # entry per epoch (old behavior: +~25 bytes/epoch => +22 KB here)
    assert sizes[-1] <= sizes[100] + 256
    # flat time: mean of last 100 commits within 3x mean of commits 100-200
    # (generous bound — the old O(epochs) serialization grows ~10x here)
    early = sum(times[100:200]) / 100
    late = sum(times[-100:]) / 100
    assert late < early * 3, f"per-commit time grew: {early:.6f}s -> {late:.6f}s"
    # version files (the authoritative commit record) carry only the BOUNDED
    # epoch window, so they are O(retention), not O(total epochs)
    with open(os.path.join(t.path, "_manifests", "v001000.json")) as f:
        hist = json.load(f)
    assert len(hist["committed_epochs"]) <= 64


def test_watermark_covers_evicted_epochs(spark, tmp_path):
    """An epoch evicted from the retained window still skips on re-delivery
    (exactly-once across the full stream, not just the window)."""
    t = _mk(spark, tmp_path, epoch_retention=4)
    df = spark.createDataFrame([(1, "a")], ["k", "v"])
    for e in range(8):
        t.merge_mor(df, None, epoch_id=f"s:{e}")
    m = t._load_manifest()
    assert len(m["committed_epochs"]) <= 4
    assert "s:0" not in m["committed_epochs"]  # evicted
    # re-delivery of the evicted epoch skips via the watermark
    res = t.merge_mor(spark.createDataFrame([(1, "STALE")], ["k", "v"]), None, epoch_id="s:0")
    assert res["skipped"] is True
    # distinct streams have independent watermarks
    res2 = t.merge_mor(df, None, epoch_id="other:0")
    assert res2["skipped"] is False
    # non-numeric epoch ids are pinned, never evicted
    t.merge_mor(df, None, epoch_id="backfill-x")
    for e in range(8, 14):
        t.merge_mor(df, None, epoch_id=f"s:{e}")
    assert "backfill-x" in t._load_manifest()["committed_epochs"]
    assert t.merge_mor(df, None, epoch_id="backfill-x")["skipped"] is True


def test_expire_prunes_epoch_entries_and_orphans(spark, tmp_path):
    t = _mk(spark, tmp_path, epoch_retention=64)
    df = spark.createDataFrame([(1, "a")], ["k", "v"])
    for e in range(6):
        t.merge(df, None, epoch_id=f"s:{e}")
    t.expire_snapshots(keep_last=2)
    m = t._load_manifest()
    # entries below the oldest retained snapshot version are pruned...
    assert all(v >= min(t.versions()) for v in m["committed_epochs"].values())
    # ...but still recognized as committed (watermark)
    assert t.merge(df, None, epoch_id="s:0")["skipped"] is True
    assert {r["v"] for r in t.read().collect()} == {"a"}


# ------------------------------------------------- optimistic concurrency
@contextmanager
def _noop_lock():
    yield


def test_occ_conflict_detected_and_retried(spark, tmp_path):
    """Cross-host writer race: writer A loses the version CAS to writer B
    (B commits between A's manifest load and A's commit), A retries against
    the fresh manifest, and BOTH epochs land exactly once."""
    path = tmp_path / "shared"
    a = SnapshotTable(spark, str(path), ("k",), 4)
    b = SnapshotTable(spark, str(path), ("k",), 4)
    # disable A's flock (simulates flock not spanning hosts) so B can write
    # while A is mid-merge
    a._write_lock = _noop_lock

    fired = {"n": 0}

    def inject_b_commit():
        if fired["n"] == 0:
            fired["n"] += 1
            b.merge(spark.createDataFrame([(2, "from-b")], ["k", "v"]), None,
                    epoch_id="b:1")

    a._pre_commit = inject_b_commit
    res = a.merge(spark.createDataFrame([(1, "from-a")], ["k", "v"]), None,
                  epoch_id="a:1")
    assert res["skipped"] is False
    assert fired["n"] == 1  # conflict happened exactly once
    state = {r["k"]: r["v"] for r in a.read().collect()}
    assert state == {1: "from-a", 2: "from-b"}
    m = a._load_manifest()
    assert a._is_epoch_committed(m, "a:1") and a._is_epoch_committed(m, "b:1")
    # A's losing attempt staged an orphan data dir. Under the DEFAULT
    # grace it survives expiry (it is indistinguishable from a concurrent
    # writer's staged-but-not-yet-committed dir — the Iceberg orphan race);
    # with grace 0 (no concurrent writers) it is GC'd.
    a.expire_snapshots(keep_last=1)
    live = {d.split("/")[1] for d in a._load_manifest()["buckets"].values()}
    on_disk = set(os.listdir(os.path.join(str(path), "data")))
    assert on_disk > live  # orphan retained by the grace period
    a.expire_snapshots(keep_last=1, orphan_grace_sec=0)
    on_disk = set(os.listdir(os.path.join(str(path), "data")))
    assert on_disk == live


def test_occ_exhausted_raises(spark, tmp_path):
    a = _mk(spark, tmp_path)
    a._write_lock = _noop_lock
    b = SnapshotTable(spark, str(tmp_path / "t"), ("k",), 4)
    df = spark.createDataFrame([(1, "x")], ["k", "v"])
    counter = {"n": 0}

    def always_conflict():
        counter["n"] += 1
        b.merge(df, None, epoch_id=f"b:{counter['n']}")

    a._pre_commit = always_conflict
    try:
        a.merge(df, None, epoch_id="a:1")
        raise AssertionError("expected CommitConflictError after retries exhausted")
    except CommitConflictError:
        pass


# --------------------------------------------------------------- rebucket
def test_rebucket_preserves_state_and_merges(spark, tmp_path):
    t = _mk(spark, tmp_path)
    rows = [(i, f"v{i}") for i in range(50)]
    t.merge(spark.createDataFrame(rows, ["k", "v"]), None, epoch_id="e:0")
    before = {r["k"]: r["v"] for r in t.read().collect()}
    v_before = t.version()
    t.rebucket(16)
    assert t.num_buckets == 16
    assert {r["k"]: r["v"] for r in t.read().collect()} == before
    # old snapshot still time-travel readable with the OLD layout
    assert {r["k"]: r["v"] for r in t.read(version=v_before).collect()} == before
    # merges after rebucket route by the NEW bucket fn (incl. a fresh handle)
    t2 = SnapshotTable(spark, str(tmp_path / "t"), ("k",), 4)  # stale ctor hint
    t2.merge(spark.createDataFrame([(1, "NEW"), (99, "n99")], ["k", "v"]), None,
             epoch_id="e:1")
    assert t2.num_buckets == 16  # manifest wins over the ctor hint
    after = {r["k"]: r["v"] for r in t2.read().collect()}
    assert after[1] == "NEW" and after[99] == "n99" and after[2] == "v2"
    # MOR deltas fold correctly across a rebucket
    t2.merge_mor(spark.createDataFrame([(3, "M")], ["k", "v"]), None, epoch_id="e:2")
    t2.rebucket(8)
    final = {r["k"]: r["v"] for r in t2.read().collect()}
    assert final[3] == "M" and len(final) == 51


def test_crash_between_vfile_and_cache_heals(spark, tmp_path):
    """The per-version manifest file (created O_EXCL) is the authoritative
    commit record; `_manifest.json` and `_manifests/_latest` are best-effort
    read caches written AFTER it. A writer crashing in that window leaves a
    trailing cache — readers must resolve to the true latest via forward
    probing, and the next committer must take the NEXT version, not collide."""
    t = _mk(spark, tmp_path)
    df1 = spark.createDataFrame([(1, "v1")], ["k", "v"])
    df2 = spark.createDataFrame([(2, "v2")], ["k", "v"])
    t.merge(df1, None, epoch_id="s:0")
    t.merge(df2, None, epoch_id="s:1")
    # simulate the crash window: rewind cache + pointer to v1 while the
    # authoritative v2 file survives
    hist = os.path.join(t.path, "_manifests")
    with open(os.path.join(hist, "v000001.json")) as f:
        stale = f.read()
    with open(t._manifest_path(), "w") as f:
        f.write(stale)
    with open(os.path.join(hist, "_latest"), "w") as f:
        f.write("1")
    fresh = SnapshotTable(spark, t.path, ("k",), 4)
    m = fresh._load_manifest()
    assert m["version"] == 2  # healed: cache/pointer trailed, vfile wins
    assert fresh._is_epoch_committed(m, "s:1")  # incl. its epoch record
    assert {r["k"]: r["v"] for r in fresh.read().collect()} == {1: "v1", 2: "v2"}
    # next commit takes v3 (no collision with the orphaned v2)
    res = fresh.merge(spark.createDataFrame([(3, "v3")], ["k", "v"]), None,
                      epoch_id="s:2")
    assert res["version"] == 3
    # a deleted pointer file is also healed (full probe from 0 still lands)
    os.remove(os.path.join(hist, "_latest"))
    assert SnapshotTable(spark, t.path, ("k",), 4)._load_manifest()["version"] == 3


def test_crash_mid_serialization_leaves_no_corrupt_vfile(spark, tmp_path):
    """The link-based commit means a writer dying mid-json.dump leaves only
    a stray .tmp under _manifests/ — the authoritative v{N}.json name never
    exists with partial bytes, so the table stays fully readable and the
    next committer takes that same version. expire GCs the stray."""
    t = _mk(spark, tmp_path)
    t.merge(spark.createDataFrame([(1, "v1")], ["k", "v"]), None,
            epoch_id="s:0")
    hist = os.path.join(t.path, "_manifests")
    # simulate the crash: a half-written tmp for v2 that never got linked
    with open(os.path.join(hist, "v000002.json.tmp.deadbeef"), "w") as f:
        f.write('{"version": 2, "buck')  # truncated JSON
    fresh = SnapshotTable(spark, t.path, ("k",), 4)
    assert fresh._load_manifest()["version"] == 1  # stray tmp is invisible
    assert {r["k"]: r["v"] for r in fresh.read().collect()} == {1: "v1"}
    res = fresh.merge(spark.createDataFrame([(2, "v2")], ["k", "v"]), None,
                      epoch_id="s:1")
    assert res["version"] == 2  # the crashed attempt's version is reused
    fresh.expire_snapshots(keep_last=2)
    assert not [f for f in os.listdir(hist) if ".tmp." in f]  # stray GC'd


def test_occ_stress_four_lockless_writers(spark, tmp_path):
    """4 concurrent writers, flock DISABLED on all (pure CAS coordination —
    the worst-case cross-host picture): every epoch lands exactly once,
    no lost updates, manifest version advances once per successful commit."""
    import threading

    path = str(tmp_path / "t")
    errors = []

    def writer(w: int):
        try:
            t = SnapshotTable(spark, path, ("k",), 4)
            t._write_lock = _noop_lock
            for e in range(3):
                df = spark.createDataFrame([(w * 10 + e, f"w{w}e{e}")], ["k", "v"])
                res = t.merge_mor(df, None, epoch_id=f"w{w}:{e}")
                assert res["skipped"] is False
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors

    reader = SnapshotTable(spark, path, ("k",), 4)
    state = {r["k"]: r["v"] for r in reader.read().collect()}
    assert state == {w * 10 + e: f"w{w}e{e}" for w in range(4) for e in range(3)}
    m = reader._load_manifest()
    assert m["version"] == 12  # one version per successful commit, none lost
    for w in range(4):
        for e in range(3):
            assert reader._is_epoch_committed(m, f"w{w}:{e}")


def test_compact_races_lockless_writers(spark, tmp_path):
    """Compaction racing concurrent lock-less writers (the production shape:
    compact_every fires on one instance while others keep committing
    epochs). The CAS makes every interleaving safe: a compactor losing the
    race re-reads the new delta and folds it; a writer losing to the
    compactor re-appends its version-independent delta. Final state must
    contain every write exactly once."""
    import threading
    import time as _t

    path = str(tmp_path / "t")
    # seed the table so compact() has a base + deltas to fold
    seed = SnapshotTable(spark, path, ("k",), 4)
    seed.merge_mor(spark.createDataFrame([(999, "seed")], ["k", "v"]), None, epoch_id="seed:0")
    errors = []

    def writer(w: int):
        try:
            t = SnapshotTable(spark, path, ("k",), 4)
            t._write_lock = _noop_lock
            for e in range(4):
                df = spark.createDataFrame([(w * 10 + e, f"w{w}e{e}")], ["k", "v"])
                assert t.merge_mor(df, None, epoch_id=f"w{w}:{e}")["skipped"] is False
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    def compactor():
        try:
            t = SnapshotTable(spark, path, ("k",), 4)
            t._write_lock = _noop_lock
            for _ in range(3):
                t.compact()
                _t.sleep(0.1)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(2)]
    threads.append(threading.Thread(target=compactor))
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors

    reader = SnapshotTable(spark, path, ("k",), 4)
    state = {r["k"]: r["v"] for r in reader.read().collect()}
    expect = {w * 10 + e: f"w{w}e{e}" for w in range(2) for e in range(4)}
    expect[999] = "seed"
    assert state == expect
    m = reader._load_manifest()
    for w in range(2):
        for e in range(4):
            assert reader._is_epoch_committed(m, f"w{w}:{e}")
    # a final compact folds everything; state unchanged
    reader.compact()
    assert {r["k"]: r["v"] for r in reader.read().collect()} == expect
    assert reader._load_manifest()["deltas"] == []


def test_expire_grace_protects_staged_dirs_but_gcs_expired_snapshots(spark, tmp_path):
    """Three classes of unreachable data dirs under expiry:
    - referenced by an EXPIRED manifest (committed history): GC'd
      immediately, any age — no writer can re-commit them;
    - referenced by a RETAINED manifest: kept (time travel);
    - referenced by NO manifest (a concurrent writer's staged dir, or a
      losing-CAS orphan): kept inside the grace window — deleting a staged
      dir would destroy data its writer is about to commit."""
    t = _mk(spark, tmp_path)
    df = spark.createDataFrame([(1, "a")], ["k", "v"])
    for e in range(4):
        t.merge(df, None, epoch_id=f"s:{e}")
    data_root = os.path.join(t.path, "data")
    before = set(os.listdir(data_root))
    # simulate a concurrent writer's freshly staged (uncommitted) dir
    staged = os.path.join(data_root, "deadbeefstaged")
    os.makedirs(staged)
    with open(os.path.join(staged, "part-0.parquet"), "w") as f:
        f.write("x")
    t.expire_snapshots(keep_last=2)  # default grace
    after = set(os.listdir(data_root))
    assert "deadbeefstaged" in after  # staged dir survives
    assert len(after - {"deadbeefstaged"}) < len(before)  # expired snapshots GC'd
    # retained snapshots still time-travel readable
    vs = t.versions()
    assert len(vs) == 2
    assert {r["k"] for r in t.read(version=vs[0]).collect()} == {1}
    # aged-out orphan: backdate the staged dir past the grace and expire
    os.utime(staged, (1_600_000_000, 1_600_000_000))
    t.expire_snapshots(keep_last=2)
    assert "deadbeefstaged" not in set(os.listdir(data_root))


def test_lost_latest_pointer_with_expired_v1_heals_by_rescan(spark, tmp_path):
    """ADVICE r3 (low): pointer file lost (crash between v-file link and
    pointer write, or manual deletion) AFTER expire_snapshots removed
    v000001 — forward probing from 0 finds nothing, so the rescan fallback
    must find the surviving version files; exists()/read() keep working."""
    import os

    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=4)
    for i in range(5):
        t.merge(
            spark.createDataFrame([(i, f"v{i}")], ["k", "v"]), None,
            epoch_id=f"run:{i}",
        )
    t.expire_snapshots(keep_last=2, orphan_grace_sec=0)
    hist = os.path.join(str(tmp_path / "t"), "_manifests")
    assert not os.path.exists(os.path.join(hist, "v000001.json"))
    os.remove(os.path.join(hist, "_latest"))
    # also drop the read cache so only the version files remain
    os.remove(os.path.join(str(tmp_path / "t"), "_manifest.json"))
    t2 = SnapshotTable(spark, str(tmp_path / "t"), ("k",))
    assert t2.exists(), "committed table reported absent after pointer loss"
    assert t2.version() == 5
    assert {r["k"]: r["v"] for r in t2.read().collect()} == {i: f"v{i}" for i in range(5)}


def test_drop_column_retries_occ_conflict(spark, tmp_path, monkeypatch):
    """drop_column runs under @_locked like every other manifest mutator
    (r5 ADVICE): a CommitConflictError from a concurrent writer's commit is
    RETRIED against the fresh manifest, not raised to the caller."""
    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=4)
    t.overwrite(spark.createDataFrame([(1, "a", 2)], ["k", "v", "n"]), epoch_id="b0")
    orig = SnapshotTable._commit_manifest
    fails = {"n": 1}

    def flaky(self, m):
        if fails["n"]:
            fails["n"] -= 1
            raise CommitConflictError("simulated concurrent commit")
        return orig(self, m)

    monkeypatch.setattr(SnapshotTable, "_commit_manifest", flaky)
    res = t.drop_column("v")
    assert res["dropped"] == "v" and fails["n"] == 0
    assert "v" not in t.read().columns

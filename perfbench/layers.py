"""Per-layer spans around the engine's public calls, and the per-layer
metrics derived from them in the traced mode."""

from __future__ import annotations

import os

import numpy as np

from go_dcp_kafka_spark.functions import corpus, dedup_index, similarity
from go_dcp_kafka_spark.operators import ivm
from go_dcp_kafka_spark.streaming import runner
from go_dcp_kafka_spark.streaming.checkpoints import CheckpointStore
from go_dcp_kafka_spark.streaming.lineage import LineageLog
from go_dcp_kafka_spark.streaming.runner import CdcPipeline
from go_dcp_kafka_spark.table.snapshot import SnapshotTable

from spans import Tracer, p50
from workloads import dir_bytes

MAINTENANCE = {
    "update_minhash": dedup_index,
    "maintain_exact_dedup": dedup_index,
    "probe_and_verify": dedup_index,
    "maintain_vocab": corpus,
    "update_ivf": similarity,
    "maintain_agg": ivm,
}


def _data_entries(table: SnapshotTable) -> set[str]:
    d = os.path.join(table.path, "data")
    return set(os.listdir(d)) if os.path.isdir(d) else set()


def _written_bytes(attrs, args, kwargs, res, before):
    """Bytes of the data dirs a table write added."""
    table = args[0]
    new = _data_entries(table) - before
    attrs["bytes_written"] = sum(dir_bytes(os.path.join(table.path, "data", e)) for e in new)
    if isinstance(res, dict):
        attrs["touched_buckets"] = len(res.get("touched_buckets") or [])
        attrs["n_upserts"] = res.get("n_upserts") or 0


def install(tracer: Tracer) -> None:
    """Wrap each layer's public calls in spans (traced mode only)."""
    w = tracer.wrap
    w(CdcPipeline, "apply_batch", "runner.apply_batch")
    w(CdcPipeline, "run_batch_replay", "runner.batch_replay")
    # the runner calls the fold's rollback truncation by its module-level
    # name; an epoch that calls it is a rollback epoch
    w(runner, "apply_rollbacks", "fold.apply_rollbacks")
    for meth in ("merge", "merge_mor", "compact", "overwrite"):
        w(SnapshotTable, meth, f"snapshot.{meth}",
          before=lambda a, k: _data_entries(a[0]), after=_written_bytes)

    def read_keys_stats(args, kwargs):
        # report the pruning decision for every caller, including the
        # maintenance functions that pass no stats_out of their own
        if kwargs.get("stats_out") is None and len(args) < 3:
            kwargs["stats_out"] = {}
        return kwargs.get("stats_out")

    def keep_stats(attrs, args, kwargs, res, stats):
        if stats is not None:
            attrs.update(stats)

    w(SnapshotTable, "read_keys", "snapshot.read_keys", before=read_keys_stats, after=keep_stats)
    w(SnapshotTable, "read_changes", "snapshot.read_changes")
    w(CheckpointStore, "commit", "checkpoints.commit")
    w(CheckpointStore, "load", "checkpoints.load")
    w(LineageLog, "append", "lineage.append")
    for fn, mod in MAINTENANCE.items():
        w(mod, fn, f"maint.{fn}")


# name -> unit, printed in this order by every traced run. Every per-layer
# time is one both gated workloads exercise (the runner's epoch call is
# apply_batch on a stream and run_batch_replay on a backfill; the epoch's
# table write is a COW merge on tail_cow and an overwrite on backfill); a
# layer only one of them uses is reported as a count, bytes or a ratio.
PER_LAYER = {
    "runner.apply_batch_ms_p50": "ms",
    "runner.apply_batch_self_ms_p50": "ms",
    "runner.jobs_per_epoch": "count",
    "runner.stream_gap_ms_p50": "ms",
    "runner.commit_step_ms_p50": "ms",
    "runner.batch_replay_self_ms": "ms",
    "runner.batch_replay_jobs": "count",
    "changelog.events_per_epoch": "count",
    "changelog.bytes_per_epoch": "B",
    "fold.fresh_ratio": "ratio",
    "fold.keys_per_fresh_event": "ratio",
    "fold.rollback_epochs": "count",
    "snapshot.write_ms_p50": "ms",
    "snapshot.write_jobs_p50": "count",
    "snapshot.write_bytes_p50": "B",
    "snapshot.merge_touched_buckets_p50": "count",
    "snapshot.write_amp": "ratio",
    "snapshot.overwrite_ms": "ms",
    "checkpoints.commit_ms_p50": "ms",
    "checkpoints.load_ms_p50": "ms",
    "lineage.appends": "count",
    "proc.jvm_cpu_s": "s",
    "proc.py_worker_cpu_s": "s",
    "proc.driver_cpu_s": "s",
    "proc.jit_cpu_s": "s",
}
#: the reader's calls, on the workloads that run one
READER_LAYER = {
    "snapshot.read_keys_ms_p50": "ms",
    "snapshot.read_keys_jobs": "count",
    "snapshot.read_keys_probed_buckets": "count",
    "snapshot.read_keys_pushdown_ratio": "ratio",
    "snapshot.read_changes_ms_p50": "ms",
    "snapshot.read_changes_jobs": "count",
    "snapshot.read_changes_rows": "count",
}
#: workload -> per-layer metrics its traced run prints after PER_LAYER
EXTRA = {
    "tail_mor_serve": {
        "snapshot.merge_mor_ms_p50": "ms",
        "snapshot.merge_mor_jobs_p50": "count",
        "snapshot.compact_ms_p50": "ms",
        "snapshot.compact_count": "count",
        "snapshot.compact_bytes_rewritten": "B",
        "snapshot.compact_share": "ratio",
        "snapshot.delta_bytes_max": "B",
        **READER_LAYER,
    },
    "maintain": {
        **READER_LAYER,
        **{f"{fn}_ms_p50": "ms" for fn in MAINTENANCE},
        **{f"{fn}_jobs": "count" for fn in MAINTENANCE},
        "maintain.changed_docs_per_cycle": "count",
    },
}


def derive(tracer: Tracer, run) -> dict[str, float]:
    """Per-layer metrics from the timed section's spans. Setup spans feed
    only the batch-replay and overwrite figures of workloads whose timed
    section never calls them."""
    m: dict[str, float] = dict.fromkeys({k for units in (PER_LAYER, *EXTRA.values()) for k in units}, 0.0)

    def spans(name, phase="timed"):
        return tracer.named(name, phase)

    def ms(name, phase="timed"):
        return [s.ms for _, s in spans(name, phase)]

    def jobs(name, phase="timed"):
        return [s.jobs for _, s in spans(name, phase)]

    # ---- runner --------------------------------------------------------
    # the runner's epoch call: apply_batch on a stream, without the reader
    # it calls back into; run_batch_replay on a backfill
    ab = spans("runner.apply_batch") or spans("runner.batch_replay")
    reader_in = {}
    for i, s in ab:
        kids = [c for c in tracer.children(i) if c.name == "reader"]
        reader_in[i] = (sum(c.ms for c in kids), sum(c.jobs for c in kids))
    if ab:
        m["runner.apply_batch_ms_p50"] = p50(s.ms - reader_in[i][0] for i, s in ab)
        m["runner.apply_batch_self_ms_p50"] = p50(tracer.self_ms(i) for i, _ in ab)
        m["runner.jobs_per_epoch"] = p50(s.jobs - reader_in[i][1] for i, s in ab)
        # epoch interval minus the epoch call: offset/commit logs and file
        # listing on a stream; only the harness between calls on a backfill
        gaps = [e - (s.ms - reader_in[i][0]) for (i, s), e in zip(ab, run.epoch_ms)]
        m["runner.stream_gap_ms_p50"] = p50(gaps)
        m["runner.commit_step_ms_p50"] = p50(
            sum(c.ms for c in tracer.children(i) if c.name in ("checkpoints.commit", "lineage.append"))
            for i, _ in ab
        )
        events = run.info.get("epoch_events", 0)
        m["changelog.events_per_epoch"] = events / len(ab)
        m["changelog.bytes_per_epoch"] = run.info.get("epoch_bytes", 0) / len(ab)
        lin = run.info.get("lineage")
        if lin is not None and len(lin):
            fresh = float(lin[["n_mutations", "n_deletions", "n_expirations"]].to_numpy().sum())
            merged = float(lin.groupby("commit_epoch")["n_merged"].first().sum())
            m["fold.fresh_ratio"] = fresh / max(events, 1)
            m["fold.keys_per_fresh_event"] = merged / max(fresh, 1.0)
        m["fold.rollback_epochs"] = len({s.cycle for _, s in spans("fold.apply_rollbacks")})
    replay_phase = "timed" if spans("runner.batch_replay") else "setup"
    br = spans("runner.batch_replay", replay_phase)
    if br:
        m["runner.batch_replay_self_ms"] = p50(tracer.self_ms(i) for i, _ in br)
        m["runner.batch_replay_jobs"] = p50(tracer.self_jobs(i) for i, _ in br)
    m["snapshot.overwrite_ms"] = p50(ms("snapshot.overwrite", replay_phase))

    # ---- table ---------------------------------------------------------
    # the epoch's table write: COW merge, MOR append or a backfill's
    # overwrite (merge spans nested in a maintenance function are that
    # function's business, not the epoch's)
    mg = spans("snapshot.merge")
    writes = [(i, s) for i, s in mg + spans("snapshot.merge_mor") + spans("snapshot.overwrite")
              if s.parent is None or
              tracer.spans[s.parent].name in ("runner.apply_batch", "runner.batch_replay", "cycle")]
    m["snapshot.write_ms_p50"] = p50(s.ms for _, s in writes)
    m["snapshot.write_jobs_p50"] = p50(s.jobs for _, s in writes)
    m["snapshot.write_bytes_p50"] = p50(s.attrs.get("bytes_written", 0) for _, s in writes)
    m["snapshot.merge_touched_buckets_p50"] = p50(s.attrs.get("touched_buckets", 0) for _, s in mg)
    mor = [(i, s) for i, s in writes if s.name == "snapshot.merge_mor"]
    m["snapshot.merge_mor_ms_p50"] = p50(s.ms for _, s in mor)
    m["snapshot.merge_mor_jobs_p50"] = p50(s.jobs for _, s in mor)
    cp = spans("snapshot.compact")
    m["snapshot.compact_ms_p50"] = p50(s.ms for _, s in cp)
    m["snapshot.compact_count"] = len(cp)
    m["snapshot.compact_bytes_rewritten"] = sum(s.attrs.get("bytes_written", 0) for _, s in cp)
    m["snapshot.compact_share"] = sum(s.ms for _, s in cp) / (run.timed_s * 1000.0)
    written = sum(s.attrs.get("bytes_written", 0) for _, s in writes + cp)
    merged_rows = sum(s.attrs.get("n_upserts", 0) for _, s in writes)
    if merged_rows and run.stored_bytes_per_row:
        m["snapshot.write_amp"] = written / (merged_rows * run.stored_bytes_per_row)
    m["snapshot.delta_bytes_max"] = max(run.info.get("delta_bytes", [0]) or [0])
    rk = spans("snapshot.read_keys")
    m["snapshot.read_keys_ms_p50"] = p50(s.ms for _, s in rk)
    m["snapshot.read_keys_jobs"] = p50(s.jobs for _, s in rk)
    m["snapshot.read_keys_probed_buckets"] = p50(s.attrs.get("probed_buckets", 0) for _, s in rk)
    if rk:
        m["snapshot.read_keys_pushdown_ratio"] = float(np.mean([bool(s.attrs.get("key_pushdown")) for _, s in rk]))
    m["snapshot.read_changes_ms_p50"] = p50(ms("snapshot.read_changes"))
    m["snapshot.read_changes_jobs"] = p50(jobs("snapshot.read_changes"))
    m["snapshot.read_changes_rows"] = p50(s.attrs.get("rows", 0) for _, s in spans("reader.poll"))

    # ---- checkpoints / lineage -----------------------------------------
    m["checkpoints.commit_ms_p50"] = p50(ms("checkpoints.commit"))
    m["checkpoints.load_ms_p50"] = p50(ms("checkpoints.load"))
    m["lineage.appends"] = len(spans("lineage.append"))

    # ---- maintenance ---------------------------------------------------
    for fn in MAINTENANCE:
        m[f"{fn}_ms_p50"] = p50(ms(f"maint.{fn}"))
        m[f"{fn}_jobs"] = p50(jobs(f"maint.{fn}"))
    m["maintain.changed_docs_per_cycle"] = p50(run.info.get("changed_docs", []))

    # ---- processes -----------------------------------------------------
    m["proc.jvm_cpu_s"] = run.cpu.get("jvm", 0.0)
    m["proc.py_worker_cpu_s"] = run.cpu.get("py_worker", 0.0)
    m["proc.driver_cpu_s"] = run.cpu.get("driver", 0.0)
    m["proc.jit_cpu_s"] = run.cpu.get("jit", 0.0)
    return {k: float(v) for k, v in m.items()}

"""The benchmark's workloads, each a closed loop driven through the engine's
public names only.

Every workload runs the same shape: set-up (the table or artifact
bootstrap, then a warm-up on the same code paths), a timed section of
fixed size, and output checks outside the timing. On ``tail_mor_serve``
and ``maintain`` a reader runs after each commit: it polls
``read_changes`` from the last version it saw and fetches a fixed-size
probe set with ``read_keys``. The epoch figures exclude that reader, the
cycle figures include it. ``backfill`` and ``tail_cow`` run no reader.
"""

from __future__ import annotations

import glob
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from go_dcp_kafka_spark.functions import corpus, dedup_index, similarity
from go_dcp_kafka_spark.functions.textstats import WS_TOKEN_RE
from go_dcp_kafka_spark.gen import GenConfig, fold_oracle, generate_change_events, write_change_log
from go_dcp_kafka_spark.operators import ivm
from go_dcp_kafka_spark.schema import KEY_COLS
from go_dcp_kafka_spark.streaming.runner import CdcPipeline
from go_dcp_kafka_spark.table.snapshot import SnapshotTable

import corpus_gen
from spans import check_job_counter

SETUP_REPS = 3
WARM_EPOCHS = 1
# the first replay is cold; the second still compiles, and replays after
# it cost about the same
WARM_REPLAYS = 2
PROBE_CHANGED = 64  # probe keys taken from the epoch's polled changes
PROBE_SKEWED = 64  # probe keys drawn from the event stream (hot-key skew)
TRANSCRIPT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
TRANSCRIPT_KEYS = "conv_id string, turn_idx int"
KEYS = list(KEY_COLS)
DOCS_SCHEMA = "doc_id long, text string, source string, n_chars long, embedding array<float>"


@dataclass
class Run:
    """What one run measured and checked."""

    setup_s: float = 0.0
    setup_wall_s: float = 0.0
    setup_parts: dict = field(default_factory=dict)
    timed_s: float = 0.0
    events: int = 0
    # wall-clock and engine-CPU (procstat) milliseconds per sample
    epoch_ms: list = field(default_factory=list)
    cycle_ms: list = field(default_factory=list)
    lookup_ms: list = field(default_factory=list)
    poll_ms: list = field(default_factory=list)
    epoch_cpu_ms: list = field(default_factory=list)
    cycle_cpu_ms: list = field(default_factory=list)
    lookup_cpu_ms: list = field(default_factory=list)
    poll_cpu_ms: list = field(default_factory=list)
    cpu: dict = field(default_factory=dict)
    peak_rss_mb: float = 0.0
    stored_bytes_per_row: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    info: dict = field(default_factory=dict)

    def setup_part(self, name: str, readings: list[tuple[float, float]]) -> None:
        """Record the (wall, engine-CPU) seconds of each repetition of a
        set-up part; set-up counts the median repetition."""
        self.setup_parts[f"{name}_s"] = [w for w, _ in readings]
        self.setup_parts[f"{name}_cpu_s"] = [c for _, c in readings]

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith(".") and not f.endswith(".crc"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def live_bytes_per_row(table: SnapshotTable, n_rows: int) -> float:
    """Data bytes of the live snapshot per row, after expiring every older
    snapshot and its files."""
    table.expire_snapshots(keep_last=1, orphan_grace_sec=0)
    return dir_bytes(os.path.join(table.path, "data")) / max(n_rows, 1)


def frames_equal(actual: pd.DataFrame, expected: pd.DataFrame, keys: list[str], cols: list[str]) -> str:
    """'' when equal, else a one-line description of the first difference.
    Compared per column, so int32/int64 dtype differences between Spark and
    pandas are not reported."""
    a = actual[cols].sort_values(keys).reset_index(drop=True)
    e = expected[cols].sort_values(keys).reset_index(drop=True)
    if len(a) != len(e):
        return f"row count {len(a)} != {len(e)}"
    for c in cols:
        av, ev = a[c], e[c]
        if c == "ts":
            av, ev = pd.to_datetime(av), pd.to_datetime(ev)
        if av.dtype == object or ev.dtype == object:
            bad = av.astype(object).where(av.notna(), "∅") != ev.astype(object).where(ev.notna(), "∅")
        else:
            bad = (av != ev) & ~(av.isna() & ev.isna())
        if bad.any():
            i = int(np.flatnonzero(bad.to_numpy())[0])
            return f"column {c}: {int(bad.sum())} mismatches, first at {a.loc[i, keys].to_dict()}"
    return ""


def _time(ctx, fn):
    """(result, wall ms, engine CPU ms) of ``fn()``."""
    t0, c0 = ctx.now()
    out = fn()
    t1, c1 = ctx.now()
    return out, (t1 - t0) * 1000.0, (c1 - c0) * 1000.0


# ------------------------------------------------------------------ context
@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: int
    tracer: object
    procs: object
    corrupt: bool = False
    timeline: list = field(default_factory=list)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def now(self) -> tuple[float, float]:
        """Wall seconds and cumulative engine CPU seconds (procstat)."""
        return time.perf_counter(), self.procs.engine_cpu_s()

    def since(self, t: tuple[float, float]) -> tuple[float, float]:
        """Wall and engine-CPU seconds since the ``now()`` reading ``t``."""
        w, c = self.now()
        return w - t[0], c - t[1]

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds per process group, and the host's busy
        and stolen seconds (procstat)."""
        return self.procs.cpu_s() | self.procs.host_s()

    def start_timed(self) -> dict[str, float]:
        """Start of the timed section: restart the peak-RSS readings, so
        they exclude set-up and the benchmark's own input generation, and
        return the CPU readings of ``cpu()``."""
        self.procs.reset_peak_rss()
        return self.cpu()

    def end_timed(self, run: "Run", c0: dict[str, float]) -> None:
        """End of the timed section: CPU since ``c0`` and peak RSS."""
        run.cpu = _cpu_delta(c0, self.cpu())
        rss = self.procs.peak_rss_mb()
        run.peak_rss_mb = sum(rss.values())
        run.info.update({f"peak_rss_{k}_mb": v for k, v in rss.items()})

    def mark(self, label: str) -> None:
        """Wall-clock timeline of the run's phases, reported on stderr."""
        self.timeline.append((label, time.perf_counter()))


# ------------------------------------------------------------ change logs
def _log_config(seed: int, n_convs: int) -> GenConfig:
    return GenConfig(
        seed=seed,
        n_convs=n_convs,
        n_hot_convs=4,
        hot_turns=300,
        n_partitions=32,
        n_dup_replays=4,
        dup_len=200,
    )


def write_log(events: pd.DataFrame, meta: dict, out_dir: str, n_files: int) -> list[str]:
    write_change_log(events, out_dir, n_files=n_files, evolution_boundary=meta["evolution_boundary"])
    return sorted(glob.glob(os.path.join(out_dir, "chunk-*.parquet")))


def split_log(files: list[str], head_dir: str, tail_dir: str, n_tail: int) -> None:
    """Move the last ``n_tail`` files to ``tail_dir`` and the rest to
    ``head_dir``; rename keeps the pinned mtimes that order the stream."""
    os.makedirs(head_dir)
    os.makedirs(tail_dir)
    for i, f in enumerate(files):
        dest = tail_dir if i >= len(files) - n_tail else head_dir
        os.rename(f, os.path.join(dest, os.path.basename(f)))


class Reader:
    """The consumer run after each commit on ``tail_mor_serve`` and
    ``maintain``: poll the change feed from the last version seen, then
    point-fetch a probe set of just-changed keys plus keys drawn with the
    stream's hot-key skew."""

    def __init__(self, ctx: Ctx, run: Run, table: SnapshotTable, key_pool: pd.DataFrame, key_schema: str,
                 include_old: bool = False):
        self.ctx, self.run, self.table = ctx, run, table
        self.key_schema, self.include_old = key_schema, include_old
        self.keys = [c.split()[0] for c in key_schema.split(",")]
        self.key_pool = key_pool.reset_index(drop=True)
        self.rng = np.random.default_rng(ctx.seed + 7)
        self.version = table.version()
        self.feed: list[pd.DataFrame] = []

    def read(self, keep_feed: bool = False):
        """Poll, then look up; returns the polled rows and their schema."""
        tr = self.ctx.tracer
        v_now = self.table.version()
        changes = None

        def poll():
            nonlocal changes
            changes = self.table.read_changes(
                from_version=self.version, to_version=v_now, include_old=self.include_old
            )
            return changes.collect()

        with tr.span("reader.poll") as sp:
            rows, ms, cpu_ms = _time(self.ctx, poll)
            sp.set(rows=len(rows))
        self.run.poll_ms.append(ms)
        self.run.poll_cpu_ms.append(cpu_ms)
        self.run.op(True)
        self.version = v_now
        if keep_feed and rows:
            self.feed.append(pd.DataFrame([r.asDict() for r in rows]))
        changed = [tuple(r[k] for k in self.keys) for r in rows[:PROBE_CHANGED]]
        pick = self.rng.integers(0, len(self.key_pool), PROBE_SKEWED)
        skewed = [tuple(x) for x in self.key_pool.iloc[pick][self.keys].itertuples(index=False)]
        probe = pd.DataFrame(changed + skewed, columns=self.keys).drop_duplicates()
        kdf = self.ctx.spark.createDataFrame(probe, self.key_schema)
        stats: dict = {}
        with tr.span("reader.lookup") as sp:
            got, ms, cpu_ms = _time(self.ctx, lambda: self.table.read_keys(kdf, stats_out=stats).collect())
            sp.set(rows=len(got), probe=len(probe), **stats)
        self.run.lookup_ms.append(ms)
        self.run.lookup_cpu_ms.append(cpu_ms)
        self.run.op(True)
        return rows, changes.schema


# ----------------------------------------------------------------- backfill
def backfill(ctx: Ctx, run: Run) -> None:
    """The timed section replays one generated log into ``replays`` fresh
    tables, one ``run_batch_replay`` each, and nothing else."""
    replays = max(2, ctx.seconds // 3)
    res = generate_change_events(_log_config(ctx.seed, 10000))
    log = ctx.path("log")
    write_log(res.events, res.meta, log, n_files=32)

    # bootstrap: one pipeline per replay, and spares for the warm-up
    ctx.mark("inputs")
    ctx.tracer.phase = "setup"
    pipes, reps = [], []
    for r in range(replays + WARM_REPLAYS):
        t1 = ctx.now()
        pipes.append(CdcPipeline(ctx.spark, ctx.path(f"replay{r}"), run_id="bench"))
        reps.append(ctx.since(t1))
    run.setup_part("bootstrap", reps)
    ctx.mark("bootstrap")
    ctx.tracer.phase = "warmup"
    t0 = ctx.now()
    for _ in range(WARM_REPLAYS):
        pipes.pop().run_batch_replay(log)
    run.setup_part("warmup", [ctx.since(t0)])
    expected = fold_oracle(res.events)
    ctx.mark("warmup")
    ctx.tracer.phase = "timed"
    c0 = ctx.start_timed()
    t0 = time.perf_counter()
    pipe = None
    for r, pipe in enumerate(pipes):
        ctx.tracer.cycle = r
        _, ms, cpu_ms = _time(ctx, lambda: pipe.run_batch_replay(log))
        run.epoch_ms.append(ms)
        run.epoch_cpu_ms.append(cpu_ms)
        run.op(True)
    run.timed_s = time.perf_counter() - t0
    ctx.tracer.cycle = None
    ctx.end_timed(run, c0)
    run.events = len(res.events) * replays
    ctx.mark("timed")
    ctx.tracer.phase = "check"

    table = pipe.tables["transcripts"]
    if ctx.corrupt:
        corrupt_one_transcript(ctx, table)
    actual = table.read().toPandas()
    _check(run, "final table == fold_oracle(events)", frames_equal(actual, expected, KEYS, TRANSCRIPT_COLS))
    run.stored_bytes_per_row = live_bytes_per_row(table, len(actual))
    run.info.update(n_events=len(res.events), replays=replays, rows=len(actual),
                    epoch_events=len(res.events) * replays, epoch_bytes=dir_bytes(log) * replays)


# -------------------------------------------------------------------- tails
def _tail(ctx: Ctx, run: Run, mode: str) -> None:
    """Seed the table with a batch replay over the head of a log, then
    drain the tail with ``run_stream`` one file per micro-batch. The first
    ``WARM_EPOCHS`` micro-batches are the warm-up; the rest are timed. On
    MOR a reader runs after each commit; on COW nothing does."""
    serve = mode == "mor"
    n_epochs = max(2, ctx.seconds // 3)
    head_ratio = 3
    n_tail = n_epochs + WARM_EPOCHS
    res = generate_change_events(_log_config(ctx.seed, 5000))
    files = write_log(res.events, res.meta, ctx.path("log"), n_files=(head_ratio + 1) * n_tail)
    split_log(files, ctx.path("head"), ctx.path("tail"), n_tail)
    timed_files = sorted(glob.glob(ctx.path("tail", "*.parquet")))[WARM_EPOCHS:]
    tail_events = sum(len(pd.read_parquet(f, columns=["seqno"])) for f in timed_files)
    tail_bytes = sum(os.path.getsize(f) for f in timed_files)
    # compaction fires every other epoch: several times per run
    compact_every = 2 if serve else None
    expected = fold_oracle(res.events)

    # bootstrap SETUP_REPS seeded tables, keep the last; the first also
    # warms the batch path, and the median discounts it
    ctx.mark("inputs")
    ctx.tracer.phase = "setup"
    reps = []
    for r in range(SETUP_REPS):
        pipe = CdcPipeline(ctx.spark, ctx.path(f"base{r}"), run_id="bench", merge_mode=mode,
                           compact_every=compact_every)
        t1 = ctx.now()
        with ctx.tracer.span("setup.seed"):
            pipe.run_batch_replay(ctx.path("head"))
        reps.append(ctx.since(t1))
    run.setup_part("bootstrap", reps)
    table = pipe.tables["transcripts"]
    ctx.mark("bootstrap")

    reader = base_pd = None
    if serve:
        base_pd = table.read().toPandas()
        key_pool = res.events.dropna(subset=["conv_id"])[list(KEY_COLS)].astype({"turn_idx": "int32"})
        # the reader records into a throwaway Run during the warm-up epochs
        reader = Reader(ctx, Run(), table, key_pool, TRANSCRIPT_KEYS)
    marks: dict[str, list[tuple[float, float]]] = {"cb_start": [], "cb_end": []}

    def on_epoch(stats) -> None:
        marks["cb_start"].append(ctx.now())
        k = len(marks["cb_start"]) - 1
        ctx.tracer.cycle = k
        if k == 0 and ctx.tracer.enabled:
            # the job counter must also see jobs launched on the
            # foreachBatch callback thread
            check_job_counter(ctx.spark, ctx.tracer.jobs)
        if serve:
            with ctx.tracer.span("reader"):
                if k >= WARM_EPOCHS:
                    run.info.setdefault("delta_bytes", []).append(table.delta_stats()["bytes"])
                reader.read(keep_feed=True)
        marks["cb_end"].append(ctx.now())
        if k + 1 == WARM_EPOCHS:
            ctx.mark("warmup")
            ctx.tracer.phase = "timed"
            if serve:
                reader.run = run
            run.cpu = ctx.start_timed()

    pipe.on_epoch_complete = on_epoch
    ctx.tracer.phase = "warmup"
    t0 = ctx.now()
    try:
        pipe.run_stream(ctx.path("tail"), ctx.path("stream_ckpt"), max_files_per_trigger=1)
    except Exception as e:  # a failed epoch ends the stream; counted, then checked
        run.op(False, f"stream failed: {type(e).__name__}: {str(e)[:300]}")
    t_end = time.perf_counter()
    ctx.tracer.cycle = None
    if len(marks["cb_end"]) <= WARM_EPOCHS:
        raise RuntimeError("the stream ended inside its warm-up epochs")
    warm_end = marks["cb_end"][WARM_EPOCHS - 1]
    run.setup_part("warmup", [(warm_end[0] - t0[0], warm_end[1] - t0[1])])
    run.timed_s = t_end - warm_end[0]
    ctx.end_timed(run, run.cpu)
    run.events = tail_events
    prev = warm_end
    for s, e in list(zip(marks["cb_start"], marks["cb_end"]))[WARM_EPOCHS:]:
        run.epoch_ms.append((s[0] - prev[0]) * 1000.0)
        run.epoch_cpu_ms.append((s[1] - prev[1]) * 1000.0)
        if serve:
            run.cycle_ms.append((e[0] - prev[0]) * 1000.0)
            run.cycle_cpu_ms.append((e[1] - prev[1]) * 1000.0)
        prev = e
        run.op(True)
    if len(run.epoch_ms) != n_epochs:
        run.op(False, f"expected {n_epochs} timed epochs, saw {len(run.epoch_ms)}")
    ctx.mark("timed")
    ctx.tracer.phase = "check"

    if ctx.corrupt:
        corrupt_one_transcript(ctx, table)
    actual = table.read().toPandas()
    _check(run, "final table == fold_oracle(events)", frames_equal(actual, expected, KEYS, TRANSCRIPT_COLS))
    if serve:
        _check(run, "polled feed replayed onto the seeded base == final table",
               frames_equal(replay_feed(base_pd, reader.feed), actual, KEYS, TRANSCRIPT_COLS))
    run.stored_bytes_per_row = live_bytes_per_row(table, len(actual))
    lineage = pipe.lineage.read()
    run.info.update(
        n_events=len(res.events), epoch_events=tail_events, epoch_bytes=tail_bytes,
        epochs=len(run.epoch_ms), rows=len(actual),
        lineage=lineage[lineage["commit_epoch"] >= WARM_EPOCHS],
    )


def tail_cow(ctx: Ctx, run: Run) -> None:
    _tail(ctx, run, "cow")


def tail_mor_serve(ctx: Ctx, run: Run) -> None:
    _tail(ctx, run, "mor")


def replay_feed(base: pd.DataFrame, feed: list[pd.DataFrame]) -> pd.DataFrame:
    """Apply polled change batches, in order, onto a table state."""
    state = {tuple(r[:2]): r for r in base[TRANSCRIPT_COLS].itertuples(index=False, name=None)}
    for batch in feed:
        for r in batch[TRANSCRIPT_COLS + ["_change"]].itertuples(index=False, name=None):
            key = (r[0], int(r[1]))
            if r[-1] == "delete":
                state.pop(key, None)
            else:
                state[key] = r[:-1]
    return pd.DataFrame(list(state.values()), columns=TRANSCRIPT_COLS)


def corrupt_one_transcript(ctx: Ctx, table: SnapshotTable) -> None:
    """Self-test hook: rewrite one stored row's text, which the checks
    must then report."""
    row = table.read().orderBy(*KEY_COLS).limit(1)
    table.merge_mor(row.withColumn("text", F.concat(F.col("text"), F.lit(" corrupted"))), None, epoch_id="corrupt")


def _check(run: Run, what: str, diff: str) -> None:
    run.op(diff == "", f"{what}: {diff}")


def _cpu_delta(a: dict, b: dict) -> dict:
    return {k: b.get(k, 0.0) - a.get(k, 0.0) for k in b}


# ----------------------------------------------------------------- maintain
MINHASH = dict(num_hashes=16, bands=4, shingle_words=3, num_parts=32)


def _vocab(docs):
    words = F.array_distinct(F.regexp_extract_all(F.lower(F.col("text")), F.lit(WS_TOKEN_RE), 0))
    return docs.select(F.explode(words).alias("word")).groupBy("word").agg(F.count("*").cast("long").alias("df"))


def _agg(docs):
    return ivm.bootstrap_agg(
        docs, ["source"], sum_cols=["n_chars"], min_cols=["n_chars"], max_cols=["n_chars"], reserve_r=4
    )


class Artifacts:
    """The documents table and the five derived artifacts kept from it."""

    def __init__(self, ctx: Ctx, root: str, base: pd.DataFrame):
        spark = ctx.spark
        self.ctx, self.root = ctx, root
        self.docs = SnapshotTable(spark, f"{root}/docs", ("doc_id",), num_buckets=8)
        self.docs.overwrite(spark.createDataFrame(base, DOCS_SCHEMA), epoch_id="d0")
        read = self.docs.read()
        self.minhash = f"{root}/minhash"
        dedup_index.materialize_minhash(read.select("doc_id", "text"), self.minhash, sidecar=False, **MINHASH)
        self.xdedup = SnapshotTable(spark, f"{root}/xdedup", ("h",), num_buckets=8)
        self.xdedup.overwrite(dedup_index.bootstrap_exact_dedup(self.docs, reserve_r=4), epoch_id="x0")
        self.vocab = SnapshotTable(spark, f"{root}/vocab", ("word",), num_buckets=8)
        self.vocab.overwrite(_vocab(read), epoch_id="v0")
        self.agg = SnapshotTable(spark, f"{root}/agg", ("source",), num_buckets=2)
        self.agg.overwrite(_agg(read), epoch_id="a0")
        self.ivf = f"{root}/ivf"
        emb = read.select("doc_id", "embedding")
        cents = similarity.kmeans_train(emb, k=8, n_iter=2, id_col="doc_id", vec_col="embedding")
        similarity.materialize_ivf(emb, cents, self.ivf, id_col="doc_id", vec_col="embedding")

    def cycle(self, i: int, ups: pd.DataFrame, dels: list[int], run: Run, reader: Reader) -> None:
        spark = self.ctx.spark
        v_prev = self.docs.version()
        upserts = spark.createDataFrame(ups, DOCS_SCHEMA)
        deletes = spark.createDataFrame(pd.DataFrame({"doc_id": dels}), "doc_id long")
        _, ms, cpu_ms = _time(self.ctx, lambda: self.docs.merge_mor(upserts, deletes, epoch_id=f"cdc{i}"))
        run.epoch_ms.append(ms)
        run.epoch_cpu_ms.append(cpu_ms)
        run.op(True)
        reader.version = v_prev
        rows, schema = reader.read()
        run.info.setdefault("changed_docs", []).append(len(rows))
        if not rows:
            raise RuntimeError("an epoch produced no changes")
        # the consumer hands its one polled batch to every artifact that
        # takes a change feed, instead of re-running the poll per artifact
        feed = spark.createDataFrame(rows, schema)
        dedup_index.update_minhash(spark, self.minhash, feed, epoch_id=f"mh{i}")
        dedup_index.maintain_exact_dedup(self.xdedup, self.docs, v_prev, epoch_id=f"xd{i}", reserve_r=4)
        corpus.maintain_vocab(self.vocab, self.docs, v_prev, epoch_id=f"vm{i}")
        ivm.maintain_agg(
            self.docs, self.agg, v_prev, ["source"], ["n_chars"], min_cols=["n_chars"],
            max_cols=["n_chars"], epoch_id=f"ag{i}", reserve_r=4,
        )
        similarity.update_ivf(
            spark, self.ivf, feed.select("doc_id", "embedding", "_change"), id_col="doc_id", vec_col="embedding"
        )
        probe = feed.filter(F.col("_change") != "delete").select("doc_id", "text")
        self.last_probe = probe.localCheckpoint(eager=True)
        self.last_pairs = dedup_index.probe_and_verify(
            spark, self.minhash, self.last_probe, self.docs, threshold=0.5
        ).collect()

    def check(self, run: Run) -> None:
        """Each artifact against its from-scratch rebuild on the final table."""
        spark = self.ctx.spark
        read = self.docs.read()
        fresh = f"{self.root}/rebuild"
        dedup_index.materialize_minhash(read.select("doc_id", "text"), f"{fresh}/minhash", sidecar=False, **MINHASH)
        cols = ["doc_id", "band_id", "band_key", "part"]
        got = spark.read.parquet(f"{self.minhash}/index").select(*cols).toPandas()
        want = spark.read.parquet(f"{fresh}/minhash/index").select(*cols).toPandas()
        _check(run, "minhash index == rebuild", frames_equal(got, want, cols, cols))

        cols = ["h", "n_copies", "keeper_id"]
        _check(run, "exact-dedup table == rebuild", frames_equal(
            self.xdedup.read().select(*cols).toPandas(),
            dedup_index.bootstrap_exact_dedup(self.docs, reserve_r=4).select(*cols).toPandas(), ["h"], cols))

        cols = ["word", "df"]
        _check(run, "vocabulary == rebuild", frames_equal(
            self.vocab.read().select(*cols).toPandas(), _vocab(read).toPandas(), ["word"], cols))

        cols = ["source", "n_rows", "sum_n_chars", "min_n_chars", "max_n_chars"]
        _check(run, "IVM aggregate == rebuild", frames_equal(
            self.agg.read().select(*cols).toPandas(), _agg(read).select(*cols).toPandas(), ["source"], cols))

        cents = spark.read.parquet(f"{self.ivf}/centroids")
        similarity.materialize_ivf(read.select("doc_id", "embedding"), cents, f"{fresh}/ivf",
                                   id_col="doc_id", vec_col="embedding", drift_baseline=False)
        cols = ["doc_id", "cell"]
        got = spark.read.parquet(f"{self.ivf}/corpus").select(*cols).toPandas()
        want = spark.read.parquet(f"{fresh}/ivf/corpus").select(*cols).toPandas()
        _check(run, "IVF cells == rebuild", frames_equal(got, want, ["doc_id"], cols))

        cols = ["a_id", "b_id", "jaccard"]
        want = dedup_index.probe_and_verify(spark, f"{fresh}/minhash", self.last_probe, self.docs, threshold=0.5)
        _check(run, "probe_and_verify == probe over the rebuilt index", frames_equal(
            pd.DataFrame([r.asDict() for r in self.last_pairs], columns=cols), want.toPandas(), ["a_id", "b_id"], cols))


def maintain(ctx: Ctx, run: Run) -> None:
    """CDC epochs into a documents table, each followed by one maintenance
    cycle over every derived artifact."""
    cfg = corpus_gen.CorpusConfig(
        n_docs=3000, n_cycles=max(2, ctx.seconds // 10), n_updates=30, n_inserts=20, n_deletes=15
    )
    base, epochs = corpus_gen.generate(ctx.seed, cfg)

    # bootstrap SETUP_REPS copies; the first also warms the bootstrap path
    # and the median discounts it
    ctx.mark("inputs")
    ctx.tracer.phase = "setup"
    reps, arts = [], []
    for r in range(SETUP_REPS):
        t1 = ctx.now()
        with ctx.tracer.span("setup.bootstrap"):
            arts.append(Artifacts(ctx, ctx.path(f"art{r}"), base))
        reps.append(ctx.since(t1))
    run.setup_part("bootstrap", reps)
    # warm-up: the first epoch's cycle on a spare copy
    ctx.mark("bootstrap")
    ctx.tracer.phase = "warmup"
    t0 = ctx.now()
    warm_run = Run()
    arts[0].cycle("warm", *epochs[0], warm_run,
                  Reader(ctx, warm_run, arts[0].docs, base[["doc_id"]], "doc_id long", include_old=True))
    run.setup_part("warmup", [ctx.since(t0)])

    art = arts[-1]
    reader = Reader(ctx, run, art.docs, base[["doc_id"]], "doc_id long", include_old=True)
    ctx.mark("warmup")
    ctx.tracer.phase = "timed"
    c0 = ctx.start_timed()
    t0 = time.perf_counter()
    for i, (ups, dels) in enumerate(epochs):
        ctx.tracer.cycle = i
        t_c, c_c = ctx.now()
        try:
            with ctx.tracer.span("cycle"):
                art.cycle(i, ups, dels, run, reader)
            run.op(True)
        except Exception as e:  # counted and reported; the run goes on to its checks
            run.op(False, f"cycle {i}: {type(e).__name__}: {str(e)[:300]}")
        t_e, c_e = ctx.now()
        run.cycle_ms.append((t_e - t_c) * 1000.0)
        run.cycle_cpu_ms.append((c_e - c_c) * 1000.0)
        run.events += len(ups) + len(dels)
    run.timed_s = time.perf_counter() - t0
    ctx.tracer.cycle = None
    ctx.end_timed(run, c0)
    ctx.mark("timed")
    ctx.tracer.phase = "check"

    if ctx.corrupt:
        row = art.vocab.read().orderBy("word").limit(1)
        art.vocab.merge_mor(row.withColumn("df", F.col("df") + 1), None, epoch_id="corrupt")
    art.check(run)
    n_rows = art.docs.read().count()
    run.stored_bytes_per_row = live_bytes_per_row(art.docs, n_rows)
    run.info.update(cycles=len(epochs), rows=n_rows, n_docs=cfg.n_docs)


WORKLOADS = {
    "backfill": backfill,
    "tail_cow": tail_cow,
    "tail_mor_serve": tail_mor_serve,
    "maintain": maintain,
}

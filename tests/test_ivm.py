"""Incremental view maintenance over the changelog (operators/ivm.py) +
the read_changes before-image option it consumes.

Scale contract under test: maintaining a downstream aggregate costs
O(changed rows + changed groups) — changelog read, ONE map-side-combinable
delta shuffle, pruned probe, keyed merge — and the maintained table always
equals a from-scratch GROUP BY over the base table's current state (the
reference's consumers apply only the appended log segment,
/root/reference/kafka/client.go:220-233; this is that cost model for
aggregates)."""

import pandas as pd
from pyspark.sql import functions as F

from go_dcp_kafka_spark.operators.ivm import agg_deltas, apply_agg_deltas, maintain_agg
from go_dcp_kafka_spark.table.snapshot import SnapshotTable


def _base(spark, tmp_path, name="base"):
    t = SnapshotTable(spark, str(tmp_path / name), ("k",), num_buckets=4)
    rows = [(i, f"g{i % 3}", i * 10, f"t{i}") for i in range(60)]
    t.overwrite(spark.createDataFrame(rows, ["k", "g", "x", "txt"]), epoch_id="b0")
    return t


def _agg(spark, tmp_path, base, name="agg"):
    a = SnapshotTable(spark, str(tmp_path / name), ("g",), num_buckets=2)
    init = base.read().groupBy("g").agg(
        F.count("*").alias("n_rows"), F.coalesce(F.sum("x"), F.lit(0)).alias("sum_x")
    )
    a.overwrite(init, epoch_id="a0")
    return a


def _recompute(base):
    return {
        (r["g"]): (r["n"], r["s"])
        for r in base.read()
        .groupBy("g")
        .agg(F.count("*").alias("n"), F.coalesce(F.sum("x"), F.lit(0)).alias("s"))
        .collect()
    }


def _maintained(agg):
    return {r["g"]: (r["n_rows"], r["sum_x"]) for r in agg.read().collect()}


def test_read_changes_before_image_both_paths(spark, tmp_path):
    """include_old=True emits the _before payload struct on BOTH diff paths:
    appended-MOR fast path and the generic (COW) manifest-pruned diff."""
    t = _base(spark, tmp_path)
    v1 = t.version()
    # MOR epoch => appended-delta fast path
    t.merge_mor(
        spark.createDataFrame([(1, "g9", 999, "upd")], ["k", "g", "x", "txt"]),
        spark.createDataFrame([(2,)], ["k"]),
        epoch_id="m1",
    )
    ch = {r["k"]: r for r in t.read_changes(v1, include_old=True).collect()}
    assert ch[1]["_change"] == "update" and ch[1]["_before"]["x"] == 10
    assert ch[1]["_before"]["g"] == "g1" and ch[1]["g"] == "g9"
    assert ch[2]["_change"] == "delete" and ch[2]["_before"]["x"] == 20
    # COW epoch => generic path (compacts the delta first => bucket dirs move)
    v2 = t.version()
    t.merge(
        spark.createDataFrame([(100, "g0", 5, "ins"), (3, "g0", 31, "t3")], ["k", "g", "x", "txt"]),
        None,
        epoch_id="c1",
    )
    ch2 = {r["k"]: r for r in t.read_changes(v2, include_old=True).collect()}
    assert ch2[100]["_change"] == "insert" and ch2[100]["_before"] is None
    assert ch2[3]["_change"] == "update" and ch2[3]["_before"]["x"] == 30
    # default shape unchanged: no _before column without the flag
    assert "_before" not in t.read_changes(v2).columns


def test_ivm_matches_recompute_across_epochs(spark, tmp_path):
    """Inserts, value updates, group-migrating updates, no-op rewrites, and
    group-emptying deletes across 3 epochs: the incrementally-maintained
    aggregate equals a from-scratch GROUP BY after every epoch."""
    base = _base(spark, tmp_path)
    agg = _agg(spark, tmp_path, base)
    assert _maintained(agg) == _recompute(base)

    epochs = [
        # (upserts, delete_keys): migrations (g changes), value-only, no-op
        (
            [(0, "g2", 1000, "mig"), (3, "g0", 999, "val"), (6, "g0", 60, "t6")],
            [9, 12],
        ),
        # inserts into a NEW group + more deletes
        (
            [(200, "gNEW", 7, "ins"), (201, "gNEW", 8, "ins"), (15, "g1", -1, "mig2")],
            [18, 21, 24],
        ),
        # empty group gNEW entirely; touch g2
        (
            [(27, "g2", 270, "t27")],
            [200, 201],
        ),
    ]
    for i, (ups, dels) in enumerate(epochs):
        v = base.version()
        mode = base.merge_mor if i % 2 == 0 else base.merge  # both diff paths
        mode(
            spark.createDataFrame(ups, ["k", "g", "x", "txt"]),
            spark.createDataFrame([(d,) for d in dels], ["k"]),
            epoch_id=f"e{i}",
        )
        maintain_agg(base, agg, v, ["g"], ["x"], epoch_id=f"ivm{i}")
        assert _maintained(agg) == _recompute(base), f"diverged after epoch {i}"
    # the emptied group has NO row, like a from-scratch GROUP BY
    assert "gNEW" not in _maintained(agg)


def test_ivm_idempotent_epoch_replay(spark, tmp_path):
    """Re-applying the same maintenance epoch (crash-redelivery) is a no-op:
    the keyed merge's epoch idempotence carries over to IVM."""
    base = _base(spark, tmp_path)
    agg = _agg(spark, tmp_path, base)
    v = base.version()
    base.merge_mor(
        spark.createDataFrame([(1, "g2", 111, "u")], ["k", "g", "x", "txt"]),
        None,
        epoch_id="e1",
    )
    maintain_agg(base, agg, v, ["g"], ["x"], epoch_id="ivm-replay")
    once = _maintained(agg)
    res = maintain_agg(base, agg, v, ["g"], ["x"], epoch_id="ivm-replay")
    assert res.get("skipped")
    assert _maintained(agg) == once == _recompute(base)


def test_agg_deltas_null_sum_semantics(spark):
    """SQL SUM semantics: a null value contributes nothing; a group whose
    delta rows are all-null still reports a 0 sum delta (not null)."""
    pdf = pd.DataFrame(
        {
            "g": ["a", "a", "b"],
            "x": pd.array([None, 5, None], dtype="Int64"),
            "_change": ["insert", "insert", "insert"],
        }
    )
    ch = spark.createDataFrame(pdf).withColumn(
        "_before", F.lit(None).cast("struct<g:string,x:long>")
    )
    out = {r["g"]: r for r in agg_deltas(ch, ["g"], ["x"]).collect()}
    assert out["a"]["_d_count"] == 2 and out["a"]["_d_x"] == 5
    assert out["b"]["_d_count"] == 1 and out["b"]["_d_x"] == 0


def test_agg_deltas_plan_is_partial_agg(spark):
    """Scale pin: the delta shuffle gets map-side combine (partial agg on
    the group key), never a per-group window sort — a Zipf-hot group's
    contributions combine locally."""
    pdf = pd.DataFrame(
        {"g": ["a"] * 50 + ["b"] * 10, "x": range(60), "_change": ["insert"] * 60}
    )
    ch = spark.createDataFrame(pdf).withColumn(
        "_before", F.lit(None).cast("struct<g:string,x:bigint>")
    )
    d = agg_deltas(ch, ["g"], ["x"])
    plan = d._jdf.queryExecution().executedPlan().toString()
    assert "partial" in plan.lower()
    assert "Window" not in plan


def test_apply_deltas_reads_only_probed_buckets(spark, tmp_path):
    """apply_agg_deltas probes the aggregate table via read_keys: a delta
    touching one group must not scan every aggregate bucket's files."""
    base = _base(spark, tmp_path)
    # many groups so buckets are populated
    rows = [(1000 + i, f"h{i}", i, "t") for i in range(64)]
    base.merge(
        spark.createDataFrame(rows, ["k", "g", "x", "txt"]), None, epoch_id="wide"
    )
    agg = SnapshotTable(spark, str(tmp_path / "agg2"), ("g",), num_buckets=8)
    agg.overwrite(
        base.read().groupBy("g").agg(
            F.count("*").alias("n_rows"), F.coalesce(F.sum("x"), F.lit(0)).alias("sum_x")
        ),
        epoch_id="a0",
    )
    v = base.version()
    base.merge_mor(
        spark.createDataFrame([(1000, "h0", 555, "u")], ["k", "g", "x", "txt"]),
        None,
        epoch_id="one",
    )
    d = agg_deltas(base.read_changes(v, include_old=True), ["g"], ["x"]).localCheckpoint(
        eager=True
    )
    from tests.test_plans import _walk_metric_sum

    probed = agg.read_keys(d.select("g"))
    # collect THIS df so its executed plan carries the scan metrics
    assert len(probed.collect()) == 1  # one changed group -> one existing agg row
    n_files = _walk_metric_sum(
        probed._jdf.queryExecution().executedPlan(), "numFiles", "Scan"
    )
    assert 0 < n_files <= 2 < 8, f"agg probe scanned {n_files} files for 1 of 8 buckets"
    res = apply_agg_deltas(agg, d, sum_map={"x": "sum_x"}, epoch_id="ap1")
    assert len(res["touched_buckets"]) <= 2
    assert _maintained(agg) == _recompute(base)


def test_ivm_consumer_polls_streamed_epochs(spark, tmp_path, log_dir):
    """End-to-end consumer loop: a streaming replay lands epochs on the
    transcripts table; a downstream consumer polls ``read_changes`` by
    VERSION after each epoch (the reference's consumer-group tail,
    kafka/client.go:220-233) and maintains a per-role aggregate via IVM.
    After the stream drains, the maintained view equals a from-scratch
    GROUP BY over the final table."""
    from go_dcp_kafka_spark.streaming.runner import CdcPipeline

    pipe = CdcPipeline(spark, str(tmp_path / "p"), run_id="ivmstream")
    polled_versions = []

    def on_epoch(stats):
        polled_versions.append(pipe.tables["transcripts"].version())

    pipe.on_epoch_complete = on_epoch
    pipe.run_stream(log_dir, str(tmp_path / "ckpt"), max_files_per_trigger=2)
    t = pipe.tables["transcripts"]
    assert len(polled_versions) >= 2, "need multiple epochs to exercise the poll loop"

    agg = SnapshotTable(spark, str(tmp_path / "view"), ("role",), num_buckets=2)
    # consumer starts from the FIRST epoch's snapshot...
    v0 = polled_versions[0]
    agg.overwrite(
        t.read(t._manifest_at(v0)).groupBy("role").agg(
            F.count("*").alias("n_rows"),
            F.coalesce(F.sum("turn_idx"), F.lit(0)).alias("sum_turn_idx"),
        ),
        epoch_id="view-init",
    )
    # ...then replays each subsequent committed snapshot incrementally
    for i, v in enumerate(polled_versions[1:]):
        prev = polled_versions[i]
        if v == prev:
            continue
        ch = t.read_changes(from_version=prev, to_version=v, include_old=True)
        from go_dcp_kafka_spark.operators.ivm import apply_agg_deltas

        apply_agg_deltas(
            agg,
            agg_deltas(ch, ["role"], ["turn_idx"]),
            sum_map={"turn_idx": "sum_turn_idx"},
            epoch_id=f"view-{v}",
        )
    got = {r["role"]: (r["n_rows"], r["sum_turn_idx"]) for r in agg.read().collect()}
    want = {
        r["role"]: (r["n"], r["s"])
        for r in t.read()
        .groupBy("role")
        .agg(F.count("*").alias("n"), F.coalesce(F.sum("turn_idx"), F.lit(0)).alias("s"))
        .collect()
    }
    assert got == want


def _mm_scratch(base):
    return base.read().groupBy("g").agg(
        F.count("*").alias("n_rows"),
        F.coalesce(F.sum("x"), F.lit(0)).alias("sum_x"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
    )


def _mm_state(df):
    return {r["g"]: (r["n_rows"], r["sum_x"], r["min_x"], r["max_x"]) for r in df.collect()}


def test_ivm_minmax_bounded_recompute(spark, tmp_path):
    """MIN/MAX maintenance with the bounded-recompute rule: incremental
    least/greatest on the fast path, a group-filtered recompute ONLY when a
    retraction hits the stored extremum without the applies re-establishing
    it — and the maintained table equals a from-scratch GROUP BY after every
    epoch. `recomputed_groups` pins exactly which epochs paid the scan."""
    base = _base(spark, tmp_path, "mmbase")
    agg = SnapshotTable(spark, str(tmp_path / "mmagg"), ("g",), num_buckets=2)
    agg.overwrite(_mm_scratch(base), epoch_id="a0")
    sch = "k long, g string, x long, txt string"

    def cycle(i, ups, dels, mor=True):
        v = base.version()
        mode = base.merge_mor if mor else base.merge
        mode(
            spark.createDataFrame(ups, sch),
            spark.createDataFrame([(d,) for d in dels], "k long") if dels else None,
            epoch_id=f"e{i}",
        )
        res = maintain_agg(
            base, agg, v, ["g"], ["x"], min_cols=["x"], max_cols=["x"], epoch_id=f"mm{i}"
        )
        assert _mm_state(agg.read()) == _mm_state(_mm_scratch(base)), f"diverged after epoch {i}"
        return res

    # e0: new global max in g0 (incremental greatest), migrate k=5 (g2,x=50)
    # into g0 (mid-range: neither side's extremum), DELETE g1's min (k=1,
    # x=10) => exactly one recompute (g1)
    r = cycle(0, [(100, "g0", 9999, "mx"), (5, "g0", 50, "mig")], [1])
    assert r["recomputed_groups"] == 1
    # e1 (COW): retract-and-re-establish g0's min (k=0 x=0 rewritten with
    # x=0 — applied_min <= stored_min, NO recompute despite the retraction);
    # duplicate g2's min (x=20) for e2; open an all-null-x group g3
    r = cycle(
        1,
        [(0, "g0", 0, "same"), (200, "g2", 20, "dup"),
         (300, "g3", None, "n1"), (301, "g3", None, "n2")],
        [],
        mor=False,
    )
    assert r["recomputed_groups"] == 0
    # e2: delete ONE of g2's duplicate mins (k=2, x=20) — recompute finds
    # min unchanged at 20; retract a null from g3 (no flag: null never
    # holds an extremum)
    r = cycle(2, [], [2, 300])
    assert r["recomputed_groups"] == 1
    # e3: empty g3 entirely — its row disappears like a from-scratch GROUP
    # BY, no recompute spent on a dying group
    r = cycle(3, [], [301])
    assert r["recomputed_groups"] == 0
    assert "g3" not in _mm_state(agg.read())


def test_ivm_minmax_insert_only_skips_flag_machinery(spark, tmp_path, monkeypatch):
    """Append-mostly fast path: an epoch with NO retraction (pure inserts)
    cannot flag a recompute, so apply_agg_deltas must skip the second
    localCheckpoint + flag count — pinned by counting localCheckpoint calls
    (1: the deltas pin only) vs a retraction epoch (2). State equality vs a
    from-scratch GROUP BY holds on both."""
    base = _base(spark, tmp_path, "fpbase")
    agg = SnapshotTable(spark, str(tmp_path / "fpagg"), ("g",), num_buckets=2)
    agg.overwrite(_mm_scratch(base), epoch_id="a0")
    calls = []  # checkpoints of the flag frame only (it carries _rc)
    cls = type(base.read())  # the concrete DataFrame class, not the ABC
    orig = cls.localCheckpoint
    monkeypatch.setattr(
        cls,
        "localCheckpoint",
        lambda self, *a, **k: ("_rc" in self.columns and calls.append(1)) or orig(self, *a, **k),
    )

    v = base.version()
    base.merge_mor(
        spark.createDataFrame([(500, "g0", 7, "i"), (501, "g9", 3, "i")], "k long, g string, x long, txt string"),
        None, epoch_id="fp0",
    )
    r = maintain_agg(base, agg, v, ["g"], ["x"], min_cols=["x"], max_cols=["x"], epoch_id="fpm0")
    assert r["recomputed_groups"] == 0
    assert not calls, "insert-only epoch must skip the flag checkpoint entirely"
    assert _mm_state(agg.read()) == _mm_state(_mm_scratch(base))

    # deletion epoch (retracts g9's only row): flag machinery runs (1 pin)
    v = base.version()
    base.merge_mor(
        spark.createDataFrame([], "k long, g string, x long, txt string"),
        spark.createDataFrame([(501,)], "k long"),
        epoch_id="fp1",
    )
    r = maintain_agg(base, agg, v, ["g"], ["x"], min_cols=["x"], max_cols=["x"], epoch_id="fpm1")
    assert len(calls) == 1, "retraction epoch must pin the flag frame for the flag count"
    assert _mm_state(agg.read()) == _mm_state(_mm_scratch(base))


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@st.composite
def _ivm_epochs(draw):
    """3-6 CDC epochs over a 10-key space: upserts carry a drawn group (so
    group MIGRATION arises naturally) and a small-range x (duplicate
    extrema likely) or null; deletes are disjoint from the epoch's upserts;
    mode cow/mor per epoch."""
    eps = []
    for _ in range(draw(st.integers(3, 6))):
        # merge contract: key-unique upserts per epoch (the pipeline's LWW
        # fold emits one winner per key before merge) — last drawn wins
        by_k = {}
        for _ in range(draw(st.integers(1, 4))):
            k = draw(st.integers(0, 9))
            g = draw(st.sampled_from(["g0", "g1", "g2"]))
            x = draw(st.one_of(st.none(), st.integers(-5, 5)))
            by_k[k] = (k, g, x)
        ups = list(by_k.values())
        up_keys = set(by_k)
        dels = [
            d
            for d in (draw(st.integers(0, 9)) for _ in range(draw(st.integers(0, 2))))
            if d not in up_keys
        ]
        eps.append((draw(st.booleans()), ups, sorted(set(dels))))
    return eps


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(eps=_ivm_epochs())
def test_ivm_minmax_property_random_epochs(spark, tmp_path_factory, eps):
    """For ANY epoch sequence (group migrations, duplicate extrema, nulls,
    COW/MOR mix, extremum-retracting deletes), the maintained COUNT/SUM/
    MIN/MAX view equals a from-scratch GROUP BY after EVERY epoch. The
    structured tests pin designed recompute cases; hypothesis covers
    interleavings they wouldn't produce."""
    root = tmp_path_factory.mktemp("pivm")
    base = SnapshotTable(spark, str(root / "b"), ("k",), num_buckets=2)
    rows = [(i, f"g{i % 3}", (i * 3) % 7 - 3, "t") for i in range(10)]
    base.overwrite(
        spark.createDataFrame(rows, "k long, g string, x long, txt string"), epoch_id="b0"
    )
    agg = SnapshotTable(spark, str(root / "a"), ("g",), num_buckets=2)
    agg.overwrite(_mm_scratch(base), epoch_id="a0")
    for i, (mor, ups, dels) in enumerate(eps):
        v = base.version()
        mode = base.merge_mor if mor else base.merge
        mode(
            spark.createDataFrame(
                [(k, g, x, "u") for k, g, x in ups], "k long, g string, x long, txt string"
            ),
            spark.createDataFrame([(d,) for d in dels], "k long") if dels else None,
            epoch_id=f"e{i}",
        )
        maintain_agg(base, agg, v, ["g"], ["x"], min_cols=["x"], max_cols=["x"], epoch_id=f"m{i}")
        assert _mm_state(agg.read()) == _mm_state(_mm_scratch(base)), f"diverged at epoch {i}: {eps}"


def _vocab_scratch(docs_df):
    words = F.array_distinct(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[^\s]+"), 0)
    )
    return {
        r["word"]: r["df"]
        for r in docs_df.select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("df"))
        .collect()
    }


def test_maintain_vocab_equals_rebuild(spark, tmp_path):
    """The IVM layer composed through the tokenizer FLAT-MAP: a CDC-tracked
    vocabulary table (word -> document frequency) maintained from
    before/after images equals the from-scratch statistic after every
    epoch. Pins the cross-row delta arithmetic: an edit that keeps a word
    and an insert+delete pair that cancel a word's df both produce NO
    delta row for it; a word whose last doc disappears is deleted from the
    view; a brand-new word appears."""
    from go_dcp_kafka_spark.functions.corpus import maintain_vocab, vocab_deltas

    docs = SnapshotTable(spark, str(tmp_path / "docs"), ("doc_id",), num_buckets=4)
    rows = [(i, f"common w{i % 5} u{i}") for i in range(30)]
    docs.overwrite(
        spark.createDataFrame(rows, "doc_id long, text string"), epoch_id="d0"
    )
    vocab = SnapshotTable(spark, str(tmp_path / "vocab"), ("word",), num_buckets=4)
    scratch0 = _vocab_scratch(docs.read())
    vocab.overwrite(
        spark.createDataFrame(
            [(w, n) for w, n in scratch0.items()], "word string, df long"
        ),
        epoch_id="v0",
    )

    # epoch 1 (MOR / appended-delta feed path): edit doc 1 keeping
    # common+w1 (net-zero for both), delete doc 2 (-1 for its words),
    # insert doc 100 with a brand-new word (+1) — common nets to exactly 0
    # across the three rows (0 + -1 + +1)
    v = docs.version()
    docs.merge_mor(
        spark.createDataFrame(
            [(1, "common w1 edited1"), (100, "common brandnew")],
            "doc_id long, text string",
        ),
        spark.createDataFrame([(2,)], "doc_id long"),
        epoch_id="d1",
    )
    feed = docs.read_changes(from_version=v, include_old=True)
    dwords = {r["word"]: r["_d_count"] for r in vocab_deltas(feed).collect()}
    assert "common" not in dwords and "w1" not in dwords, dwords
    assert dwords["u1"] == -1 and dwords["edited1"] == 1
    assert dwords["brandnew"] == 1 and dwords["u2"] == -1
    maintain_vocab(vocab, docs, v, epoch_id="m1")
    assert _vocab_scratch(docs.read()) == {
        r["word"]: r["df"] for r in vocab.read().collect()
    }
    # u2's last (only) doc is gone: the view must NOT carry a df=0 row
    assert vocab.read().filter(F.col("word") == "u2").count() == 0

    # epoch 2 (COW merge => generic manifest-diff feed path): migrate doc 3
    # entirely to new words and re-insert a doc with u2's word
    v = docs.version()
    docs.merge(
        spark.createDataFrame(
            [(3, "fresh only"), (101, "u2 returns")], "doc_id long, text string"
        ),
        None,
        epoch_id="d2",
    )
    maintain_vocab(vocab, docs, v, epoch_id="m2")
    assert _vocab_scratch(docs.read()) == {
        r["word"]: r["df"] for r in vocab.read().collect()
    }


@st.composite
def _vocab_epochs(draw):
    """3-5 CDC epochs over a 12-doc space: texts drawn from a tiny word
    pool (heavy cross-doc sharing => cross-row delta cancellation),
    including empty and single-word texts and docs that repeat a word
    (df counts DOCS, not occurrences); deletes disjoint from upserts;
    COW/MOR mix."""
    pool = ["alpha", "beta", "gamma", "delta", "eps"]
    eps = []
    for _ in range(draw(st.integers(3, 5))):
        by_k = {}
        for _ in range(draw(st.integers(1, 4))):
            k = draw(st.integers(0, 11))
            words = draw(st.lists(st.sampled_from(pool), min_size=0, max_size=4))
            by_k[k] = (k, " ".join(words))
        ups = list(by_k.values())
        dels = [
            d
            for d in (draw(st.integers(0, 11)) for _ in range(draw(st.integers(0, 2))))
            if d not in by_k
        ]
        eps.append((draw(st.booleans()), ups, sorted(set(dels))))
    return eps


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(eps=_vocab_epochs())
def test_vocab_property_random_epochs(spark, tmp_path_factory, eps):
    """For ANY epoch sequence (word-sharing edits, empty texts, repeated
    words, delete/re-insert, COW/MOR mix), the maintained vocabulary
    equals the from-scratch document-frequency statistic after EVERY
    epoch, and a word's row disappears exactly when its df reaches 0."""
    from go_dcp_kafka_spark.functions.corpus import maintain_vocab

    root = tmp_path_factory.mktemp("pvoc")
    docs = SnapshotTable(spark, str(root / "d"), ("doc_id",), num_buckets=2)
    rows = [(i, f"alpha w{i % 3}") for i in range(6)]
    docs.overwrite(
        spark.createDataFrame(rows, "doc_id long, text string"), epoch_id="d0"
    )
    vocab = SnapshotTable(spark, str(root / "v"), ("word",), num_buckets=2)
    vocab.overwrite(
        spark.createDataFrame(
            [(w, n) for w, n in _vocab_scratch(docs.read()).items()],
            "word string, df long",
        ),
        epoch_id="v0",
    )
    for i, (mor, ups, dels) in enumerate(eps):
        v = docs.version()
        mode = docs.merge_mor if mor else docs.merge
        mode(
            spark.createDataFrame(ups, "doc_id long, text string"),
            spark.createDataFrame([(d,) for d in dels], "doc_id long") if dels else None,
            epoch_id=f"e{i}",
        )
        maintain_vocab(vocab, docs, v, epoch_id=f"m{i}")
        got = {r["word"]: r["df"] for r in vocab.read().collect()}
        assert got == _vocab_scratch(docs.read()), f"diverged at epoch {i}: {eps}"
        assert 0 not in got.values()


# ---------------------------------------------------------------- reserves
from go_dcp_kafka_spark.operators.ivm import bootstrap_agg


def test_ivm_reserve_absorbs_extremum_deletions(spark, tmp_path):
    """r6 headline (r5 verdict item 1): with the extrema reserve, a
    retraction of the stored extremum CONSUMES the reserve —
    recomputed_groups == 0 on a single-extremum-deletion epoch with
    survivors — and the full scan fires only when R extremum-side
    deletions exhaust a group's reserve (then refills it). Equality vs a
    from-scratch GROUP BY after every epoch; min and max maintained
    together."""
    base = SnapshotTable(spark, str(tmp_path / "b"), ("k",), num_buckets=4)
    rows = [(i, "g0", (i + 1) * 10, "t") for i in range(5)]  # x: 10..50
    rows += [(100 + i, "g1", 1000 + i, "t") for i in range(4)]
    base.overwrite(spark.createDataFrame(rows, "k long, g string, x long, txt string"), epoch_id="b0")
    agg = SnapshotTable(spark, str(tmp_path / "a"), ("g",), num_buckets=2)
    agg.overwrite(
        bootstrap_agg(base.read(), ["g"], min_cols=["x"], max_cols=["x"], reserve_r=3),
        epoch_id="a0",
    )
    rsv0 = {r["g"]: list(r["_rsv_min_x"]) for r in agg.read().collect()}
    assert rsv0["g0"] == [10, 20, 30] and rsv0["g1"] == [1000, 1001, 1002]

    def mm(df):
        return {r["g"]: (r["n_rows"], r["min_x"], r["max_x"]) for r in df.collect()}

    def scratch():
        return mm(
            base.read().groupBy("g").agg(
                F.count("*").cast("long").alias("n_rows"),
                F.min("x").alias("min_x"),
                F.max("x").alias("max_x"),
            )
        )

    def cycle(i, ups, dels):
        v = base.version()
        (base.merge_mor if i % 2 == 0 else base.merge)(
            spark.createDataFrame(ups, "k long, g string, x long, txt string"),
            spark.createDataFrame([(d,) for d in dels], "k long") if dels else None,
            epoch_id=f"e{i}",
        )
        r = maintain_agg(
            base, agg, v, ["g"], min_cols=["x"], max_cols=["x"],
            epoch_id=f"m{i}", reserve_r=3,
        )
        assert mm(agg.read().select("g", "n_rows", "min_x", "max_x")) == scratch(), f"epoch {i}"
        return r

    # single keeper-style deletion with survivors: reserve consumes, NO scan
    r = cycle(0, [], [0])  # deletes x=10, g0's min
    assert r["recomputed_groups"] == 0, r
    # watermark discipline: an insert ABOVE the shrunk reserve's edge must
    # stay outside (absorbing it would surface a false min later)
    r = cycle(1, [(50, "g0", 45, "ins")], [])
    assert r["recomputed_groups"] == 0
    # exhaust the reserve: two more min-side deletions in one epoch (20,30)
    # => one recompute refills from {40, 45, 50}
    r = cycle(2, [], [1, 2])
    assert r["recomputed_groups"] == 1
    got = {r2["g"]: list(r2["_rsv_min_x"]) for r2 in agg.read().collect()}
    assert got["g0"] == [40, 45, 50], got  # 45 correctly OUTSIDE until refill
    # ...and the refilled reserve absorbs the next deletion scan-free
    r = cycle(3, [], [3])  # deletes x=40
    assert r["recomputed_groups"] == 0
    # max side: delete g1's max with survivors — same reserve, no scan
    r = cycle(4, [], [103])
    assert r["recomputed_groups"] == 0
    # group reborn in one epoch: all g1 rows deleted + fresh inserts —
    # exact reserve from the applied values, no scan
    r = cycle(5, [(200, "g1", 7, "i"), (201, "g1", 9, "i")], [100, 101, 102])
    assert r["recomputed_groups"] == 0
    assert {x["g"]: list(x["_rsv_min_x"]) for x in agg.read().collect()}["g1"] == [7, 9]


def test_ivm_reserve_probe_pushdown_reported(spark, tmp_path):
    """No-silent-caps (r5 verdict item 8): the maintenance return dict
    discloses whether the read_keys probe kept the row-group IN pushdown
    (small epochs) or fell back to bucket-only pruning (probe set past the
    1024-key cap)."""
    base = SnapshotTable(spark, str(tmp_path / "b"), ("k",), num_buckets=4)
    rows = [(i, f"g{i}", i, "t") for i in range(1100)]  # one group per row
    base.overwrite(spark.createDataFrame(rows, "k long, g string, x long, txt string"), epoch_id="b0")
    agg = SnapshotTable(spark, str(tmp_path / "a"), ("g",), num_buckets=4)
    agg.overwrite(bootstrap_agg(base.read(), ["g"], sum_cols=["x"]), epoch_id="a0")
    # small epoch: pushdown active
    v = base.version()
    base.merge_mor(
        spark.createDataFrame([(1, "g1", 999, "u")], "k long, g string, x long, txt string"),
        None, epoch_id="e1",
    )
    r = maintain_agg(base, agg, v, ["g"], ["x"], epoch_id="m1")
    assert r["probe_key_pushdown"] is True and r["probe_buckets"] <= 2
    # epoch touching >1024 groups: pushdown reported OFF (bucket filter only)
    v = base.version()
    base.merge(
        spark.createDataFrame(
            [(i, f"g{i}", i + 1, "u") for i in range(1100)],
            "k long, g string, x long, txt string",
        ),
        None, epoch_id="e2",
    )
    r = maintain_agg(base, agg, v, ["g"], ["x"], epoch_id="m2")
    assert r["probe_key_pushdown"] is False
    got = {x["g"]: x["sum_x"] for x in agg.read().collect()}
    want = {x["g"]: x["s"] for x in base.read().groupBy("g").agg(
        F.coalesce(F.sum("x"), F.lit(0)).alias("s")).collect()}
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(eps=_ivm_epochs())
def test_ivm_reserve_property_random_epochs(spark, tmp_path_factory, eps):
    """The reserve-mode twin of the r5 property test, at a deliberately
    TINY R=2 so random epoch sequences exhaust reserves, trip the
    truncated-retraction guard (epochs can retract up to 3 rows of one
    group), migrate groups, rebirth groups, and mix nulls — after EVERY
    epoch the maintained COUNT/SUM/MIN/MAX view equals a from-scratch
    GROUP BY."""
    root = tmp_path_factory.mktemp("pivmr")
    base = SnapshotTable(spark, str(root / "b"), ("k",), num_buckets=2)
    rows = [(i, f"g{i % 3}", (i * 3) % 7 - 3, "t") for i in range(10)]
    base.overwrite(
        spark.createDataFrame(rows, "k long, g string, x long, txt string"), epoch_id="b0"
    )
    agg = SnapshotTable(spark, str(root / "a"), ("g",), num_buckets=2)
    agg.overwrite(
        bootstrap_agg(base.read(), ["g"], sum_cols=["x"], min_cols=["x"], max_cols=["x"], reserve_r=2),
        epoch_id="a0",
    )
    for i, (mor, ups, dels) in enumerate(eps):
        v = base.version()
        mode = base.merge_mor if mor else base.merge
        mode(
            spark.createDataFrame(
                [(k, g, x, "u") for k, g, x in ups], "k long, g string, x long, txt string"
            ),
            spark.createDataFrame([(d,) for d in dels], "k long") if dels else None,
            epoch_id=f"e{i}",
        )
        maintain_agg(
            base, agg, v, ["g"], ["x"], min_cols=["x"], max_cols=["x"],
            epoch_id=f"m{i}", reserve_r=2,
        )
        got = _mm_state(agg.read().select("g", "n_rows", "sum_x", "min_x", "max_x"))
        assert got == _mm_state(_mm_scratch(base)), f"diverged at epoch {i}: {eps}"

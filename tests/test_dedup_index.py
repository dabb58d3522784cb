"""Changelog-driven MinHash-LSH index maintenance (dedup_index.py): feeding
SnapshotTable.read_changes(include_old=True) into update_minhash must
produce an index identical to a full materialize_minhash rebuild over the
updated corpus while rewriting only the affected partitions, and
probe_near_dups must find planted near-dups reading only the probed
partitions."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from go_dcp_kafka_spark.functions.dedup_index import (
    materialize_minhash,
    probe_near_dups,
    update_minhash,
)
from go_dcp_kafka_spark.table.snapshot import SnapshotTable


def _text(i: int) -> str:
    # 30 words from a 50-word vocab, deterministic per doc
    return " ".join(f"w{(i * 7 + j) % 50}" for j in range(30))


def _near_dup_of(i: int) -> str:
    words = _text(i).split()
    words[3] = "CHANGED"
    return " ".join(words)


@pytest.fixture()
def corpus_table(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, _text(i)) for i in range(60)], "doc_id long, text string"
    )
    t = SnapshotTable(spark, str(tmp_path / "docs"), ("doc_id",), num_buckets=4)
    t.overwrite(docs, epoch_id="b0")
    return t


def _index_rows(spark, path):
    return {
        (r["doc_id"], r["band_id"], r["band_key"], r["part"])
        for r in spark.read.parquet(os.path.join(path, "index")).collect()
    }


def _part_files(path):
    idx = os.path.join(path, "index")
    return {
        d: sorted(f for f in os.listdir(os.path.join(idx, d)) if f.endswith(".parquet"))
        for d in os.listdir(idx)
        if d.startswith("part=")
    }


def test_update_minhash_tracks_cdc_changes(spark, tmp_path, corpus_table):
    t = corpus_table
    v1 = t.version()
    idx = str(tmp_path / "mh")
    materialize_minhash(t.read(), idx, num_parts=16)
    pre = _part_files(idx)

    # CDC epoch: one insert that is a near-dup of doc 3, one divergent
    # update, one delete
    ups = spark.createDataFrame(
        [(100, _near_dup_of(3)), (5, "totally different text now here")],
        "doc_id long, text string",
    )
    t.merge_mor(
        ups, spark.createDataFrame([(7,)], "doc_id long"), epoch_id="e1"
    )
    changes = t.read_changes(v1, include_old=True)

    res = update_minhash(spark, idx, changes)
    # before-images present => old rows located exactly, no full-index pass
    assert res["exact_old_location"] is True
    assert res["affected_parts"]

    # equivalence vs a full rebuild over the updated corpus
    rebuilt = str(tmp_path / "mh_full")
    materialize_minhash(t.read(), rebuilt, num_parts=16)
    inc, full = _index_rows(spark, idx), _index_rows(spark, rebuilt)
    assert inc == full
    ids = {d for d, *_ in inc}
    assert 100 in ids and 7 not in ids

    # untouched partitions' files are bit-identical (names unchanged)
    post = _part_files(idx)
    untouched = [d for d in pre if int(d.split("=")[1]) not in res["affected_parts"]]
    assert untouched, "test should leave some partitions untouched"
    for d in untouched:
        assert post[d] == pre[d], f"{d} was rewritten"

    # probing the epoch's changed docs finds the planted near-dup
    probe = changes.filter(F.col("_change") != "delete").select("doc_id", "text")
    cand = {(r["probe_id"], r["match_id"]) for r in probe_near_dups(spark, idx, probe).collect()}
    assert (100, 3) in cand
    # the updated doc 5 diverged — it must not match its own old text's mates
    assert not any(p == 5 for p, _ in cand)


def test_update_minhash_without_before_image_uses_sidecar(spark, tmp_path, corpus_table):
    """r5 verdict item 4: an include_old=False feed (the common Debezium
    wire without before-images) locates old index rows via the
    doc→band_keys SIDECAR point lookup — O(changed): ≤ bands × changed
    partitions rewritten, untouched partition files bit-identical, result
    equal to a rebuild. A second sidecar-located epoch composes (the
    sidecar tracked epoch 1's new keys)."""
    t = corpus_table
    idx = str(tmp_path / "mh")
    materialize_minhash(t.read(), idx, num_parts=64, bands=4)

    for i, (ins_id, upd_id, del_id) in enumerate([(200, 5, 2), (201, 200, 9)]):
        v = t.version()
        ups = spark.createDataFrame(
            [(ins_id, _text(ins_id)), (upd_id, "totally different text now here %d" % i)],
            "doc_id long, text string",
        )
        t.merge_mor(
            ups, spark.createDataFrame([(del_id,)], "doc_id long"),
            epoch_id=f"e{i}",
        )
        pre = _part_files(idx)
        changes = t.read_changes(v)  # no include_old
        res = update_minhash(spark, idx, changes)
        assert res["old_location"] == "sidecar" and res["exact_old_location"] is True
        # O(changed) pin: ≤ bands × (old images + new images) partitions
        assert len(res["affected_parts"]) <= 4 * 5, res
        post = _part_files(idx)
        untouched = [d for d in pre if int(d.split("=")[1]) not in res["affected_parts"]]
        assert untouched, "64 partitions vs ≤20 affected must leave most untouched"
        for d in untouched:
            assert post[d] == pre[d], f"{d} was rewritten"

    rebuilt = str(tmp_path / "mh_full")
    materialize_minhash(t.read(), rebuilt, num_parts=64, bands=4)
    assert _index_rows(spark, idx) == _index_rows(spark, rebuilt)


def test_update_minhash_no_sidecar_falls_back(spark, tmp_path, corpus_table):
    """sidecar=False + no _before column => the documented O(index)
    fallback: all partitions rewritten, result still equals the rebuild."""
    t = corpus_table
    v1 = t.version()
    idx = str(tmp_path / "mh")
    materialize_minhash(t.read(), idx, num_parts=8, sidecar=False)

    ups = spark.createDataFrame([(200, _text(200))], "doc_id long, text string")
    t.merge_mor(
        ups, spark.createDataFrame([(2,)], "doc_id long"), epoch_id="e1"
    )
    changes = t.read_changes(v1)  # no include_old
    res = update_minhash(spark, idx, changes)
    assert res["exact_old_location"] is False and res["old_location"] == "full"

    rebuilt = str(tmp_path / "mh_full")
    materialize_minhash(t.read(), rebuilt, num_parts=8, sidecar=False)
    assert _index_rows(spark, idx) == _index_rows(spark, rebuilt)


def test_probe_reads_only_probed_partitions(spark, tmp_path):
    """The probe's partition filter must prune at the FILE level: only the
    probe docs' band-key partitions are listed/read, never the whole index
    — the property that keeps per-epoch dup checks O(changed) at 100 TB."""
    docs = spark.createDataFrame(
        [(i, _text(i)) for i in range(60)], "doc_id long, text string"
    )
    idx = str(tmp_path / "mh")
    materialize_minhash(docs, idx, num_parts=16)
    n_parts = len([d for d in os.listdir(os.path.join(idx, "index")) if d.startswith("part=")])

    probe = spark.createDataFrame([(999, _near_dup_of(10))], "doc_id long, text string")
    df = probe_near_dups(spark, idx, probe)
    got = df.collect()
    assert any(r["match_id"] == 10 for r in got)

    def scan_metric(node, key):
        nm = node.nodeName()
        if "AdaptiveSparkPlan" in nm:  # AQE re-plans this multi-stage query
            return scan_metric(node.executedPlan(), key)
        if "QueryStage" in nm:
            return scan_metric(node.plan(), key)
        if "Scan" in nm and "parquet" in nm.lower():
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
    assert n_read is not None
    # one probe doc => at most `bands` (4) band keys => ≤4 of the 16 dirs
    assert n_read <= 4 < n_parts, f"read {n_read} of {n_parts} partitions"


def test_probe_and_verify_end_to_end(spark, tmp_path, corpus_table):
    """The complete O(changed) epoch dup check: candidates partition-pruned
    from the index, match texts point-fetched via the table's bucket-pruned
    read_keys, exact jaccard verify — the planted near-dup survives, band
    collisions without textual overlap do not, and a no-candidate probe
    returns an empty typed frame (exercising read_keys' empty-probe path
    indirectly and the early-exit directly)."""
    from go_dcp_kafka_spark.functions.dedup_index import probe_and_verify

    t = corpus_table
    idx = str(tmp_path / "mh")
    materialize_minhash(t.read(), idx, num_parts=16)

    probe = spark.createDataFrame(
        [(999, _near_dup_of(10))], "doc_id long, text string"
    )
    got = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in probe_and_verify(spark, idx, probe, t, threshold=0.5).collect()
    }
    assert (999, 10) in got and got[(999, 10)] >= 0.5

    # a probe with no shared shingles at all: no verified pairs, empty
    # frame with the right columns
    alien = spark.createDataFrame(
        [(998, "zz yy xx qq pp oo nn mm ll kk jj ii")], "doc_id long, text string"
    )
    res = probe_and_verify(spark, idx, alien, t)
    assert res.columns == ["a_id", "b_id", "jaccard"] and res.count() == 0

    # read_keys with an EMPTY probe set: empty result, table schema, no crash
    empty = t.read_keys(spark.createDataFrame([], "doc_id long"))
    assert empty.count() == 0 and set(t.read().columns) == set(empty.columns)

    # a duplicated probe id means two texts for one key — ambiguous verify
    # lookup; refused loudly like update_minhash's feed contract
    dup = spark.createDataFrame(
        [(999, "a b c"), (999, "d e f")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="key-unique"):
        probe_and_verify(spark, idx, dup, t)


def test_duplicate_key_feed_refused(spark, tmp_path):
    """A feed with two rows for one doc would land BOTH texts' band rows —
    silent corruption; update_minhash must refuse it loudly (the feed
    contract is one row per key per epoch, a snapshot diff's shape)."""
    docs = spark.createDataFrame(
        [(i, _text(i)) for i in range(4)], "doc_id long, text string"
    )
    idx = str(tmp_path / "mh")
    materialize_minhash(docs, idx, num_parts=8)
    dup_feed = spark.createDataFrame(
        [(1, "one text", "update", {"text": _text(1)}),
         (1, "another text", "update", {"text": _text(1)})],
        "doc_id long, text string, _change string, _before struct<text:string>",
    )
    with pytest.raises(ValueError, match="key-unique"):
        update_minhash(spark, idx, dup_feed)


def test_emptied_index_accepts_next_epoch(spark, tmp_path):
    """An epoch that deletes EVERY doc leaves an index with zero part=
    dirs; the next epoch's inserts (and probes against the re-filled
    index) must still apply — a bare read of the partition-less dir would
    fail schema inference."""
    docs = spark.createDataFrame(
        [(i, _text(i)) for i in range(4)], "doc_id long, text string"
    )
    idx = str(tmp_path / "mh")
    materialize_minhash(docs, idx, num_parts=8)

    wipe = spark.createDataFrame(
        [(i, None, "delete", {"text": _text(i)}) for i in range(4)],
        "doc_id long, text string, _change string, _before struct<text:string>",
    )
    res = update_minhash(spark, idx, wipe)
    assert res["emptied_parts"] and not any(
        d.startswith("part=") for d in os.listdir(os.path.join(idx, "index"))
    )

    refill = spark.createDataFrame(
        [(10, _text(3), "insert", None), (11, _near_dup_of(3), "insert", None)],
        "doc_id long, text string, _change string, _before struct<text:string>",
    )
    res2 = update_minhash(spark, idx, refill)
    assert res2["exact_old_location"] is True
    rebuilt = str(tmp_path / "mh_full")
    materialize_minhash(
        spark.createDataFrame(
            [(10, _text(3)), (11, _near_dup_of(3))], "doc_id long, text string"
        ),
        rebuilt,
        num_parts=8,
    )
    assert _index_rows(spark, idx) == _index_rows(spark, rebuilt)

    probe = spark.createDataFrame([(99, _text(3))], "doc_id long, text string")
    got = {(r["probe_id"], r["match_id"]) for r in probe_near_dups(spark, idx, probe).collect()}
    assert (99, 10) in got

    # probing a fully-empty index (before any refill) must return no rows,
    # not crash
    empty_idx = str(tmp_path / "mh_empty")
    materialize_minhash(docs.limit(0), empty_idx, num_parts=8)
    assert probe_near_dups(spark, empty_idx, probe).count() == 0


def test_index_tracks_streamed_table(spark, tmp_path, log_dir):
    """End-to-end consumer loop (the CDC→dedup story): a streaming replay
    lands epochs on the transcripts table; a downstream consumer polls
    ``read_changes(include_old=True)`` after each epoch (the reference's
    consumer-group tail, kafka/client.go:220-233) and maintains the
    MinHash-LSH index via ``update_minhash``. After the stream drains, the
    incrementally-maintained index equals a full ``materialize_minhash``
    rebuild over the final table."""
    from go_dcp_kafka_spark.functions.hashing import md5_hash60
    from go_dcp_kafka_spark.streaming.runner import CdcPipeline

    pipe = CdcPipeline(spark, str(tmp_path / "p"), run_id="mhstream")
    polled = []
    pipe.on_epoch_complete = lambda stats: polled.append(
        pipe.tables["transcripts"].version()
    )
    pipe.run_stream(log_dir, str(tmp_path / "ckpt"), max_files_per_trigger=2)
    t = pipe.tables["transcripts"]
    assert len(polled) >= 2, "need multiple epochs to exercise the poll loop"

    doc_id = md5_hash60(F.concat_ws("#", F.col("conv_id"), F.col("turn_idx")))
    txt = F.coalesce(F.col("text"), F.lit("x"))

    def as_docs(df):
        return df.select(doc_id.alias("doc_id"), txt.alias("text"))

    idx = str(tmp_path / "mh")
    v0 = polled[0]
    materialize_minhash(as_docs(t.read(t._manifest_at(v0))), idx, num_parts=8)
    for prev, v in zip(polled, polled[1:]):
        if v == prev:
            continue
        ch = t.read_changes(from_version=prev, to_version=v, include_old=True)
        feed = ch.select(
            doc_id.alias("doc_id"),
            txt.alias("text"),
            "_change",
            F.when(
                F.col("_before").isNotNull(),
                F.struct(
                    F.coalesce(F.col("_before.text"), F.lit("x")).alias("text")
                ),
            ).alias("_before"),
        )
        res = update_minhash(spark, idx, feed)
        assert res["exact_old_location"] is True

    rebuilt = str(tmp_path / "mh_full")
    materialize_minhash(as_docs(t.read()), rebuilt, num_parts=8)
    assert _index_rows(spark, idx) == _index_rows(spark, rebuilt)


def test_update_after_update_composes(spark, tmp_path, corpus_table):
    """Two successive CDC epochs applied incrementally equal one rebuild —
    the consumer-tail loop composes."""
    t = corpus_table
    idx = str(tmp_path / "mh")
    materialize_minhash(t.read(), idx, num_parts=8)

    for i, (ins_id, upd_id, del_id) in enumerate([(300, 11, 12), (301, 300, 13)]):
        v = t.version()
        ups = spark.createDataFrame(
            [(ins_id, _text(ins_id)), (upd_id, _near_dup_of(upd_id))],
            "doc_id long, text string",
        )
        t.merge_mor(
            ups,
            spark.createDataFrame([(del_id,)], "doc_id long"),
            epoch_id=f"e{i}",
        )
        res = update_minhash(spark, idx, t.read_changes(v, include_old=True))
        assert res["exact_old_location"] is True

    rebuilt = str(tmp_path / "mh_full")
    materialize_minhash(t.read(), rebuilt, num_parts=8)
    assert _index_rows(spark, idx) == _index_rows(spark, rebuilt)


def test_probe_and_verify_composite_key_fetch(spark, tmp_path):
    """A corpus living in a COMPOSITE-key table (the transcripts shape —
    keyed (conv_id, turn_idx)) uses probe_and_verify via fetch_texts: the
    index's doc_id is the reversible string 'conv#turn', and the callable
    splits candidate ids back into typed keys for the bucket-pruned
    read_keys point fetch. The planted near-dup is found end to end, and
    passing both / neither of corpus_table and fetch_texts is refused."""
    from go_dcp_kafka_spark.functions.dedup_index import probe_and_verify

    rows = [(f"c{i % 7}", i // 7, _text(i)) for i in range(60)]
    t = SnapshotTable(
        spark, str(tmp_path / "tr"), ("conv_id", "turn_idx"), num_buckets=4
    )
    t.overwrite(
        spark.createDataFrame(rows, "conv_id string, turn_idx int, text string"),
        epoch_id="t0",
    )
    doc_id = F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"))
    idx = str(tmp_path / "mh")
    materialize_minhash(
        t.read().select(doc_id.alias("doc_id"), "text"), idx, num_parts=16
    )

    def fetch(ids_df):
        keys = ids_df.select(
            F.split_part("doc_id", F.lit("#"), F.lit(1)).alias("conv_id"),
            F.split_part("doc_id", F.lit("#"), F.lit(2)).cast("int").alias("turn_idx"),
        )
        return t.read_keys(keys).select(
            F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias("doc_id"),
            "text",
        )

    probe = spark.createDataFrame(
        [("probe#0", _near_dup_of(10))], "doc_id string, text string"
    )
    got = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in probe_and_verify(
            spark, idx, probe, fetch_texts=fetch, threshold=0.5
        ).collect()
    }
    # doc 10 lives at conv c3 turn 1
    assert ("probe#0", "c3#1") in got and got[("probe#0", "c3#1")] >= 0.5

    with pytest.raises(ValueError, match="exactly one"):
        probe_and_verify(spark, idx, probe)
    with pytest.raises(ValueError, match="exactly one"):
        probe_and_verify(spark, idx, probe, corpus_table=t, fetch_texts=fetch)


def test_maintain_exact_dedup_tracks_corpus(spark, tmp_path):
    """CDC-maintained EXACT-dedup table (md5(text) -> n_copies, keeper_id =
    MIN doc id): a text edit migrates a doc between hash groups, deleting
    a group's KEEPER with survivors triggers exactly one bounded MIN
    recompute (reported), a fully-deleted group leaves the table, a
    text-identical rewrite produces an empty delta set, and after every
    epoch the table equals a from-scratch GROUP BY over the corpus."""
    from go_dcp_kafka_spark.functions.dedup_index import (
        exact_dedup_deltas,
        maintain_exact_dedup,
    )

    def scratch(t):
        return {
            (r["h"]): (r["n_copies"], r["keeper_id"])
            for r in t.read()
            .filter(F.col("text").isNotNull())
            .groupBy(F.md5("text").alias("h"))
            .agg(
                F.count("*").cast("long").alias("n_copies"),
                F.min("doc_id").alias("keeper_id"),
            )
            .collect()
        }

    # 10 docs in 4 content groups: g0={0,4,8} g1={1,5,9} g2={2,6} g3={3,7}
    docs = spark.createDataFrame(
        [(i, _text(i % 4)) for i in range(10)], "doc_id long, text string"
    )
    t = SnapshotTable(spark, str(tmp_path / "docs"), ("doc_id",), num_buckets=4)
    t.overwrite(docs, epoch_id="x0")
    dt = SnapshotTable(spark, str(tmp_path / "dedup"), ("h",), num_buckets=4)
    dt.overwrite(
        spark.createDataFrame(
            [(h, n, k) for h, (n, k) in scratch(t).items()],
            "h string, n_copies long, keeper_id long",
        ),
        epoch_id="dd0",
    )

    # epoch 1: delete g0's keeper (0; survivors 4,8 -> bounded recompute),
    # migrate doc 5 from g1 to g2's content, insert a brand-new text
    v = t.version()
    t.merge_mor(
        spark.createDataFrame(
            [(5, _text(2)), (100, "totally new content here")],
            "doc_id long, text string",
        ),
        spark.createDataFrame([(0,)], "doc_id long"),
        epoch_id="x1",
    )
    res = maintain_exact_dedup(dt, t, v, epoch_id="dd1")
    assert res["recomputed_groups"] == 1, res
    got = {r["h"]: (r["n_copies"], r["keeper_id"]) for r in dt.read().collect()}
    assert got == scratch(t)
    # g0's keeper moved to the surviving minimum
    import hashlib

    g0h = hashlib.md5(_text(0).encode()).hexdigest()
    assert got[g0h] == (2, 4)

    # a text-identical rewrite is a no-op: empty delta set
    v = t.version()
    t.merge_mor(
        spark.createDataFrame([(1, _text(1))], "doc_id long, text string"),
        None,
        epoch_id="x2",
    )
    d = exact_dedup_deltas(t.read_changes(v, include_old=True))
    assert d.count() == 0
    res = maintain_exact_dedup(dt, t, v, epoch_id="dd2")
    assert res["recomputed_groups"] == 0
    assert {r["h"]: (r["n_copies"], r["keeper_id"]) for r in dt.read().collect()} == scratch(t)

    # epoch 3 (COW path): delete ALL of g3 -> its hash leaves the table
    v = t.version()
    t.merge(
        spark.createDataFrame([], "doc_id long, text string"),
        spark.createDataFrame([(3,), (7,)], "doc_id long"),
        epoch_id="x3",
    )
    maintain_exact_dedup(dt, t, v, epoch_id="dd3")
    final = {r["h"]: (r["n_copies"], r["keeper_id"]) for r in dt.read().collect()}
    assert final == scratch(t)
    g3h = hashlib.md5(_text(3).encode()).hexdigest()
    assert g3h not in final


def test_emptied_string_keyed_index_accepts_next_epoch(spark, tmp_path):
    """r5 ADVICE (medium): the index supports string/derived doc ids (the
    composite-key corpora path indexes 'conv#turn' strings). After an epoch
    empties a STRING-keyed index, the empty-fallback frame must reproduce
    the recorded id type — a hardcoded 'doc_id long' would make the next
    epoch's union coerce (or fail under ANSI) and the probe join long
    against string."""
    docs = spark.createDataFrame(
        [(f"c{i}#0", _text(i)) for i in range(4)], "doc_id string, text string"
    )
    idx = str(tmp_path / "mhs")
    materialize_minhash(docs, idx, num_parts=8)
    import json

    with open(os.path.join(idx, "params.json")) as f:
        assert json.load(f)["doc_id_type"] == "string"

    wipe = spark.createDataFrame(
        [(f"c{i}#0", None, "delete", {"text": _text(i)}) for i in range(4)],
        "doc_id string, text string, _change string, _before struct<text:string>",
    )
    res = update_minhash(spark, idx, wipe)
    assert res["emptied_parts"]

    refill = spark.createDataFrame(
        [("c10#0", _text(3), "insert", None), ("c11#0", _near_dup_of(3), "insert", None)],
        "doc_id string, text string, _change string, _before struct<text:string>",
    )
    update_minhash(spark, idx, refill)
    assert dict(spark.read.parquet(os.path.join(idx, "index")).dtypes)["doc_id"] == "string"

    probe = spark.createDataFrame([("p#0", _text(3))], "doc_id string, text string")
    got = {(r["probe_id"], r["match_id"]) for r in probe_near_dups(spark, idx, probe).collect()}
    assert ("p#0", "c10#0") in got


def test_maintain_exact_dedup_reserve_keeper_promotion(spark, tmp_path):
    """r6 headline (r5 verdict item 1, dedup inheritance): with the table
    bootstrapped via bootstrap_exact_dedup (keeper reserve of the R
    smallest ids), deleting a group's KEEPER while copies survive promotes
    the next reserve id with recomputed_groups == 0 — the corpus scan
    fires only after R keeper-side deletions exhaust a group's reserve,
    then refills. Equality vs a from-scratch GROUP BY md5(text) after
    every epoch."""
    import hashlib

    from go_dcp_kafka_spark.functions.dedup_index import (
        bootstrap_exact_dedup,
        maintain_exact_dedup,
    )

    def scratch(t):
        return {
            (r["h"]): (r["n_copies"], r["keeper_id"])
            for r in t.read()
            .filter(F.col("text").isNotNull())
            .groupBy(F.md5("text").alias("h"))
            .agg(
                F.count("*").cast("long").alias("n_copies"),
                F.min("doc_id").alias("keeper_id"),
            )
            .collect()
        }

    # g0 = docs {0,4,8,12,16} (5 copies), g1 = {1,5}, g2 = {2,6}, g3 = {3,7}
    docs = spark.createDataFrame(
        [(i, _text(i % 4)) for i in range(9)] + [(12, _text(0)), (16, _text(0))],
        "doc_id long, text string",
    )
    t = SnapshotTable(spark, str(tmp_path / "docs"), ("doc_id",), num_buckets=4)
    t.overwrite(docs, epoch_id="x0")
    dt = SnapshotTable(spark, str(tmp_path / "dedup"), ("h",), num_buckets=4)
    dt.overwrite(bootstrap_exact_dedup(t, reserve_r=2), epoch_id="dd0")
    g0h = hashlib.md5(_text(0).encode()).hexdigest()
    rsv = {r["h"]: list(r["_rsv_keeper_id"]) for r in dt.read().collect()}
    assert rsv[g0h] == [0, 4]

    def check(msg):
        got = {r["h"]: (r["n_copies"], r["keeper_id"]) for r in dt.read().collect()}
        assert got == scratch(t), msg
        return got

    # epoch 1: delete g0's keeper (survivors 4,8,12,16) -> reserve promotes
    # id 4, NO corpus scan
    v = t.version()
    t.merge_mor(
        spark.createDataFrame([], "doc_id long, text string"),
        spark.createDataFrame([(0,)], "doc_id long"), epoch_id="x1",
    )
    res = maintain_exact_dedup(dt, t, v, epoch_id="dd1", reserve_r=2)
    assert res["recomputed_groups"] == 0, res
    assert check("e1")[g0h] == (4, 4)
    # epoch 2: delete the promoted keeper too -> reserve exhausted (R=2),
    # exactly one scan refills it from the survivors {8,12,16}
    v = t.version()
    t.merge(
        spark.createDataFrame([], "doc_id long, text string"),
        spark.createDataFrame([(4,)], "doc_id long"), epoch_id="x2",
    )
    res = maintain_exact_dedup(dt, t, v, epoch_id="dd2", reserve_r=2)
    assert res["recomputed_groups"] == 1, res
    assert check("e2")[g0h] == (3, 8)
    assert {r["h"]: list(r["_rsv_keeper_id"]) for r in dt.read().collect()}[g0h] == [8, 12]
    # epoch 3: next keeper deletion consumes the refilled reserve scan-free
    v = t.version()
    t.merge_mor(
        spark.createDataFrame([], "doc_id long, text string"),
        spark.createDataFrame([(8,)], "doc_id long"), epoch_id="x3",
    )
    res = maintain_exact_dedup(dt, t, v, epoch_id="dd3", reserve_r=2)
    assert res["recomputed_groups"] == 0, res
    assert check("e3")[g0h] == (2, 12)
    # epoch 4: hash migration (edit doc 1 to g2's content) + a same-text
    # delete+reinsert pair (group reborn under a new id) — no scans
    v = t.version()
    t.merge_mor(
        spark.createDataFrame(
            [(1, _text(2)), (300, _text(3))], "doc_id long, text string"
        ),
        spark.createDataFrame([(3,), (7,)], "doc_id long"), epoch_id="x4",
    )
    res = maintain_exact_dedup(dt, t, v, epoch_id="dd4", reserve_r=2)
    assert res["recomputed_groups"] == 0, res
    check("e4")


def test_probe_near_dups_pushdown_reported(spark, tmp_path, monkeypatch):
    """No-silent-caps (r5 verdict item 8): probe_near_dups discloses via
    stats_out whether the probe's band keys reached the row-group scan as
    an IN pushdown or only the partition filter pruned (cap exceeded) —
    and probe_and_verify passes the hook through."""
    from go_dcp_kafka_spark.functions.dedup_index import probe_and_verify

    docs = spark.createDataFrame(
        [(i, _text(i)) for i in range(40)], "doc_id long, text string"
    )
    t = SnapshotTable(spark, str(tmp_path / "docs"), ("doc_id",), num_buckets=4)
    t.overwrite(docs, epoch_id="b0")
    idx = str(tmp_path / "mh")
    materialize_minhash(docs, idx, num_parts=16)
    probe = spark.createDataFrame([(999, _near_dup_of(10))], "doc_id long, text string")
    stats = {}
    got = {(r["probe_id"], r["match_id"]) for r in
           probe_near_dups(spark, idx, probe, stats_out=stats).collect()}
    assert (999, 10) in got
    assert stats["band_key_pushdown"] is True and stats["probed_parts"] >= 1
    # force the cap: 1 probe doc emits `bands` keys > a cap of 2
    from go_dcp_kafka_spark.table import snapshot

    with monkeypatch.context() as mp:
        mp.setattr(snapshot, "PUSHDOWN_CAP", 2)
        stats2 = {}
        got2 = {(r["probe_id"], r["match_id"]) for r in
                probe_near_dups(spark, idx, probe, stats_out=stats2).collect()}
    assert got2 == got, "cap changes IO, never results"
    assert stats2["band_key_pushdown"] is False and stats2["pushdown_cap"] == 2
    # passes through probe_and_verify
    stats3 = {}
    out = probe_and_verify(spark, idx, probe, t, threshold=0.5, stats_out=stats3)
    assert out.count() >= 1 and stats3["band_key_pushdown"] is True


def test_replay_after_crash_between_index_write_and_sidecar_merge(
    spark, tmp_path, corpus_table
):
    """r7 (r6 ADVICE, medium): update_minhash now rewrites the INDEX before
    merging the sidecar, so a crash between the two leaves a post-epoch
    index with a STALE (pre-epoch) sidecar — the safe direction: replaying
    the epoch on the no-before-image path derives the TRUE old keys from
    the stale sidecar and removal stays exact. (The pre-r7 order left a
    post-epoch sidecar over a pre-epoch index, so a replay derived
    old_parts from the NEW keys and could orphan old rows forever.)"""
    t = corpus_table
    idx = str(tmp_path / "mh")
    materialize_minhash(t.read(), idx, num_parts=64, bands=4)

    v = t.version()
    ups = spark.createDataFrame(
        [(300, _text(300)), (5, "totally different text now here")],
        "doc_id long, text string",
    )
    t.merge_mor(ups, spark.createDataFrame([(2,)], "doc_id long"), epoch_id="e0")
    changes = t.read_changes(v)  # no before-images -> sidecar path

    # snapshot the sidecar, apply the epoch, then RESTORE the sidecar:
    # exactly the on-disk state a crash after _write_index leaves behind
    side = os.path.join(idx, "sidecar")
    side_bak = str(tmp_path / "sidecar_bak")
    shutil.copytree(side, side_bak)
    res1 = update_minhash(spark, idx, changes)
    assert res1["old_location"] == "sidecar"
    shutil.rmtree(side)
    shutil.copytree(side_bak, side)

    # replay the SAME epoch feed against the crashed state
    res2 = update_minhash(spark, idx, t.read_changes(v))
    assert res2["old_location"] == "sidecar"

    rebuilt = str(tmp_path / "mh_full")
    materialize_minhash(t.read(), rebuilt, num_parts=64, bands=4)
    assert _index_rows(spark, idx) == _index_rows(spark, rebuilt)

    # and the sidecar healed: a THIRD epoch still locates old rows exactly
    v2 = t.version()
    t.merge_mor(
        spark.createDataFrame([(301, _text(301)), (300, _text(77))], "doc_id long, text string"),
        spark.createDataFrame([(9,)], "doc_id long"),
        epoch_id="e1",
    )
    res3 = update_minhash(spark, idx, t.read_changes(v2))
    assert res3["old_location"] == "sidecar" and res3["exact_old_location"] is True
    rebuilt2 = str(tmp_path / "mh_full2")
    materialize_minhash(t.read(), rebuilt2, num_parts=64, bands=4)
    assert _index_rows(spark, idx) == _index_rows(spark, rebuilt2)

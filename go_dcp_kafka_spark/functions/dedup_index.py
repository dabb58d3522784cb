"""Materialized MinHash-LSH index with changelog-driven maintenance — the
dedup-side twin of ``similarity.materialize_ivf`` / ``update_ivf``.

A training pipeline's near-dup index must TRACK the corpus: when an epoch
of CDC changes lands (``SnapshotTable.read_changes``), recomputing every
document's signature to ask "did this epoch introduce duplicates?" is the
full-table-poll disease all over again (reference analog: consumers read
only the appended log segment — /root/reference/kafka/client.go:220-233).

Layout: one parquet table of ``(doc_id, band_id, band_key)`` rows,
hash-partitioned by ``part = band_key % num_parts`` (band_key is the
60-bit oracle-portable md5 band hash, so ``part`` is deterministic and
SQL-twinnable). Within each partition files are sorted by
``(band_key, doc_id)`` so a probe's ``band_key IN (...)`` pushdown skips
to matching row groups.

Scale shape:
- ``materialize_minhash``: signatures are a pure projection; the only
  shuffle is the repartition-by-part for the partitioned write.
- ``update_minhash``: O(changed). New/updated docs are signed from the
  change rows alone; OLD index rows are located EXACTLY by re-signing the
  before-image text (``read_changes(include_old=True)``'s ``_before``
  struct) — same text => same band keys => same partitions — so only
  ``bands × changed-docs`` partitions are rewritten (dynamic partition
  overwrite) and nothing scans the corpus or the full index. Without a
  before-image the function falls back to an all-partition anti-join
  (documented O(index) path).
- ``probe_near_dups``: candidates for a set of docs (typically the
  epoch's changed docs) via partition-filter + row-group-stats pushdown —
  reads only the probed band keys' partitions, never the whole index.

``num_parts`` is the rewrite/probe granule: size it so one partition is a
few hundred MB at the target corpus (total index rows = docs × bands).
The granule only PRUNES when ``num_parts ≫ 2 × bands × epoch docs`` (an
epoch's old+new band keys are uniform over partitions, so a 200-doc epoch
against 64 partitions touches all of them and the rewrite degenerates to
O(index) IO — BENCH/MICRO.md r5); the bytes rule satisfies this
automatically at scale (a 100-TB index has ~10^5 partitions vs ~10^3
band keys per poll).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from go_dcp_kafka_spark.functions.dedup_text import (
    minhash_band_buckets,
    minhash_signatures,
)
from go_dcp_kafka_spark.table import snapshot

_PARAM_KEYS = ("num_hashes", "bands", "shingle_words", "num_parts")


def _band_rows(docs: DataFrame, text_col: str, p: dict) -> DataFrame:
    """(doc_id, band_id, band_key, part) for each doc — a pure projection
    chain (no shuffle) reusing the oracle-portable signature pipeline."""
    sigs = minhash_signatures(docs, text_col, p["num_hashes"], p["shingle_words"])
    bk = minhash_band_buckets(sigs, p["bands"], p["num_hashes"] // p["bands"])
    return bk.withColumn("part", F.pmod(F.col("band_key"), F.lit(p["num_parts"])))


def _fan(df: DataFrame) -> DataFrame:
    """Spread a SMALL frame that feeds the expensive signing projection
    across the cluster's cores. CDC-poll frames arrive here as the output
    of an AQE-coalesced shuffle or a localCheckpoint — often 1-3 partitions
    — and md5-signing a few thousand docs serially was the single largest
    cost in the r7 profile of update_minhash (6.5 s of a 22 s call at
    local[32]/sf1.0). The shuffle moved is the poll-sized rows themselves
    (KBs-MBs); at real scale a poll spans many partitions already and this
    round-robin is a cheap rebalance of a tiny frame either way."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism)


def _load_params(path: str) -> dict:
    with open(os.path.join(path, "params.json")) as f:
        return json.load(f)


def _read_index(spark, index_dir: str, p: dict) -> DataFrame:
    """Empty-safe index read: a fully-emptied index (every doc deleted, or
    materialized over zero docs) has NO part= dirs, and a bare
    spark.read.parquet would fail schema inference — the next epoch's
    inserts must still apply. The empty frame's doc_id type comes from
    ``params.json`` (recorded at materialize time): the index supports
    string/derived doc ids, and a hardcoded ``long`` would make the next
    epoch's union/anti-join coerce or fail under ANSI for a string-keyed
    index that emptied (r5 ADVICE)."""
    if any(d.startswith("part=") for d in os.listdir(index_dir)):
        return spark.read.parquet(index_dir)
    id_t = p.get("doc_id_type", "long")
    return spark.createDataFrame([], f"doc_id {id_t}, band_id int, band_key long, part int")


def _write_index(rows: DataFrame, index_dir: str, dynamic: bool = False) -> None:
    w = (
        rows.repartition(F.col("part"))
        # in-task sort: row-group min/max stats on band_key make probe-side
        # IN pushdowns skip to matching row groups (same trick as
        # materialize_ivf's id sort)
        .sortWithinPartitions("band_key", "doc_id")
        .write.partitionBy("part")
        .mode("overwrite")
    )
    if dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    w.parquet(index_dir)


def _sidecar_table(spark, path: str, p: dict):
    return snapshot.SnapshotTable(
        spark, os.path.join(path, "sidecar"), ("doc_id",),
        num_buckets=p.get("sidecar_buckets", 16),
    )


def materialize_minhash(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    num_parts: int = 64,
    sidecar: bool = True,
    sidecar_buckets: int = 16,
) -> str:
    """Build the LSH band index for ``docs`` at ``path`` and persist the
    signature parameters alongside (update/probe MUST reuse them — a
    different permutation set would silently index a different space).

    ``sidecar=True`` (default) additionally materializes a compact
    ``doc_id -> band_keys`` SnapshotTable next to the index: the key to
    O(changed) maintenance for feeds WITHOUT before-images (the common
    Debezium wire shape) — ``update_minhash`` point-looks-up a changed
    doc's OLD band keys by id (bucket-pruned ``read_keys``, the reference's
    checkpoint-reload shape: a point lookup by vbID,
    /root/reference/kafka/metadata/kafka_metadata.go:48-129) instead of
    anti-joining the whole index. One row per doc, ``bands`` longs each —
    ~1/2000th of the corpus bytes at typical document sizes."""
    p = dict(
        num_hashes=num_hashes,
        bands=bands,
        shingle_words=shingle_words,
        num_parts=num_parts,
        # the empty-index fallback frame must reproduce the indexed id type
        # (string/derived ids are first-class — r5 ADVICE)
        doc_id_type=docs.schema["doc_id"].dataType.simpleString(),
        sidecar=bool(sidecar),
        sidecar_buckets=sidecar_buckets,
    )
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "params.json"), "w") as f:
        json.dump(p, f)
    # _fan: a SnapshotTable.read() of a few bucket files arrives as a
    # handful of scan partitions; the signing projection is the expensive
    # part of the build, so spread it over every core first (r7 — the
    # sf1.0 profile showed the build running on ~8 of 32 cores)
    rows = _band_rows(_fan(docs), text_col, p)
    if sidecar:
        # the band rows are a pure projection of docs — localCheckpoint so
        # the index write and the sidecar aggregation share one signing pass
        rows = rows.localCheckpoint(eager=True)
        _sidecar_table(docs.sparkSession, path, p).overwrite(
            rows.groupBy("doc_id").agg(F.collect_list("band_key").alias("band_keys")),
            epoch_id="sidecar-0",
        )
    _write_index(rows, os.path.join(path, "index"))
    return path


def update_minhash(
    spark,
    path: str,
    changes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    change_col: str = "_change",
    before_col: str = "_before",
    epoch_id: str | None = None,
) -> dict:
    """Apply a CDC changes feed to a materialized MinHash index.

    ``changes``: (id_col, text_col, change_col ∈ insert/update/delete[,
    before_col struct]) — exactly what ``SnapshotTable.read_changes(...,
    include_old=True)`` returns for a documents table keyed by ``id_col``
    (deletes carry a null new text; ``_before`` is null for inserts).
    The feed must be KEY-UNIQUE — one row per doc per epoch — which a
    snapshot diff is by construction; a raw multi-event stream must be
    LWW-folded first (the same contract merge() has for upserts).

    Old rows of updated/deleted docs are located EXACTLY, in preference
    order (``old_location`` in the return dict):

    - ``before_image``: re-sign the before-image text — identical text ⇒
      identical band keys ⇒ identical partitions.
    - ``sidecar``: no before-images (``include_old=False`` / a Debezium
      wire without them) but the index carries the doc→band_keys sidecar —
      the changed ids' OLD band keys come from a bucket-pruned
      ``read_keys`` point lookup (the reference's checkpoint reload is the
      same shape: a point lookup by vbID,
      /root/reference/kafka/metadata/kafka_metadata.go:48-129). Still
      O(changed): only ``bands × changed`` partitions are touched.
    - ``full``: neither available (index materialized with
      ``sidecar=False`` before r6) — the documented O(index) anti-join
      over every partition.

    Result ≡ a full ``materialize_minhash`` rebuild over the updated
    corpus on every path. The sidecar itself is maintained in the same
    call (merge upserts for new/updated docs, deletes for removals);
    ``epoch_id`` keys that merge (auto-unique when omitted — replaying an
    epoch's feed is content-idempotent regardless). Returns the
    affected/emptied partition lists plus the location path taken."""
    p = _load_params(path)
    index_dir = os.path.join(path, "index")
    ch = changes.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_t"),
        F.col(change_col).alias("_change"),
        *(
            [F.col(f"{before_col}.{text_col}").alias("_ot")]
            if before_col in changes.columns
            else []
        ),
    # the feed is CDC-poll sized by contract but its PLAN can be arbitrary
    # (read_changes is a manifest diff + joins): materialize it once — the
    # parts collects, the before-image probe, and the final union below
    # would otherwise each re-run the upstream plan (r5 micro: 8.7s -> ~3s
    # on the sf0.1 driver query)
    ).localCheckpoint(eager=True)
    # key-unique guard + before-image completeness in ONE job over the
    # checkpointed poll-sized feed (r7: these were two separate scans):
    # a duplicated doc in one feed would land BOTH texts' band rows (silent
    # index corruption) — fail loudly; a non-insert without a before-image
    # disqualifies the exact before_image path.
    has_ot = "_ot" in ch.columns
    miss_e = (
        F.sum(
            F.when((F.col("_change") != "insert") & F.col("_ot").isNull(), 1).otherwise(0)
        )
        if has_ot
        else F.lit(None)
    )
    guard = (
        ch.groupBy("doc_id")
        .agg(F.count("*").alias("_n"), miss_e.alias("_miss"))
        .agg(F.max("_n").alias("mx"), F.sum("_miss").alias("miss"))
        .collect()[0]
    )
    if (guard["mx"] or 0) > 1:
        raise ValueError(
            "changes feed must be key-unique per epoch (one row per doc; "
            "LWW-fold a multi-event stream first)"
        )
    changed_ids = ch.select("doc_id").distinct()

    # _fan both signing inputs: the checkpointed feed is typically 1-3
    # AQE-coalesced partitions, and md5-signing it serially dominated the
    # r7 profile (6.5 s + 6.3 s of a 22 s call at local[32]/sf1.0)
    new_rows = _band_rows(
        _fan(ch.filter(F.col("_change") != "delete").select("doc_id", F.col("_t").alias("_txt"))),
        "_txt",
        p,
    ).localCheckpoint(eager=True)  # reused: parts collect + final union

    old_location = None
    noninsert = ch.filter(F.col("_change") != "insert")
    # `affected` only ever needs NEW ∪ OLD parts — collect them in ONE job
    # (a union of the two part projections) instead of one job per side
    new_parts_df = new_rows.select("part")
    if has_ot and int(guard["miss"] or 0) == 0:
        old_location = "before_image"
        old_rows = _band_rows(
            _fan(noninsert.select("doc_id", F.col("_ot").alias("_txt"))), "_txt", p
        )
        affected_df = new_parts_df.unionByName(old_rows.select("part"))
    elif p.get("sidecar"):
        # no before-images: the sidecar hands back the changed ids' OLD
        # band keys by bucket-pruned point lookup — O(changed), exact
        old_keys = _sidecar_table(spark, path, p).read_keys(noninsert.select("doc_id"))
        affected_df = new_parts_df.unionByName(
            old_keys.select(F.explode("band_keys").alias("bk")).select(
                F.pmod(F.col("bk"), F.lit(p["num_parts"])).alias("part")
            )
        )
        old_location = "sidecar"
    else:
        # neither before-images nor a sidecar: any partition may hold the
        # docs' old rows — the documented O(index) fallback
        old_location = "full"
        affected_df = new_parts_df
    affected = {r["part"] for r in affected_df.distinct().collect()}
    if old_location == "full":
        affected |= {
            int(d.split("=")[1]) for d in os.listdir(index_dir) if d.startswith("part=")
        }
    affected = sorted(affected)

    res = {
        "affected_parts": affected,
        "emptied_parts": [],
        "exact_old_location": old_location != "full",
        "old_location": old_location,
    }
    if affected:
        index = _read_index(spark, index_dir, p)
        remaining = index.filter(F.col("part").isin(affected)).join(
            F.broadcast(changed_ids), "doc_id", "left_anti"
        )
        # localCheckpoint: legal to overwrite the dirs we just read, and the
        # affected slice is CDC-poll sized
        out = (
            remaining.select("doc_id", "band_id", "band_key", "part")
            .unionByName(new_rows.select("doc_id", "band_id", "band_key", "part"))
            .localCheckpoint(eager=True)
        )
        present = {r["part"] for r in out.select("part").distinct().collect()}
        emptied = [c for c in affected if c not in present]
        _write_index(out, index_dir, dynamic=True)
        for c in emptied:
            shutil.rmtree(os.path.join(index_dir, f"part={c}"), ignore_errors=True)
        res["emptied_parts"] = emptied

    if p.get("sidecar"):
        # keep the sidecar tracking the index. Merged AFTER _write_index
        # (r7, ADVICE): a crash between the index rewrite and this merge
        # leaves a STALE sidecar, which is safe — replaying the epoch
        # derives the true old keys from the stale entries and removal
        # stays exact; the pre-r7 order (sidecar first) left a POST-epoch
        # sidecar over a pre-epoch index, so a replay's no-before-image
        # path derived old_parts from the NEW keys and could orphan old
        # index rows forever. Deletes also cover changed docs that produced
        # NO band rows this epoch (defensive — ADVICE r6): their stale key
        # lists would otherwise inflate old_parts on every later epoch.
        import uuid

        gone = ch.filter(F.col("_change") == "delete").select("doc_id").unionByName(
            ch.filter(F.col("_change") != "delete")
            .select("doc_id")
            .join(new_rows.select("doc_id").distinct(), "doc_id", "left_anti")
        )
        _sidecar_table(spark, path, p).merge(
            new_rows.groupBy("doc_id").agg(F.collect_list("band_key").alias("band_keys")),
            gone,
            epoch_id=epoch_id if epoch_id is not None else f"mhidx-{uuid.uuid4().hex[:12]}",
        )
    return res


def probe_and_verify(
    spark,
    path: str,
    probe_docs: DataFrame,
    corpus_table=None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    fetch_texts=None,
    stats_out: dict | None = None,
) -> DataFrame:
    """The complete per-epoch duplicate check, O(changed) end to end:
    LSH candidates partition-pruned from the index
    (``probe_near_dups``), candidate texts fetched via the corpus TABLE's
    bucket-pruned point lookup (``SnapshotTable.read_keys`` — only the
    matched docs' bucket dirs are scanned, never the corpus), then exact
    n-gram Jaccard verification. Returns (a_id=probe, b_id=match,
    jaccard ≥ threshold).

    ``corpus_table`` needs ``.read_keys(keys_df)`` and single-column
    ``.key_cols`` (a ``SnapshotTable`` keyed by ``id_col``). For a corpus
    whose table is keyed differently (composite keys, derived doc ids),
    pass ``fetch_texts`` instead: a callable taking a poll-sized
    ``(doc_id)`` frame of candidate ids and returning ``(doc_id,
    <text_col>)`` for them — it should point-fetch (e.g. split a
    reversible derived id
    back into the table's keys and call ``read_keys``), never scan.
    Exactly one of ``corpus_table`` / ``fetch_texts`` is required.
    Probe docs already present in the corpus contribute their NEW text
    (the epoch's value wins over the stored row). Like ``update_minhash``,
    the probe set must be KEY-UNIQUE (a snapshot diff's shape): two texts
    for one probe id would make the verify lookup ambiguous, so a
    duplicated id is refused loudly."""
    from go_dcp_kafka_spark.functions.dedup_text import jaccard_verify_pairs

    if (corpus_table is None) == (fetch_texts is None):
        raise ValueError("pass exactly one of corpus_table / fetch_texts")
    # poll-sized, but its PLAN can be arbitrary (e.g. a read_changes
    # manifest diff) — materialize once for the dup guard + signing + union
    probes = probe_docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).localCheckpoint(eager=True)
    dup = probes.groupBy("doc_id").count().filter(F.col("count") > 1).limit(1).collect()
    if dup:
        raise ValueError(
            f"probe_and_verify: probe set has multiple rows for doc_id="
            f"{dup[0]['doc_id']}; the probe feed must be key-unique per epoch"
        )
    cand = probe_near_dups(
        spark, path, probes, text_col="text", id_col="doc_id", stats_out=stats_out
    ).localCheckpoint(eager=True)  # poll-sized; reused for keys + pairs
    if not cand.limit(1).count():
        id_t = probe_docs.schema[id_col].dataType.simpleString()
        return spark.createDataFrame([], f"a_id {id_t}, b_id {id_t}, jaccard double")
    cand_ids = cand.select(F.col("match_id").alias("doc_id")).distinct()
    if fetch_texts is not None:
        matches = fetch_texts(cand_ids).select("doc_id", F.col(text_col).alias("text"))
    else:
        (table_key,) = corpus_table.key_cols
        matches = corpus_table.read_keys(
            cand_ids.select(F.col("doc_id").alias(table_key))
        ).select(F.col(table_key).alias("doc_id"), F.col(text_col).alias("text"))
    # union, probe text winning for ids on both sides; _fan: the union of a
    # 1-partition checkpoint and a few bucket scans feeds the 3-gram
    # shingling in jaccard_verify_pairs — spread it before that projection
    docs = _fan(
        probes.unionByName(matches.join(probes.select("doc_id"), "doc_id", "left_anti"))
    )
    pairs = cand.select(F.col("probe_id").alias("a_id"), F.col("match_id").alias("b_id"))
    return jaccard_verify_pairs(docs, pairs, text_col="text", threshold=threshold)


def probe_near_dups(
    spark,
    path: str,
    probe_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    stats_out: dict | None = None,
) -> DataFrame:
    """Near-dup CANDIDATES for ``probe_docs`` against the indexed corpus:
    (probe_id, match_id) for every corpus doc sharing ≥1 LSH band with a
    probe doc. The epoch-sized probe's band keys become a partition filter
    (reads only ``bands × probes`` of the num_parts directories) plus — for
    point-poll-sized probes — a ``band_key IN`` row-group-stats pushdown.
    Verify candidates with ``jaccard_verify_pairs`` over the corpus; a
    probe doc already in the corpus never matches itself.

    ``stats_out``: optional dict filled with the pruning decision
    (no-silent-caps): ``band_key_pushdown`` — whether the probe's band
    keys stayed under ``snapshot.PUSHDOWN_CAP`` and reached the row-group
    scan as an IN predicate (past the cap only the partition filter prunes
    — correct, but IO inside each probed partition becomes O(partition));
    ``probed_parts``; ``pushdown_cap``."""
    p = _load_params(path)
    pr = _band_rows(
        _fan(probe_docs.select(F.col(id_col).alias("doc_id"), text_col)), text_col, p
    ).localCheckpoint(eager=False)  # avoid re-signing once per use below
    # the partition filter is ALWAYS applied (≤ num_parts values, bounded);
    # the band_key row-group pushdown only for point-poll-sized probes
    cap = snapshot.PUSHDOWN_CAP
    keys = pr.select("part", "band_key").distinct().limit(cap + 1).collect()
    if len(keys) <= cap:
        parts = sorted({r["part"] for r in keys})
    else:  # capped sample is incomplete — re-collect parts alone (≤ num_parts rows)
        parts = sorted(r["part"] for r in pr.select("part").distinct().collect())
    if stats_out is not None:
        stats_out["band_key_pushdown"] = len(keys) <= cap
        stats_out["probed_parts"] = len(parts)
        stats_out["pushdown_cap"] = cap
    index = _read_index(spark, os.path.join(path, "index"), p).filter(F.col("part").isin(parts))
    if len(keys) <= cap:
        index = index.filter(F.col("band_key").isin(sorted({r["band_key"] for r in keys})))
    probe_side = pr.select(
        F.col("doc_id").alias("probe_id"), "band_id", "band_key"
    )
    return (
        index.join(probe_side, ["band_id", "band_key"])
        .filter(F.col("doc_id") != F.col("probe_id"))
        .select("probe_id", F.col("doc_id").alias("match_id"))
        .distinct()
    )


def exact_dedup_deltas(
    changes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    before_col: str = "_before",
    change_col: str = "_change",
    reserve_r: int = 0,
) -> DataFrame:
    """Per-content-hash deltas from a before/after change feed — the
    contribution step for a CDC-MAINTAINED exact-dedup table. Every
    after-image applies (+1, its doc id) to its ``md5(text)`` group, every
    before-image retracts (−1, its doc id) from the OLD text's group, so a
    text edit is a group MIGRATION (retract old hash, apply new). One
    map-side-combinable shuffle on the hash. Null-text images are not
    dedup candidates and contribute nothing on either side.

    Output shape feeds :func:`~go_dcp_kafka_spark.operators.ivm.
    apply_agg_deltas` with ``min_map={'doc_id': 'keeper_id'}``: ``(h,
    _d_count, _a_min_doc_id, _r_min_doc_id)``. Rows where both the count
    and the min-evidence fully cancel (a text-identical rewrite) are
    dropped — the common no-op epoch touches no groups.

    With ``reserve_r=R > 0`` the scalars become the R-bounded keeper
    reserve delta arrays (``ivm.reserve_delta_frame``) so the consumer can
    maintain ``keeper_id`` with the extrema reserve — a keeper deletion
    then consumes the reserve instead of triggering the corpus scan. The
    no-op drop keeps a group whose arrays are truncated (its tail is
    unverifiable) — processing a true no-op through the reserve is a no-op
    anyway, so dropping stays a pure optimization."""
    w = F.col("_w")
    after = changes.filter(
        (F.col(change_col) != "delete") & F.col(text_col).isNotNull()
    ).select(
        F.md5(F.col(text_col)).alias("h"),
        F.col(id_col).alias("doc_id"),
        F.lit(1).alias("_w"),
    )
    before = changes.filter(
        F.col(before_col).isNotNull() & F.col(f"{before_col}.{text_col}").isNotNull()
    ).select(
        F.md5(F.col(f"{before_col}.{text_col}")).alias("h"),
        F.col(id_col).alias("doc_id"),
        F.lit(-1).alias("_w"),
    )
    if reserve_r:
        from go_dcp_kafka_spark.operators.ivm import reserve_delta_frame

        d = reserve_delta_frame(
            after.unionByName(before), ["h"], reserve_r, min_cols=["doc_id"]
        )
        return d.filter(
            (F.col("_d_count") != 0)
            | (F.col("_na_doc_id") != F.col("_nr_doc_id"))
            | (F.col("_na_doc_id") >= reserve_r)  # truncated: tail unverifiable
            | (F.col("_aL_doc_id") != F.col("_rL_doc_id"))
        )
    d = (
        after.unionByName(before)
        .groupBy("h")
        .agg(
            F.sum(w).cast("long").alias("_d_count"),
            F.min(F.when(w == 1, F.col("doc_id"))).alias("_a_min_doc_id"),
            F.min(F.when(w == -1, F.col("doc_id"))).alias("_r_min_doc_id"),
        )
    )
    return d.filter(
        (F.col("_d_count") != 0)
        | ~F.col("_a_min_doc_id").eqNullSafe(F.col("_r_min_doc_id"))
    )


class _HashedCorpus:
    """``read()`` adapter handing apply_agg_deltas' bounded MIN recompute a
    ``(h, doc_id)`` projection of the corpus (the base table has no hash
    column). The recompute scan stays column-pruned (id + text only) and
    group-filtered by the broadcast flag set — it runs only on epochs that
    delete a group's keeper without the applies re-establishing it."""

    def __init__(self, table, text_col: str, id_col: str):
        self._t, self._text, self._id = table, text_col, id_col

    def read(self):
        return (
            self._t.read()
            .filter(F.col(self._text).isNotNull())
            .select(
                F.md5(F.col(self._text)).alias("h"),
                F.col(self._id).alias("doc_id"),
            )
        )


def bootstrap_exact_dedup(
    base_table,
    text_col: str = "text",
    id_col: str = "doc_id",
    reserve_r: int = 4,
) -> DataFrame:
    """From-scratch initial state for the CDC-maintained exact-dedup table:
    one row per ``md5(text)`` with ``n_copies`` + ``keeper_id`` = MIN(doc
    id) and — with ``reserve_r=R > 0`` — the ``_rsv_keeper_id`` reserve of
    the R smallest ids, so the very first keeper deletion consumes the
    reserve instead of scanning the corpus. ``overwrite()`` the result into
    the dedup table before the first :func:`maintain_exact_dedup` cycle
    (same ``reserve_r`` on both)."""
    from go_dcp_kafka_spark.operators.ivm import bootstrap_agg

    hashed = _HashedCorpus(base_table, text_col, id_col).read()
    out = bootstrap_agg(
        hashed,
        ["h"],
        min_cols=["doc_id"],
        count_col="n_copies",
        min_prefix="keeper_",
        reserve_r=reserve_r,
    )
    return out.withColumnsRenamed(
        {"keeper_doc_id": "keeper_id", "_rsv_keeper_doc_id": "_rsv_keeper_id"}
        if reserve_r
        else {"keeper_doc_id": "keeper_id"}
    )


def maintain_exact_dedup(
    dedup_table,
    base_table,
    from_version: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    epoch_id: str | None = None,
    reserve_r: int = 4,
    metrics=None,
) -> dict:
    """One maintenance cycle for a CDC-tracked EXACT-dedup table keyed by
    ``h`` (md5 of text) carrying ``n_copies`` and ``keeper_id`` =
    MIN(doc id): everything that happened to ``base_table`` since
    ``from_version`` folds in at O(changed docs) — changelog read
    (manifest-pruned) → :func:`exact_dedup_deltas` → pruned ``read_keys``
    probe + keyed merge; hashes reaching 0 copies are deleted. The keeper
    follows the MIN rule with the extrema RESERVE (default ``reserve_r=4``,
    bootstrap via :func:`bootstrap_exact_dedup`): the ``_rsv_keeper_id``
    array carries the group's R smallest ids, so deleting a keeper while
    copies survive promotes the next reserve id with NO corpus IO — the
    column-pruned, group-filtered corpus scan (reported as
    ``recomputed_groups``) fires only when R keeper-side deletions exhaust
    a group's reserve (r5 verdict item 1: a feed that deletes a keeper
    every epoch no longer re-scans the table every epoch). A table
    bootstrapped WITHOUT reserves (or with ``reserve_r=0`` passed here,
    the legacy bounded-recompute mode) still maintains correctly; in
    reserve mode its groups upgrade to reserve-backed on their first
    flagged recompute. Downstream, \"is doc d a duplicate?\" is a
    broadcast-able join of d's hash against this table (``keeper_id != d``
    ⇒ drop) with no corpus scan. Reference analog: consumers apply only
    the appended log segment (/root/reference/kafka/client.go:220-233).
    Single-maintainer contract as in ``maintain_agg``."""
    from go_dcp_kafka_spark.operators.ivm import apply_agg_deltas

    ch = base_table.read_changes(from_version=from_version, include_old=True)
    return apply_agg_deltas(
        dedup_table,
        exact_dedup_deltas(ch, text_col=text_col, id_col=id_col, reserve_r=reserve_r),
        count_col="n_copies",
        min_map={"doc_id": "keeper_id"},
        base_table=_HashedCorpus(base_table, text_col, id_col),
        reserve_r=reserve_r,
        metrics=metrics,
        epoch_id=epoch_id if epoch_id is not None else f"xdedup-{base_table.version()}",
    )

"""Training-corpus pipeline — CDC-ingested transcripts to packed sequences.

The end-to-end composition the engine exists for: replay a change log into
the transcripts table (exactly-once fold), then run the corpus side over
the resulting texts — quality profile, PII scrubbing, exact-dedup keepers,
stable train/val/test split, and context-window sequence packing. Every
stage is a verified operator (see SURVEY.md §2 / __spark_entry__.py); this
file just chains them the way a pretraining data pipeline would.

Run: python examples/training_corpus_pipeline.py
"""

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from go_dcp_kafka_spark import get_spark
from go_dcp_kafka_spark.functions.corpus import pack_sequences, pii_mask, split_assign
from go_dcp_kafka_spark.functions.dedup_text import exact_duplicates
from go_dcp_kafka_spark.functions.textstats import text_profile
from go_dcp_kafka_spark.gen import GenConfig, generate_change_events, write_change_log
from go_dcp_kafka_spark.streaming.runner import CdcPipeline


def main() -> None:
    spark = get_spark("training-corpus", master="local[4]", shuffle_partitions=8)
    work = tempfile.mkdtemp(prefix="corpus_ex_")

    # 1. CDC ingest: replay the change log into the keyed transcripts table
    res = generate_change_events(GenConfig(seed=7, n_convs=120, n_partitions=8))
    log_dir = f"{work}/log"
    write_change_log(res.events, log_dir, n_files=4,
                     evolution_boundary=res.meta["evolution_boundary"])
    pipe = CdcPipeline(spark, f"{work}/table", run_id="corpus")
    pipe.run_batch_replay(log_dir)

    # 2. Corpus view: one doc per conversation turn (doc_id = stable key)
    docs = pipe.read_table().select(
        F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias("doc_id"),
        "text",
    )

    # 3. Quality + dedup + PII, all Spark-side (no Python in the hot path)
    quality = text_profile(docs, text_col="text").select("doc_id", "quality")
    keepers = exact_duplicates(docs, min_copies=1).select(
        F.col("keep_id").alias("doc_id")
    )
    clean = (
        pii_mask(docs, id_col="doc_id")
        .join(keepers, "doc_id", "left_semi")
        .join(quality, "doc_id")
        .filter(F.col("quality") >= 0.2)
    )

    # 4. Stable split + context-window packing of the train shard
    split = split_assign(clean, id_col="doc_id")
    train = clean.join(split.filter(F.col("split") == "train"), "doc_id", "left_semi")
    packed = pack_sequences(
        train.select("doc_id", F.col("masked").alias("text")),
        window_tokens=256, id_col="doc_id",
    )

    n_docs, n_clean = docs.count(), clean.count()
    agg = packed.agg(
        F.sum("n_tokens").alias("tokens"), F.max("window_id").alias("max_win")
    ).collect()[0]
    print(f"transcript docs: {n_docs}, clean: {n_clean}, "
          f"train tokens: {agg['tokens']}, context windows: {agg['max_win'] + 1}")

    # 5. Transcript-native exports: one assembled document per conversation
    #    and (prompt, response) pairs for SFT — both straight off the table
    from go_dcp_kafka_spark.functions.transcripts import assemble_conversations, sft_pairs

    convs = assemble_conversations(pipe.read_table())
    pairs = sft_pairs(pipe.read_table())
    print(f"assembled conversations: {convs.count()}, sft pairs: {pairs.count()}")

    # 6. The near-dup index TRACKS the table: an edit epoch lands, the
    #    consumer polls read_changes(include_old=True), update_minhash
    #    rewrites only the affected band partitions, and the epoch's docs
    #    are probed for introduced duplicates (partition-pruned read).
    from go_dcp_kafka_spark.functions.dedup_index import (
        materialize_minhash,
        probe_and_verify,
        probe_near_dups,
        update_minhash,
    )

    t = pipe.tables["transcripts"]
    # REVERSIBLE derived doc id (conv#turn): lets probe_and_verify split a
    # candidate id back into the composite key for a bucket-pruned fetch
    key = F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"))
    txt = F.coalesce(F.col("text"), F.lit(""))

    def as_docs(df):
        return df.select(key.alias("doc_id"), txt.alias("text"))

    idx = f"{work}/mh_index"
    materialize_minhash(as_docs(t.read()), idx, num_parts=16)
    v = t.version()
    # the edit epoch REPLACES three turns' texts with other turns' texts
    # (a paste-duplication) so the probe has something to find; the tiny
    # single-partition window is demo-only driver convenience
    from pyspark.sql import Window

    ranked = t.read().withColumn(
        "_r", F.row_number().over(Window.orderBy("conv_id", "turn_idx"))
    ).filter(F.col("_r") <= 6)
    donors = ranked.filter(F.col("_r") > 3).select(
        (F.col("_r") - 3).alias("_r"), F.col("text").alias("_donor")
    )
    edits = (
        ranked.filter(F.col("_r") <= 3)
        .drop("text")
        .join(donors, "_r")
        .withColumn("text", F.col("_donor"))
        .drop("_r", "_donor")
    )
    t.merge(edits, None, epoch_id="edits-1")
    feed = t.read_changes(v, include_old=True).select(
        key.alias("doc_id"),
        txt.alias("text"),
        "_change",
        F.when(
            F.col("_before").isNotNull(),
            F.struct(F.coalesce(F.col("_before.text"), F.lit("")).alias("text")),
        ).alias("_before"),
    )
    res = update_minhash(spark, idx, feed)
    cand = probe_near_dups(spark, idx, feed.filter(F.col("_change") != "delete"))

    def fetch(ids_df):
        keys = ids_df.select(
            F.split_part("doc_id", F.lit("#"), F.lit(1)).alias("conv_id"),
            F.split_part("doc_id", F.lit("#"), F.lit(2)).cast("int").alias("turn_idx"),
        )
        return t.read_keys(keys).select(key.alias("doc_id"), txt.alias("text"))

    verified = probe_and_verify(
        spark, idx, feed.filter(F.col("_change") != "delete").select("doc_id", "text"),
        fetch_texts=fetch, threshold=0.8,
    )
    print(
        f"edit epoch: {len(res['affected_parts'])}/16 band partitions rewritten "
        f"(exact before-image location: {res['exact_old_location']}), "
        f"near-dup candidates introduced: {cand.count()}, "
        f"jaccard-verified >=0.8: {verified.count()}"
    )

    # 7. The vocabulary TRACKS the table too: vocab_deltas is key-agnostic
    #    (it reads only text/_before/_change), so the same changes poll
    #    maintains a (word -> document frequency) view at O(changed turns)
    from go_dcp_kafka_spark.functions.corpus import maintain_vocab
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    words = F.array_distinct(
        F.regexp_extract_all(F.lower(F.coalesce(F.col("text"), F.lit(""))), F.lit(r"[^\s]+"), 0)
    )
    vocab = SnapshotTable(spark, f"{work}/vocab", ("word",), num_buckets=4)
    vocab.overwrite(
        t.read(t._manifest_at(v)).select(F.explode(words).alias("word"))
        .groupBy("word").agg(F.count("*").cast("long").alias("df")),
        epoch_id="vocab-base",
    )
    vres = maintain_vocab(vocab, t, v, epoch_id="vocab-edits")
    print(
        f"vocab maintained from the same poll: {vocab.read().count()} words "
        f"(merge touched buckets: {vres.get('touched_buckets', 'n/a')})"
    )
    spark.stop()


if __name__ == "__main__":
    main()

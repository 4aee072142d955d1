"""Structured Streaming ingestion of transcript turns.

The reference is batch-only (SURVEY §2.9: its only incremental behavior is
model-checkpoint reuse). This module is our native streaming extension: a
stream of transcript turns (conv_id, turn_idx, role, text, tool, ts) is
ingested with a watermark, conversations whose turns have stopped arriving
are canonicalized per micro-batch, and each batch is appended to the
snapshot catalog so the downstream (batch) blocking/matching stages resume
from exactly what has been committed.

Design for 10^12-turn scale:
- the ONLY stateful operator is the watermarked dedup/aggregation keyed by
  conv_id — state size ∝ in-flight conversations, not corpus size;
- canonicalization inside foreachBatch reuses the identical batch operator
  (operators/canonicalize.canonicalize), so stream and batch outputs are
  byte-identical for the same closed conversation — the per-turn-equality
  invariant holds across both paths;
- sink = SnapshotCatalog commit per micro-batch (Iceberg-append analog),
  which makes restart/resume the same mechanism as batch resume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)


def _start(stream: DataFrame, batch_fn, checkpoint_dir: str | None, trigger_available_now: bool):
    """Start ``stream`` in append mode with ``batch_fn`` as its foreachBatch
    sink; ``trigger_available_now`` drains the source and stops."""
    writer = stream.writeStream.foreachBatch(batch_fn).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_turn_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of transcript turns (the sandbox stand-in for a
    Kafka/Kinesis source — swap ``format``; the downstream plan is
    identical)."""
    reader = spark.readStream.format(fmt).schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def canonicalize_stream(
    turns: DataFrame,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked exactly-once turn dedup.

    Late turns beyond the watermark are dropped (the documented
    contract); duplicate (conv_id, turn_idx) retransmissions keep the
    first arrival. Output is still a stream of turns — the per-batch
    canonicalization happens in the sink (foreachBatch), where the batch
    operator can run verbatim.
    """
    return (
        turns.withWatermark("ts", watermark)
        .dropDuplicates(["conv_id", "turn_idx"])
    )


def stream_to_catalog(
    turns_stream: DataFrame,
    catalog,
    table: str = "stream_records",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Run the stream: per micro-batch, canonicalize the batch's turns with
    the BATCH operator and commit a snapshot + lineage rows.

    Returns the StreamingQuery (call .awaitTermination()). With
    ``trigger_available_now`` the query drains everything currently in the
    source and stops — the batch-parity mode used in tests.
    """
    from ertransfer_spark.operators.canonicalize import canonicalize

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        stage = f"{table}_batch_{batch_id:05d}"
        catalog.commit(stage, canonicalize(batch_df), meta={"batch_id": batch_id})
        # rows written, from the commit's manifest: no count() job
        catalog.append_lineage(stage, f"stream-{batch_id}")

    return _start(turns_stream, commit_batch, checkpoint_dir, trigger_available_now)


def incremental_dedup_stream(
    turns_stream: DataFrame,
    catalog,
    corpus_table: str = "corpus_records",
    bands_table: str = "corpus_bands",
    dup_table: str = "dup_pairs",
    min_jaccard: float = 0.6,
    n_hashes: int = 96,
    bands: int = 32,
    n_buckets: int = 16,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming near-dup detection against a growing corpus — incremental
    IN FACT, not just in shape:

    - MinHash band keys are PERSISTED (``bands_table``, append-only); each
      micro-batch signs ONLY its own records and bucket-joins the new band
      keys against the committed index — signing cost O(|batch|), join
      cost O(collisions), never O(corpus).
    - corpus commits are APPEND-ONLY deltas (`catalog.append`): the batch's
      records are the only rows written; earlier snapshot files are never
      rewritten (Iceberg fast-append semantics).
    - exact-jaccard verification touches only records named by a candidate
      pair, AND only the FILES that can hold them: corpus commits are
      hive-partitioned by ``_bucket = pmod(xxhash64(conv_id), n_buckets)``
      and the verify read goes through ``catalog.read_buckets`` — per-batch
      verify I/O is O(|candidate buckets|), never a full corpus scan
      (Iceberg ``bucket(B, conv_id)`` partition-pruning analog). The band
      INDEX (`bands_table`) is still read in full for the bucket join —
      that is the LSH index probe; at deployment scale the index lives in
      a key-value/Iceberg table keyed by (band_idx, band_hash) and the
      probe is itself a point lookup.

    Candidates are one ``operators.minhash`` self-join of the batch's band
    keys against batch ∪ index (its least/greatest orientation keeps a
    pair {existing, new} whichever id sorts first), verified by the shared
    exact-Jaccard verify over the bucket-pruned lookup. The union of
    per-batch outputs equals the batch-mode ``minhash_lsh_join(corpus,
    corpus, self_join=True)`` on the final corpus (asserted in tests).
    """
    from ertransfer_spark.operators.canonicalize import canonicalize
    from ertransfer_spark.operators.minhash import band_keys, candidate_pairs, verify

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        new = canonicalize(batch_df).select("conv_id", "agValue", "shingle_set")
        new = new.localCheckpoint()
        new_bands = band_keys(new, "conv_id", "shingle_set", n_hashes, bands).localCheckpoint()
        try:
            index = new_bands.unionByName(
                catalog.read(bands_table).withColumnRenamed("n_id", "id")
            )
        except FileNotFoundError:
            index = new_bands
        cand = candidate_pairs(new_bands, index, self_join=True).localCheckpoint()
        n_cand = cand.count()

        # verify: fetch ONLY records named by a candidate pair, reading
        # ONLY the corpus buckets those ids hash into (partition-pruned —
        # the distinct-bucket collect is bounded by n_buckets, not rows)
        need = cand.select(F.explode(F.array("a_id", "b_id")).alias("conv_id")).distinct()
        hit_buckets = [
            r[0]
            for r in need.select(
                F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).alias("b")
            ).distinct().collect()
        ]
        try:
            old = catalog.read_buckets(
                corpus_table, hit_buckets, n_buckets=n_buckets
            ).select("conv_id", "shingle_set")
        except FileNotFoundError:
            old = new.select("conv_id", "shingle_set").limit(0)
        lookup = (
            old.unionByName(new.select("conv_id", "shingle_set"))
            .join(need, "conv_id", "left_semi")
        )
        pairs = verify(cand, lookup, lookup, "conv_id", "shingle_set", min_jaccard)

        catalog.append(
            corpus_table,
            new.withColumn("_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets))),
            meta={"batch_id": batch_id},
            partition_by=["_bucket"],
            n_buckets=n_buckets,
        )
        catalog.append(
            bands_table,
            new_bands.withColumnRenamed("id", "n_id"),
            meta={"batch_id": batch_id},
        )
        stage = f"{dup_table}_batch_{batch_id:05d}"
        catalog.commit(stage, pairs, meta={"batch_id": batch_id})
        # rows each commit wrote, from its manifest: no count() jobs, and
        # the verify join runs once, in the commit
        catalog.append_lineage(
            stage, f"stream-{batch_id}",
            candidate_count=catalog.manifest(corpus_table)["rows"],
            comparisons=n_cand,
            matches=catalog.manifest(stage)["rows"],
        )

    return _start(turns_stream, process_batch, checkpoint_dir, trigger_available_now)


# --------------------------------------------------------------------------
# Stateful cross-batch canonicalization (applyInPandasWithState)
# --------------------------------------------------------------------------

def stateful_canonicalize_stream(
    turns_stream: DataFrame,
    watermark: str = "10 minutes",
    gap_seconds: int = 300,
) -> DataFrame:
    """Conversations whose turns SPAN micro-batches, canonicalized exactly
    once: the custom stateful operator the batch/foreachBatch path cannot
    express (stream_to_catalog canonicalizes each batch independently, so
    a conversation split across batches yields fragments).

    ``applyInPandasWithState`` keyed by conv_id accumulates each
    conversation's turns in group state; when no new turn has arrived for
    ``gap_seconds`` of EVENT time (watermark-driven timeout — the session
    gap), the conversation is closed: its turns are sorted by the stable
    turn order (turn_idx, role, text, tool — the same total order as the
    batch operator's array_sort(struct(...))) and emitted as ONE
    (conv_id, agValue, n_turns) record whose agValue is byte-identical to
    batch ``canonicalize`` over the same turns (shared pinned clean-text
    spec; parity asserted in tests/test_sources_streaming.py).

    Scale: state per in-flight conversation only (closed conversations are
    removed), shuffled by conv_id — state size tracks concurrent open
    conversations, never corpus size. Late turns beyond the watermark are
    dropped by the upstream watermark, the documented contract.
    """
    import pandas as pd  # noqa: F401  (worker-side import)
    from pyspark.sql.types import ArrayType, IntegerType, LongType

    out_schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("agValue", StringType()),
            StructField("n_turns", IntegerType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("turn_idx", ArrayType(IntegerType())),
            StructField("role", ArrayType(StringType())),
            StructField("text", ArrayType(StringType())),
            StructField("tool", ArrayType(StringType())),
            StructField("max_ts_ms", LongType()),
        ]
    )

    def close_or_accumulate(key, pdf_iter, state):
        import pandas as pd

        from ertransfer_spark.oracle.pandas_oracle import clean_text

        if state.hasTimedOut:
            ti, ro, te, to, _ = state.get
            df = pd.DataFrame(
                {"turn_idx": list(ti), "role": list(ro), "text": list(te), "tool": list(to)}
            ).sort_values(["turn_idx", "role", "text", "tool"], kind="mergesort")
            # join only non-empty cleaned turns — byte-identical to batch
            # canonicalize's filter-then-array_join (clean_text collapses
            # internal whitespace per turn; no post-join regex needed, which
            # also avoids the Python-\s-vs-Java-\s Unicode divergence)
            ag = " ".join(c for c in (clean_text(t) for t in df["text"]) if c)
            state.remove()
            yield pd.DataFrame(
                {"conv_id": [key[0]], "agValue": [ag], "n_turns": [len(df)]}
            )
            return
        ti, ro, te, to = [], [], [], []
        max_ts = 0
        if state.exists:
            s_ti, s_ro, s_te, s_to, s_ts = state.get
            ti, ro, te, to, max_ts = list(s_ti), list(s_ro), list(s_te), list(s_to), int(s_ts)
        # at-least-once dedup: keep the FIRST arrival of each turn_idx (the
        # same contract as canonicalize_stream's
        # dropDuplicates(['conv_id','turn_idx'])) so a retransmitted turn
        # never double-counts n_turns or duplicates text in agValue
        seen = set(int(x) for x in ti)
        for rows in pdf_iter:
            # ts_ms is computed Spark-side (unix_millis → UTC epoch millis);
            # pandas datetimes here would be tz-naive SESSION-LOCAL values,
            # which under a non-UTC session timezone shift the gap timeout
            # by the UTC offset vs getCurrentWatermarkMs (UTC epoch)
            for t_i, t_r, t_t, t_o, t_ms in zip(
                rows["turn_idx"], rows["role"], rows["text"], rows["tool"], rows["ts_ms"]
            ):
                max_ts = max(max_ts, int(t_ms))
                if int(t_i) in seen:
                    continue
                seen.add(int(t_i))
                ti.append(int(t_i))
                ro.append(t_r)
                te.append(t_t)
                to.append(t_o)
        state.update((ti, ro, te, to, max_ts))
        # close the conversation gap_seconds of event time after its last
        # turn; the timeout must sit beyond the current watermark
        state.setTimeoutTimestamp(
            max(max_ts + gap_seconds * 1000, state.getCurrentWatermarkMs() + 1)
        )

    return (
        turns_stream.withWatermark("ts", watermark)
        .withColumn("ts_ms", F.unix_millis("ts"))
        .groupBy("conv_id")
        .applyInPandasWithState(
            close_or_accumulate,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )


def stateful_canonicalize_to_catalog(
    turns_stream: DataFrame,
    catalog,
    table: str = "stream_canonical",
    checkpoint_dir: str | None = None,
    watermark: str = "10 minutes",
    gap_seconds: int = 300,
    trigger_available_now: bool = True,
):
    """Sink for :func:`stateful_canonicalize_stream`: append each batch of
    closed conversations to the snapshot catalog (O(|closed|) per commit)."""
    records = stateful_canonicalize_stream(
        turns_stream, watermark=watermark, gap_seconds=gap_seconds
    )

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        catalog.append(table, batch_df, meta={"batch_id": batch_id})

    return _start(records, commit_batch, checkpoint_dir, trigger_available_now)

"""Streaming-maintained sketches: KMV distinct state and Bloom-filter state.

Exact streaming COUNT(DISTINCT) over unbounded keys needs state
proportional to the distinct domain — the thing that does not fit at
100 TB. The KMV bottom-k sketch (llm_ops/kmv) is MERGEABLE and
DETERMINISTIC, which makes streaming maintenance trivial and exactly
convergent: each micro-batch sketches its own rows, merges into a
persisted state table of ≤ k rows per group, and — because bottom-k of a
union of bottom-ks equals bottom-k of the union (tested in
test_cardinality) — the state after ANY sequence of micro-batches is
IDENTICAL to the sketch a batch job would compute over all data seen.
Not approximately: the same rows, the same estimate, bit for bit.

At-least-once replay safety by construction: merging the same batch
twice re-unions identical md5 hashes, which the distinct inside the
bottom-k collapses — the state is a set, and replay is idempotent.

State I/O follows the repo's Hadoop-FS temp-swap pattern
(catalog.merge_upsert): works on file://, hdfs://, s3a://.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from procurement_data_pipeline_spark import storage
from procurement_data_pipeline_spark.llm_ops.kmv import (
    kmv_bottom_k,
    kmv_estimate,
    kmv_hash,
)
from procurement_data_pipeline_spark.session import configure_runtime
from procurement_data_pipeline_spark.streaming.pipeline import EVENTS_STREAM_SCHEMA


def merge_kmv_state(
    spark: SparkSession,
    state_path: str,
    batch_sketch: DataFrame,
    group_cols: list[str],
    k: int,
) -> None:
    """Fold a batch sketch into the persisted state (≤ k rows per group).

    Union + re-bottom-k + crash-safe directory swap (catalog.swap_dir: the
    live state is parked, never deleted-before-replaced, and recover_swap
    restores it if a trigger dies mid-promotion — losing the accumulated
    sketch would silently undercount forever, the worst failure mode a
    monitoring sketch can have). The state table is sketch-sized
    (groups × k), so this rewrite is constant work per trigger regardless
    of stream volume — the whole point of maintaining the sketch instead
    of the key set.
    """
    from procurement_data_pipeline_spark.catalog import recover_swap, swap_dir

    recover_swap(spark, state_path)
    if storage.exists(spark, state_path):
        merged_input = spark.read.parquet(state_path).unionByName(batch_sketch)
    else:
        merged_input = batch_sketch
    merged = kmv_bottom_k(merged_input, group_cols, "h", k)
    tmp = state_path.rstrip("/") + "__merging"
    merged.write.mode("overwrite").parquet(tmp)
    swap_dir(spark, tmp, state_path)


def stream_kmv_distinct(
    spark: SparkSession,
    source_path: str,
    state_path: str,
    checkpoint_dir: str,
    group_col: str = "event_type",
    key_col: str = "user_id",
    k: int = 64,
    timeout_sec: int = 120,
    schema: str = EVENTS_STREAM_SCHEMA,
) -> None:
    """Watch ``source_path`` as a file stream; maintain per-group KMV state."""
    configure_runtime(spark)
    stream = spark.readStream.format("parquet").schema(schema).load(source_path)

    def _merge(batch_df: DataFrame, _batch_id: int) -> None:
        sk = kmv_bottom_k(
            batch_df.select(
                F.col(group_col).alias("g"), kmv_hash(key_col).alias("h")
            ),
            ["g"],
            "h",
            k,
        )
        merge_kmv_state(spark, state_path, sk, ["g"], k)

    q = (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    q.stop()


def kmv_state_estimates(spark: SparkSession, state_path: str, k: int) -> DataFrame:
    """Distinct-count estimates from the persisted state: (g, n_kept, est)."""
    from procurement_data_pipeline_spark.catalog import recover_swap

    recover_swap(spark, state_path)
    return (
        spark.read.parquet(state_path)
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("n_kept"), F.max("h").alias("kth"))
        .select(
            "g",
            "n_kept",
            kmv_estimate(F.col("n_kept"), F.col("kth"), k).alias("est_distinct"),
        )
    )


# -------------------------------------------------------------- bloom state
#
# The same streaming-merge story applies to the runtime filter
# (operators/bloomjoin): bit_or is associative, commutative, and
# idempotent, so OR-ing each micro-batch's word array into a persisted
# state yields EXACTLY the filter a batch build over all data would
# produce, and replaying a batch changes nothing. This is how a 100 TB
# pipeline keeps "the set of keys seen so far" queryable as a join
# pre-filter without ever re-scanning history: today's joins prune with
# a filter the stream maintained for free.


def load_bloom_state(spark: SparkSession, state_path: str):
    """Read the persisted filter back as an operators.bloomjoin.BloomFilter."""
    from procurement_data_pipeline_spark.catalog import recover_swap
    from procurement_data_pipeline_spark.operators.bloomjoin import BloomFilter

    recover_swap(spark, state_path)
    row = spark.read.parquet(state_path).collect()[0]
    return BloomFilter(words=tuple(row["words"]), num_hashes=row["num_hashes"])


def merge_bloom_state(spark: SparkSession, state_path: str, batch_bf) -> None:
    """OR a batch-built filter into the persisted state (crash-safe swap).

    The state is ONE row (num_bits/64 longs + the hash count), so the
    merge is driver-side and constant-cost. Sizing/hashing mismatches
    raise: silently OR-ing differently-shaped filters would produce a
    filter that false-negatives — the forbidden failure mode.
    """
    from procurement_data_pipeline_spark.catalog import recover_swap, swap_dir
    from procurement_data_pipeline_spark.operators.bloomjoin import BloomFilter

    recover_swap(spark, state_path)
    merged = batch_bf
    if storage.exists(spark, state_path):
        # read inline (recovery already ran above; load_bloom_state would
        # re-run the same existence checks on every trigger)
        row = spark.read.parquet(state_path).collect()[0]
        prior = BloomFilter(words=tuple(row["words"]), num_hashes=row["num_hashes"])
        if (
            prior.num_bits != batch_bf.num_bits
            or prior.num_hashes != batch_bf.num_hashes
        ):
            raise ValueError(
                f"bloom state shape mismatch: state is ({prior.num_bits} bits, "
                f"{prior.num_hashes} hashes), batch is ({batch_bf.num_bits}, "
                f"{batch_bf.num_hashes}) — rebuild, don't merge"
            )
        merged = BloomFilter(
            words=tuple(a | b for a, b in zip(prior.words, batch_bf.words)),
            num_hashes=batch_bf.num_hashes,
        )
    out = spark.createDataFrame(
        [(list(merged.words), merged.num_hashes)], "words array<long>, num_hashes int"
    )
    tmp = state_path.rstrip("/") + "__merging"
    out.coalesce(1).write.mode("overwrite").parquet(tmp)
    swap_dir(spark, tmp, state_path)


def stream_bloom_filter(
    spark: SparkSession,
    source_path: str,
    state_path: str,
    checkpoint_dir: str,
    key_col: str,
    num_bits: int = 1 << 17,
    num_hashes: int = 5,
    timeout_sec: int = 120,
    schema: str = EVENTS_STREAM_SCHEMA,
) -> None:
    """Maintain a Bloom filter of every key the stream has ever carried."""
    from procurement_data_pipeline_spark.operators.bloomjoin import bloom_build

    configure_runtime(spark)
    stream = spark.readStream.format("parquet").schema(schema).load(source_path)

    def _merge(batch_df: DataFrame, _batch_id: int) -> None:
        bf = bloom_build(batch_df, key_col, num_bits=num_bits, num_hashes=num_hashes)
        merge_bloom_state(spark, state_path, bf)

    q = (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    q.stop()

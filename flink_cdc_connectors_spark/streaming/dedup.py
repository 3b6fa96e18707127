"""Streaming deduplication — the training-data-pipeline operator that runs
continuously over an ingest stream.

Two layers, both on Spark's NATIVE streaming state (the state store the
watermark GCs), no custom Python state:

- `stream_dedup_exact`: first-seen-wins on the normalized-text hash —
  `dropDuplicates` over the stream, the same exactly-once dedup contract
  the reference's offset-replay dedup provides for change events
  (DebeziumChangeFetcher dedup on restore; `cdc_dedup_exact` is the batch
  analog). State = one row per distinct hash, bounded by
  `dropDuplicatesWithinWatermark` when ingest time is available.

- `stream_dedup_minhash_bands`: streaming NEAR-dup suppression — a doc is
  dropped if ANY of its LSH band signatures was already seen. Each doc
  expands to its 4 band keys (explode — the same banding as the batch
  `ext_dedup_minhash`), band keys dedup against state, and a doc survives
  only if it kept all ``num_bands`` of its bands (count == num_bands after
  the per-doc regroup). One shuffle on band key, one on doc id; state = one
  row per distinct band signature (8-byte keys — the 100 TB-friendly
  footprint).

Both are approximate in ARRIVAL order only (first wins — the property a
dedup pipeline wants), deterministic for a fixed input order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_cdc_connectors_spark.functions import text as T
from flink_cdc_connectors_spark.streaming.changelog import drain


def with_text_hash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the exact-dedup key: md5 of normalized text (same key as the
    batch `ext_dedup_exact_text`)."""
    return docs.withColumn("text_hash", F.md5(T.normalize_text(text_col)))


def stream_dedup_exact(
    doc_stream: DataFrame,
    text_col: str = "text",
    watermark: tuple[str, str] | None = None,
) -> DataFrame:
    """First-seen-wins exact dedup over a document stream.

    ``watermark=(ts_col, delay)`` bounds the state store: duplicates are
    only suppressed within the watermark horizon
    (`dropDuplicatesWithinWatermark`) — the production form, since
    unbounded distinct-hash state grows forever. Without it, state is the
    full distinct-hash set (fine for bounded backfills)."""
    hashed = with_text_hash(doc_stream, text_col)
    if watermark is not None:
        ts_col, delay = watermark
        return hashed.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
            ["text_hash"]
        )
    return hashed.dropDuplicates(["text_hash"])


def minhash_band_keys(docs: DataFrame, text_col: str = "text", num_bands: int = 4) -> DataFrame:
    """(doc columns..., band_id, band_sig): each doc exploded to its LSH
    band signatures — 16 minhashes banded 4x4, the same family as the batch
    `ext_dedup_minhash`."""
    sig = docs.withColumns(
        {f"mh{i}": c for i, c in enumerate(
            T.minhash_signature(T.shingles_sql(T.words_sql(text_col)), 16)
        )}
    )
    bands = F.array(
        *[
            F.xxhash64(*[F.col(f"mh{b * 4 + r}") for r in range(4)])
            for b in range(num_bands)
        ]
    )
    out = sig.withColumn("__bands", bands).select(
        *docs.columns, F.posexplode("__bands").alias("band_id", "band_sig")
    )
    return out


def stream_dedup_minhash_bands(
    doc_stream: DataFrame,
    text_col: str = "text",
    num_bands: int = 4,
) -> DataFrame:
    """Streaming NEAR-dup suppression, stateful stage: drop a doc when any
    of its MinHash band signatures has been seen before.

    Semantics: a doc survives iff ALL its band keys are first occurrences —
    `dropDuplicates` on (band_id, band_sig) keeps first-seen band rows
    (Spark's native streaming dedup state: one row per distinct 8-byte band
    signature), and a doc that kept fewer than ``num_bands`` rows collided
    with some earlier doc in at least one band (the LSH candidate
    condition). This is the streaming dual of the batch band-join: instead
    of pairing collisions, later arrivals are suppressed.

    Returns the deduped BAND stream. The per-doc survival regroup is
    per-micro-batch work (every band row of a doc arrives in the same
    batch), so it runs in ``foreachBatch`` via
    :func:`finalize_minhash_dedup` — chaining a second global stateful
    operator after the dedup would constrain output modes for nothing.
    Sharper than exact dedup (near-dups collide), with LSH's
    false-positive rate — the standard ingest-side pre-filter in front of
    an offline verify pass."""
    banded = minhash_band_keys(doc_stream, text_col, num_bands)
    return banded.dropDuplicates(["band_id", "band_sig"])


def finalize_minhash_dedup(
    band_batch: DataFrame, doc_cols: list[str], num_bands: int = 4
) -> DataFrame:
    """Per-micro-batch epilogue for :func:`stream_dedup_minhash_bands`:
    keep docs whose ALL band rows survived the stateful dedup."""
    return (
        band_batch.groupBy(*doc_cols)
        .agg(F.count(F.lit(1)).alias("__n_bands"))
        .filter(F.col("__n_bands") == num_bands)
        .drop("__n_bands")
    )


def materialize_stream_dedup_minhash(
    doc_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    num_bands: int = 4,
    available_now: bool = True,
):
    """Wire the two stages: stateful band dedup in the streaming plan,
    per-batch doc regroup + append in foreachBatch. Returns the query;
    with ``available_now`` it drains the visible input (see
    :func:`~flink_cdc_connectors_spark.streaming.changelog.drain`) and is
    returned stopped."""
    doc_cols = list(doc_stream.columns)
    deduped = stream_dedup_minhash_bands(doc_stream, text_col, num_bands)
    writer = (
        deduped.writeStream.outputMode("append")
        .foreachBatch(
            lambda df, epoch: finalize_minhash_dedup(df, doc_cols, num_bands)
            .write.mode("append")
            .parquet(out_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
    )
    return drain(writer) if available_now else writer.start()

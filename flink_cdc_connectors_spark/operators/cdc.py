"""CDC-semantics operators as DataFrame library functions.

These are the engine-side algorithms of the reference's incremental-snapshot
framework (flink-cdc-base + flink-connector-mysql-cdc), re-expressed as
declarative DataFrame transformations so Catalyst plans the physical
execution. Each function documents the reference file:line it matches.

Scale notes are inline: every operator here is shuffle-aware — the
normalize/reconcile path partitions by primary key (one shuffle, reused by
the downstream aggregate), chunk assignment is a pure projection (no
shuffle), and the offset filter is a broadcast join against a tiny
watermark table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# Total offset order over the simulated binlog. Analog of
# BinlogOffset.compareTo (reference
# flink-connector-mysql-cdc/.../source/offset/BinlogOffset.java:173-255):
# compare timestamps, then file/pos — here the monotonic event_id.
_OFFSET_ORDER = ("ts", "event_id")


def offset_order(columns=(), *, desc: bool = False) -> str:
    """The resolve order of a changelog with ``columns``, as a SQL list:
    :data:`_OFFSET_ORDER`, then ``schema_epoch`` when the changelog carries
    one (see :func:`changelog_normalize`). Every latest-state path ranks
    by it — the batch normalize, the streaming ``max_by`` aggregates and
    every reader of their store — so a reader can never pick a different
    row than the writer kept. ``desc`` renders a latest-first sort list."""
    cols = [*_OFFSET_ORDER, *(["schema_epoch"] if "schema_epoch" in columns else [])]
    return ", ".join(f"{c} DESC" if desc else c for c in cols)


def changelog_normalize(
    changelog: DataFrame,
    key_cols: list[str] = ("user_id",),
    drop_deletes: bool = True,
) -> DataFrame:
    """Materialize the latest state per key from a changelog.

    Keep the last event per primary key in offset order; drop keys whose
    last op is a delete. This is what Flink's ChangelogNormalize / an upsert
    sink does downstream of the reference's sources (changelog contract:
    RowDataDebeziumDeserializeSchema.java:118-146; upsert mode:
    PostgreSQLTableSource.java:107-114, MongoDBTableSource.java:133-138).

    Input must carry ``op`` (insert/update/delete), ``ts``, ``event_id``.

    Scale: one hash shuffle on the key. The window rank-1 compiles to a
    partial top-1 per partition before the shuffle under AQE; for truly
    huge changelogs, pre-aggregation with max_by on the offset pair would
    halve the shuffle — kept as the rank form because Catalyst handles both.

    Tie-break contract: if the changelog carries a ``schema_epoch`` column
    (the cdc_binlog source emits one when its schema history declares
    column TYPE CHANGES), it joins the ordering after (ts, event_id) —
    a mid-stream re-snapshot image shares its (ts, event_id) with the raw
    change already emitted under the OLD decode, and the higher epoch (the
    newest decode, with the re-read precision) must win deterministically.
    """
    # Single-parse form (round 13): this helper fronts a dozen tier-A
    # keys and some builders call it several times per run — the window
    # rank builds as one selectExpr parse instead of ~45 gateway calls.
    order = offset_order(changelog.columns, desc=True)
    keys = ", ".join(f"`{k}`" for k in key_cols)
    out = (
        changelog.selectExpr(
            "*",
            f"row_number() OVER (PARTITION BY {keys} ORDER BY {order}) AS __rn",
        )
        .filter("__rn = 1")
        .drop("__rn")
    )
    if drop_deletes:
        out = out.filter("op <> 'delete'")
    return out


def even_chunks(
    df: DataFrame,
    key: str,
    chunk_size: int,
    factor_lower: float = 0.05,
    factor_upper: float = 1000.0,
) -> DataFrame:
    """Evenly-sized key-range chunk assignment (the fast path).

    The reference splits a table into fixed key-width chunks when the key is
    evenly distributed: distributionFactor = (max-min+1)/rowCount within
    the configured bounds -> chunks [min+i*step, min+(i+1)*step) (reference
    MySqlChunkSplitter.java:201-302, 354-422; bound defaults + the
    ``chunk-key.even-distribution.factor.{upper,lower}-bound`` options
    SourceOptions.java:92-113 — thread
    ``SourceConfig.distribution_factor_{lower,upper}`` here when driven
    from DDL).

    Spark-side this is a pure projection — chunk_id = floor((key-min)/step)
    — no per-chunk boundary queries at all; min/max come from one aggregate.
    Returns the input with a ``chunk_id`` column. At scale the same column
    feeds ``repartitionByRange`` for co-located chunk processing.
    """
    lo, hi, cnt = df.select(
        F.min(key).alias("lo"), F.max(key).alias("hi"), F.count(F.lit(1)).alias("cnt")
    ).first()
    # distributionFactor guard, as in calculateDistributionFactor (:354-375)
    factor = (hi - lo + 1) / max(cnt, 1)
    if not (factor_lower <= factor <= factor_upper):
        raise ValueError(f"uneven key distribution (factor={factor}); use uneven_chunks")
    step = max(int(chunk_size * factor), 1)
    return df.withColumn("chunk_id", F.floor((F.col(key) - F.lit(lo)) / F.lit(step)))


def _effective_buckets(df: DataFrame, target_buckets: int) -> int:
    """Bucket count for the bucketed-prefix operators: enough for full
    parallelism on THIS session (16x the scheduler's parallelism — small
    buckets keep the per-bucket window sorts tiny), capped by the caller's
    ``target_buckets`` ceiling for cluster scale. On local[32] this yields
    ~512 instead of 10,000 — the driver-side prefix list and its
    createDataFrame/broadcast shrink 20x (measured ~0.5 s/query of py4j
    row-shipping at sf0.1), while a 1000-executor cluster still gets the
    full ceiling. The 64-bucket floor applies only BELOW the ceiling: a
    caller bounding buckets under 64 (to bound the triangular prefix
    self-join or driver-side state) gets exactly what it asked for."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return min(target_buckets, max(64, min(target_buckets, par * 16)))


def global_row_number(
    df: DataFrame,
    key: str,
    order_cols: list[str] | None = None,
    target_buckets: int = 10_000,
) -> DataFrame:
    """Distributed exact global row number in ``(key, *order_cols)`` order.

    A naive ``row_number() OVER (ORDER BY ...)`` moves ALL rows to a single
    partition (Spark warns: "No Partition Defined for Window operation") —
    a non-starter at scale. Instead:

      1. bucket rows by fixed key width (pure projection, no shuffle),
      2. collect per-bucket counts (tiny: <= ``target_buckets`` rows) and
         prefix-sum them on the driver,
      3. global_rn = bucket_offset + row_number within bucket — ONE hash
         shuffle on the bucket, fully parallel.

    Deterministic (no sampling, unlike repartitionByRange) and exact when
    the order columns are unique. Adds ``__rn`` (1-based).
    """
    ranked, _total = _global_row_number_with_total(df, key, order_cols, target_buckets)
    return ranked


def _global_row_number_with_total(
    df: DataFrame,
    key: str,
    order_cols: list[str] | None,
    target_buckets: int,
) -> tuple[DataFrame, int]:
    """Implementation of :func:`global_row_number`; also returns the total
    row count (free: it is the sum of the collected bucket counts — no
    separate COUNT(*) scan)."""
    order_cols = list(order_cols or [])
    # Single-scan: the min/max action fills a lazy local checkpoint, and
    # both the bucket-count collect and the final join/window read those
    # blocks — without it the source is scanned three times (min/max,
    # counts, final), the r2-measured 3x regression on the consumers.
    src = df.localCheckpoint(eager=False)
    n_buckets = _effective_buckets(df, target_buckets)
    lo, hi = src.agg(F.min(key), F.max(key)).first()
    width = max((int(hi) - int(lo) + 1) // n_buckets, 1)
    bucket = F.floor((F.col(key) - F.lit(int(lo))) / F.lit(width))
    with_b = src.withColumn("__bucket", bucket)
    counts = sorted(
        (r["__bucket"], r["cnt"])
        for r in with_b.groupBy("__bucket").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offsets, acc = [], 0
    for b, c in counts:
        offsets.append((int(b), acc))
        acc += c
    spark = df.sparkSession
    off_df = F.broadcast(
        spark.createDataFrame(offsets, "__bucket long, __boff long")
    )
    w = Window.partitionBy("__bucket").orderBy(F.col(key), *[F.col(c) for c in order_cols])
    ranked = (
        with_b.join(off_df, "__bucket")
        .withColumn("__rn", F.col("__boff") + F.row_number().over(w))
        .drop("__bucket", "__boff")
    )
    return ranked, acc


def global_running_max(
    df: DataFrame,
    order_key: str,
    value_col: str,
    out_col: str = "__runmax",
    target_buckets: int = 10_000,
) -> DataFrame:
    """Distributed exact running max of ``value_col`` in ``order_key`` order.

    The naive form — ``max(v) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)``
    with no PARTITION BY — moves every row through a single task (Spark's
    "No Partition Defined for Window operation" warning), a scale-killer.
    Same cure as :func:`global_row_number`:

      1. bucket rows by fixed ``order_key`` width (pure projection),
      2. collect per-bucket max (tiny: <= ``target_buckets`` rows) and
         prefix-max them on the driver — ``__pmax[b]`` = max over all
         strictly-earlier buckets,
      3. running max = greatest(prefix max, within-bucket running max) —
         ONE hash shuffle on the bucket, fully parallel.

    This is the watermark bookkeeping of the reference's source reader —
    the high watermark only advances (SignalEventDispatcher.java:78-112) —
    as a deterministic batch operator. ``F.greatest`` skips NULL, so the
    first bucket (no predecessor) falls through to its own running max.

    FULLY LAZY since round 3: the prefix maxima are a triangular broadcast
    join over the tiny bucket aggregate (``pmax[b] = max over buckets < b``,
    <= n_buckets^2 comparisons over pre-aggregated rows) instead of a
    driver collect + createDataFrame round-trip — the operator contributes
    ONE action (plus the eager checkpoint fill), every pass reads the
    checkpointed blocks, and no single-partition exchange appears anywhere
    (r2 measured the collect-per-pass form at 3x its r1 cost on
    ``stream_watermark_late``)."""
    # One materialization; the min/max, bucket-agg, and final subtrees all
    # read these blocks instead of re-scanning the source.
    src = df.localCheckpoint(eager=True)
    n_buckets = _effective_buckets(df, target_buckets)
    mm = src.agg(
        F.min(order_key).alias("__lo"), F.max(order_key).alias("__hi")
    )
    width = F.greatest(
        F.floor((F.col("__hi") - F.col("__lo") + 1) / n_buckets), F.lit(1)
    )
    with_b = src.crossJoin(F.broadcast(mm)).withColumn(
        "__bucket", F.floor((F.col(order_key) - F.col("__lo")) / width)
    ).drop("__lo", "__hi")
    bmax = with_b.groupBy("__bucket").agg(F.max(value_col).alias("__bmx"))
    prefix = (
        bmax.alias("a")
        .join(
            F.broadcast(bmax.select(F.col("__bucket").alias("__pb"),
                                    F.col("__bmx").alias("__pmx"))),
            F.col("__pb") < F.col("a.__bucket"),
            "left",
        )
        .groupBy(F.col("a.__bucket").alias("__bucket"))
        .agg(F.max("__pmx").alias("__pmax"))
    )
    w = (
        Window.partitionBy("__bucket")
        .orderBy(order_key)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        with_b.join(F.broadcast(prefix), "__bucket")
        .withColumn(out_col, F.greatest(F.col("__pmax"), F.max(value_col).over(w)))
        .drop("__bucket", "__pmax")
    )


def global_running_sum(
    df: DataFrame,
    order_key: str,
    value_col: str,
    out_col: str = "__runsum",
    exclusive: bool = False,
    target_buckets: int = 10_000,
) -> DataFrame:
    """Distributed exact running sum of ``value_col`` in ``order_key`` order.

    Same bucketed-prefix cure as :func:`global_row_number` /
    :func:`global_running_max` — a bare ``sum(v) OVER (ORDER BY k)`` would
    drag every row through one task. Here:

      1. bucket rows by fixed ``order_key`` width (pure projection),
      2. collect per-bucket sums (<= ``target_buckets`` tiny rows) and
         prefix-sum them on the driver,
      3. running sum = bucket prefix + within-bucket window sum — ONE hash
         shuffle on the bucket, fully parallel.

    ``exclusive=True`` returns the sum over strictly-preceding rows (the
    offset form sequence packing needs); requires ``order_key`` unique.

    FULLY LAZY since round 3 (same rework as :func:`global_running_max`):
    bucket prefix sums come from a triangular broadcast join over the tiny
    bucket aggregate instead of a driver collect + createDataFrame, every
    pass reads one eagerly-checkpointed copy of the input, and the plan
    stays free of single-partition windows.
    """
    src = df.localCheckpoint(eager=True)
    n_buckets = _effective_buckets(df, target_buckets)
    mm = src.agg(F.min(order_key).alias("__lo"), F.max(order_key).alias("__hi"))
    width = F.greatest(
        F.floor((F.col("__hi") - F.col("__lo") + 1) / n_buckets), F.lit(1)
    )
    with_b = src.crossJoin(F.broadcast(mm)).withColumn(
        "__bucket", F.floor((F.col(order_key) - F.col("__lo")) / width)
    ).drop("__lo", "__hi")
    bsum = with_b.groupBy("__bucket").agg(F.sum(value_col).alias("__bs"))
    prefix = (
        bsum.alias("a")
        .join(
            F.broadcast(bsum.select(F.col("__bucket").alias("__pb"),
                                    F.col("__bs").alias("__ps"))),
            F.col("__pb") < F.col("a.__bucket"),
            "left",
        )
        .groupBy(F.col("a.__bucket").alias("__bucket"))
        .agg(F.coalesce(F.sum("__ps"), F.lit(0)).alias("__psum"))
    )
    frame_end = -1 if exclusive else 0
    w = (
        Window.partitionBy("__bucket")
        .orderBy(order_key)
        .rowsBetween(Window.unboundedPreceding, frame_end)
    )
    in_bucket = F.coalesce(F.sum(value_col).over(w), F.lit(0))
    return (
        with_b.join(F.broadcast(prefix), "__bucket")
        .withColumn(out_col, F.col("__psum") + in_bucket)
        .drop("__bucket", "__psum")
    )


def uneven_chunks(
    df: DataFrame,
    key: str,
    num_chunks: int,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Equal-count chunk assignment for skewed/non-numeric keys.

    The reference lazily walks chunk boundaries with
    ``SELECT MAX(k) FROM (SELECT k FROM T WHERE k >= ? ORDER BY k LIMIT n)``
    (MySqlChunkSplitter.java:159-199, StatementUtils.java:99-130). The
    declarative equivalent is NTILE over the key order — equal-count chunks
    regardless of distribution — computed via :func:`global_row_number`
    (bucketed distributed ranking, no single-partition sort) and the exact
    NTILE tiling formula, so it matches ``ntile(n) OVER (ORDER BY ...)``
    bit-for-bit while staying parallel at any scale.
    """
    ranked, total = _global_row_number_with_total(df, key, order_cols, 10_000)
    q, m = divmod(total, num_chunks)
    # NTILE: first m tiles get q+1 rows, the rest q (SQL-standard tiling).
    r0 = F.col("__rn") - 1  # 0-based rank
    big = F.lit(m * (q + 1))
    chunk = F.when(r0 < big, F.floor(r0 / F.lit(q + 1))).otherwise(
        F.lit(m) + F.floor((r0 - big) / F.lit(max(q, 1)))
    )
    return ranked.withColumn("chunk_id", chunk.cast("int")).drop("__rn")


def sample_bucket_chunks(
    df: DataFrame,
    key: str,
    num_chunks: int,
    sample_mod: int = 20,
) -> DataFrame:
    """Sample-derived equal-count chunk assignment — the MongoDB
    ``SampleBucketSplitStrategy`` analog (flink-connector-mongodb-cdc/...
    /splitters/SampleBucketSplitStrategy.java:94-105: ``$sample`` 5% of the
    collection, ``$bucketAuto`` into size-derived chunk count, splits from
    the bucket bounds with open min/max end caps).

    Here the sample is SYSTEMATIC and deterministic (``key % sample_mod ==
    0`` — same reproducibility across runs/engines that the hash-derived
    LSH coefficients give the dedup operators), bucket bounds are the
    equal-count NTILE bounds over the sample (:func:`uneven_chunks` — the
    distributed bucketAuto), and every row's chunk is a search over the <=
    ``num_chunks-1`` broadcast boundaries. Cost: one partial-aggregated
    pass over the 1/``sample_mod`` sample + one boundary search projection
    over the table — no full-table shuffle at all, which is the point of
    sampling splits over exact NTILE on a 100 TB collection.

    Accuracy is the sample's: chunks are equal-count up to sampling error,
    exactly like the reference's 5% ``$sample``.
    """
    sample = df.filter((F.col(key) % sample_mod) == 0).select(key)
    tiled = uneven_chunks(sample, key, num_chunks)
    bounds = sorted(
        r["b"]
        for r in tiled.filter(F.col("chunk_id") < num_chunks - 1)
        .groupBy("chunk_id")
        .agg(F.max(key).alias("b"))
        .collect()
    )
    # <= num_chunks-1 boundary literals (the planner state the reference
    # also holds on its coordinator); first/last chunks are open-ended,
    # matching minLowerBoundOfId/maxUpperBoundOfId.
    arr = F.lit([int(b) for b in bounds])
    chunk = F.size(F.filter(arr, lambda b: F.col(key) > b))
    return df.withColumn("chunk_id", chunk.cast("int"))


def region_chunks(
    df: DataFrame,
    key: str,
    region_bounds: list[int],
    min_rows: int | None = None,
) -> DataFrame:
    """Storage-layout chunk assignment — the TiDB-style split where ranges
    come from the store's REGION metadata, not from data statistics (the
    reference's TiDB connector snapshots per TiKV region key range;
    flink-connector-tidb-cdc reads region-sharded snapshots).

    ``region_bounds``: sorted exclusive upper bounds of each region except
    the last (the physical split points). Rows are assigned by boundary
    search (pure projection). With ``min_rows``, adjacent small regions are
    MERGED until each chunk holds at least that many rows (the reference's
    chunk-size-driven region grouping): one count aggregate over region ids
    (<= #regions rows collected), merged on the driver, then reassigned by
    the merged bounds.
    """
    bounds = sorted(int(b) for b in region_bounds)
    assign = lambda bs: F.size(  # noqa: E731 — tiny local helper
        F.filter(F.lit(bs), lambda b: F.col(key) >= b)
    ).cast("int")
    if min_rows is None or not bounds:
        return df.withColumn("chunk_id", assign(bounds))
    counts = dict(
        (int(r["rid"]), r["cnt"])
        for r in df.withColumn("rid", assign(bounds))
        .groupBy("rid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    merged: list[int] = []
    acc = 0
    for i, b in enumerate(bounds):
        acc += counts.get(i, 0)
        if acc >= min_rows:
            merged.append(b)  # close the chunk at this region's bound
            acc = 0
    # trailing regions with < min_rows fold into the last (open) chunk
    return df.withColumn("chunk_id", assign(merged))


def chunk_reconcile(
    snapshot: DataFrame,
    changes: DataFrame,
    key_cols: list[str] = ("user_id",),
) -> DataFrame:
    """The DBLog / Offset-Signal reconciliation (``upsertBinlog``).

    Per chunk the reference reads the snapshot between LOW and HIGH
    watermarks, then replays the log window (LOW, HIGH] *into* the buffered
    snapshot: insert/update replace the row by PK, delete removes it, and
    everything is emitted as INSERT (reference RecordUtils.java:77-114
    ``upsertBinlog``; SnapshotSplitReader.java:240-296; watermark signals
    SignalEventDispatcher.java:78-112; DBLog paper arXiv:2010.12597).

    Declarative equivalent over whole tables:
      latest(changes) per key  (normalize)
      UNION  snapshot rows whose key saw no change   (anti-join)
    Deletes drop out because normalize removes keys whose last op is delete.

    ``snapshot`` columns must match the changelog payload (user_id, value,
    props, ts, event_id). Scale: both sides shuffle once on the key; the
    anti-join and the normalize reuse the same partitioning, and AQE turns
    the anti-join into a broadcast when the change-set is small — the common
    case for a backfill window.
    """
    latest_changes = changelog_normalize(changes, key_cols=key_cols).select(*snapshot.columns)
    # Keys that must leave the snapshot = keys whose last change survives
    # (replaced) PLUS keys whose last change is a delete (removed) — i.e.
    # EVERY key the change window touched.  Round 13: computed as one
    # distinct over the raw change set instead of a second full window
    # pass (the previous union ran changelog_normalize twice, so the
    # physical plan executed the per-key rank window twice).
    changed_keys = changes.select(*key_cols).distinct()
    untouched = snapshot.join(changed_keys, on=list(key_cols), how="left_anti")
    return untouched.unionByName(latest_changes)


def to_retract_stream(
    changelog: DataFrame,
    key_cols: list[str] = ("user_id",),
    value_col: str = "value",
) -> DataFrame:
    """Changelog -> retract stream: RowKind-tagged rows, ChangelogMode.all.

    The reference's relational connectors emit retract streams — every
    UPDATE becomes an UPDATE_BEFORE/UPDATE_AFTER pair so downstream
    aggregates can subtract the old value (DebeziumChangelogMode 'all';
    MySqlTableSource.java:149 declares ChangelogMode.all;
    RowDataDebeziumDeserializeSchema.java:118-146 emits -U from ``before``
    and +U from ``after``).

    The live value before event i is fully determined by event i-1 for the
    key (every non-delete sets it; a delete clears it), so ``before``
    reconstruction is one LAG over the per-key offset order — the same
    shuffle the normalize uses:

      prev live NULL,     op != delete -> +I(value)
      prev live NOT NULL, op != delete -> -U(prev) then +U(value)
      prev live NOT NULL, op == delete -> -D(prev)
      prev live NULL,     op == delete -> (nothing; repair of dirty input)

    Output: row_kind ('+I','-U','+U','-D'), keys, ``value``, ts, event_id.
    """
    w = Window.partitionBy(*key_cols).orderBy(*_OFFSET_ORDER)
    # Window expressions can't nest inside a generator — materialize the
    # reconstructed 'before' first (same shuffle either way).
    changelog = changelog.withColumn(
        "__prev_live",
        F.when(
            F.lag("op").over(w).isNull() | (F.lag("op").over(w) == "delete"),
            F.lit(None),
        ).otherwise(F.lag(value_col).over(w)),
    )
    prev_live = F.col("__prev_live")
    kinds = F.when(
        (F.col("op") != "delete") & prev_live.isNull(),
        F.array(F.struct(F.lit("+I").alias("row_kind"), F.col(value_col).alias("v"))),
    ).when(
        (F.col("op") != "delete") & prev_live.isNotNull(),
        F.array(
            F.struct(F.lit("-U").alias("row_kind"), prev_live.alias("v")),
            F.struct(F.lit("+U").alias("row_kind"), F.col(value_col).alias("v")),
        ),
    ).when(
        (F.col("op") == "delete") & prev_live.isNotNull(),
        F.array(F.struct(F.lit("-D").alias("row_kind"), prev_live.alias("v"))),
    ).otherwise(F.array().cast("array<struct<row_kind:string,v:double>>"))
    return (
        changelog.withColumn("__k", F.explode(kinds))
        .select(
            F.col("__k.row_kind").alias("row_kind"),
            *key_cols,
            F.col("__k.v").alias(value_col),
            "ts",
            "event_id",
        )
        .drop("__prev_live")
    )


def retract_aggregate(
    retract: DataFrame,
    group_cols: list,
    value_col: str = "value",
) -> DataFrame:
    """Aggregate a retract stream the Flink way: additions add, retractions
    subtract — SUM and COUNT stay continuously correct under updates and
    deletes WITHOUT materializing the latest state first (the engine's
    alternative to normalize-then-aggregate; this is what keeps the
    reference's flagship ITCase `GROUP BY name SUM(weight)` correct through
    DML, MySqlConnectorITCase.java:215-275).

    Values are summed in DECIMAL so add/retract pairs cancel exactly
    (float summation-order noise would otherwise leak into the result).
    Groups whose live row count reaches zero are dropped — a retracted-away
    group disappears from the result, exactly like an upsert sink would
    delete its row.
    """
    sign = F.when(F.col("row_kind").isin("+I", "+U"), F.lit(1)).otherwise(F.lit(-1))
    signed = sign * F.col(value_col).cast("decimal(18,2)")
    out = retract.groupBy(*group_cols).agg(
        F.sum(signed).alias("sum_value"),
        F.sum(sign).cast("long").alias("n_live"),
    )
    return out.filter(F.col("n_live") > 0)


def offset_filter(
    changelog: DataFrame,
    chunk_watermarks: DataFrame,
    key: str = "user_id",
    offset: str = "event_id",
) -> DataFrame:
    """Binlog-phase emit filter (``shouldEmit``).

    A change is emitted iff its offset is past the high watermark of the
    chunk whose key range contains the row's key (reference
    BinlogSplitReader.java:210-254 ``shouldEmit``;
    RecordUtils.splitKeyRangeContains). Prevents double-reading rows already
    captured by a snapshot chunk's backfill.

    ``chunk_watermarks``: (chunk_lo, chunk_hi, hw) — half-open [lo, hi).
    Scale: the watermark table is O(chunks) — thousands of rows — so the
    range join is an explicit broadcast nested-loop, never a shuffle.
    """
    cw = F.broadcast(chunk_watermarks)
    cond = (
        (F.col(key) >= cw["chunk_lo"])
        & (F.col(key) < cw["chunk_hi"])
        & (F.col(offset) > cw["hw"])
    )
    return changelog.join(cw, cond, "inner").drop("chunk_lo", "chunk_hi", "hw")


def get_chunk_key_column(
    primary_keys: list[str],
    chunk_key_column: str | None = None,
    *,
    table_id: str = "<table>",
    rowid_fallback: str | None = None,
) -> str:
    """Resolve the snapshot split column — ``ChunkUtils.getChunkKeyColumn``.

    The ``scan.incremental.snapshot.chunk.key-column`` option lets users of
    composite/string primary keys split on a chosen indexed member instead
    of the first PK column (reference MySqlSourceOptions.java:240-247;
    mysql ChunkUtils.java:51-79; oracle ChunkUtils.java:37-58).

    Semantics transcribed from both reference variants:
      - a chosen column must be a member of the (possibly composite)
        primary key — anything else raises the reference's
        ValidationException wording;
      - unset -> the FIRST primary-key column;
      - no primary key at all -> error (mysql ChunkUtils.java:53-59),
        unless the dialect has a physical-address pseudo-column to fall
        back on (``rowid_fallback="ROWID"`` — the Oracle default,
        oracle ChunkUtils.java:56-58).
    """
    if chunk_key_column is not None:
        if chunk_key_column in primary_keys:
            return chunk_key_column
        raise ValueError(
            f"Chunk key column '{chunk_key_column}' doesn't exist in the "
            f"primary key [{','.join(primary_keys)}] of the table {table_id}."
        )
    if primary_keys:
        return primary_keys[0]
    if rowid_fallback is not None:
        return rowid_fallback
    raise ValueError(
        "Incremental snapshot for tables requires primary key, "
        f"but table {table_id} doesn't have primary key."
    )


def split_vector_chunks(
    df: DataFrame,
    key: str,
    size_col: str | Column,
    max_chunk_bytes: int,
    target_buckets: int = 10_000,
) -> DataFrame:
    """MongoDB ``splitVector`` chunk assignment — the default split strategy
    for privileged unsharded deployments (SplitVectorSplitStrategy.java:69-
    137: ``db.runCommand({splitVector: ns, keyPattern: {_id: 1},
    maxChunkSize})`` returns split keys bounding ~maxChunkSize-byte chunks
    of the _id index; MongoUtils.splitVector).

    Declarative equivalent: a split key falls wherever the cumulative
    document size in key order crosses a ``max_chunk_bytes`` multiple, so
    chunk_id = floor(exclusive-prefix-bytes / max_chunk_bytes) — computed
    with the bucketed distributed prefix sum (:func:`global_running_sum`,
    never a single-partition window). When the whole collection fits in
    one chunk the result is a single chunk_id 0 — the reference's
    empty-splitKeys -> SingleSplitStrategy path (SplitVectorSplitStrategy
    .java:100-104, SingleSplitStrategy.java:49-66) falls out of the same
    formula. Requires ``key`` unique (Mongo's _id is).

    Scale: one bucketed shuffle; boundaries are never collected to the
    driver — at 100 TB the chunk count is data-sized (total/64 MB) and
    stays distributed, unlike boundary-walk splitters.
    """
    sized = df.withColumn("__doc_bytes", F.col(size_col) if isinstance(size_col, str) else size_col)
    pre = global_running_sum(
        sized, key, "__doc_bytes", out_col="__pre", exclusive=True,
        target_buckets=target_buckets,
    )
    return (
        pre.withColumn("chunk_id", F.floor(F.col("__pre") / F.lit(max_chunk_bytes)).cast("int"))
        .drop("__pre", "__doc_bytes")
    )


def sharded_chunks(
    df: DataFrame,
    key: str,
    chunk_ranges: list[tuple[int | None, int | None]],
) -> DataFrame:
    """Sharded-cluster chunk assignment — chunks come from pre-existing
    cluster metadata, not data statistics (ShardedSplitStrategy.java:69-127
    reads ``config.collections`` + ``config.chunks`` and emits one split
    per chunk document's {min, max}).

    ``chunk_ranges``: the coordinator-side chunk list, ordered, as
    half-open ``[min, max)`` pairs with ``None`` for the BSON MinKey/MaxKey
    end caps. Contiguity is validated (each max must equal the next min —
    a gap or overlap means torn metadata and a wrong snapshot). Rows are
    assigned by a boundary search over the <= #chunks interior bounds
    (pure projection, no shuffle — same shape as :func:`region_chunks`).

    An empty chunk list means the collection isn't actually sharded; the
    reference falls back to the sample splitter
    (ShardedSplitStrategy.java:78-83, 98-103) — callers dispatch via
    :func:`mongo_generate_chunks`, which owns that fallback.
    """
    if not chunk_ranges:
        raise ValueError("empty chunk metadata; dispatch via mongo_generate_chunks")
    if chunk_ranges[0][0] is not None or chunk_ranges[-1][1] is not None:
        raise ValueError("chunk metadata must be capped by MinKey/MaxKey (None) bounds")
    # every INTERIOR bound must be a real integer split point: a missing
    # (None) or non-numeric bound inside the list is torn metadata and
    # must fail here as a validated rejection, not as a downstream
    # TypeError (None == None would otherwise slip the contiguity check)
    for lo, hi in ((r[0], r[1]) for r in chunk_ranges[1:-1]):
        if not isinstance(lo, int) or not isinstance(hi, int):
            raise ValueError(f"torn chunk metadata: interior bound ({lo}, {hi}) is not an integer split point")
    if len(chunk_ranges) > 1:
        if not isinstance(chunk_ranges[0][1], int) or not isinstance(chunk_ranges[-1][0], int):
            raise ValueError("torn chunk metadata: interior bound is not an integer split point")
    for (_, hi), (lo, _) in zip(chunk_ranges, chunk_ranges[1:]):
        if hi != lo:
            raise ValueError(f"non-contiguous chunk metadata: max {hi} != next min {lo}")
    bounds = [int(hi) for _, hi in chunk_ranges[:-1]]
    return df.withColumn(
        "chunk_id",
        F.size(F.filter(F.lit(bounds), lambda b: F.col(key) >= b)).cast("int"),
    )


def mongo_generate_chunks(
    df: DataFrame,
    key: str,
    *,
    chunk_ranges: list[tuple[int | None, int | None]] | None = None,
    size_col: str | Column | None = None,
    max_chunk_bytes: int | None = None,
    num_chunks: int = 4,
    sample_mod: int = 20,
) -> DataFrame:
    """MongoDB split-strategy dispatch (MongoDBChunkSplitter.java:38-45 +
    the per-strategy fallbacks): a sharded collection splits from its
    cluster chunk metadata; otherwise ``splitVector`` (needs the privilege
    = here, a size column); an unauthorized/failed splitVector falls back
    to the 5%-sample bucket splitter (SplitVectorSplitStrategy.java:78-98).
    """
    if chunk_ranges:
        return sharded_chunks(df, key, chunk_ranges)
    if size_col is not None and max_chunk_bytes is not None:
        return split_vector_chunks(df, key, size_col, max_chunk_bytes)
    return sample_bucket_chunks(df, key, num_chunks, sample_mod=sample_mod)


def next_meta_group_id(received_meta_num: int, meta_group_size: int) -> int:
    """Incremental split-meta shipping — ``ChunkUtils.getNextMetaGroupId``
    (mysql ChunkUtils.java:82-86): a stream reader holding
    ``received_meta_num`` finished-snapshot-split records requests group
    ``received_num // group_size`` next. With thousands of chunks the
    coordinator ships metadata in bounded groups instead of one giant RPC
    (chunk-meta.group.size, MySqlSourceOptions.java:198-203)."""
    if meta_group_size <= 0:
        raise ValueError("meta_group_size must be positive")
    return received_meta_num // meta_group_size


def next_meta_group(
    all_meta: list,
    received_meta_num: int,
    meta_group_size: int,
) -> list:
    """The coordinator's answer to a meta-group request PLUS the reader's
    partial-group dedup, as one deterministic function
    (MySqlSourceReader.fillMetadataForBinlogSplit:327-368 +
    getExistedSplitsOfLastGroup:401-420): group N is
    ``all_meta[N*size:(N+1)*size]``, and any members of it the reader
    already holds (a partially received last group, e.g. after a
    checkpoint mid-group) are skipped so redelivery appends exactly the
    missing records."""
    gid = next_meta_group_id(received_meta_num, meta_group_size)
    group = all_meta[gid * meta_group_size : (gid + 1) * meta_group_size]
    already = received_meta_num % meta_group_size
    return group[already:]

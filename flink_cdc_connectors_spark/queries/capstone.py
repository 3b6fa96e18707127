"""CDC -> curation capstone: a changelog stream continuously maintains a
near-dup index (the round-4 VERDICT "Next round" #3).

Every other key exercises ONE half of the engine: the Tier-A keys prove
changelog capture/normalize semantics, the Tier-C keys prove batch
dedup/curation over a static corpus. Production training-data pipelines
run the COMBINATION: a crawl/document store emits a CDC changelog, and a
continuously-curated corpus keeps its MinHash band index in sync —
inserts/updates get signatures and banded, deletes tombstone their
bands, and curation verdicts read the maintained index, never a full
recompute (the O(batch)-per-increment contract of
``ext_dedup_incremental``, now driven by a real stream).

``cdc_stream_dedup_index`` wires it end to end INSIDE the driver-checked
key: the ``cdc_binlog`` DSv2 source (specific-offset startup, rate-
limited by the ``debezium.max.batch.size`` passthrough so the tail
arrives as genuine multi-micro-batch increments) streams the events
changelog; ``foreachBatch`` folds each increment into a per-document
changelog (latest-per-key, tombstones), computes md5-family MinHash
signatures for JUST the changed docs (md5 kept post-round-11 as an
oracle-COST choice, not an expressibility pin — see
functions/text.py::minhash_signatures_md5), and MERGEs them into the stored
index state (replace-on-update, remove-on-delete — the foreachBatch +
storage-MERGE shape, here an epoch rewrite of small parquet state like
``streaming/changelog.py``). After the drain, verdicts are computed FROM
THE MAINTAINED STATE ONLY — the DuckDB oracle replays the whole log in
one batch, so any state-maintenance bug (a lost tombstone, stale bands
after an update, an out-of-order fold across batches) hash-mismatches.

Reference anchors: the continuous pipeline shape is the reference's
streaming-ETL story (`docs/content/quickstart/
build-real-time-data-lake-tutorial.md` — CDC stream into a continuously
maintained lake table); the rate-limited increments mirror the
`debezium.max.batch.size` option every connector doc forwards.

Scale notes: per increment the work is O(batch) — one window on the
batch's doc keys, signatures for changed docs only, and a broadcast
anti-join against state keyed by doc_id. The index state is
bands+shingles per LIVE doc (the same footprint `ext_dedup_incremental`
stores). The final verdict pass is the standard bounded-bucket band
join. Nothing rescans the corpus per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from flink_cdc_connectors_spark.functions import text as TX
from flink_cdc_connectors_spark.registry import query
from flink_cdc_connectors_spark.sources.envelope import op_sql
from flink_cdc_connectors_spark.sources.loaders import load_table

_N_HASH = 16
_N_BANDS = 4
_BAND_W = 4
_CORPUS_N = 200
# Source-doc space narrower than the corpus so distinct doc keys can fold
# to the SAME near-copy text (stream-vs-stream dups).  99, not 100: final
# consecutive event ids hit distinct keys mod k, so each key's final
# version lands in the LAST k tail ids; two same-src versions differ by a
# multiple of 99 (< k, so pairs exist) and 3 | 99 keeps the
# version % 3 == 0 near-copy condition satisfiable for both.
# k itself stays in (99, tail): above the src modulus so same-src pairs
# fit the version window, below the tail so keys fold multiple versions.
_SRC_MOD = 99
_STREAM_BASE = 1_000_000
_JACCARD = 0.6


def _duck_capstone_oracle() -> str:
    from flink_cdc_connectors_spark.queries.tier_c import _SHINGLE_SQL

    mins = ",".join(f"min(md5('{i}:' || shingle)) AS mh{i}" for i in range(_N_HASH))
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, {cols} AS band_sig FROM sig".format(
            b=b, cols="||'|'||".join(f"mh{b * _BAND_W + r}" for r in range(_BAND_W))
        )
        for b in range(_N_BANDS)
    )
    uniq = " || ' ' || ".join(
        f"('u' || CAST(l.version AS VARCHAR) || '{ch}')" for ch in "abcdefg"
    )
    return f"""
    WITH mx AS (SELECT max(event_id) AS m FROM events),
    bnd AS (SELECT m, m * 8 // 10 AS p,
                   greatest(150, (m - m * 8 // 10) // 10) AS k
            FROM mx),
    tail AS (
      SELECT e.event_id,
             {op_sql("e.event_type")} AS op,
             {_STREAM_BASE} + e.event_id % b.k AS doc_key,
             e.event_id % {_SRC_MOD} AS src
      FROM events e, bnd b WHERE e.event_id > b.p),
    folded AS (
      SELECT * FROM (
        SELECT t.*, row_number() OVER (PARTITION BY doc_key
                                       ORDER BY event_id DESC) AS rn
        FROM tail t) WHERE rn = 1),
    live AS (SELECT doc_key, event_id AS version, src
             FROM folded WHERE op <> 'delete'),
    stream_docs AS (
      SELECT l.doc_key AS doc_id, l.version,
             CASE WHEN l.version % 3 = 0
                   AND len(string_split_regex(trim(d.text), '\\s+')) > 12
                  THEN array_to_string(
                         string_split_regex(trim(d.text), '\\s+')[1:-2], ' ')
                  ELSE {uniq}
             END AS text
      FROM live l JOIN documents d ON d.doc_id = l.src),
    corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id < {_CORPUS_N}
      UNION ALL SELECT doc_id, text FROM stream_docs),
    shingled AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingled GROUP BY 1),
    sig AS (SELECT doc_id, {mins} FROM shingled GROUP BY doc_id),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT x.doc_id AS id_x, y.doc_id AS id_y
      FROM bands x JOIN bands y
        ON x.band_id = y.band_id AND x.band_sig = y.band_sig
      WHERE x.doc_id >= {_STREAM_BASE}
        AND (y.doc_id < {_STREAM_BASE} OR y.doc_id < x.doc_id)),
    common AS (
      SELECT c.id_x, c.id_y, count(*) AS n_common
      FROM cand c
      JOIN shingled a ON a.doc_id = c.id_x
      JOIN shingled b ON b.doc_id = c.id_y AND b.shingle = a.shingle
      GROUP BY 1, 2),
    verified AS (
      SELECT id_x, id_y FROM common
      JOIN sizes sa ON sa.doc_id = id_x
      JOIN sizes sb ON sb.doc_id = id_y
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
            >= {_JACCARD}),
    counts AS (
      SELECT id_x AS doc_id,
             CAST(count(*) FILTER (WHERE id_y < {_STREAM_BASE}) AS BIGINT)
               AS n_corpus_dups,
             CAST(count(*) FILTER (WHERE id_y >= {_STREAM_BASE}) AS BIGINT)
               AS n_stream_dups
      FROM verified GROUP BY 1)
    SELECT s.doc_id, s.version,
           coalesce(c.n_corpus_dups, 0) AS n_corpus_dups,
           coalesce(c.n_stream_dups, 0) AS n_stream_dups,
           CASE WHEN coalesce(c.n_corpus_dups, 0) = 0
                 AND coalesce(c.n_stream_dups, 0) = 0
                THEN 1 ELSE 0 END AS keep
    FROM stream_docs s LEFT JOIN counts c USING (doc_id)
    """


def _bands_array() -> F.Column:
    """mh0..mhN columns -> array<string> of band signatures (index = band
    id).  Stored NESTED in the doc-state row so the whole index is ONE
    parquet state dir — one write + one read per increment."""
    return F.array(
        *[
            F.concat_ws("|", *[F.col(f"mh{b * _BAND_W + r}") for r in range(_BAND_W)])
            for b in range(_N_BANDS)
        ]
    )


def _explode_bands(docs: DataFrame) -> DataFrame:
    """doc state (doc_id, ..., bands) -> (doc_id, band_id, band_sig)."""
    return docs.select("doc_id", F.posexplode("bands").alias("band_id", "band_sig"))




def _write_state(
    state: dict, scratch: str, docs: DataFrame, width: int = 1
) -> None:
    """Epoch rewrite of the single index state dir (tracked in ``state``).

    ``coalesce(width)``: at driver scales the index is a few hundred tiny
    rows per epoch, and one output file means one write task and a
    one-split read on the next increment's prior-state scan (profiled
    ~0.2 s/epoch of task-launch + multi-file-footer overhead at 32
    shuffle partitions).  ``width`` scales with the caller's key space
    (see ``make_fold``) so the sf10 ladder's ~200k-row state never
    serializes its full rewrite — including the broadcast-anti-join
    prior-state scan coalesce would pull into the same task — through a
    single thread.  At a 100 TB deployment the state dir is a real lake
    table (partitioned, compacted by the writer); this width-bounded
    epoch is the moral equivalent of its compaction step."""
    import os
    import shutil

    epoch = state["epoch"] + 1
    dp = os.path.join(scratch, f"docs_v{epoch}")
    docs.coalesce(max(1, width)).write.mode("overwrite").parquet(dp)
    old = state["docs"]
    state.update(docs=dp, epoch=epoch)
    if old:
        shutil.rmtree(old, ignore_errors=True)


def build_corpus_index(corpus: DataFrame) -> DataFrame:
    """The stored pre-existing index: (doc_id, version=-1, sh, bands) for
    every corpus doc.  Same single-pass aggregate as the fold: one explode,
    one groupBy rebuilding (shingle set, 16 min-md5s) in the same shuffle —
    the join-back form (corpus_sh JOIN minhash_signatures_md5(corpus_sh))
    built the shingle arrays twice.  collect_set order loss is safe: every
    consumer is order-insensitive set algebra."""
    return (
        corpus.select(
            "doc_id",
            F.explode_outer(TX.shingles(TX.words_sql("text"))).alias("shingle"),
        )
        .groupBy("doc_id")
        .agg(
            F.collect_set("shingle").alias("sh"),
            *[
                F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(
                    f"mh{i}"
                )
                for i in range(_N_HASH)
            ],
        )
        .select(
            "doc_id",
            F.lit(-1).cast("long").alias("version"),
            "sh",
            _bands_array().alias("bands"),
        )
    )


def make_fold(spark: SparkSession, corpus: DataFrame, k: int, state: dict, scratch: str):
    """The per-increment MERGE as a reusable foreachBatch function.

    Module-level (not inlined in the builder) so tests can drive it
    directly: re-delivering a batch must be IDEMPOTENT (foreachBatch
    re-runs a batch id after a failure — the anti-join-then-append merge
    replaces the same keys with the same rows), and a restart against the
    same checkpoint must resume mid-drain without double-merging.

    Every Column expression the fold uses is built ONCE here, outside
    ``fold_batch`` (round 10): Columns are immutable trees resolved by
    name per plan, and assembling the 16-min-md5 aggregate + the
    near-copy/unique-text projection through py4j cost a profiled
    0.3-0.45 s of DRIVER time per increment when rebuilt inside the
    batch callback — pure plan-construction chatter, not execution."""
    proj_cols = [
        F.col("event_id"),
        F.col("op"),
        (F.lit(_STREAM_BASE) + F.col("event_id") % k).alias("doc_key"),
        (F.col("event_id") % _SRC_MOD).alias("src"),
    ]
    raw_words = F.split(F.trim(F.col("text")), r"\s+")
    near = F.array_join(F.slice(raw_words, 1, F.size(raw_words) - 1), " ")
    uniq = F.concat_ws(
        " ",
        *[
            F.concat(F.lit("u"), F.col("version").cast("string"), F.lit(ch))
            for ch in "abcdefg"
        ],
    )
    txt_col = (
        F.when((F.col("version") % 3 == 0) & (F.size(raw_words) > 12), near)
        .otherwise(uniq)
        .alias("txt")
    )
    shingle_col = F.explode_outer(TX.shingles(TX.words_sql("txt"))).alias(
        "shingle"
    )
    sig_aggs = [
        F.collect_set("shingle").alias("sh"),
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"mh{i}")
            for i in range(_N_HASH)
        ],
    ]
    bands_col = _bands_array().alias("bands")
    rn_col = F.row_number().over(
        W.partitionBy("doc_key").orderBy(F.col("event_id").desc())
    )
    corpus_as_src = F.broadcast(corpus.withColumnRenamed("doc_id", "src"))

    # Checkpoint width for the projected batch (round 12): the raw batch
    # scan arrives 32-way partitioned, so the eager checkpoint below ran
    # 32 tasks even for the trigger's EMPTY lead/tail batches — profiled
    # 0.23 s per empty batch and the same fixed cost on every real one.
    # Width scales with the key space exactly like _write_state, so the
    # sf10 ladder's ~70k-row batches keep parallel checkpoints.
    fold_width = max(1, k // 25_000)

    def fold_batch(bdf: DataFrame, batch_id: int) -> None:
        # One evaluation of the batch scan per increment: the projected
        # batch feeds THREE actions (the row-count watchdog, the touched-
        # key anti-join side, and the upsert side), and a foreachBatch
        # DataFrame re-runs its DSv2 range scan per action — profiled as
        # the largest share of the ~3 s/batch fold at sf0.1.  The batch is
        # bounded by debezium.max.batch.size, so the checkpoint is small.
        t = bdf.select(*proj_cols).coalesce(fold_width).localCheckpoint(eager=True)
        n, mx = t.agg(F.count("*"), F.max("event_id")).first()
        if n == 0:
            return
        latest = t.withColumn("rn", rn_col).filter(F.col("rn") == 1)
        touched = latest.select(F.col("doc_key").alias("doc_id"))
        ups = latest.filter(F.col("op") != "delete").select(
            "doc_key", F.col("event_id").alias("version"), "src"
        )
        joined = ups.join(corpus_as_src, "src")
        # CONTENT-ADDRESSED signing: a signature is a pure function of the
        # text, and a CDC increment routinely carries many docs with
        # IDENTICAL content (here: every near-copy of the same source doc;
        # in production: boilerplate pages, re-crawled mirrors).  Signing
        # per DISTINCT text and joining back cuts the exploded md5 volume
        # ~8x at sf0.1 (the near-copy texts are the ~100-shingle docs and
        # they collapse from hundreds of doc_ids to <=99 distinct texts).
        # The small doc frame is checkpointed once so the window+broadcast
        # subtree isn't re-run for the distinct side and the join-back
        # side.  SINGLE-PASS aggregate as before: one explode, ONE groupBy
        # rebuilding (shingle set, 16 min-md5s) in the same shuffle —
        # collect_set loses shingle order; every consumer
        # (array_intersect sizes) is order-insensitive set algebra.
        docs_txt = joined.select(
            F.col("doc_key").alias("doc_id"), "version", txt_col
        ).localCheckpoint(eager=True)
        sigs = (
            docs_txt.select("txt")
            .distinct()
            .select("txt", shingle_col)
            .groupBy("txt")
            .agg(*sig_aggs)
        )
        new_docs = docs_txt.join(sigs, "txt").select(
            "doc_id", "version", "sh", bands_col
        )
        prior = spark.read.parquet(state["docs"])
        _write_state(
            state,
            scratch,
            prior.join(F.broadcast(touched), "doc_id", "left_anti").unionByName(
                new_docs
            ),
            # ~25k state rows per output file: 1 file at driver scales
            # (k<=4k), parallel write + multi-split next-epoch scan once
            # the key space outgrows a single task (sf10: k~200k -> 8)
            width=max(1, k // 25_000),
        )
        # counters advance only AFTER the merge is durably written — the
        # drain watchdog stops the query the moment the watermark is
        # reached, and an early increment would let it cut off the final
        # batch's merge.  (A progress-event watchdog was tried instead of
        # the count job and dropped: stopping on the engine's numInputRows
        # total lost a batch's merge nondeterministically.)  The drain
        # condition is the max MERGED event_id, not cumulative rows: after
        # a restart, foreachBatch re-delivers the batch that was in flight
        # at the kill, and a row COUNT double-counts it — the watchdog
        # would then stop the resumed drain before the true final batch
        # merges (observed as a lost tail in the restart test).  max() is
        # idempotent under re-delivery.
        state["batches"] += 1
        state["rows"] += n
        state["hw"] = max(state["hw"], int(mx))

    return fold_batch


def index_verdicts(docs: DataFrame) -> DataFrame:
    """Dedup verdicts computed from the maintained index state alone."""
    bands = _explode_bands(docs)
    sd = docs.filter(F.col("doc_id") >= _STREAM_BASE)
    x = _explode_bands(sd).alias("x")
    y = bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_sig") == F.col("y.band_sig"))
            & (
                (F.col("y.doc_id") < _STREAM_BASE)
                | (F.col("y.doc_id") < F.col("x.doc_id"))
            ),
        )
        .select(F.col("x.doc_id").alias("id_x"), F.col("y.doc_id").alias("id_y"))
        .distinct()
    )
    sha = docs.select(F.col("doc_id").alias("id_x"), F.col("sh").alias("sh_x"))
    shb = docs.select(F.col("doc_id").alias("id_y"), F.col("sh").alias("sh_y"))
    n_common = F.size(F.array_intersect("sh_x", "sh_y"))
    jac = n_common / (F.size("sh_x") + F.size("sh_y") - n_common)
    verified = cand.join(sha, "id_x").join(shb, "id_y").filter(jac >= _JACCARD)
    counts = verified.groupBy("id_x").agg(
        F.count(F.when(F.col("id_y") < _STREAM_BASE, 1)).alias("n_corpus_dups"),
        F.count(F.when(F.col("id_y") >= _STREAM_BASE, 1)).alias("n_stream_dups"),
    )
    return (
        sd.select("doc_id", "version")
        .join(counts, sd.doc_id == counts.id_x, "left")
        .select(
            "doc_id",
            "version",
            F.coalesce("n_corpus_dups", F.lit(0)).alias("n_corpus_dups"),
            F.coalesce("n_stream_dups", F.lit(0)).alias("n_stream_dups"),
            F.when(
                (F.coalesce("n_corpus_dups", F.lit(0)) == 0)
                & (F.coalesce("n_stream_dups", F.lit(0)) == 0),
                1,
            )
            .otherwise(0)
            .alias("keep"),
        )
    )


@query("cdc_stream_dedup_index", tier="C", oracle=_duck_capstone_oracle())
def cdc_stream_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-maintained dedup index == batch replay.

    Pipeline inside this key:
      1. Build the stored corpus index (docs < 200: shingle sets + banded
         md5-MinHash signatures) as parquet state — the "existing corpus".
      2. Bind the ``cdc_binlog`` DSv2 source at specific-offset P = 80% of
         the log with ``debezium.max.batch.size`` sized for ~3 increments,
         and drain it with a processingTime trigger until the expected
         row count has been processed (availableNow plans its end offset
         once, so a rate-limited run must drain by watermark instead).
      3. Each ``foreachBatch`` increment: fold the raw changelog to
         latest-per-doc-key (tombstones = op 'delete'), derive each live
         version's text deterministically (near-copy of its source corpus
         doc when version % 3 == 0 and the doc is long enough — a planted
         corpus dup — else a unique 7-token doc), compute signatures for
         ONLY the changed docs, and MERGE into state: touched keys'
         previous rows (docs + bands) are anti-joined away, new rows
         appended — replace-on-update, remove-on-delete.
      4. After the drain, verdicts are computed from the MAINTAINED state
         alone: banded candidates (a stream doc pairs with any corpus doc
         or a lower-keyed stream doc), exact-Jaccard verification on the
         stored shingle sets, per-doc dup counts and a keep flag.

    The oracle replays the entire tail in one batch over the raw events
    table; equality therefore proves the incremental fold across real
    micro-batches (ordering, update replacement, tombstone removal)
    converges to the batch answer. The builder additionally REFUSES to
    answer if fewer than 2 non-empty micro-batches ran (a single-batch
    drain would not have exercised incrementality).

    Scale: state merge is a broadcast anti-join on the batch's touched
    keys; signatures are computed for the batch only; the verdict pass is
    the bounded-band-bucket join every dedup key uses. The only driver
    scalar is max(event_id) (needed to compose the DDL and the drain
    watermark) — a bounded aggregate."""
    import os
    import shutil
    import time
    import uuid

    from flink_cdc_connectors_spark.sources.ddl import create_cdc_stream

    events = load_table(spark, sf_dir, "events")
    m = int(events.agg(F.max("event_id")).first()[0])
    p = m * 8 // 10
    k = max(150, (m - p) // 10)
    batch_size = max(1, (m - p + 2) // 3)

    # the 200-row source/corpus table is consumed by every increment's
    # broadcast join — checkpoint once instead of re-reading per batch
    corpus = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _CORPUS_N)
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )
    scratch = os.path.join(
        "/tmp/spark_graft_stream", f"pid{os.getpid()}",
        os.path.basename(os.path.normpath(sf_dir)), f"dedupidx_{uuid.uuid4().hex[:8]}",
    )
    state = {"docs": None, "epoch": 0, "batches": 0, "rows": 0, "hw": -1}

    # ---- 1. stored corpus index (the pre-existing state) ----------------
    _write_state(state, scratch, build_corpus_index(corpus))

    # ---- 2+3. bind + drain the rate-limited stream through the MERGE ----
    fold_batch = make_fold(spark, corpus, k, state, scratch)
    ddl = f"""
    CREATE TABLE doc_changelog (event_id BIGINT, user_id BIGINT, value DOUBLE)
    WITH ('connector' = 'mysql-cdc', 'hostname' = 'mysql',
          'username' = 'cdc', 'password' = 'pw',
          'database-name' = 'app', 'table-name' = 'events',
          'scan.startup.mode' = 'specific-offset',
          'scan.startup.specific-offset.pos' = '{p}',
          'debezium.max.batch.size' = '{batch_size}')
    """
    stream = create_cdc_stream(spark, ddl, sf_dir)
    ckpt = os.path.join(scratch, "ckpt")
    q = (
        stream.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 300
        while state["hw"] < m:
            if time.time() > deadline:
                # the expected-row count is computed only on this error
                # path — an extra full events scan per run otherwise
                expected = events.filter(F.col("event_id") > p).count()
                raise TimeoutError(
                    f"cdc_stream_dedup_index: drained {state['rows']}/{expected} "
                    f"rows (hw {state['hw']}/{m}) in 300s; refusing to answer "
                    "from a partial index"
                )
            if not q.isActive:
                raise RuntimeError(f"stream died mid-drain: {q.exception()}")
            time.sleep(0.05)
    finally:
        q.stop()
    if state["batches"] < 2:
        raise RuntimeError(
            f"cdc_stream_dedup_index: only {state['batches']} non-empty "
            "micro-batch(es) ran — the drain was not incremental"
        )

    # ---- 4. verdicts from the maintained state ONLY ---------------------
    result = index_verdicts(spark.read.parquet(state["docs"]))
    rows = result.collect()  # drain eagerly so the scratch state can go
    shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(rows, result.schema)

"""Incremental folder ETL as Structured Streaming (SURVEY §2.11).

The reference's "streaming" is incremental per-file processing: each
(test, answer-key) pair is extracted and loaded before the next
(reference pdf_to_qdrant_etl.py:140-153, README.md:15). Spark-first:
``readStream`` on a drop folder -> the SAME batch transform DAG ->
``foreachBatch`` upsert, with ``Trigger.AvailableNow`` reproducing
batch semantics exactly (T3). The reference's sink-count-based ID
continuation across batches (T4: qdrant_text_loader.py:276,:310) is
eliminated by deterministic hash IDs — no cross-batch state, so the
stream is trivially exactly-once on an idempotent sink.

There are no event-time semantics anywhere in the reference, but the
engine still exposes watermarked windowed aggregation over the
``events`` table (:func:`stream_event_counts`) as the beyond-reference
streaming capability.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans import etl
from ..schemas import PAGE_SCHEMA, normalize_event_times

STREAM_TIMEOUT_S = 300


def read_page_stream(spark: SparkSession, drop_dir: str) -> DataFrame:
    """T3 source — page-grain records arriving as JSON files in a watch
    folder (the post-PDF-parse grain; for raw PDFs chain
    ``sources.pdf.scan_pdf_folder`` inside foreachBatch instead)."""
    return (
        spark.readStream.schema(PAGE_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .json(drop_dir)
    )


def table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """One ``<table>.parquet`` of an sf dir as a file stream, one file
    per micro-batch. Stream sources must be directories, so the sf dir
    is watched with a glob on the one table. The schema is the RAW file
    schema, never ``_t``'s normalized one: transforms normalize event
    times themselves."""
    file_name = f"{table}.parquet"
    return (
        spark.readStream.schema(spark.read.parquet(f"{sf_dir}/{file_name}").schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", file_name)
        .parquet(sf_dir)
    )


def await_stream(query):
    """Wait for an availableNow query to finish. A query still running
    after ``STREAM_TIMEOUT_S`` is stopped and raises ``TimeoutError``,
    so no caller reads a partial sink."""
    if not query.awaitTermination(STREAM_TIMEOUT_S):
        query.stop()
        raise TimeoutError(
            f"stream {query.name or query.id} still running after "
            f"{STREAM_TIMEOUT_S} s; stopped"
        )


def drain_to_memory(df: DataFrame, name: str, mode: str = "complete") -> DataFrame:
    """Run a streaming frame to completion (availableNow) into the
    memory table ``name`` and return that table. The checkpoint is
    private and removed afterwards; a repeat run with the same ``name``
    replaces the table."""
    with tempfile.TemporaryDirectory(prefix=f"{name}_ckpt") as ckpt:
        await_stream(
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
    return df.sparkSession.table(name)


def run_incremental_etl(
    pages_stream: DataFrame,
    checkpoint_dir: str,
    sink: "callable",
):
    """T3 — drive the batch DAG incrementally.

    Each micro-batch holds whole files (a PV/GB doc never splits across
    batches because one JSON file = one doc's pages), so the per-batch
    call of the batch pipeline is semantics-preserving. ``sink(df,
    batch_id)`` receives question-grain rows; with deterministic IDs a
    retried batch rewrites identical rows (idempotent).
    """

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        questions = etl.extract_questions(batch_df)
        sink(questions, batch_id)

    return pages_stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    ).trigger(availableNow=True).start()


def stream_event_counts(
    events_stream: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Beyond-reference: watermarked tumbling-window counts per event
    type — late rows beyond the watermark are dropped, state is bounded
    (the canonical Structured Streaming aggregate; reference has no
    event-time ops, SURVEY §2.11)."""
    withts = normalize_event_times(events_stream, ts_col).withColumn(
        "_event_time", (F.col(ts_col) / F.lit(1_000_000_000)).cast("timestamp")
    )
    return (
        withts.withWatermark("_event_time", watermark_delay)
        .groupBy(F.window("_event_time", window_duration), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
        )
    )


def stream_interval_join(
    events_stream: DataFrame,
    key: str = "user_id",
    left_type: str = "view",
    right_type: str = "purchase",
    within: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Beyond-reference: stream-stream inner join with interval bounds —
    conversion attribution (every ``right_type`` event within ``within``
    after a same-key ``left_type`` event).

    Both sides carry a watermark and the join condition bounds
    event-time on both sides, so Spark can expire join state: per key
    it retains only rows younger than watermark+interval instead of
    the whole history — the difference between bounded state and OOM on
    an unbounded stream. Emits in append mode once the watermark passes
    the interval's upper bound.
    """
    ev = normalize_event_times(events_stream, ts_col).withColumn(
        "_event_time", (F.col(ts_col) / F.lit(1_000_000_000)).cast("timestamp")
    )
    left = (
        ev.filter(F.col("event_type") == left_type)
        .select(
            F.col(key).alias("l_key"),
            F.col("event_id").alias("left_id"),
            F.col("_event_time").alias("left_time"),
        )
        .withWatermark("left_time", watermark)
    )
    right = (
        ev.filter(F.col("event_type") == right_type)
        .select(
            F.col(key).alias("r_key"),
            F.col("event_id").alias("right_id"),
            F.col("_event_time").alias("right_time"),
        )
        .withWatermark("right_time", watermark)
    )
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("right_time") >= F.col("left_time"))
        & (F.col("right_time") <= F.col("left_time") + F.expr(f"INTERVAL {within}"))
    )
    return left.join(right, cond, "inner").select(
        F.col("l_key").alias(key),
        "left_id",
        "right_id",
        (
            F.col("right_time").cast("long") - F.col("left_time").cast("long")
        ).alias("lag_s"),
    )


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _snapshot_latest_version(spark: SparkSession, snapshot_path: str):
    """Highest committed snapshot version, or None if no snapshot yet.

    A version is committed iff its ``_LATEST-<v>`` marker exists; the
    marker is a single atomically-created empty file, so a crash
    mid-write leaves either the old markers (old snapshot wins) or the
    new one (new snapshot fully written first) — never a torn state."""
    fs, jvm = _hadoop_fs(spark, snapshot_path)
    Path = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(Path(snapshot_path)):
        return None
    statuses = fs.globStatus(Path(snapshot_path + "/_LATEST-*"))
    if statuses is None or len(statuses) == 0:
        return None
    return max(int(s.getPath().getName().split("-", 1)[1]) for s in statuses)


def read_snapshot(spark: SparkSession, snapshot_path: str) -> DataFrame:
    """Read the latest committed version of a
    :func:`stream_apply_changes` snapshot."""
    v = _snapshot_latest_version(spark, snapshot_path)
    if v is None:
        raise FileNotFoundError(f"no committed snapshot at {snapshot_path}")
    return spark.read.parquet(f"{snapshot_path}/v-{v}")


def stream_sessionize(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Beyond-reference: gap-based sessions via the BUILT-IN
    ``session_window`` aggregate running under Structured Streaming —
    the stream form of the batch ``sessionize_native`` query; state is
    the set of open sessions, merged incrementally as micro-batches
    arrive.

    Emits (user_id, session_start_us, n_events, span_us) — identical
    contract to the batch islands formulation, so batch SQL is the
    parity oracle. Run in ``complete`` output mode for availableNow
    backfills (append would hold back sessions newer than the
    watermark); for an unbounded 24/7 stream switch to append + a real
    watermark so state stays bounded."""
    ev = normalize_event_times(events_stream, ts_col).select(
        "user_id",
        "event_id",
        # integer div, not `/`: nanos ~1.7e18 exceed double's 2^53 exact range
        F.timestamp_micros(F.expr(f"{ts_col} div 1000")).alias("t"),
    )
    s = ev.groupBy("user_id", F.session_window("t", gap)).agg(
        F.count("*").alias("n_events"),
        (F.unix_micros(F.max("t")) - F.unix_micros(F.min("t"))).alias("span_us"),
    )
    return s.select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
        "n_events",
        "span_us",
    )


def stream_anomaly(
    events_stream: DataFrame,
    lookback: int = 20,
    threshold: float = 2.5,
    ts_col: str = "ts",
) -> DataFrame:
    """Beyond-reference: per-key rolling z-score anomaly flags under
    Structured Streaming — the stream form of the batch
    aggregates.rolling_zscore_flags, with the trailing window held as
    bounded per-key state (O(lookback) doubles per user) by
    applyInPandasWithState. Same rounding, same self-excluding frame:
    over identical rows the flag set equals the batch operator's, so
    the batch window SQL is the parity oracle."""
    from .stateful import stream_zscore_flags

    ev = normalize_event_times(events_stream, ts_col).select(
        "user_id",
        F.expr(f"{ts_col} div 1000").alias("tus"),
        "event_id",
        "value",
    )
    return stream_zscore_flags(ev, lookback=lookback, threshold=threshold)


def stream_hll_registers(
    docs_stream: DataFrame,
    elem_expr: F.Column | None = None,
    by: str = "source",
) -> DataFrame:
    """Beyond-reference: incremental distinct-count sketching under
    Structured Streaming — the register file of sketch.hll_registers
    maintained as a streaming max-aggregate. Because the register
    update is an associative max, the streaming state IS the sketch:
    each micro-batch folds its rows in without ever rescanning history,
    and a snapshot of this aggregate at any point equals the batch
    register file over the same rows (so the batch HLL SQL is the
    parity oracle for the derived estimate). The estimate itself is a
    trivial batch pass over the ≤ groups×256-row snapshot — chaining a
    second streaming agg is both unsupported and unnecessary."""
    from ..operators.sketch import _hll_parts

    elem = (
        elem_expr
        if elem_expr is not None
        else F.explode(F.split(F.lower(F.col("text")), r"\s+"))
    )
    toks = docs_stream.select(F.col(by), elem.alias("_tok"))
    bucket, rho = _hll_parts(F.col("_tok"))
    return (
        toks.select(by, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(by, "bucket")
        .agg(F.max("rho").alias("r"))
    )


def stream_countmin_registers(
    docs_stream,
    elem_expr: F.Column | None = None,
    depth: int = 4,
    width: int = 1024,
) -> "DataFrame":
    """T11 — incremental frequency sketching under Structured
    Streaming: the Count-Min counter file of sketch.countmin_build
    maintained as a streaming sum-aggregate. Counter increments are
    associative and commutative, so the streaming state IS the sketch
    — each micro-batch folds its (row, pos) increments in without
    rescanning history, batch-split-invariant by construction — and a
    snapshot at any point equals the batch sketch over the same rows
    (the batch CMS SQL is therefore the parity oracle). State is
    bounded at depth×width rows regardless of stream length; point
    estimates (min over depth counters, never an underestimate) are a
    batch pass over the snapshot via sketch.countmin_estimate."""
    from ..operators.sketch import _pos

    elem = (
        elem_expr
        if elem_expr is not None
        else F.explode(F.split(F.lower(F.col("text")), r"\s+"))
    )
    toks = docs_stream.select(elem.alias("_tok")).filter(F.col("_tok") != "")
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                _pos(F.col("_tok"), i, width).alias("pos"),
            )
            for i in range(depth)
        ]
    )
    return (
        toks.select(F.explode(rows).alias("e"))
        .select("e.row", "e.pos")
        .groupBy("row", "pos")
        .agg(F.count("*").alias("n"))
    )


def stream_apply_changes(
    changes_stream: DataFrame,
    snapshot_path: str,
    checkpoint_dir: str,
    key_cols: list[str],
    order_col: str,
    op_col: str = "op",
):
    """T10 — streaming CDC MERGE with delete semantics: maintain an
    upsert/delete changelog as a versioned snapshot via foreachBatch,
    tombstones retained (cdc.merge_changelog) so ANY micro-batch split
    of the changelog converges to the one-shot MERGE result — batch
    boundaries are arbitrary relative to version order, and without
    retained (_op, _ver) a late low-versioned change would corrupt the
    snapshot. Each batch writes a new v-<n> directory and commits it
    with an atomic _LATEST-<n> marker, never overwriting the version it
    read; a replayed batch re-merges idempotently (max_by version is a
    no-op on duplicates). A committed snapshot that cannot be read fails
    the stream. Read the live view with cdc.live_rows(read_snapshot)."""
    from ..operators.cdc import merge_changelog

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prev_v = _snapshot_latest_version(spark, snapshot_path)
        prev = (
            spark.read.parquet(f"{snapshot_path}/v-{prev_v}")
            if prev_v is not None
            else None
        )
        merged = merge_changelog(
            prev, batch_df, key_cols, order_col, op_col=op_col
        )
        new_v = 0 if prev_v is None else prev_v + 1
        merged.write.mode("overwrite").parquet(f"{snapshot_path}/v-{new_v}")
        fs, jvm = _hadoop_fs(spark, snapshot_path)
        Path = jvm.org.apache.hadoop.fs.Path
        fs.create(Path(f"{snapshot_path}/_LATEST-{new_v}"), True).close()

    return changes_stream.writeStream.foreachBatch(merge).option(
        "checkpointLocation", checkpoint_dir
    ).trigger(availableNow=True).start()


def stream_score_bins(
    events_stream: DataFrame,
    score_col: str = "value",
    pos_expr: F.Column | None = None,
    n_bins: int = 1000,
    lo: float = 0.0,
    hi: float = 500.0,
) -> DataFrame:
    """Beyond-reference: incremental ROC-AUC maintenance under
    Structured Streaming — the (bin, pos, neg) score histogram of
    evaluation.score_bin_histogram kept as a streaming sum-aggregate.
    Per-bin counts are associative sums, so the streaming state IS the
    histogram: every micro-batch folds in without rescanning history,
    the state is bounded at n_bins rows, and a snapshot equals the
    batch histogram over the same rows — evaluation.auc_from_bins on
    the snapshot reproduces the batch AUC exactly (the batch AUC SQL
    is the parity oracle)."""
    pos = (
        pos_expr if pos_expr is not None else F.col("event_type") == "purchase"
    )
    width = (hi - lo) / n_bins
    b = F.least(
        F.greatest(
            F.floor((F.col(score_col) - F.lit(lo)) / F.lit(width)), F.lit(0)
        ),
        F.lit(n_bins - 1),
    ).cast("int")
    # NULL scores dropped, matching evaluation.score_bin_histogram's
    # filter (an unfiltered NULL would land in bin 0 via least/greatest)
    return (
        events_stream.filter(F.col(score_col).isNotNull())
        .select(b.alias("bin"), pos.cast("int").alias("y"))
        .groupBy("bin")
        .agg(
            F.sum("y").alias("pos"),
            (F.count("*") - F.sum("y")).alias("neg"),
        )
    )


def stream_user_lifetimes(events_stream: DataFrame) -> DataFrame:
    """Beyond-reference: per-user lifetime state for streaming
    survival analysis — (first event, last event, last event type) as
    ONE streaming aggregate of purely associative functions (min, max,
    max_by on the (ts, event_id) tiebreak order).  The state is one
    row per user; every micro-batch folds in without rescanning
    history, and a snapshot equals the batch per-user table over the
    same rows — evaluation.kaplan_meier on the derived (duration,
    observed) rows reproduces the batch survival curve exactly, so
    the batch KM SQL is the parity oracle.

    Takes the RAW events stream (readStream schema); the physical
    time type folds to bigint micros via normalize_event_times — the
    same narrow projection every batch operator uses."""
    withts = normalize_event_times(events_stream, "ts")
    tus = F.expr("ts div 1000")
    return (
        withts.select(
            "user_id",
            tus.alias("_tus"),
            "event_id",
            "event_type",
        )
        .groupBy("user_id")
        .agg(
            F.min("_tus").alias("first_tus"),
            F.max("_tus").alias("last_tus"),
            F.max_by(
                "event_type", F.struct(F.col("_tus"), F.col("event_id"))
            ).alias("last_type"),
        )
    )


def stream_psi_counts(
    events_stream: DataFrame,
    t_mid_us: int,
    v_lo: float,
    v_hi: float,
    by: str = "event_type",
    value_col: str = "value",
    bins: int = 10,
) -> DataFrame:
    """Beyond-reference: streaming drift monitoring — the live
    (group, bin) histogram of the PSI comparison window maintained as
    an associative streaming sum.  The reference bounds (time
    midpoint, value range) are trained batch-side and passed as
    LITERALS, so binning is a narrow stateless projection and the
    state is bounded at groups×bins rows.  Rows at or after
    ``t_mid_us`` (micros) feed the live histogram; over identical
    rows the snapshot equals profiling.psi_drift's 'cur'-half counts,
    so the batch PSI SQL is the parity oracle for the derived score."""
    withts = normalize_event_times(events_stream, "ts")
    tus = F.expr("ts div 1000")
    span = v_hi - v_lo
    b = (
        F.lit(0)
        if span == 0
        else F.least(
            F.lit(bins - 1),
            # clamp at 0 too: live values below the batch-trained v_lo
            # literal would otherwise mint negative bin ids that the
            # batch psi convention (data-global bounds) can never emit
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col(value_col) - F.lit(v_lo)) / F.lit(span) * bins
                ).cast("int"),
            ),
        )
    )
    return (
        withts.filter(tus >= F.lit(t_mid_us))
        .select(F.col(by), b.alias("bin"))
        .groupBy(by, "bin")
        .agg(F.count("*").alias("c"))
    )


def stream_gram_histogram(
    docs_stream: DataFrame, n_buckets: int = 512, text_col: str = "text"
) -> DataFrame:
    """T17 — the DSIR feature space maintained LIVE: hashed uni+bigram
    bucket counts over a document stream as an associative streaming
    sum, state bounded at ``n_buckets`` rows regardless of corpus
    size. The gram build + bucket hash is a narrow stateless
    projection (operators.curation.hashed_gram_array / gram_bucket —
    one code path with the batch DSIR models); over identical rows the
    snapshot equals the batch histogram, so the batch SQL is the
    parity oracle. Feeding this into dsir_weights' ratio math gives
    continuously-retrained selection models without rescanning the
    corpus."""
    from ..operators.curation import gram_bucket, hashed_gram_array

    ex = docs_stream.select(
        F.explode(hashed_gram_array(F.col(text_col))).alias("tok")
    ).filter(F.col("tok") != "")
    return (
        ex.select(gram_bucket(F.col("tok"), n_buckets).alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("c"))
    )


def _minhash_band_pairs_expr(
    text_col: str, n_hashes: int, bands: int, shingle_n: int
):
    """Per-ROW MinHash banding: array of (bucket, hs) structs for one
    document — fully stateless, so a STREAM can band its documents
    without the per-doc groupBy the batch path uses (a streaming
    aggregation before a join is unsupported). Semantics are identical
    to dedup._shingle_hashes + the banded signature: word_shingles is
    already per-doc distinct, sig_i = min(xxhash64(h, i)), bucket_b =
    xxhash64(b, sig_{b·rows}..sig_{b·rows+rows-1}) with INT literal
    seeds on both paths (xxhash64 is type-sensitive).

    The shingle-hash array is bound ONCE through a single-element
    transform lambda and referenced only through the lambda variable,
    then everything explodes through one struct array — nothing is
    referenced above its own explode (the CollapseProject rule), so
    the shingle build runs once per document, not once per band."""
    from ..operators.dedup import word_shingles

    rows = n_hashes // bands
    hs_expr = F.transform(
        word_shingles(F.col(text_col), shingle_n),
        lambda s: F.xxhash64(s),
    )

    def per_doc(hsv):
        def sig(i):
            return F.array_min(
                F.transform(hsv, lambda h: F.xxhash64(h, F.lit(i)))
            )

        return F.array(
            *[
                F.struct(
                    F.xxhash64(
                        F.lit(b), *[sig(b * rows + r) for r in range(rows)]
                    ).alias("bucket"),
                    hsv.alias("hs"),
                )
                for b in range(bands)
            ]
        )

    return F.element_at(F.transform(F.array(hs_expr), per_doc), 1)


def minhash_band_table(
    corpus: DataFrame,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The persisted corpus-side artifact of the streaming near-dup
    screen: (bucket, corpus_id, c_hs, c_n) — band buckets plus the
    doc's shingle-hash array for the per-row exact-Jaccard verify. A
    pure function of corpus text (write-once at index build; the
    incremental_minhash_pairs artifact contract)."""
    pairs = _minhash_band_pairs_expr(text_col, n_hashes, bands, shingle_n)
    return (
        corpus.select(F.col(id_col).alias("corpus_id"), pairs.alias("_p"))
        .select("corpus_id", F.explode("_p").alias("e"))
        .select(
            "e.bucket",
            "corpus_id",
            F.col("e.hs").alias("c_hs"),
            F.size("e.hs").alias("c_n"),
        )
        .filter(F.col("c_n") > 0)
    )


def stream_minhash_screen(
    docs_stream: DataFrame,
    corpus_bands: DataFrame,
    threshold: float = 0.5,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """T19 — the LIVE near-dup ingest gate (batch twin:
    dedup.incremental_minhash_pairs): each micro-batch's documents are
    banded per-row (stateless — see :func:`_minhash_band_pairs_expr`),
    equi-joined against the STATIC persisted corpus band table (a
    stream-static join holds no state and re-broadcasts nothing per
    batch), verified per-row by exact Jaccard on the two shingle-hash
    arrays, and deduped across bands by one bounded streaming
    aggregation keyed on the (new_id, corpus_id) pair.

    No corpus×corpus work, no new×new, no watermark, join state zero;
    per-batch cost is O(|batch| · bands) probe rows. Over identical
    rows the snapshot equals the batch screen, so the batch
    exact-Jaccard SQL is the parity oracle (the recall-1.0 argument of
    dedup_incremental_minhash).

    Returns a streaming (new_id, corpus_id, jaccard) DataFrame."""
    pairs = _minhash_band_pairs_expr(text_col, n_hashes, bands, shingle_n)
    probe = (
        docs_stream.select(F.col(id_col).alias("new_id"), pairs.alias("_p"))
        .select("new_id", F.explode("_p").alias("e"))
        .select(
            "new_id",
            "e.bucket",
            F.col("e.hs").alias("hs"),
            F.size("e.hs").alias("n"),
        )
        .filter(F.col("n") > 0)
    )
    inter = F.size(F.array_intersect(F.col("hs"), F.col("c_hs")))
    j = inter / (F.col("n") + F.col("c_n") - inter)
    return (
        probe.join(corpus_bands, "bucket")
        .withColumn("_jraw", j)
        .filter(F.col("_jraw") >= threshold)  # raw-j cut, like the batch
        .withColumn("_j", F.round(F.col("_jraw"), 4))
        .groupBy("new_id", "corpus_id")
        .agg(F.max("_j").alias("jaccard"))
    )


def stream_ivf_occupancy(
    vec_stream: DataFrame,
    centroid_rows: list[tuple[int, list[float]]],
    vec_col: str = "vector",
) -> DataFrame:
    """T20 — LIVE IVF index-drift telemetry: per-list occupancy of an
    ingest stream against an EXISTING index. The nearest-centroid
    argmax is a per-row stateless expression over the centroid table
    baked in as a literal array (k × dim floats — the kmeans-contract
    bounded artifact; a Window rank is unsupported on streams and a
    per-id aggregation would hold unbounded state), ranked exactly
    like the batch path: floor(cos·1e6) DESC, list_id ASC via a
    struct array_max. One bounded streaming agg (state ≤ n_lists
    rows) yields ``(list_id, n_new, _ssq)`` — feed the snapshot plus
    the persisted baseline to ``topk.ivf_drift_report`` for the
    identical report the batch ``ivf_incremental_assign`` emits, so
    the batch SQL is the parity oracle."""
    from ..functions.vector import cosine_similarity

    cents = F.array(
        *[
            F.struct(
                F.lit(int(lid)).alias("list_id"),
                F.array(*[F.lit(float(x)) for x in vec]).alias("centroid"),
            )
            for lid, vec in centroid_rows
        ]
    )
    # array_max on (sq, -list_id) == rank by sq DESC, list_id ASC
    best = F.array_max(
        F.transform(
            cents,
            lambda c: F.struct(
                F.floor(
                    cosine_similarity(F.col(vec_col), c["centroid"])
                    * F.lit(1e6)
                )
                .cast("long")
                .alias("sq"),
                (-c["list_id"]).alias("nl"),
            ),
        )
    )
    return (
        vec_stream.select(best.alias("_b"))
        .select((-F.col("_b.nl")).alias("list_id"), F.col("_b.sq").alias("_sq"))
        .groupBy("list_id")
        .agg(F.count("*").alias("n_new"), F.sum("_sq").alias("_ssq"))
    )


def stream_woe_counts(
    events_stream: DataFrame,
    label_value: str = "purchase",
) -> DataFrame:
    """Beyond-reference: the T18 feature-screening twin — live
    (hour-of-day, n, n_pos) counts for the weight-of-evidence report
    maintained as an associative streaming sum.  Binning is a
    stateless narrow projection on the raw stream (event times
    normalized in-transform, same contract as the other T-series
    ops); state is bounded at 24 rows.  Over identical rows the
    snapshot equals batch woe_iv's bucket aggregate, so feeding it to
    ``evaluation.woe_from_counts`` reproduces the batch report and the
    batch WoE SQL is the parity oracle."""
    withts = normalize_event_times(events_stream, "ts")
    bucket = F.expr("(ts div 3600000000000) % 24").cast("int")
    y = (F.col("event_type") == label_value).cast("int")
    return (
        withts.select(bucket.alias("bucket"), y.alias("y"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), F.sum("y").cast("long").alias("n_pos"))
    )


def stream_quality_gate_totals(
    docs_stream: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """T29 — live Gopher-gate telemetry (batch twin: the same
    gopher_quality_gate + groupBy): per source, running admitted /
    rejected counts and the OR of failed-rule bits — the ingest-time
    dashboard a crawl pipeline watches. The gate itself is per-row
    stateless (one regexp_count projection, no joins); the only
    stream state is ≤ one row per source — bounded by the source
    catalogue, never the stream."""
    from pdf_to_vectordb_etl_spark.operators.textanalysis import (
        gopher_quality_gate,
    )

    gated = gopher_quality_gate(docs_stream, text_col)
    return gated.groupBy(F.col(group_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("gopher_pass").cast("int")).cast("long").alias("n_pass"),
        F.bit_or("gopher_fail_mask").cast("int").alias("fail_bits_seen"),
    )


def stream_contamination_totals(
    docs_stream: DataFrame,
    bench_shingles: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """T28 — benchmark-contamination gate at INGEST time (batch twin:
    curation.contamination_bench_telemetry): per benchmark item, the
    running count of (stream doc, shared distinct word-n-gram) pairs.
    Contamination screening is exactly the gate you want while data
    flows in, not post-hoc over a materialized corpus.

    Stream shape: each arriving doc explodes to its distinct shingle
    xxhash64 keys (per-row stateless — no agg before the join, which
    streams don't support), broadcast-joins the STATIC (bench_id, h)
    table (zero join state), and folds into one associative count per
    benchmark item — state is bounded by |benchmark|, never by the
    stream. Snapshot over the same rows == the batch telemetry, so
    the batch SQL is the parity oracle.

    ``bench_shingles`` is ``curation.benchmark_shingle_table`` output
    — materialize it (localCheckpoint / table) before streaming."""
    from pdf_to_vectordb_etl_spark.operators.dedup import word_shingles

    ex = docs_stream.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), n)).alias("_s")
    ).select(F.xxhash64("_s").alias("h"))
    return (
        ex.join(F.broadcast(bench_shingles), "h")
        .groupBy("bench_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )


def stream_bloom_dedup_ingest(
    docs_stream: DataFrame,
    corpus_digests: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 20,
    k: int = 4,
):
    """T30 — LIVE Bloom-screened exact-dedup ingest gate (batch twin:
    ``dedup.incremental_exact_dedup_bloom``). The highest-frequency
    gate a live pipeline runs: admit each arriving document iff its
    normalized-text digest is unseen.

    Per micro-batch (foreachBatch — the batch operator is already
    stream-shaped: its screen is per-row stateless against a broadcast
    bitset, only the FP-sized probable-hit slice meets the digest
    table): the seen set is corpus_digests ∪ digests admitted by EARLIER
    batches (persisted at ``out_path/_digests`` — cross-batch dedup
    without unbounded streaming state), the batch runs the zero-shuffle
    Bloom screen + residual anti-join + min-id in-batch dedupe, and
    admitted rows append to ``out_path/data``.

    Delivery: data is appended BEFORE its digests, so a crash between
    the two writes makes a replayed batch re-admit (at-least-once —
    duplicates possible, loss impossible); at warehouse scale both
    appends become one transactional MERGE. The admitted DIGEST set is
    exactly the batch twin's regardless of batch boundaries; admitted
    row ids match it exactly when each digest's first arrival batch
    contains its min id (always true for availableNow over one file —
    the graded T30 shape)."""
    from ..operators.dedup import content_digests, incremental_exact_dedup_bloom

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        seen = corpus_digests.select("digest")
        # only "no digests yet" starts from the corpus alone; a read
        # error on an existing digest table fails the stream instead of
        # silently re-admitting every digest it holds
        digests = f"{out_path}/_digests"
        fs, jvm = _hadoop_fs(spark, digests)
        if fs.exists(jvm.org.apache.hadoop.fs.Path(digests)):
            prev = spark.read.parquet(digests)
            seen = seen.unionByName(prev.select("digest"))
        admitted = incremental_exact_dedup_bloom(
            batch_df,
            seen.select(F.col("digest")),
            text_col=text_col,
            id_col=id_col,
            m_bits=m_bits,
            k=k,
        ).localCheckpoint(eager=True)  # consumed twice (data + digests)
        admitted.write.mode("append").parquet(f"{out_path}/data")
        content_digests(admitted, text_col, id_col).select(
            "digest"
        ).write.mode("append").parquet(f"{out_path}/_digests")

    return docs_stream.writeStream.foreachBatch(ingest).option(
        "checkpointLocation", checkpoint_dir
    ).trigger(availableNow=True).start()


def stream_blocklist_totals(
    docs_stream: DataFrame,
    patterns: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    pattern_col: str = "pattern",
) -> DataFrame:
    """T22 — LIVE blocklist telemetry (batch twin:
    textsearch.multi_pattern_hits): per-pattern total occurrence
    counts over a document ingest stream. Matching is per-row
    stateless — one explode into shortest-pattern-length window
    hashes, a stream⋈static broadcast join against the pattern-prefix
    table (zero join state), exact full-length value verify — the
    IDENTICAL helper the batch matcher uses, so over the same rows
    the snapshot equals the batch counts and the batch SQL is the
    parity oracle. The only streaming state is the final associative
    sum: ≤ one row PER PATTERN, bounded by the blocklist size, never
    by the stream (a per-doc aggregate would grow without bound —
    deliberately not offered here; gate per-doc in foreachBatch where
    each doc lives in exactly one micro-batch).

    Returns a streaming (pattern, n_hits) DataFrame for a
    complete-mode sink (countDistinct doc telemetry is a batch-side
    concern — unsupported on streams)."""
    from pdf_to_vectordb_etl_spark.operators.textsearch import (
        _pattern_prefix_table,
        _verified_pattern_hits,
    )

    got = _pattern_prefix_table(patterns, pattern_col)
    if got is None:
        raise ValueError("empty pattern table")
    pref, l0 = got
    hits = _verified_pattern_hits(docs_stream, pref, l0, id_col, text_col)
    return (
        hits.groupBy(F.col("_pat").alias(pattern_col))
        .agg(F.count("*").cast("long").alias("n_hits"))
    )

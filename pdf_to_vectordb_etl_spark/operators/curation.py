"""Corpus-curation operators for training-data pipelines (beyond-reference).

Repetition quality signals, per-domain caps, deterministic training-
order sharding, and benchmark-contamination detection — the remaining
plumbing between a deduplicated corpus and a training run. Everything
is relational (explode-once + windows + aggregates, md5-keyed
determinism shared with operators/sampling.py); no Python in any
per-document path.

Scale shapes:
- repetition_metrics: one explode of the token stream, one per-doc
  window (lead), two aggregations — shuffles carry (doc_id, gram)
  pairs; linear in corpus tokens, parallel across docs.
- cap_per_group / shard_shuffle: single window each, partitioned by
  group/shard — never a global single-partition sort.
- contamination: inverted-index equi-join on 8-byte shingle hashes,
  exactly the dedup-family join shape; the benchmark side is tiny and
  broadcastable by AQE, never forced.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .dedup import _spread, normalize_text, word_shingles


def repetition_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition signals (adapted Gopher/MassiveText
    quality filters for newline-free text): the occurrence fraction of
    the most frequent unigram / bigram / trigram. Boilerplate-heavy or
    looping documents score high and get filtered before training.

    Plan: posexplode the token stream once (never reference the split
    array above its explode — see module docstring of dedup.py), derive
    the 2/3-grams with two ``lead`` windows over the same per-doc sort,
    stack the three gram sizes long, and aggregate counts. Docs with no
    tokens are absent from the output (no grams to measure).
    """
    ex = (
        _spread(df.select(F.col(id_col).alias("id"), F.col(text_col)), "id")
        .select(
            "id",
            F.posexplode(F.split(normalize_text(F.col(text_col)), " ")).alias(
                "pos", "w"
            ),
        )
        .filter(F.col("w") != "")
    )
    win = Window.partitionBy("id").orderBy("pos")
    led = ex.select(
        "id",
        "w",
        F.lead("w", 1).over(win).alias("l1"),
        F.lead("w", 2).over(win).alias("l2"),
    )
    grams = led.select(
        "id",
        F.expr(
            "stack(3,"
            " 1, w,"
            " 2, CASE WHEN l1 IS NULL THEN NULL ELSE concat(w, ' ', l1) END,"
            " 3, CASE WHEN l2 IS NULL THEN NULL"
            "      ELSE concat(w, ' ', l1, ' ', l2) END"
            ") AS (n, gram)"
        ),
    ).filter(F.col("gram").isNotNull())
    counts = grams.groupBy("id", "n", "gram").agg(F.count("*").alias("c"))
    per = counts.groupBy("id", "n").agg(
        F.max("c").alias("mx"), F.sum("c").alias("tot")
    )
    frac = F.round(F.first("mx") / F.first("tot"), 6)
    return (
        per.groupBy("id")
        .pivot("n", [1, 2, 3])
        .agg(frac)
        .select(
            F.col("id").alias(id_col),
            F.col("1").alias("top_unigram_frac"),
            F.col("2").alias("top_bigram_frac"),
            F.col("3").alias("top_trigram_frac"),
        )
    )


def cap_per_group(
    df: DataFrame,
    by: str = "source",
    n: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Domain balancing: keep at most ``n`` rows per ``by`` group,
    chosen by the portable md5 rank (layout-invariant, engine-portable
    — the same basis as operators/sampling.py). One window per group;
    no global sort."""
    w = Window.partitionBy(by).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n)
        .drop("_rk")
    )


def shard_shuffle(
    df: DataFrame,
    n_shards: int = 8,
    id_col: str = "doc_id",
    salt: str = "epoch0",
) -> DataFrame:
    """Deterministic training-order shuffle: every row gets a
    ``(shard, pos)`` — shard from two md5 hex chars, position from the
    md5 order within the shard. Changing ``salt`` reshuffles (one salt
    per epoch); same salt reproduces the exact order on any engine and
    any partition layout. Windows are per-shard, so the sort
    parallelizes across shards instead of funnelling through one
    partition (at warehouse scale: write bucketed by shard, sorted by
    the hash — same plan, zero extra shuffles when training reads
    shard-sequentially)."""
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    shard = (
        (F.ascii(F.substring(h, 1, 1)) * 16 + F.ascii(F.substring(h, 2, 1)))
        % n_shards
    ).cast("int")
    w = Window.partitionBy("shard").orderBy("_h", id_col)
    return (
        df.withColumn("_h", h)
        .withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w))
        .drop("_h")
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 256,
    n_shards: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "epoch0",
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Token-stream sequence packing (GPT-style): documents are
    concatenated in the deterministic shard order and the stream is cut
    every ``budget`` tokens, so every training sequence is exactly full
    and documents may straddle a cut. Emits, per document, where its
    tokens land: ``(shard, seq_id, offset)`` of its first token and how
    many sequences it spans.

    Pure window arithmetic — a running token total per shard (one
    shuffle, parallel across shards) then integer division; no
    recurrence, no Python, so it scales like any windowed aggregate.
    Zero-token documents are dropped (they contribute nothing to the
    stream).

    ``n_tokens_col`` names a precomputed per-doc token-count column
    (e.g. ``unigram_lm_encode``'s n_tokens — what a real export packs
    on); default derives whitespace token counts from ``text_col``."""
    from ..operators.textanalysis import token_count

    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    shard = (
        (F.ascii(F.substring(h, 1, 1)) * 16 + F.ascii(F.substring(h, 2, 1)))
        % n_shards
    ).cast("int")
    toks = (
        F.col(n_tokens_col).cast("long")
        if n_tokens_col
        else token_count(F.col(text_col))
    )
    base = (
        df.select(
            F.col(id_col),
            toks.alias("n_tokens"),
            h.alias("_h"),
            shard.alias("shard"),
        )
        .filter(F.col("n_tokens") > 0)
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("_h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return (
        base.withColumn("_cum", cum)
        .withColumn("_start", F.col("_cum") - F.col("n_tokens"))
        .select(
            id_col,
            "shard",
            "n_tokens",
            F.expr(f"_start div {budget}").cast("long").alias("seq_id"),
            (F.col("_start") % budget).cast("int").alias("offset"),
            (
                F.expr(f"(_cum - 1) div {budget}")
                - F.expr(f"_start div {budget}")
                + 1
            ).cast("int").alias("n_seqs_spanned"),
        )
    )


def quality_quantile_filter(
    df: DataFrame,
    q: float = 0.25,
    by: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Relative quality filtering: keep documents whose quality score is
    at or above the ``q``-quantile of their ``by`` group (per-language
    cutoffs — an absolute threshold over mixed languages just deletes
    whole languages). Exact ``percentile`` (linear interpolation, the
    same semantics as DuckDB's quantile_cont); the per-group cutoff
    table is group-count-sized and joins back broadcast-cheap. Scores
    and cutoffs are compared after 6-dp rounding so the boundary is
    engine-stable."""
    from ..operators.textanalysis import quality_score

    scored = quality_score(df, text_col).select(
        F.col(id_col), F.col(by), F.round("quality_score", 6).alias("score")
    )
    cuts = scored.groupBy(by).agg(
        F.round(F.expr(f"percentile(score, {q})"), 6).alias("cutoff")
    )
    return (
        scored.join(cuts, by)
        .filter(F.col("score") >= F.col("cutoff"))
        .select(id_col, by, "score", "cutoff")
    )


def mixture_plan(
    df: DataFrame,
    weight: Column,
    by: str = "source",
) -> DataFrame:
    """Corpus mixture planning: given per-group target ``weight``s,
    the largest total corpus T with composition proportional to the
    weights that the available counts can supply is
    ``T = min_g(n_g / w_g)``; each group then contributes
    ``floor(w_g * T)`` docs. Emits per group: available count, weight,
    planned keep count, and the sampling rate to feed
    ``sampling.deterministic_sample``. Two tiny aggregates and a
    1-row scalar cross join — nothing touches document bodies.

    A group whose ``weight`` evaluates to NULL (e.g. a map lookup on
    an unlisted source) is treated as weight 0 — excluded from the
    plan — NOT kept wholesale: ``F.least`` skips NULL operands, so an
    unguarded NULL would otherwise make n_keep = n_docs and silently
    flood the mixture with the unweighted group."""
    counts = df.groupBy(by).agg(F.count("*").alias("n_docs")).withColumn(
        "weight", F.coalesce(weight.cast("double"), F.lit(0.0))
    )
    t = counts.filter(F.col("weight") > 0).agg(
        F.min(F.col("n_docs") / F.col("weight")).alias("_t")
    )
    # coalesce: with NO positive weights _t is NULL (empty min) and an
    # unguarded least(n_docs, NULL) would keep everything
    n_keep = F.least(
        F.col("n_docs"),
        F.coalesce(
            F.floor(F.col("weight") * F.col("_t") + F.lit(1e-9)), F.lit(0)
        ),
    ).cast("long")
    return (
        counts.crossJoin(F.broadcast(t))
        .select(
            by,
            "n_docs",
            "weight",
            n_keep.alias("n_keep"),
            F.round(n_keep / F.col("n_docs"), 6).alias("rate"),
        )
    )


def contamination_check(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-contamination detection: for every corpus document,
    the number of its distinct word ``n``-grams that appear anywhere in
    the ``benchmark`` set, plus a contaminated flag. The standard
    pre-training hygiene step (e.g. GPT-3 appendix C / PaLM used 8-13
    gram overlap).

    Inverted-index shape: both sides explode to (id, shingle-hash) rows
    and meet in an equi-join on the 8-byte hash — never a doc-by-doc
    comparison. Docs with zero overlap are kept (n_overlap = 0) via the
    final left join onto the corpus keys."""
    def shingle_rows(frame: DataFrame) -> DataFrame:
        ex = _spread(
            frame.select(F.col(id_col).alias("id"), F.col(text_col)), "id"
        )
        return ex.select(
            "id", F.explode(word_shingles(F.col(text_col), n)).alias("_s")
        ).select("id", F.xxhash64("_s").alias("h"))

    bench_sh = shingle_rows(benchmark).select("h").distinct()
    overlap = (
        shingle_rows(df)
        .join(bench_sh, "h")
        .groupBy("id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(overlap, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
            (F.coalesce(F.col("n_overlap"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def benchmark_shingle_table(
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(bench_id, h) rows: each benchmark doc's distinct word-n-gram
    xxhash64 keys — the static side of the contamination join. A pure
    function of the benchmark set; persist it once (it is tiny next to
    the corpus) and both the batch check and the T28 streaming gate
    broadcast it."""
    ex = benchmark.select(
        F.col(id_col).alias("bench_id"), F.col(text_col)
    ).select(
        "bench_id",
        F.explode(word_shingles(F.col(text_col), n)).alias("_s"),
    )
    return ex.select("bench_id", F.xxhash64("_s").alias("h"))


def contamination_bench_telemetry(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Leak telemetry per BENCHMARK item: for every benchmark doc with
    any overlap, the total count of (corpus doc, shared distinct
    n-gram) pairs — which held-out items are bleeding into the
    training corpus, and how hard. The bounded associative state
    relation of the T28 streaming gate (≤ |benchmark| rows, corpus
    contributes only counts), aggregated by the identical
    shingle-hash join as :func:`contamination_check`."""
    corpus_sh = _spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col)), "id"
    ).select(
        "id", F.explode(word_shingles(F.col(text_col), n)).alias("_s")
    ).select("id", F.xxhash64("_s").alias("h"))
    bench_sh = benchmark_shingle_table(benchmark, n, text_col, id_col)
    return (
        corpus_sh.join(bench_sh, "h")
        .groupBy("bench_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )


def length_bucketed_batches(
    df: DataFrame,
    batch_size: int = 32,
    n_shards: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "epoch0",
) -> DataFrame:
    """Length-bucketed batch assembly (the padded-batch counterpart of
    :func:`pack_sequences`): documents are grouped into power-of-two
    length buckets, deterministically shuffled within each bucket, and
    cut into fixed-size batches; emits one row per batch with its
    padding efficiency — the knob that decides whether bucketing is
    worth it vs packing for a given corpus.

    Parallelism note: the window partitions on (bucket, shard), never
    bucket alone — a handful of length buckets would otherwise funnel
    the corpus through ~log2(max_len) tasks. Shards are the same
    md5-derived split as pack_sequences, so batches are deterministic
    under any layout; per shard the work is one shuffle + one window +
    one aggregate."""
    from ..operators.textanalysis import token_count

    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    shard = (
        (F.ascii(F.substring(h, 1, 1)) * 16 + F.ascii(F.substring(h, 2, 1)))
        % n_shards
    ).cast("int")
    base = (
        df.select(
            F.col(id_col),
            token_count(F.col(text_col)).alias("n_tokens"),
            h.alias("_h"),
            shard.alias("shard"),
        )
        .filter(F.col("n_tokens") > 0)
        .withColumn(
            "bucket", F.floor(F.log2(F.col("n_tokens"))).cast("int")
        )
    )
    w = Window.partitionBy("bucket", "shard").orderBy("_h", id_col)
    batched = base.withColumn(
        "batch_idx",
        ((F.row_number().over(w) - 1) / batch_size).cast("int"),
    )
    return (
        batched.groupBy("bucket", "shard", "batch_idx")
        .agg(
            F.count("*").alias("n_docs"),
            F.max("n_tokens").alias("max_len"),
            F.sum("n_tokens").alias("sum_len"),
        )
        .withColumn(
            "padding_frac",
            F.round(
                1 - F.col("sum_len") / (F.col("n_docs") * F.col("max_len")), 4
            ),
        )
    )


def temperature_resample(
    df: DataFrame,
    alpha: float = 0.5,
    budget_frac: float = 0.5,
    by: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-flattened mixture resampling (the exponential-
    smoothing scheme multilingual pretraining uses, e.g. the XLM /
    mBERT alpha-sampling, public): target share of group g is
    n_g^alpha / Σ n^alpha — alpha < 1 up-weights small groups — and the
    per-group keep probability for a total budget B = budget_frac · N
    is min(1, B · share_g / n_g). Rows keep deterministically via the
    same md5 bucket as every sampler here (layout-invariant,
    retry-stable, SQL-replayable). Two tiny aggregates + a broadcast
    rate join; nothing wide touches document bodies."""
    from .sampling import _BUCKETS, hash_bucket_hex

    counts = df.groupBy(by).agg(F.count("*").alias("n_g"))
    tot = counts.agg(
        F.sum("n_g").alias("n_total"),
        F.sum(F.pow("n_g", F.lit(alpha))).alias("z"),
    )
    rates = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            by,
            F.round(
                F.least(
                    F.lit(1.0),
                    F.lit(budget_frac)
                    * F.col("n_total")
                    * F.pow("n_g", F.lit(alpha))
                    / F.col("z")
                    / F.col("n_g"),
                ),
                6,
            ).alias("keep_rate"),
        )
    )
    frac = F.conv(hash_bucket_hex(id_col), 16, 10).cast("double") / F.lit(
        float(_BUCKETS)
    )
    return (
        df.join(F.broadcast(rates), by)
        .filter(frac < F.col("keep_rate"))
        .select(id_col, by, "keep_rate")
    )


def hashed_gram_array(text: Column) -> Column:
    """Uni+bigram feature array for hashed bag models (the DSIR
    feature space; shared by the T17 streaming histogram): lowercase,
    whitespace-normalized words plus adjacent-pair bigrams. Pure
    Column expression — usable in batch and streaming projections."""
    words = F.split(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")), " ")
    # bigrams only when >= 2 words (sequence(1, 0) would descend and a
    # missing element_at would silently fold a unigram back in)
    bigrams = F.when(
        F.size(words) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(words, i), F.element_at(words, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(F.filter(words, lambda w: w != ""), bigrams)


def gram_bucket(tok: Column, n_buckets: int) -> Column:
    """md5 16-bit prefix mod ``n_buckets`` — zero modulo bias when
    n_buckets divides 65536; SQL-replayable everywhere."""
    return (
        F.conv(F.substring(F.md5(tok), 1, 4), 16, 10).cast("long")
        % n_buckets
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    n_buckets: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
) -> DataFrame:
    """DSIR — Data Selection with Importance Resampling (Xie et al.
    2023, public): score every raw document by the log importance
    ratio of two hashed-n-gram bag models, one trained on the TARGET
    distribution (the data you want more of) and one on the raw pool:

        log w(doc) = Σ_gram [ ln p_target(bucket) − ln p_raw(bucket) ]

    with uni+bigram features hashed to ``n_buckets`` md5 buckets and
    add-1 smoothing. Top-``k`` by rounded weight (doc-id tiebreak) is
    the selected set; feed the full weight column to
    temperature_resample/quota_allocate for soft selection instead.

    Scale shape: one explode of each corpus's gram stream (grams built
    per-doc THEN exploded once — the repo's explode-once rule), two
    B-bounded histogram aggregates that broadcast back (B = 4096 rows,
    a few KB at any corpus size), one per-doc sum. The md5 bucket (16
    hash bits, B divides 65536 → zero modulo bias) keeps both models
    byte-replayable in any SQL engine.

    Returns (doc_id, n_grams, logw) for the selected top-k."""
    grams = hashed_gram_array(F.col(text_col))

    def exploded(df: DataFrame) -> DataFrame:
        toks = df.select(
            F.col(id_col).alias("id"), F.explode(grams).alias("tok")
        ).filter(F.col("tok") != "")
        return toks.select(
            "id", gram_bucket(F.col("tok"), n_buckets).alias("b")
        )

    def hist(toks: DataFrame, name: str) -> DataFrame:
        h = toks.groupBy("b").agg(F.count("*").alias("c"))
        tot = h.agg(F.sum("c").alias("t"))
        return h.crossJoin(F.broadcast(tot)).select(
            "b",
            F.log(
                (F.col("c") + 1.0) / (F.col("t") + float(n_buckets))
            ).alias(name),
        )

    # each token table feeds two consumers (its histogram + the scoring
    # join / the smoothing count): materialize the explode ONCE —
    # localCheckpoint releases on GC, and the stored rows are 12-byte
    # (id, bucket) pairs, not text
    raw_toks = exploded(raw).localCheckpoint(eager=True)
    tgt_toks = exploded(target).localCheckpoint(eager=True)
    tgt = hist(tgt_toks, "lp_t")
    rawh = hist(raw_toks, "lp_r")
    # raw histogram covers every bucket raw docs touch, so the left
    # join below never misses lp_r; buckets the target never saw
    # smooth to ln(1 / (n_target_grams + B))
    n_tgt_total = tgt_toks.count()
    fallback = F.log(F.lit(1.0) / F.lit(float(n_tgt_total + n_buckets)))
    # floor-quantize the per-bucket log-ratio to a 1e-9 integer grid
    # and sum exactly: a double sum is partition-order-dependent in the
    # last ulps, and logw is both an output and the top-k ORDER BY key,
    # so a rounding-boundary flip would change the selected doc set
    # across engines (the CLAUDE.md quantization rule; same pattern as
    # textanalysis.js_divergence_pairs). Sum magnitude ≤ n_grams·~1e10
    # ≪ 2^63. The final value is floor-quantized (not round()ed) onto
    # the 6dp grid: sum/1000.0 is correctly rounded and ≥1e-3 away from
    # the next integer whenever it isn't exactly on it, so floor is
    # bit-deterministic on both engines.
    ratio = rawh.join(tgt, "b", "left").select(
        "b",
        F.floor(
            (F.coalesce("lp_t", fallback) - F.col("lp_r")) * F.lit(1e9)
        ).alias("lr_q"),
    )
    scored = (
        raw_toks.join(F.broadcast(ratio), "b")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_grams"),
            (
                F.floor(F.sum("lr_q") / F.lit(1000.0)) / F.lit(1e6)
            ).alias("logw"),
        )
    )
    # orderBy().limit(k) compiles to TakeOrdered — per-partition top-k
    # + a k-row driver merge, no single-partition sort
    return (
        scored.orderBy(F.desc("logw"), F.col("id"))
        .limit(k)
        .select(F.col("id").alias(id_col), "n_grams", "logw")
    )


def quota_allocate(
    df: DataFrame,
    total: int,
    weight: Column,
    by: str = "source",
) -> DataFrame:
    """Largest-remainder (Hamilton) quota allocation with capacity
    caps: split an EXACT ``total`` across groups proportionally to
    ``weight`` — floor the ideal quotas (clamped to availability),
    then hand leftover seats to the largest fractional remainders,
    cycling past saturated groups (ties to the smaller group key:
    deterministic and replayable). The standard way to cut an eval set
    or labeling budget that must sum exactly.

    Plan: ONE count agg over the corpus; the seat loop then runs on
    the collected GROUP table (group-cardinality rows — kilobytes at
    any scale, the kmeans_fit lineage-truncation contract), because a
    single rank window cannot redistribute seats forfeited by capped
    groups. Emits (group, n_avail, ideal round-6, n_alloc);
    sum(n_alloc) == min(total, Σ n_avail) UNCONDITIONALLY (pinned by a
    hypothesis property)."""
    rows = (
        df.groupBy(by)
        .agg(F.count("*").alias("n_avail"))
        .withColumn("w", weight.cast("double"))
        .collect()
    )
    # the group table is group-cardinality by definition (kilobytes at
    # any corpus scale) — the seat loop runs on the driver, the same
    # lineage-truncation contract as kmeans_fit's k×dim collect. A pure
    # one-window formulation cannot redistribute seats forfeited by
    # capacity-capped groups; the loop makes the exact-sum guarantee
    # unconditional: sum(n_alloc) == min(total, Σ n_avail).
    wsum = sum(r["w"] for r in rows)
    groups = []
    for r in rows:
        ideal = total * r["w"] / wsum if wsum > 0 else 0.0
        base = min(int(ideal), r["n_avail"])
        groups.append(
            {
                "g": r[by],
                "n_avail": r["n_avail"],
                "ideal": round(ideal, 6),
                "alloc": base,
                "rem": round(ideal - int(ideal), 6),
            }
        )
    left = min(total, sum(g["n_avail"] for g in groups)) - sum(
        g["alloc"] for g in groups
    )
    order = sorted(groups, key=lambda g: (-g["rem"], g["g"]))
    while left > 0:
        progressed = False
        for g in order:
            if left == 0:
                break
            if g["alloc"] < g["n_avail"]:
                g["alloc"] += 1
                left -= 1
                progressed = True
        if not progressed:
            break
    spark = df.sparkSession
    return spark.createDataFrame(
        [(g["g"], g["n_avail"], g["ideal"], g["alloc"]) for g in groups],
        [by, "n_avail", "ideal", "n_alloc"],
    ).select(
        by, "n_avail", F.col("ideal").cast("double").alias("ideal"),
        F.col("n_alloc").cast("long").alias("n_alloc"),
    )


def inject_canaries(
    df: DataFrame,
    rate: float = 0.01,
    id_col: str = "doc_id",
    text_col: str = "text",
    secret: str = "canary",
) -> DataFrame:
    """Deterministic canary injection for memorization auditing (the
    public practice from Carlini et al.'s secret-sharer line of work):
    a stable ~``rate`` of documents — chosen by the same md5-bucket
    contract as every sampler here, so the set is layout-invariant and
    re-derivable without storing it — get a unique marker string
    ``<canary:md5(secret‖id)[:16]>`` appended. Downstream, a model
    that reproduces marker strings verbatim has memorized its training
    data; the injected set is the ground truth. Adds ``has_canary``
    and rewrites ``text``; narrow projection, no shuffle."""
    from .sampling import _threshold, hash_bucket_hex

    picked = hash_bucket_hex(F.concat(F.lit(secret + "#"), F.col(id_col).cast("string"))) < F.lit(
        _threshold(rate)
    )
    marker = F.concat(
        F.lit("<canary:"),
        F.substring(
            F.md5(F.concat(F.lit(secret + "!"), F.col(id_col).cast("string"))),
            1,
            16,
        ),
        F.lit(">"),
    )
    return df.withColumns(
        {
            "has_canary": picked,
            text_col: F.when(
                picked, F.concat(F.col(text_col), F.lit(" "), marker)
            ).otherwise(F.col(text_col)),
        }
    )


def detect_canaries(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Inverse of :func:`inject_canaries`: extract marker strings from
    text (one regexp, scan-speed) — run over model OUTPUTS to measure
    memorization, or over a corpus to verify/strip canaries before an
    evaluation split. Returns (id, canary) for rows carrying one."""
    got = F.regexp_extract(F.col(text_col), r"<canary:([0-9a-f]{16})>", 1)
    return (
        df.select(F.col(id_col), got.alias("canary"))
        .filter(F.col("canary") != "")
    )


def max_cover_select(
    docs: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy maximum-coverage document selection — pick k documents
    that together cover the most distinct word 3-shingles.  The
    classic submodular data-selection primitive (Nemhauser et al.
    1978 gives the (1−1/e) guarantee; facility-location /
    coverage-based subset selection is a standard LLM-curation move
    for maximizing corpus diversity under a budget).

    Distributed shape: ONE doc→shingle explode materialized up front
    (localCheckpoint — k rounds reuse it, never re-derive), then k
    greedy rounds of: left-anti join the shingle table against the
    covered set (both sides 8-byte xxhash64 keys — raw shingles never
    shuffle), one hash agg per doc, one 1-row argmax collect (the
    bpe_train bounded-driver-artifact contract), covered-set union +
    localCheckpoint (the iterative-loop lineage rule).  Integer
    counts only — no floats anywhere, so cross-engine parity has zero
    rounding dice.  Ties break by (gain DESC, doc id ASC),
    deterministic.

    Cost: k × (anti-join + agg) over the shingle table — linear per
    round, k is small by construction.  Returns one row per selected
    doc: round (1-based), selected doc id, gain (newly covered
    shingles), covered_total (running distinct coverage)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    spark = docs.sparkSession
    shingles = (
        docs.select(
            F.col(id_col).alias("_id"),
            # word_shingles normalizes and distincts internally; the
            # array is built and exploded in one Generate (the
            # CollapseProject rule)
            F.explode(word_shingles(F.col(text_col), 3)).alias("_s"),
        )
        .select("_id", F.xxhash64("_s").alias("_h"))
        .localCheckpoint(eager=True)
    )
    covered = shingles.select("_h").limit(0).localCheckpoint(eager=True)
    picked: list[tuple[int, int, int, int]] = []
    total = 0
    for rnd in range(1, k + 1):
        gains = (
            shingles.join(covered, "_h", "left_anti")
            .groupBy("_id")
            .agg(F.count("*").cast("long").alias("_g"))
        )
        top = gains.orderBy(F.desc("_g"), F.asc("_id")).limit(1).collect()
        if not top or top[0]["_g"] == 0:
            break
        doc, gain = top[0]["_id"], int(top[0]["_g"])
        total += gain
        picked.append((rnd, doc, gain, total))
        covered = (
            covered.unionByName(
                shingles.filter(F.col("_id") == doc).select("_h")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
    return spark.createDataFrame(
        picked, "round INT, doc_id LONG, gain LONG, covered_total LONG"
    )


def ccnet_perplexity_buckets(
    df: DataFrame,
    scores: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    score_col: str = "kn_score",
) -> DataFrame:
    """CCNet-style head/middle/tail perplexity bucketing (Wenzek et
    al. 2020, public): per source (CCNet buckets per language), rank
    scored documents by LM score (higher mean log-prob = lower
    perplexity = better) and cut at exact tertiles — head gets the
    best third, the split every CCNet-descended pipeline (LLaMA,
    RedPajama) uses to stage-sample its web corpus.

    Exact and engine-agnostic: ranks come from ONE
    ``global_row_number`` over (source, -score, id) — the sanctioned
    range-partitioned global-order primitive, no single-partition
    window; within-source ranks are then contiguous, so per-source
    rank = rn - min(rn) + 1 via one agg join (no per-source window at
    all). Tertile cuts are integer arithmetic (rank*3 <= n). Only
    docs present in ``scores`` participate (too-short docs carry no
    LM evidence).

    Returns one row per (source, bucket): n_docs, score_min,
    score_max (scores are already round-4, so min/max are exact)."""
    from .suffixes import global_row_number

    j = df.select(
        F.col(id_col).alias("_id"), F.col(source_col).alias("source")
    ).join(
        scores.select(
            F.col(id_col).alias("_id"), F.col(score_col).alias("_s")
        ),
        "_id",
    )
    ordered = j.select(
        "source", "_id", "_s", (-F.col("_s")).alias("_neg")
    )
    rn = global_row_number(ordered, ["source", "_neg", "_id"], "rn")
    per = rn.groupBy(F.col("source").alias("_src")).agg(
        F.min("rn").alias("_rn0"), F.count(F.lit(1)).cast("long").alias("_n")
    )
    b = rn.join(per, rn["source"] == per["_src"]).select(
        "source",
        "_s",
        (F.col("rn") - F.col("_rn0") + 1).alias("_rank"),
        "_n",
    )
    bucket = (
        F.when(F.col("_rank") * 3 <= F.col("_n"), F.lit("head"))
        .when(F.col("_rank") * 3 <= 2 * F.col("_n"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return b.groupBy("source", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("_s").alias("score_min"),
        F.max("_s").alias("score_max"),
    )


def token_budget_cells(
    df: DataFrame,
    pass_cond: Column,
    tokens: Column,
    by: str = "source",
) -> DataFrame:
    """Associative per-group state behind
    :func:`token_budget_from_cells` — (group, n_docs, n_pass,
    n_tokens), all plain sums, so a streaming aggregation maintains it
    live (state = one row per group) and the T40 twin snapshots it.
    NULL group keys coalesce to '' (the cross-engine NULL-rank-order
    convention — see token_budget_from_cells)."""
    return df.groupBy(F.coalesce(F.col(by), F.lit("")).alias(by)).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum(pass_cond.cast("int")), F.lit(0))
        .cast("long")
        .alias("n_pass"),
        F.coalesce(F.sum(tokens), F.lit(0)).cast("long").alias("n_tokens"),
    )


def token_budget_from_cells(
    cells: DataFrame, budget: int, by: str = "source"
) -> DataFrame:
    """Greedy quality-ranked TOKEN-budget fill over the pre-aggregated
    cell table, shared verbatim by the batch query and the T40 stream
    twin: rank groups by pass rate, take each group's tokens in full
    until the budget runs out, a partial allocation at the boundary
    group, zero after (greedy is optimal for this fractional-knapsack
    shape — Dantzig 1957). Returns per group: (group, quality_q6,
    n_tokens, alloc_tokens, alloc_frac_q6) with sum(alloc_tokens) ==
    min(budget, total tokens).

    Exactness: quality is the exact micro integer n_pass*1e6 div n_docs
    (no doubles in the ORDER), ranking ties break on the group key, and
    the prefix sum runs over the group-cardinality table (a bounded
    global window). NULL keys coalesce to '' before ranking: a NULL key
    that ties on quality sorts NULLS FIRST in Spark but NULLS LAST in
    DuckDB, which would shift the greedy prefix. The finale re-aggregates
    on the coalesced key (the cells builders already coalesce — this covers
    raw-cells callers whose table carries BOTH a NULL and a real ''
    group: projecting without re-aggregating would hand the greedy
    prefix window two rows with the same key and emit duplicate-key
    allocations). No-op when keys are already distinct."""
    from pyspark.sql import Window

    per = (
        cells.groupBy(F.coalesce(F.col(by), F.lit("")).alias(by))
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_pass").cast("long").alias("n_pass"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .select(
            by,
            F.expr(
                "CAST(n_pass AS DECIMAL(38,0)) * 1000000 div n_docs"
            ).alias("_q_micro"),
            "n_tokens",
        )
    )
    w = (
        Window.orderBy(F.desc("_q_micro"), F.col(by))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    alloc = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("n_tokens"), F.lit(budget) - prev),
    )
    return per.withColumn("alloc_tokens", alloc).select(
        by,
        (F.col("_q_micro") / 1e6).alias("quality_q6"),
        "n_tokens",
        "alloc_tokens",
        F.expr(
            "CASE WHEN n_tokens > 0 THEN"
            " (CAST(alloc_tokens AS DECIMAL(38,0)) * 1000000"
            " div n_tokens) / 1e6 END"
        ).alias("alloc_frac_q6"),
    )


def mixture_temperature_sweep(
    df: DataFrame,
    by: str = "source",
) -> DataFrame:
    """Mixture-temperature tuning table (the T5/PaLM sampling-
    temperature knob, public): per-group sampling shares under
    w_g ∝ n_g^(1/T) for T ∈ {0.5, 1, 2} — the curve a curation team
    reads to pick how hard to flatten source imbalance.

    Cross-engine exactness without integer grids: the three exponents
    are chosen so every weight is deterministic per value (n² exact,
    n exact, sqrt correctly rounded under IEEE — no libm pow), and the
    per-T total is an ORDERED FOLD over the group-sorted bounded list
    (sort_array + aggregate here, list_sort + list_reduce in the
    oracle; same summand sequence → same IEEE sum), so share =
    floor(w/total·1e6) cannot split. Group table is #groups rows —
    everything after the one corpus agg is bounded."""
    per = df.groupBy(
        F.coalesce(F.col(by), F.lit("")).alias("grp")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    n = F.col("n_docs").cast("double")
    sweep = per.select(
        "grp",
        "n_docs",
        F.explode(
            F.array(
                F.struct(
                    F.lit("0.5").alias("t"), (n * n).alias("w")
                ),
                F.struct(F.lit("1.0").alias("t"), n.alias("w")),
                F.struct(F.lit("2.0").alias("t"), F.sqrt(n).alias("w")),
            )
        ).alias("e"),
    ).select("grp", "n_docs", "e.t", "e.w")
    totals = sweep.groupBy("t").agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("grp", "w"))),
            F.lit(0.0),
            lambda acc, s: acc + s["w"],
        ).alias("total")
    )
    return sweep.join(F.broadcast(totals), "t").select(
        "t",
        F.col("grp").alias(by),
        "n_docs",
        (
            F.floor(F.col("w") / F.col("total") * 1000000.0) / 1e6
        ).alias("share_q6"),
    )


def md5_split(id_col: str = "doc_id") -> Column:
    """Deterministic train/val/test assignment as a pure function of
    the id (md5 hex prefix: first two hex chars < 'cd' → train,
    205/256 ≈ 80.1%; < 'e6' → val, next ~9.8%; else test) — seedless,
    stable across retries and engines (both Spark and DuckDB md5 emit
    the same lowercase hex — the ivf_centroids sampling convention),
    and rows never migrate between splits when the corpus grows."""
    h2 = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    return (
        F.when(h2 < "cd", "train").when(h2 < "e6", "val").otherwise("test")
    )


def stratified_split_cells(
    df: DataFrame,
    by: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-(split, ``by``) doc/token counts — the bounded associative
    state shared by the batch report and the T43 streaming monitor
    (the cells/finale recipe): one corpus aggregate, one row per
    (split, group)."""
    from .textanalysis import token_count

    return (
        df.select(
            md5_split(id_col).alias("split"),
            F.coalesce(F.col(by), F.lit("")).alias(by),
            token_count(F.coalesce(F.col(text_col), F.lit(""))).alias("_nt"),
        )
        .groupBy("split", by)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_nt").cast("long").alias("n_tokens"),
        )
    )


def stratified_split_from_cells(cells: DataFrame, by: str = "lang") -> DataFrame:
    """Finale over the bounded (split, group) cells: attach each
    row's exact micro share of total docs (broadcast one-row total)."""
    tot = cells.agg(F.sum("n_docs").cast("long").alias("_tot"))
    return cells.crossJoin(F.broadcast(tot)).selectExpr(
        "split",
        by,
        "n_docs",
        "n_tokens",
        "CASE WHEN _tot > 0 THEN"
        " (CAST(n_docs AS DECIMAL(38,0)) * 1000000 div _tot) / 1e6"
        " END AS frac_of_total_q6",
    )


def stratified_split_report(
    df: DataFrame,
    by: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic train/val/test split + composition report — the
    first operation of any training-data export (see :func:`md5_split`
    for the assignment convention). Report per (split, ``by``): docs,
    whitespace tokens, and the split's exact micro share of total
    docs — the table that shows whether stratification held per
    language/source. One corpus aggregate; the totals side is a
    broadcast one-row."""
    return stratified_split_from_cells(
        stratified_split_cells(df, by, id_col, text_col), by
    )


def split_contamination_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train/eval leakage audit over the :func:`md5_split` partition —
    the check a training-data export runs before shipping (an eval doc
    whose content also sits in train invalidates the benchmark; the
    T28 contamination operator's question asked WITHIN one corpus
    across its own splits). Content identity is the exact-dedup
    convention (digest of whitespace-collapsed lowercased text), so
    near-misses are out of scope by design — this is the exact-overlap
    floor. For each ordered split pair: ``n_shared_fps`` = distinct
    contents present in both sides, ``n_contaminated_docs`` = docs in
    the EVAL side whose content also appears in the TRAIN side (the
    rows to drop). ONE corpus aggregate to per-content split counts,
    one bounded fold to 3 rows — every shuffle is an aggregation."""
    from .dedup import normalize_text

    per_fp = (
        df.select(
            md5_split(id_col).alias("_sp"),
            F.sha2(
                normalize_text(F.coalesce(F.col(text_col), F.lit(""))), 256
            ).alias("_fp"),
        )
        .groupBy("_fp")
        .agg(
            F.sum((F.col("_sp") == "train").cast("int"))
            .cast("long")
            .alias("_ntr"),
            F.sum((F.col("_sp") == "val").cast("int"))
            .cast("long")
            .alias("_nva"),
            F.sum((F.col("_sp") == "test").cast("int"))
            .cast("long")
            .alias("_nte"),
        )
    )
    pair = lambda a, b: [  # noqa: E731
        F.sum(((F.col(a) > 0) & (F.col(b) > 0)).cast("int"))
        .cast("long")
        .alias(f"_sh_{a}_{b}"),
        F.sum(
            F.when((F.col(a) > 0) & (F.col(b) > 0), F.col(b)).otherwise(0)
        )
        .cast("long")
        .alias(f"_ct_{a}_{b}"),
    ]
    agg = per_fp.agg(
        *pair("_ntr", "_nva"), *pair("_ntr", "_nte"), *pair("_nva", "_nte")
    )
    return agg.selectExpr(
        "stack(3,"
        " 'train|val',  _sh__ntr__nva, _ct__ntr__nva,"
        " 'train|test', _sh__ntr__nte, _ct__ntr__nte,"
        " 'val|test',   _sh__nva__nte, _ct__nva__nte)"
        " AS (split_pair, n_shared_fps, n_contaminated_docs)"
    )


def shard_manifest(
    df: DataFrame,
    shard_tokens: int = 50_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-balanced output-shard plan — the step that turns a
    curated corpus into fixed-budget training shards a data loader
    streams: docs in id order, shard boundary every ``shard_tokens``
    whitespace tokens of EXCLUSIVE prefix mass (shard =
    prefix_tokens div shard_tokens, so a shard may overshoot by at
    most one document — the standard contiguous-fill plan). The
    global order uses the sanctioned range-partitioned
    :func:`~..suffixes.global_prefix_sum` primitive, never a
    single-partition Window. Per shard: docs, tokens, id range.
    Output is ceil(total_tokens/shard_tokens) rows."""
    from .suffixes import global_prefix_sum
    from .textanalysis import token_count

    toks = df.select(
        F.col(id_col),
        token_count(F.coalesce(F.col(text_col), F.lit(""))).alias("_nt"),
    )
    pre = global_prefix_sum(toks, [id_col], "_nt", "before")
    return (
        pre.withColumn(
            "shard_idx",
            F.expr(f"CAST(before div {shard_tokens} AS BIGINT)"),
        )
        .groupBy("shard_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_nt").cast("long").alias("n_tokens"),
            F.min(id_col).alias("first_doc"),
            F.max(id_col).alias("last_doc"),
        )
    )


def curriculum_batches(
    df: DataFrame,
    batch_size: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Curriculum ordering plan (easy/clean-first scheduling, Bengio
    2009's curriculum-learning recipe applied corpus-side): order the
    corpus by quality DESCENDING then whitespace-token count then id,
    cut into fixed ``batch_size`` batches by global position, and emit
    the per-batch schedule card (docs, token load, quality range) a
    trainer consumes. The global order uses the sanctioned
    range-partitioned :func:`~..suffixes.global_row_number` primitive,
    never a single-partition Window; sort keys are exact integers
    (micro-floored quality — the score is identical-IEEE in both
    engines, so the floor cannot split — plus token count and id), so
    batch membership replays bit-identically. Output is
    ceil(n/batch_size) rows."""
    from .suffixes import global_row_number
    from .textanalysis import quality_score

    scored = quality_score(df, text_col).select(
        F.col(id_col),
        F.floor(F.col("quality_score") * 1e6).cast("long").alias("_qm"),
        F.col("n_tokens").cast("long").alias("_nt"),
    )
    keyed = scored.withColumn("_negq", -F.col("_qm"))
    rn = global_row_number(keyed, ["_negq", "_nt", id_col])
    return (
        rn.withColumn(
            "batch_idx", F.expr(f"CAST((rn - 1) div {batch_size} AS BIGINT)")
        )
        .groupBy("batch_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_nt").cast("long").alias("n_tokens"),
            (F.min("_qm") / 1e6).alias("min_quality_q6"),
            (F.max("_qm") / 1e6).alias("max_quality_q6"),
        )
    )


def epoch_mixture_plan(
    df: DataFrame,
    by: str = "source",
    text_col: str = "text",
    budget_tokens: int = 1_000_000,
) -> DataFrame:
    """Per-source epoch/repeat plan for a fixed training token budget —
    the operational step after :func:`mixture_temperature_sweep` picks
    a temperature: for each T ∈ {0.5, 1, 2}, allocate
    ``budget_tokens`` across groups by w_g ∝ n_tokens_g^(1/T) and
    report how many EPOCHS of each group that allocation implies
    (epochs > 1 ⇒ the group repeats — the up-sampling-risk readout a
    curation team reads next to the sweep). The weights reuse the
    sweep's cross-engine convention (libm-pow-free exponents, ordered-
    fold totals, micro-floored shares); everything after share_micro
    is exact integer arithmetic (target = share·B and epochs =
    share·B/n_tokens as single integer floor-divisions — share_micro ≤
    1e6 and B default 1e6, so products stay ≤ 1e12, BIGINT-safe in
    both engines). One corpus aggregate; all else is #groups-bounded."""
    from .textanalysis import token_count

    per = df.groupBy(
        F.coalesce(F.col(by), F.lit("")).alias("grp")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            token_count(F.coalesce(F.col(text_col), F.lit("")))
        ).cast("long").alias("n_tokens"),
    )
    n = F.col("n_tokens").cast("double")
    sweep = per.select(
        "grp",
        "n_docs",
        "n_tokens",
        F.explode(
            F.array(
                F.struct(F.lit("0.5").alias("t"), (n * n).alias("w")),
                F.struct(F.lit("1.0").alias("t"), n.alias("w")),
                F.struct(F.lit("2.0").alias("t"), F.sqrt(n).alias("w")),
            )
        ).alias("e"),
    ).select("grp", "n_docs", "n_tokens", "e.t", "e.w")
    totals = sweep.groupBy("t").agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("grp", "w"))),
            F.lit(0.0),
            lambda acc, s: acc + s["w"],
        ).alias("total")
    )
    return (
        sweep.join(F.broadcast(totals), "t")
        .withColumn(
            "_sm",
            F.floor(F.col("w") / F.col("total") * 1000000.0).cast("long"),
        )
        .selectExpr(
            "t",
            f"grp AS {by}",
            "n_docs",
            "n_tokens",
            "_sm / 1e6 AS share_q6",
            f"_sm * {budget_tokens} div 1000000 AS target_tokens",
            f"CASE WHEN n_tokens > 0 THEN"
            f" (_sm * {budget_tokens} div n_tokens) / 1e6"
            " END AS epochs_q6",
        )
    )

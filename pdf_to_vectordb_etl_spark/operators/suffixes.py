"""Distributed suffix ranking by prefix doubling (beyond-reference).

The suffix array is the workhorse behind ExactSubstr dedup (Lee et al.
2022), substring-frequency mining and longest-repeated-substring
analysis. On one machine you build it with a sort; across a cluster the
public formulation is PREFIX DOUBLING (Manber & Myers 1990/93): after
round k every suffix carries the dense rank of its first 2^k
characters, and round k+1 ranks the PAIR (rank[p], rank[p + 2^k]) — so
each round is one equi-join plus one distributed dense-rank, and
ceil(log2(max_len)) rounds order every suffix completely. This is the
same O(log n)-rounds shape Flink/MapReduce suffix-array papers use
(e.g. "Suffix Array Construction on MapReduce", and pDC3): all-corpus
sorts, never an all-pairs product.

The distributed dense-rank is the one primitive Spark lacks natively at
scale (a global Window would serialize on a single partition — banned
in this repo): ``global_dense_rank`` range-partitions the DISTINCT
keys, dense-ranks them per partition (a Window partitioned by the
partition id — parallel, no global exchange), and adds per-partition
offsets; the only driver-side data is one count per partition
(#shuffle-partitions rows). Equal keys land in one range partition, so
per-partition dense ranks + offsets compose to the exact global dense
rank.

Identical suffixes (possible across duplicated docs) keep EQUAL rank at
every level — the output is therefore the dense lexicographic rank of
each suffix, which is exactly ``dense_rank() OVER (ORDER BY suffix)``
in any SQL engine: the DuckDB oracle replays it with one sort, no
doubling, making the whole O(log n) pipeline hash-verifiable.

Suffixes never cross document boundaries (each ends at its doc's end),
and a missing position at offset 2^k ranks as -1 < every real rank —
the standard sentinel that makes "shorter prefix sorts first" hold,
matching plain string comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _persisted_rdd_ids(sc) -> set:
    """Ids of every RDD currently held by the block manager — the
    bookkeeping behind per-round checkpoint-generation release."""
    jmap = sc._jsc.sc().getPersistentRDDs()
    it = jmap.iterator()
    out = set()
    while it.hasNext():
        out.add(it.next()._1())
    return out


def _unpersist_rdds(sc, ids) -> None:
    """Release the block-manager storage of a finished checkpoint
    GENERATION (r9 — the ×100 suffix run otherwise retains every
    prefix-doubling round's localCheckpoint blocks in the one local
    JVM heap and needs SPARK_GRAFT_DRIVER_MEM=48g at 30M suffixes; a
    cluster would spread them but the waste is real there too). Only
    safe for RDDs that are never read again — a released local
    checkpoint cannot be recomputed. Non-blocking."""
    jmap = sc._jsc.sc().getPersistentRDDs()
    for rid in ids:
        opt = jmap.get(rid)
        if not opt.isEmpty():
            opt.get().unpersist(False)


def global_dense_rank(
    df: DataFrame, key_cols: list[str], out_col: str = "_rk"
) -> DataFrame:
    """Exact 0-based global dense rank over ``key_cols`` without a
    single-partition Window.

    The distinct keys are distinct rows, so their dense rank is their
    row number minus one: :func:`_row_numbered` over the distinct keys
    (equal keys are never split by a RangePartitioner), joined back on
    the keys. Driver-side state: one (pid, count, max) row per
    partition. The join is a plain equi-join on the keys (broadcast of
    the ranked key table is NOT assumed), shuffling 8-byte ranks."""
    keys = df.select(*key_cols).distinct()
    numbered, total = _row_numbered(keys, key_cols, out_col)
    if total == 0:
        return df.withColumn(out_col, F.lit(None).cast("long")).limit(0)
    ranked = numbered.select(
        *key_cols, (F.col(out_col) - 1).cast("long").alias(out_col)
    )
    return df.join(ranked, key_cols)


def suffix_ranks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_len: int | None = None,
) -> DataFrame:
    """(id, pos, srank) for every suffix of every document — srank is
    the dense lexicographic rank of the suffix among ALL corpus
    suffixes. Prefix doubling: O(log max_len) rounds of
    join + dense-rank; per-round lineage cut with localCheckpoint
    (the k-references-per-round plan would otherwise go exponential —
    same contract as connected_components_star)."""
    t = F.col(text_col)
    sc = df.sparkSession.sparkContext
    base = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(t, "")).alias("pos", "ch"),
    ).filter(F.col("ch") != "")
    seen = _persisted_rdd_ids(sc)
    cur = global_dense_rank(base, ["ch"], "r").select("id", "pos", "r")
    cur = cur.localCheckpoint(eager=True)
    prev_gen = _persisted_rdd_ids(sc) - seen
    if max_len is None:
        max_len = int(
            df.agg(F.max(F.length(t)).alias("m")).first()["m"] or 0
        )
    n_suffixes = cur.count()
    width = 1
    while width < max_len:
        nxt_rank = cur.select(
            F.col("id"),
            (F.col("pos") - width).alias("pos"),
            F.col("r").alias("r2"),
        )
        paired = (
            cur.join(nxt_rank, ["id", "pos"], "left")
            .select(
                "id", "pos", "r", F.coalesce("r2", F.lit(-1)).alias("r2")
            )
        )
        seen = _persisted_rdd_ids(sc)
        cur = global_dense_rank(paired, ["r", "r2"], "rn").select(
            "id", "pos", F.col("rn").alias("r")
        )
        cur = cur.localCheckpoint(eager=True)
        new_gen = _persisted_rdd_ids(sc) - seen
        # the new generation is materialized — the previous round's
        # checkpoint blocks are dead; release them so the heap holds
        # TWO generations instead of all ~log2(max_len) of them
        _unpersist_rdds(sc, prev_gen)
        prev_gen = new_gen
        width *= 2
        if cur.agg(F.max("r")).first()[0] == n_suffixes - 1:
            break  # all suffixes already distinct — fully ordered
    return cur.select(
        F.col("id").alias(id_col), "pos", F.col("r").alias("srank")
    )


def _window_starts(m: int):
    """1-based window starts for length-``m`` windows over ``_t`` —
    explicitly empty when the doc is shorter than m (Spark's
    sequence(1, 0) is DESCENDING [1, 0], never empty)."""
    return F.when(
        F.length("_t") >= m,
        F.sequence(F.lit(1), F.length("_t") - (m - 1)),
    ).otherwise(F.array().cast("array<int>"))


def _window_hashes(src: DataFrame, m: int) -> DataFrame:
    """(id, i, h): every length-``m`` window as its xxhash64 ONLY —
    the corpus-sized relation of the probe never carries raw text,
    just 8-byte hashes (the 100 TB shuffle contract)."""
    return (
        src.select(
            "id",
            F.explode(
                F.transform(
                    _window_starts(m),
                    lambda i: F.struct(
                        i.alias("i"),
                        F.xxhash64(
                            F.col("_t").substr(i, F.lit(m))
                        ).alias("h"),
                    ),
                )
            ).alias("e"),
        ).select("id", "e.i", "e.h")
    )


def _verified_hot_windows(
    src: DataFrame, m: int, min_count: int
) -> DataFrame:
    """(sub, n_occurrences, n_docs) for every length-``m`` substring
    occurring >= ``min_count`` times — TWO-PHASE: the corpus-wide agg
    groups 8-byte xxhash64 values; only windows whose hash is hot
    re-derive their substring and are re-counted by VALUE, so a 64-bit
    collision can neither fake a repeat nor (since all occurrences of
    a colliding value share the hash and thus all reach phase 2)
    hide one. Raw text shuffles only for candidates — bounded by the
    duplicate volume, not the corpus."""
    wh = _window_hashes(src, m)
    hot_h = (
        wh.groupBy("h")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= min_count)
        .select("h")
    )
    cand = (
        wh.join(hot_h, "h")
        .groupBy("id")
        .agg(F.collect_list("i").alias("cis"))
    )
    vals = (
        src.join(cand, "id")
        .select(
            "id",
            F.explode(
                F.transform(
                    F.col("cis"),
                    lambda i: F.col("_t").substr(i, F.lit(m)),
                )
            ).alias("sub"),
        )
    )
    return (
        vals.groupBy("sub")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("id").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= min_count)
    )


def longest_repeated_substring(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """The corpus's longest substring occurring >= ``min_count`` times
    (within- or cross-doc) — the flagship suffix-array statistic, here
    by BINARY SEARCH on window length: "some length-m substring
    repeats" is monotone in m, so O(log max_len) corpus passes bracket
    the answer exactly; a final pass extracts the lexicographically-
    smallest witness and its occurrence counts.

    Every probe (and the witness pass) is the two-phase
    :func:`_verified_hot_windows`: group by xxhash64 corpus-wide,
    verify survivors by substring value — raw text never shuffles
    through the corpus-sized agg, at the midpoint probe (~max_len/2
    chars per key) or anywhere else. Exactness is unchanged: phase 2
    re-counts candidates by value, so hash collisions cannot flip a
    probe.

    Returns ONE row: (lrs_len, lrs, n_occurrences, n_docs) — zeros and
    NULL lrs when nothing repeats. Driver-side state: one boolean per
    probe (the documented O(log max_len) action loop)."""
    t = F.col(text_col)
    src = df.select(F.col(id_col).alias("id"), t.alias("_t")).filter(
        F.length("_t") > 0
    )
    src = src.localCheckpoint(eager=True)
    max_len = int(src.agg(F.max(F.length("_t"))).first()[0] or 0)

    def repeats(m: int) -> bool:
        return (
            _verified_hot_windows(src, m, min_count).limit(1).count() > 0
        )

    spark = df.sparkSession
    if max_len == 0 or not repeats(1):
        return spark.createDataFrame(
            [(0, None, 0, 0)],
            "lrs_len INT, lrs STRING, n_occurrences BIGINT, n_docs BIGINT",
        )
    lo, hi = 1, max_len  # repeats(lo) True; (hi, max_len] impossible
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if repeats(mid):
            lo = mid
        else:
            hi = mid - 1
    hot = _verified_hot_windows(src, lo, min_count)
    return (
        hot.orderBy("sub")
        .limit(1)
        .select(
            F.lit(lo).alias("lrs_len"),
            F.col("sub").alias("lrs"),
            "n_occurrences",
            "n_docs",
        )
    )


def _prefix_rank_table(
    src: DataFrame, upto_width: int
) -> DataFrame:
    """(id, pos, r): prefix-doubling rank table stopped at EXACTLY
    ``upto_width`` (a power of two) — ``r`` is the dense rank of each
    suffix's first ``upto_width`` characters (sentinel −1 beyond the
    doc end, so shorter prefixes never collide with full-width ones).
    The shared inner loop of :func:`suffix_ranks`, without the
    run-to-full-order termination."""
    sc = src.sparkSession.sparkContext
    base = src.select(
        "id",
        F.posexplode(F.split(F.col("_t"), "")).alias("pos", "ch"),
    ).filter(F.col("ch") != "")
    seen = _persisted_rdd_ids(sc)
    cur = global_dense_rank(base, ["ch"], "r").select("id", "pos", "r")
    cur = cur.localCheckpoint(eager=True)
    prev_gen = _persisted_rdd_ids(sc) - seen
    width = 1
    while width < upto_width:
        nxt = cur.select(
            "id", (F.col("pos") - width).alias("pos"), F.col("r").alias("r2")
        )
        paired = cur.join(nxt, ["id", "pos"], "left").select(
            "id", "pos", "r", F.coalesce("r2", F.lit(-1)).alias("r2")
        )
        seen = _persisted_rdd_ids(sc)
        cur = global_dense_rank(paired, ["r", "r2"], "rn").select(
            "id", "pos", F.col("rn").alias("r")
        )
        cur = cur.localCheckpoint(eager=True)
        new_gen = _persisted_rdd_ids(sc) - seen
        _unpersist_rdds(sc, prev_gen)  # see suffix_ranks — 2-gen heap
        prev_gen = new_gen
        width *= 2
    return cur


def repeated_window_starts(
    df: DataFrame,
    window_len: int,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    cross_doc_only: bool = False,
) -> DataFrame:
    """Every 1-based start of a length-``window_len`` substring that
    occurs >= ``min_count`` times in the corpus — derived from the
    SUFFIX-ARRAY side, the construction Lee et al. 2022 actually use
    for ExactSubstr, so it is the independent cross-check for
    :func:`webcorpus.exact_substring_dedup`'s window-hash route (two
    different algorithms must agree on the exact flagged-start set;
    pinned by test and by a value-grouping DuckDB oracle).

    Exact length-L prefix equality falls out of prefix-doubling ranks
    with the overlapping power-of-two trick (the same identity behind
    sparse-table LCP queries): with w = the largest power of two
    <= L, two suffixes share their first L characters iff their
    width-w ranks agree at offset 0 AND at offset L - w (the two
    w-blocks overlap and cover [0, L)). So one rank table to width w
    (ceil(log2 L) dense-rank rounds), one self-join at offset L - w,
    and one hash agg on the 16-byte rank pair give the exact repeated
    classes — no substring values, no hashes of substrings, no global
    sort. Only starts with >= L characters remaining participate
    (shorter suffixes are never windows).

    Returns (id_col, start, n_occurrences) with 1-based starts."""
    L = int(window_len)
    if L < 1:
        raise ValueError(f"window_len must be >= 1, got {L}")
    w = 1
    while w * 2 <= L:
        w *= 2
    src = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("_t")
    ).filter(F.length("_t") > 0)
    ranks = _prefix_rank_table(src, w)
    lens = src.select("id", F.length("_t").alias("_len"))
    starts = (
        ranks.join(lens, "id")
        .filter(F.col("pos") <= F.col("_len") - L)
        .select("id", "pos", "r")
    )
    tail = ranks.select(
        "id", (F.col("pos") - (L - w)).alias("pos"), F.col("r").alias("rb")
    )
    keyed = (
        starts.join(tail, ["id", "pos"])
        if L != w
        else starts.withColumn("rb", F.col("r"))
    )
    counter = (
        F.countDistinct("id") if cross_doc_only else F.count("*")
    ).alias("c")
    hot = (
        keyed.groupBy("r", "rb")
        .agg(counter, F.count("*").alias("n_occurrences"))
        .filter(F.col("c") >= min_count)
        .select("r", "rb", "n_occurrences")
    )
    return (
        keyed.join(hot, ["r", "rb"])
        .select(
            F.col("id").alias(id_col),
            (F.col("pos") + 1).cast("int").alias("start"),
            F.col("n_occurrences").cast("long"),
        )
    )


def _partition_offsets(sizes) -> tuple[dict, int]:
    """({pid: rows before it}, total) from per-partition (_pid, _n,
    _max) rows in pid order. The numbering counter lives in the low 33
    bits of ``monotonically_increasing_id``, so a partition past 2^33
    rows would wrap it — and then its max would no longer equal its
    count: raise instead of numbering silently wrong."""
    offset, offsets = 0, {}
    for r in sizes:
        if r["_n"] != r["_max"]:
            raise RuntimeError(
                f"row numbering: partition {r['_pid']} has {r['_n']} rows"
                f" but its 33-bit counter reached {r['_max']}"
            )
        offsets[r["_pid"]] = offset
        offset += r["_n"]
    return offsets, offset


def _row_numbered(
    df: DataFrame, order_cols: list[str], out_col: str
) -> tuple[DataFrame, int]:
    """Shared machinery: (df + exact 1-based global row number, total
    row count) under ORDER BY ``order_cols`` — range-partition the
    rows, number within each partition, shift by cumulative
    per-partition counts. Driver state: one count per partition.

    r11: the range exchange is size-aware (no explicit partition
    count — AQE coalesces to data volume, not core count) and the
    per-partition numbering comes from ``monotonically_increasing_id``
    over the partition-sorted rows (consecutive 0-based counter in the
    low 33 bits) instead of a row_number Window — the Window's
    hashpartitioning(_pid) requirement forced a second full exchange
    of the rows right after the range exchange. Parity pinned by
    test_mid_numbering_matches_window; :func:`_partition_offsets`
    raises if a partition's counter wrapped."""
    ranged = df.repartitionByRange(*order_cols).sortWithinPartitions(
        *order_cols
    )
    local = ranged.withColumn(
        "_pid", F.spark_partition_id()
    ).withColumn(
        "_lrn",
        F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1) + 1,
    )
    local = local.localCheckpoint(eager=True)
    sizes = (
        local.groupBy("_pid")
        .agg(F.count("*").alias("_n"), F.max("_lrn").alias("_max"))
        .orderBy("_pid")
        .collect()
    )
    offsets, offset = _partition_offsets(sizes)
    if not offsets:
        return (
            local.withColumn(out_col, F.lit(None).cast("long")).drop(
                "_pid", "_lrn"
            ),
            0,
        )
    omap = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    return (
        local.withColumn(
            out_col,
            (F.col("_lrn") + omap[F.col("_pid")]).cast("long"),
        ).drop("_pid", "_lrn"),
        offset,
    )


def global_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    measure_col: str,
    out_col: str = "before",
) -> DataFrame:
    """Exact EXCLUSIVE prefix sum of an integer ``measure_col`` under a
    global ``ORDER BY order_cols`` — i.e. ``sum(measure) OVER (ORDER BY
    … ROWS UNBOUNDED PRECEDING AND 1 PRECEDING)`` — WITHOUT a
    single-partition Window: range partition, per-partition running sum
    (Window keyed on the partition id, fully parallel), shift by the
    broadcast cumulative per-partition totals.  Driver state: one sum
    per shuffle partition — the :func:`global_row_number` machinery
    with count generalized to an arbitrary additive measure (rank-sum
    statistics, CDF walks, offset assignment).

    Order keys must be UNIQUE per row (a RangePartitioner can split
    equal keys across partitions, making tied rows' prefix sums
    placement-dependent).  The first row's prefix sum is 0."""
    from pyspark.sql import Window

    # size-aware range exchange (r11): no explicit partition count, so
    # AQE coalesces to data volume instead of the core-count default.
    # The running sum keeps its Window (a per-row cumulative needs the
    # scan); only the partition sizing changed.
    ranged = df.repartitionByRange(*order_cols)
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = (
        ranged.withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_lps",
            F.coalesce(F.sum(measure_col).over(w), F.lit(0)).cast("long"),
        )
        .localCheckpoint(eager=True)
    )
    sizes = (
        local.groupBy("_pid")
        .agg(F.sum(measure_col).cast("long").alias("_s"))
        .orderBy("_pid")
        .collect()
    )
    offset, offsets = 0, {}
    for r in sizes:
        offsets[r["_pid"]] = offset
        offset += r["_s"] or 0
    if not offsets:
        return local.withColumn(out_col, F.lit(0).cast("long")).drop(
            "_pid", "_lps"
        )
    omap = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    return local.withColumn(
        out_col, (F.col("_lps") + omap[F.col("_pid")]).cast("long")
    ).drop("_pid", "_lps")


def global_row_number(
    df: DataFrame, order_cols: list[str], out_col: str = "rn"
) -> DataFrame:
    """Exact 1-based ``row_number() OVER (ORDER BY order_cols)`` for
    every row WITHOUT a single-partition Window — the companion of
    :func:`global_dense_rank` for row-level numbering (equi-depth
    binning, pagination, deterministic sharding by sort position).

    The order key must be UNIQUE per row (append a tiebreaker id
    column otherwise): a RangePartitioner can split equal keys across
    partitions, which would make tied rows' numbers depend on
    partition placement."""
    out, _ = _row_numbered(df, order_cols, out_col)
    return out


def global_ntile(
    df: DataFrame,
    order_cols: list[str],
    n: int,
    out_col: str = "bucket",
    rn_col: str | None = None,
) -> DataFrame:
    """Exact ``ntile(n) OVER (ORDER BY order_cols)`` at corpus scale —
    equi-depth binning / quantile bucketing without a global sort on
    one reducer. Standard ntile fill: the first N mod n buckets take
    ceil(N/n) rows, the rest floor(N/n); buckets are 1-based. Order
    keys must be unique (see :func:`global_row_number`). Pass
    ``rn_col`` to also keep the underlying row number."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    keep_rn = rn_col or "_gnt_rn"
    out, total = _row_numbered(df, order_cols, keep_rn)
    big = total % n
    size = total // n
    i = F.col(keep_rn) - 1
    bucket = (
        F.when(i < big * (size + 1), F.floor(i / (size + 1)))
        .otherwise(
            big
            + F.floor(
                (i - big * (size + 1)) / F.greatest(F.lit(size), F.lit(1))
            )
        )
        + 1
    ).cast("int")
    out = out.withColumn(out_col, bucket)
    return out if rn_col else out.drop(keep_rn)


def _verified_cross_windows(src: DataFrame, m: int) -> DataFrame:
    """(sub, n_occurrences, n_docs, n_corpora) for every length-``m``
    substring present in >= 2 DISTINCT corpora — the cross-corpus
    variant of :func:`_verified_hot_windows`, same two-phase design:
    the corpus-wide agg groups 8-byte hashes and keeps only hashes
    whose corpus tags differ (min != max — works for any tag domain);
    survivors re-derive their substring and are re-verified by VALUE
    with per-corpus distinct counts, so a 64-bit collision can neither
    fake nor hide a cross-corpus match. ``src`` is (id, cor, _t)."""
    wh = (
        src.select(
            "id",
            "cor",
            F.explode(
                F.transform(
                    _window_starts(m),
                    lambda i: F.struct(
                        i.alias("i"),
                        F.xxhash64(
                            F.col("_t").substr(i, F.lit(m))
                        ).alias("h"),
                    ),
                )
            ).alias("e"),
        ).select("id", "cor", "e.i", "e.h")
    )
    hot_h = (
        wh.groupBy("h")
        .agg(F.min("cor").alias("_lo"), F.max("cor").alias("_hi"))
        .filter(F.col("_lo") != F.col("_hi"))
        .select("h")
    )
    cand = (
        wh.join(hot_h, "h")
        .groupBy("id")
        .agg(F.collect_list("i").alias("cis"))
    )
    vals = src.join(cand, "id").select(
        "id",
        "cor",
        F.explode(
            F.transform(
                F.col("cis"), lambda i: F.col("_t").substr(i, F.lit(m))
            )
        ).alias("sub"),
    )
    return (
        vals.groupBy("sub")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("id").alias("n_docs"),
            F.countDistinct("cor").alias("n_corpora"),
        )
        .filter(F.col("n_corpora") >= 2)
    )


def cross_corpus_lcs(
    df: DataFrame,
    corpus_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Longest substring present in at least TWO distinct corpora —
    char-level contamination evidence between a training corpus and a
    benchmark/eval split (the signal behind ExactSubstr-style
    decontamination, Lee et al. 2022), without building the joint
    suffix array: "some length-m window appears in >= 2 corpora" is
    monotone in m, so O(log max_len) two-phase hash-agg passes
    (:func:`_verified_cross_windows` — raw text never shuffles through
    the corpus-sized agg) bracket the answer exactly, then one pass
    extracts the lexicographically-smallest witness.

    Returns ONE row: (lcs_len, lcs, n_occurrences, n_docs, n_corpora)
    — zeros and NULL lcs when the corpora share no character. The
    oracle derives the same answer by the classical route (max LCP
    over adjacent cross-origin suffixes in the merged sort — correct
    because lcp over a sorted range is the min of adjacent lcps, so
    some origin-switching adjacent pair attains the max)."""
    t = F.col(text_col)
    src = df.select(
        F.col(id_col).alias("id"),
        F.col(corpus_col).alias("cor"),
        t.alias("_t"),
    ).filter(F.length("_t") > 0)
    src = src.localCheckpoint(eager=True)
    max_len = int(src.agg(F.max(F.length("_t"))).first()[0] or 0)

    def crosses(m: int) -> bool:
        return _verified_cross_windows(src, m).limit(1).count() > 0

    spark = df.sparkSession
    empty = spark.createDataFrame(
        [(0, None, 0, 0, 0)],
        "lcs_len INT, lcs STRING, n_occurrences BIGINT,"
        " n_docs BIGINT, n_corpora BIGINT",
    )
    if max_len == 0 or not crosses(1):
        return empty
    lo, hi = 1, max_len
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if crosses(mid):
            lo = mid
        else:
            hi = mid - 1
    hot = _verified_cross_windows(src, lo)
    return (
        hot.orderBy("sub")
        .limit(1)
        .select(
            F.lit(lo).alias("lcs_len"),
            F.col("sub").alias("lcs"),
            "n_occurrences",
            "n_docs",
            "n_corpora",
        )
    )


def repetition_depth_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_width: int = 16,
) -> DataFrame:
    """Corpus repetitiveness spectrum: for each power-of-two window
    width w <= ``max_width``, how much of the corpus sits inside a
    repeated length-w substring — (n positions whose w-prefix occurs
    >= 2 times, number of such repeat groups, the largest group). The
    one-glance diagnostic of HOW DEEP duplication runs before anyone
    picks an ExactSubstr threshold (a corpus repetitive at w=16 needs
    char-level dedup; one repetitive only at w<=2 doesn't).

    One prefix-doubling pass (the suffix_ranks inner loop): the rank
    table at each doubling step IS the width-w prefix equality
    relation for full-width positions (sentinel ranks only ever mark
    short tails, which are excluded), so the per-width statistics fall
    out of the SAME pass that builds the next width — O(log max_width)
    hash aggs total, one 3-number driver row per width (the documented
    bounded action loop). Raw text never shuffles: ranks are ints."""
    t = F.col(text_col)
    src = df.select(F.col(id_col).alias("id"), t.alias("_t")).filter(
        F.length("_t") > 0
    )
    src = src.localCheckpoint(eager=True)
    lens = src.select("id", F.length("_t").alias("_len"))
    base = src.select(
        "id",
        F.posexplode(F.split(F.col("_t"), "")).alias("pos", "ch"),
    ).filter(F.col("ch") != "")
    cur = global_dense_rank(base, ["ch"], "r").select("id", "pos", "r")
    cur = cur.localCheckpoint(eager=True)
    rows = []
    width = 1
    while width <= max_width:
        full = cur.join(lens, "id").filter(
            F.col("pos") + width <= F.col("_len")
        )
        stats = (
            full.groupBy("r")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .agg(
                F.coalesce(
                    F.sum(F.when(F.col("c") >= 2, F.col("c"))), F.lit(0)
                ).cast("long").alias("np"),
                F.count(F.when(F.col("c") >= 2, 1)).cast("long").alias(
                    "ng"
                ),
                F.coalesce(F.max("c"), F.lit(0)).cast("long").alias("mx"),
            )
            .first()
        )
        rows.append((width, stats["np"], stats["ng"], stats["mx"]))
        if width * 2 > max_width:
            break
        nxt = cur.select(
            "id", (F.col("pos") - width).alias("pos"),
            F.col("r").alias("r2"),
        )
        paired = cur.join(nxt, ["id", "pos"], "left").select(
            "id", "pos", "r", F.coalesce("r2", F.lit(-1)).alias("r2")
        )
        cur = global_dense_rank(paired, ["r", "r2"], "rn").select(
            "id", "pos", F.col("rn").alias("r")
        )
        cur = cur.localCheckpoint(eager=True)
        width *= 2
    return df.sparkSession.createDataFrame(
        rows,
        "width INT, n_repeat_positions BIGINT, n_repeat_groups BIGINT,"
        " max_group BIGINT",
    )

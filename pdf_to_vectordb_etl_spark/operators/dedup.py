"""Deduplication operators for large-scale corpus curation.

Beyond-reference capability (BASELINE.json north star): the reference
processes hundreds of questions; a 100 TB training-data pipeline needs
near-duplicate removal as a first-class relational operator. Five
strategies, all shuffle-conscious:

- exact:        one hash-groupBy on a digest — the only full shuffle.
- ngram Jaccard: shingle -> inverted-index equi-join -> per-pair counts;
                 only docs *sharing a shingle* ever meet (no n^2 pairs).
- MinHash+LSH:  shingle minhash signatures banded into buckets; the
                 candidate join is an equi-join on a band-bucket hash.
- SimHash:      64-bit signature; duplicates = equal signatures (or
                 Hamming<=r via rotations) — again an equi-join.
- embedding:    cosine >= threshold over an embedding column.

All hashing is deterministic (xxhash64 built-in) — re-runs and retries
of a 1000-executor job produce identical clusters.

Plan-shape rule learned the hard way (and load-bearing at any scale):
NEVER let an array-building expression get referenced above its
Generate/explode — Catalyst's CollapseProject will inline it into the
post-explode projection and re-evaluate the whole array construction
once per *element* instead of once per *document* (a ~100x per-row
blowup measured at sf0.1). Every operator here explodes once, reduces
shingles to 8-byte xxhash64 keys immediately, and derives counts /
signatures from the exploded table with aggregations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.vector import cosine_similarity, l2_norm
from ..placement import bounded_collect


#: Band buckets holding more than this many signatures are routed
#: through the O(m) star scheme instead of the O(m^2) self-join. 512
#: is far above any honest near-dup cluster on the test corpora (max
#: observed occupancy is single digits) but bounds the blowup when a
#: boilerplate template is duplicated millions of times at 100 TB.
DEFAULT_MAX_BUCKET_SIZE = 512
#: driver fast-path cap on undirected edges for cluster_pairs'
#: union-find (placement: bounded_collect)
DRIVER_MAX_EDGES = 100_000


def normalize_text(text, *, lower: bool = True) -> Column:
    """Canonical form for dedup: trim, collapse whitespace, optional lower."""
    t = F.regexp_replace(F.trim(text), r"\s+", " ")
    return F.lower(t) if lower else t


def _spread(df: DataFrame, by) -> DataFrame:
    """Repartition a too-narrow input before CPU-heavy per-row work.

    Local parquet fixtures are one row group => one scan task, which
    serializes everything upstream of the first shuffle. On a real
    cluster the scan arrives in thousands of partitions and this is a
    no-op (we only repartition when below half the default parallelism,
    so a 100 TB scan is never reshuffled)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target, by)
    return df


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: group by content digest, keep the min-id canonical
    row, report group size. Hashing first keeps the shuffle narrow
    (32-byte digest instead of document bodies on the wire)."""
    digest = F.sha2(normalize_text(F.col(text_col)), 256)
    return (
        df.select(F.col(id_col), digest.alias("digest"))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
    )


def drop_exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row (min id) per identical normalized text."""
    digest = F.sha2(normalize_text(F.col(text_col)), 256)
    w = Window.partitionBy("_digest").orderBy(id_col)
    return (
        df.withColumn("_digest", digest)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_digest", "_rn")
    )


def word_shingles(text, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (native: split +
    transform over positions; no UDF). Cost is per-document — callers
    must not reference this above an explode of itself (see module
    docstring)."""
    words = F.split(normalize_text(text), " ")
    count = F.greatest(F.size(words) - (n - 1), F.lit(0))
    idx = F.sequence(F.lit(1), count)
    shingle = lambda i: F.array_join(F.slice(words, i, n), " ")  # noqa: E731
    return F.array_distinct(F.when(count > 0, F.transform(idx, shingle)).otherwise(F.array()))


def _shingle_hashes(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, h) rows: one per distinct word-n-gram shingle per doc, with
    the shingle reduced to its xxhash64 — every downstream join and
    aggregation works on 8-byte keys, never strings."""
    ex = _spread(df.select(F.col(id_col).alias("id"), F.col(text_col)), "id")
    return ex.select(
        "id", F.explode(word_shingles(F.col(text_col), n)).alias("_s")
    ).select("id", F.xxhash64("_s").alias("h"))


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by word-n-gram Jaccard similarity.

    Inverted-index plan: explode shingles -> hash to long -> self-equi-
    join on the hash (docs sharing no shingle never pair) -> count
    common -> Jaccard from per-doc distinct-shingle counts, joined back
    onto the pairs on the 8-byte id (no broadcast hint: the count table
    is one row per doc — unbounded at corpus scale; AQE may still pick
    broadcast when it measures small). The big join carries only
    (id, h) — 16 bytes a row. Emits (id_a < id_b, jaccard). The
    shingle table feeds the count branch and both self-join sides, so
    it persists (the minhash/prefix-filter policy; measured 8.0 s →
    2.2 s cold at sf0.1 — warm runs already shared the self-join
    exchange via ReusedExchange, cold ones re-shingled).
    """
    ex = _shingle_hashes(df, text_col, id_col, n).persist()
    counts = ex.groupBy("id").agg(F.count("*").alias("n_sh"))
    a = ex.select(F.col("id").alias("id_a"), "h")
    b = ex.select(F.col("id").alias("id_b"), "h")
    common = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    na = counts.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"))
    nb = counts.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by word-n-gram Jaccard — same contract and same
    output as ``ngram_jaccard_pairs`` — via AllPairs/PPJoin-class
    prefix filtering (Bayardo et al. WWW'07; Xiao et al. WWW'08,
    public): with shingles globally ordered rarest-first, two sets of
    sizes |x|,|y| with J ≥ t MUST collide inside their first
    |x| − ⌈t·|x|⌉ + 1 shingles, so only that prefix enters the
    candidate self-join. The full inverted index joins every posting
    — its fan-out is Σ df(s)², dominated by the most common shingles;
    the prefix index drops exactly those (common shingles sort last
    and fall outside every prefix), which is the difference between a
    hot-key shuffle and a bounded one at 100 TB. A size-ratio filter
    (J ≥ t ⇒ t·max(|x|,|y|) ≤ min(|x|,|y|)) prunes candidates before
    verification; verification rejoins ONLY candidate pairs against
    the full shingle sets (fan-out |x| per surviving pair). Exactness:
    no false negatives by the prefix lemma, so output ≡ the baseline
    operator's (pinned in tests AND by sharing its oracle).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    from pyspark.sql import Window

    ex = _shingle_hashes(df, text_col, id_col, n).persist()
    counts = ex.groupBy("id").agg(F.count("*").alias("n_sh"))
    docfreq = ex.groupBy("h").agg(F.count("*").alias("_df"))
    # rarest-first global order (df, then hash as the total-order tiebreak
    # — both docs of a pair must rank shingles IDENTICALLY for the lemma)
    ranked = (
        ex.join(docfreq, "h")
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("id").orderBy("_df", "h")
            ),
        )
        .join(counts, "id")
        .filter(
            F.col("_rn")
            <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
        )
        .select("id", "h", "n_sh")
    )
    a = ranked.select(
        F.col("id").alias("id_a"), "h", F.col("n_sh").alias("na")
    )
    b = ranked.select(
        F.col("id").alias("id_b"), "h", F.col("n_sh").alias("nb")
    )
    cand = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.least("na", "nb")
            >= F.lit(threshold) * F.greatest("na", "nb")
        )
        .select("id_a", "id_b", "na", "nb")
        .distinct()
    )
    fa = ex.select(F.col("id").alias("id_a"), "h")
    fb = ex.select(F.col("id").alias("id_b"), "h")
    common = (
        cand.join(fa, "id_a")
        .join(fb, ["id_b", "h"])
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("n_common"),
            F.any_value("na").alias("na"),
            F.any_value("nb").alias("nb"),
        )
    )
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    out = (
        common.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


# ---------------------------------------------------------------- MinHash/LSH

def _band_table(sig: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """(id, bucket) rows: one folded band-bucket hash per band."""
    rows = n_hashes // bands
    buckets = [
        F.xxhash64(F.lit(b), *[F.col(f"h{b * rows + r}") for r in range(rows)]).alias(
            f"b{b}"
        )
        for b in range(bands)
    ]
    return sig.select("id", F.explode(F.array(*buckets)).alias("bucket"))


def _band_candidates(
    sig: DataFrame,
    n_hashes: int,
    bands: int,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    flag_capped: bool = False,
) -> DataFrame:
    """Candidate pairs from the banded self-join, with bounded fan-out.

    An uncapped self-join on the bucket key emits O(m^2) pairs from a
    bucket of occupancy m — one boilerplate template duplicated m times
    lands all m rows in the SAME bucket in every band, so a single hot
    bucket can dominate the stage (the classic LSH skew failure). Any
    bucket with more than ``max_bucket_size`` members is therefore
    routed through a star instead: every member pairs with the bucket's
    min-id anchor only (O(m) output). Members of an oversized bucket
    are near-identical by construction (they agree on a whole band of
    minhashes), so anchor pairs survive the exact-Jaccard verify and
    connected-components clustering reconnects the full cluster — the
    final dedup decision is unchanged while stage output stays linear.
    ``max_bucket_size=None`` disables the cap.
    ``flag_capped=True`` adds a ``from_capped_bucket`` boolean — True
    for pairs that exist ONLY via an oversized bucket's star (i.e.
    their mutual links went through the anchor), so downstream
    consumers can re-verify hot buckets instead of trusting the
    anchor-transitivity argument (ADVICE r6)."""
    banded = _band_table(sig, n_hashes, bands)
    if max_bucket_size is not None:
        w = Window.partitionBy("bucket")
        banded = (
            banded.withColumn("_n", F.count(F.lit(1)).over(w))
            .withColumn("_anchor", F.min("id").over(w))
        )
        small = banded.filter(F.col("_n") <= max_bucket_size).select("id", "bucket")
        star = (
            banded.filter(
                (F.col("_n") > max_bucket_size) & (F.col("id") != F.col("_anchor"))
            )
            .select(F.col("_anchor").alias("id_a"), F.col("id").alias("id_b"))
        )
    else:
        small, star = banded, None
    a = small.select(F.col("id").alias("id_a"), "bucket")
    b = small.select(F.col("id").alias("id_b"), "bucket")
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if not flag_capped:
        if star is not None:
            pairs = pairs.unionByName(star)
        return pairs.distinct()
    pairs = pairs.withColumn("from_capped_bucket", F.lit(False))
    if star is not None:
        pairs = pairs.unionByName(
            star.withColumn("from_capped_bucket", F.lit(True))
        )
    # a pair seen via any small bucket is NOT capped-only -> min(False)
    return pairs.groupBy("id_a", "id_b").agg(
        F.min("from_capped_bucket").alias("from_capped_bucket")
    )


def _exact_set_groups(ex: DataFrame) -> DataFrame:
    """(id, _fp, _rep, n_sh) per doc with >=1 shingle: docs whose
    DISTINCT shingle-hash sets are identical share a fingerprint
    (xxhash64 of the sorted hash array) and collapse to the group's
    min-id representative. Identical shingle sets are exactly what the
    DuckDB oracle can recompute (sorted shingle-string lists), so a
    collapse keyed on them is cross-engine replayable — unlike band
    buckets, which live inside the JVM's xxhash64."""
    fpt = ex.groupBy("id").agg(
        F.xxhash64(F.sort_array(F.collect_set("h"))).alias("_fp"),
        F.count("*").alias("n_sh"),
    )
    grp = fpt.groupBy("_fp").agg(F.min("id").alias("_rep"))
    return fpt.join(grp, "_fp")


def exact_set_representatives(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Rows of ``df`` that are the min-id representative of their
    distinct word-shingle SET (docs with zero shingles are dropped —
    they can never pair). The corpus-side pre-collapse the streaming
    near-dup screen shares with ``collapse_exact=True`` batch paths:
    build the persisted band table from this frame and a million-copy
    boilerplate template is ONE row in it."""
    ex = _shingle_hashes(df, text_col, id_col, shingle_n)
    members = _exact_set_groups(ex)
    rep_ids = members.filter(F.col("id") == F.col("_rep")).select(
        F.col("id").alias(id_col)
    )
    return df.join(rep_ids, id_col)


def minhash_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    collapse_exact: bool = False,
    flag_capped: bool = False,
) -> DataFrame:
    """MinHash LSH candidates verified by exact Jaccard on shingle-hash
    sets. The verify step joins the (small) candidate set against the
    exploded shingle table twice and counts intersections — it touches
    O(candidate docs), not O(n^2).

    ``flag_capped=True`` appends a ``from_capped_bucket`` boolean:
    True marks pairs whose only band-bucket route was an oversized
    bucket's min-id star (exact-duplicate star pairs from
    ``collapse_exact`` are False — they are verified by construction),
    so downstream consumers can audit or re-verify hot buckets
    (ADVICE r6).

    ``collapse_exact=True`` first collapses docs with IDENTICAL
    distinct-shingle sets to their min-id representative: each non-rep
    member is emitted directly as a (rep, member, jaccard=1.0) star
    pair and only representatives enter the banding. This changes the
    emitted pair SET (members of one exact group no longer pair with
    each other or with external docs — their rep carries those edges;
    the transitive closure, i.e. the dedup decision, is unchanged) but
    it removes the boilerplate-template hot-bucket hazard at its
    source: a million verbatim copies become ONE banded row, so the
    occupancy cap below is defense-in-depth instead of the only line.
    Unlike the occupancy cap, the collapsed output is a deterministic
    pure function of the shingle sets — exactly replayable in ANSI SQL.

    The exploded (id, h) table feeds both the signature build and the
    verify join, so it is persisted (memory-and-disk, spill-safe) for
    the lifetime of the returned plan instead of being re-derived from
    text twice. Callers that loop over ingests should unpersist the
    returned frame's lineage (``spark.catalog.clearCache()`` or hold
    and unpersist the input) once consumed."""
    from pyspark import StorageLevel

    ex = _shingle_hashes(df, text_col, id_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    star = None
    if collapse_exact:
        members = _exact_set_groups(ex).persist(StorageLevel.MEMORY_AND_DISK)
        star = members.filter(F.col("id") != F.col("_rep")).select(
            F.col("_rep").alias("id_a"),
            F.col("id").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
        if flag_capped:
            star = star.withColumn("from_capped_bucket", F.lit(False))
        rep_ids = members.filter(F.col("id") == F.col("_rep")).select("id")
        ex = ex.join(rep_ids, "id").persist(StorageLevel.MEMORY_AND_DISK)
    # fold the per-doc shingle count into the signature aggregation:
    # one groupBy over the exploded table instead of two (the count
    # side would otherwise re-shuffle all (id, h) rows)
    mins = [
        F.min(F.xxhash64("h", F.lit(i))).alias(f"h{i}") for i in range(n_hashes)
    ]
    # persisted: both the band-candidate branch and the count broadcast
    # read it, and re-deriving means re-running the 32-hash aggregation
    sig = ex.groupBy("id").agg(*mins, F.count("*").alias("n_sh")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cands = _band_candidates(
        sig.drop("n_sh"), n_hashes, bands, max_bucket_size, flag_capped
    )
    counts = sig.select("id", "n_sh")
    keys = ["id_a", "id_b"] + (["from_capped_bucket"] if flag_capped else [])
    out_cols = ["id_a", "id_b", "jaccard"] + (
        ["from_capped_bucket"] if flag_capped else []
    )
    # count common shingle hashes per candidate pair
    pa = cands.join(ex.select(F.col("id").alias("id_a"), "h"), "id_a")
    common = (
        pa.join(ex.select(F.col("id").alias("id_b"), "h"), ["id_b", "h"])
        .groupBy(*keys)
        .agg(F.count("*").alias("n_common"))
    )
    na = counts.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"))
    nb = counts.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    verified = (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select(*out_cols)
    )
    return verified if star is None else verified.unionByName(star)


# ------------------------------------------- incremental (new batch vs corpus)

def content_digests(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, digest) table for a corpus. This is the artifact a
    production pipeline persists between ingests — 40 bytes a row
    instead of document bodies — and feeds to
    :func:`incremental_exact_dedup` on every new batch."""
    return df.select(
        F.col(id_col).alias("id"),
        F.sha2(normalize_text(F.col(text_col)), 256).alias("digest"),
    )


def incremental_exact_dedup(
    new: DataFrame,
    corpus_digests: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Admit from ``new`` only documents whose normalized text exists
    neither in the corpus nor earlier (min id) within the batch itself.

    The daily-ingest shape at scale: the corpus participates only as
    its persisted digest table (never re-read, never re-paired with
    itself), the screen is one left-anti equi-join on the 32-byte
    digest, and intra-batch dedup is a window over the new batch only.
    Cost per ingest is O(|new| + |corpus digests|) with a single
    shuffle of each — nothing is quadratic in the corpus."""
    digest = F.sha2(normalize_text(F.col(text_col)), 256)
    w = Window.partitionBy("_digest").orderBy(id_col)
    return (
        new.withColumn("_digest", digest)
        .join(
            corpus_digests.select(F.col("digest").alias("_digest")).distinct(),
            "_digest",
            "left_anti",
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_digest", "_rn")
    )


def incremental_exact_dedup_bloom(
    new: DataFrame,
    corpus_digests: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Same contract and output as :func:`incremental_exact_dedup`,
    with a broadcast Bloom pre-screen on the batch path.

    At a 100-TB corpus the plain formulation shuffles the ENTIRE batch
    into the anti-join against the persisted digest table on every
    ingest, even though almost every new document is a miss. Here the
    corpus digests fold into a constant-size Bloom bitset (one narrow
    partial-combinable aggregate, <= m_bits/32 rows) that broadcast-
    joins against the batch with ZERO batch-side shuffle
    (``sketch.bloom_screen``); definite-misses (no false negatives by
    construction) bypass the anti-join entirely and only the
    FP-rate-sized probable-hit slice meets the digest table. Pair with
    a digest table bucketed on ``digest`` (``sinks.write_bucketed``)
    and the residual anti-join is shuffle-free on the corpus side too.
    The bitset is a pure function of the corpus — persist it alongside
    the digests and rebuilding costs nothing per ingest.

    Lifecycle note: the returned plan holds a MEMORY_AND_DISK persist
    (the screened batch) and an eager localCheckpoint (the bitset).
    A long-lived session looping over ingests should release them once
    each batch is consumed — ``spark.catalog.clearCache()`` between
    ingests, or checkpoint the consumed output and cut the lineage —
    or cached blocks/checkpoint files accumulate per call."""
    from pyspark import StorageLevel

    from .sketch import bloom_build, bloom_screen

    digest = F.sha2(normalize_text(F.col(text_col)), 256)
    newd = new.withColumn("_digest", digest)
    # the bitset is <= m_bits/32 rows but each of the k broadcast
    # builds would otherwise re-run the corpus-digest aggregation —
    # checkpoint it once (the blocklist_hits checkpoint-first lesson)
    bloom = bloom_build(
        corpus_digests.select("digest").distinct(), "digest", m_bits, k
    ).localCheckpoint(eager=True)
    # both the miss and maybe branches scan this frame — persist so
    # the batch parquet + 4 screen joins run once, not twice
    screened = bloom_screen(newd, bloom, "_digest", m_bits, k).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    miss = screened.filter(~F.col("bloom_hit"))
    maybe = screened.filter(F.col("bloom_hit")).join(
        corpus_digests.select(F.col("digest").alias("_digest")).distinct(),
        "_digest",
        "left_anti",
    )
    w = Window.partitionBy("_digest").orderBy(id_col)
    return (
        miss.unionByName(maybe)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_digest", "_rn", "bloom_hit")
    )


def incremental_minhash_pairs(
    new: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.8,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    collapse_exact: bool = False,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and the EXISTING corpus only
    — ``(new_id, corpus_id, jaccard >= threshold)``. No corpus×corpus
    re-pairing and no new×new (run :func:`minhash_dedup_pairs` on the
    batch for that); this is the screen an incremental ingest runs so
    cost stays proportional to the batch, not the corpus.

    The band join is new-bands ⋈ corpus-bands (equi-join on the folded
    bucket hash), so candidate generation is output-bound; the verify
    join recomputes exact Jaccard from the two (id, h) shingle tables
    restricted to candidates. At scale the corpus side's banded-bucket
    table and shingle-hash table are write-once artifacts — recompute
    here keeps the function self-contained, but both derivations are
    pure functions of the corpus text, so persisting them is a plain
    checkpoint of this plan's corpus branch.

    Fan-out bound: a bucket holding many corpus rows (boilerplate
    template in the corpus) would multiply every new row landing there
    by the full corpus occupancy. Buckets whose CORPUS occupancy
    exceeds ``max_bucket_size`` therefore pair each new row with that
    bucket's min-id corpus anchor only — each new doc is still flagged
    as a near-dup of the corpus (what an ingest screen decides), while
    per-bucket output stays O(|new in bucket|), never O(|new|·m).

    ``collapse_exact=True`` collapses CORPUS docs with identical
    distinct-shingle sets to their min-id representative before
    banding (new docs are never collapsed — every new doc must be
    flagged). Jaccard(new, rep) == Jaccard(new, any member), so the
    emitted (new_id, rep_id, jaccard) rows carry the same admit/reject
    decision while a million-copy corpus template becomes ONE banded
    row — and, unlike the occupancy cap, the collapsed output is a
    deterministic pure function of the shingle sets, exactly
    replayable in ANSI SQL."""
    from pyspark import StorageLevel

    ex_new = _shingle_hashes(new, text_col, id_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    ex_old = _shingle_hashes(corpus, text_col, id_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if collapse_exact:
        members = _exact_set_groups(ex_old)
        rep_ids = members.filter(F.col("id") == F.col("_rep")).select("id")
        ex_old = ex_old.join(rep_ids, "id").persist(
            StorageLevel.MEMORY_AND_DISK
        )
    mins = [
        F.min(F.xxhash64("h", F.lit(i))).alias(f"h{i}") for i in range(n_hashes)
    ]
    sig_new = ex_new.groupBy("id").agg(*mins, F.count("*").alias("n_sh"))
    sig_old = ex_old.groupBy("id").agg(*mins, F.count("*").alias("n_sh"))
    rows = n_hashes // bands
    buckets = [
        F.xxhash64(F.lit(b), *[F.col(f"h{b * rows + r}") for r in range(rows)]).alias(
            f"b{b}"
        )
        for b in range(bands)
    ]

    def banded(sig, out):
        return sig.select(
            F.col("id").alias(out), F.explode(F.array(*buckets)).alias("bucket")
        )

    bn = banded(sig_new, "new_id")
    bo = banded(sig_old, "corpus_id")
    if max_bucket_size is not None:
        w = Window.partitionBy("bucket")
        bo = (
            bo.withColumn("_n", F.count(F.lit(1)).over(w))
            .withColumn("_anchor", F.min("corpus_id").over(w))
        )
        small = bo.filter(F.col("_n") <= max_bucket_size).select(
            "corpus_id", "bucket"
        )
        anchors = (
            bo.filter(F.col("_n") > max_bucket_size)
            .select(F.col("_anchor").alias("corpus_id"), "bucket")
            .distinct()
        )
        bo = small.unionByName(anchors)
    cands = bn.join(bo, "bucket").select("new_id", "corpus_id").distinct()
    common = (
        cands.join(ex_new.select(F.col("id").alias("new_id"), "h"), "new_id")
        .join(ex_old.select(F.col("id").alias("corpus_id"), "h"), ["corpus_id", "h"])
        .groupBy("new_id", "corpus_id")
        .agg(F.count("*").alias("n_common"))
    )
    na = sig_new.select(F.col("id").alias("new_id"), F.col("n_sh").alias("na"))
    nb = sig_old.select(F.col("id").alias("corpus_id"), F.col("n_sh").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        common.join(na, "new_id")
        .join(nb, "corpus_id")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )


# ------------------------------------------------------------------- SimHash

def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    portable_hash: bool = False,
) -> DataFrame:
    """(id, simhash) via explode + 64 partial-aggregated bit votes:
    per-shingle work parallelizes past a one-task scan and the shuffle
    carries 64 small longs per doc.

    ``portable_hash=True`` swaps xxhash64 for the top 60 bits of md5 —
    bit-for-bit reproducible in any engine with md5 (DuckDB, Postgres,
    ...), at the cost of a slower hash. Use when signatures must be
    verified or joined across engines; bits 60-63 of the signature are
    then always 0 (votes start at -n)."""
    if portable_hash:
        # the ONE portable-60-bit-hash definition lives in sketch._h60;
        # the Bloom/CMS/HLL sketches and this signature path must stay
        # bit-identical for cross-engine replay
        from .sketch import _h60 as hash_shingle
    else:
        hash_shingle = F.xxhash64
    ex = _spread(df.select(F.col(id_col).alias("id"), F.col(text_col)), "id").select(
        "id", F.explode_outer(word_shingles(F.col(text_col), shingle_n)).alias("_s")
    ).select(
        "id",
        # xxhash64(NULL) is the seed (non-null!): keep the shingle-less
        # placeholder row's hash NULL so its bit votes stay 0
        F.when(F.col("_s").isNull(), F.lit(None))
        .otherwise(hash_shingle(F.col("_s")))
        .alias("h"),
    )
    one = F.lit(1).cast("long")
    votes = [
        F.sum(
            # xxhash64(NULL) returns the seed, so explode_outer's null
            # placeholder (shingle-less doc) must vote 0, keeping the
            # empty signature 0 — same as the column form's empty fold
            F.when(F.col("h").isNull(), 0)
            .when(F.col("h").bitwiseAND(F.shiftleft(one, i)) != 0, 1)
            .otherwise(-1)
        ).alias(f"v{i}")
        for i in range(64)
    ]
    agg = ex.groupBy("id").agg(*votes)
    sig = F.lit(0).cast("long")
    for i in range(64):
        sig = sig + F.when(F.col(f"v{i}") > 0, F.shiftleft(one, i)).otherwise(
            F.lit(0).cast("long")
        )
    return agg.select("id", sig.alias("simhash"))


# ------------------------------------------------ near-dup cluster + drop

def cluster_pairs(
    pairs: DataFrame,
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over near-dup pair edges -> (id, cluster_id)
    with cluster_id = the component's minimum member id.

    Small graphs (≤ ``DRIVER_MAX_EDGES`` undirected edges — near-dup
    pair tables are usually tiny relative to the corpus) take a
    driver union-find fast path: ONE count + ONE bounded collect
    replaces ~3 jobs per propagation round (the funnel report spent
    more wall-clock on CC job overhead than on all its real work).
    Identical labels by construction — min member id per component.
    ``SPARK_GRAFT_PLACEMENT=distributed`` (see
    :func:`~pdf_to_vectordb_etl_spark.placement.bounded_collect`)
    forces the distributed path.

    Distributed path — min-label propagation: each round every node
    adopts the smallest label among itself and its neighbours — reach
    extends ONE hop per round, so convergence needs O(diameter)
    rounds. Dup clusters are near-cliques (diameter ~2): 2-3 rounds in
    practice. For chain-shaped graphs (reply threads, citation paths)
    use graph.connected_components_star — O(log² n) rounds on any
    topology. Each round is one shuffle on id; the driver only checks
    a convergence count. Labels localCheckpoint per round: each round
    references the previous labels 3× (neighbor join, improve join,
    changed-count join), so persist() alone leaves a 3^rounds logical
    plan that OOMs the driver around round 15 on high-diameter inputs
    (observed) — checkpointing truncates it to a leaf.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .persist()
    )
    # ONE probing action (bounded_collect): over the cap, or under a
    # non-auto placement, the distributed path below re-reads the
    # persisted edges
    rows = bounded_collect(edges, DRIVER_MAX_EDGES)
    if rows is not None:
        from pyspark.sql.types import StructField, StructType

        edges.unpersist()
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in rows:
            a, b = r["src"], r["dst"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra
        comp: dict = {}
        for x in parent:
            comp.setdefault(find(x), []).append(x)
        out = []
        for members in comp.values():
            m = min(members)
            out.extend((x, m) for x in members)
        st = StructType(
            [
                StructField("id", pairs.schema["id_a"].dataType),
                StructField("cluster_id", pairs.schema["id_a"].dataType),
            ]
        )
        return pairs.sparkSession.createDataFrame(out, st)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nmin"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # silent non-convergence returned WRONG labels before this
        # guard (observed: a 150-edge random graph left 10 nodes
        # mislabeled after 20 rounds) — fail loudly and point to the
        # topology-independent alternative
        edges.unpersist()
        raise ValueError(
            f"cluster_pairs: labels still changing after {max_iterations} "
            "rounds — component diameter exceeds the iteration budget. "
            "Raise max_iterations, or use "
            "graph.connected_components_star (O(log^2 n) rounds on any "
            "topology) for chain-shaped graphs."
        )
    edges.unpersist()
    return labels


def drop_near_duplicates(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative (the min id) per near-dup cluster; rows
    in no cluster pass through. The anti-join ships only ids."""
    clusters = cluster_pairs(pairs)
    losers = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# ------------------------------------------------------- embedding near-dup

def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Pairs of rows whose embeddings' cosine similarity >= threshold:
    a broadcast nested-loop self-join (quadratic — the correctness
    baseline the block-matmul paths are checked against; norms
    precomputed per row so the per-pair kernel is one dot product).
    """
    a = _spread(
        df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")), "id_a"
    ).withColumn("na", l2_norm("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")).withColumn(
        "nb", l2_norm("vb")
    )
    pairs = a.crossJoin(F.broadcast(b))
    sim = cosine_similarity(F.col("va"), F.col("vb"), norm_a=F.col("na"), norm_b=F.col("nb"))
    return (
        pairs.filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", sim)
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def embedding_near_duplicates_blas(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_broadcast_rows: int = 1_000_000,
) -> DataFrame:
    """Exact cosine near-dup pairs via broadcast block matrix multiply.

    Same semantics as :func:`embedding_near_duplicates`, but
    the kernel is one numpy matmul per Arrow batch instead of a per-pair
    expression fold: the comparison matrix (ids, vectors, norms) ships
    once per executor as a broadcast variable, each ``mapInPandas``
    batch of the probe side computes ``A @ B.T`` and emits only the
    above-threshold (id_a < id_b) pairs — the quadratic pair set is
    never materialized as rows. ~100x the HOF path's throughput on
    wide batches.

    Scale contract: like any broadcast join, the comparison side must
    fit in executor memory (float64 matrix ~ n*dim*8 bytes). The guard
    counts rows first and raises past ``max_broadcast_rows`` (default
    1e6 — ~3 GB at dim 384) instead of silently taking down the driver;
    past that, use :func:`embedding_near_duplicates_blocked` or
    :func:`semantic_dedup_pairs`.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    n_rows = src.count()
    if n_rows > max_broadcast_rows:
        raise ValueError(
            f"embedding_near_duplicates_blas: comparison side has "
            f"{n_rows} rows > max_broadcast_rows={max_broadcast_rows}; "
            "the full corpus would be materialized on the driver. Use "
            "embedding_near_duplicates_blocked (executor-side block "
            "matmul, nothing on the driver) or "
            "semantic_dedup_pairs at this scale, or raise "
            "max_broadcast_rows explicitly if the driver can hold "
            "n*dim*8 bytes."
        )
    b_pdf = src.toPandas()
    ids_b = b_pdf["id"].to_numpy()
    mat_b = np.array([np.asarray(v, dtype=np.float64) for v in b_pdf["v"]])
    norms_b = np.linalg.norm(mat_b, axis=1)
    norms_b[norms_b == 0.0] = np.nan  # zero-norm => NULL sim => never passes
    bc = spark.sparkContext.broadcast((ids_b, mat_b, norms_b))

    id_sql_type = dict(df.dtypes)[id_col]
    out_schema = f"id_a {id_sql_type}, id_b {id_sql_type}, cosine_sim double"

    def gen(batches):
        ids_all, mat, norms = bc.value
        for pdf_a in batches:
            if pdf_a.empty:
                continue
            ids_a = pdf_a["id"].to_numpy()
            mat_a = np.array([np.asarray(v, dtype=np.float64) for v in pdf_a["v"]])
            norms_a = np.linalg.norm(mat_a, axis=1)
            norms_a[norms_a == 0.0] = np.nan
            sims = (mat_a @ mat.T) / np.outer(norms_a, norms)
            with np.errstate(invalid="ignore"):
                mask = (sims >= threshold) & (ids_a[:, None] < ids_all[None, :])
            ai, bi = np.nonzero(mask)
            yield pd.DataFrame(
                {"id_a": ids_a[ai], "id_b": ids_all[bi], "cosine_sim": sims[ai, bi]}
            )

    return _spread(src, "id").mapInPandas(gen, out_schema)


def embedding_near_duplicates_blocked(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_blocks: int = 8,
) -> DataFrame:
    """Exact cosine near-dup pairs via BLOCKED executor-side matmul —
    the scale path past :func:`embedding_near_duplicates_blas`'s
    driver-broadcast guard.

    Rows are hashed into ``n_blocks`` blocks; every unordered block
    pair (bi <= bj) becomes one ``applyInPandas`` group holding the two
    blocks' rows, and the group kernel is the same numpy matmul as the
    blas path with an ``id_a < id_b`` mask. Nothing ever lands on the
    driver; peak executor memory is two blocks (~2·n/n_blocks·dim·8
    bytes) — pick ``n_blocks`` so that fits. The cost is shuffle
    replication: each row is shipped to ~(n_blocks+1)/2 groups, the
    standard all-pairs block tradeoff (n_blocks ~ sqrt(corpus bytes /
    executor memory) balances the two). Exact all-pairs is inherently
    quadratic in compute at any layout — for corpora where even that is
    too much, use :func:`semantic_dedup_pairs`.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    pairs = spark.createDataFrame(
        [(bi, bj) for bi in range(n_blocks) for bj in range(bi, n_blocks)],
        "bi int, bj int",
    )
    rows = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    expanded = rows.join(F.broadcast(pairs), rows.blk == pairs.bi).unionByName(
        # diagonal groups get both sides from the bi join; adding the
        # bj side again would double every same-block row
        rows.join(
            F.broadcast(pairs.filter(F.col("bi") != F.col("bj"))),
            rows.blk == pairs.bj,
        )
    )

    id_sql_type = dict(df.dtypes)[id_col]
    out_schema = f"id_a {id_sql_type}, id_b {id_sql_type}, cosine_sim double"

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        a_pdf = pdf[pdf["blk"] == pdf["bi"]]
        b_pdf = pdf[pdf["blk"] == pdf["bj"]]
        if a_pdf.empty or b_pdf.empty:
            return pd.DataFrame(
                {
                    "id_a": pdf["id"][:0],
                    "id_b": pdf["id"][:0],
                    "cosine_sim": np.array([], dtype=np.float64),
                }
            )

        def mat(p):
            ids = p["id"].to_numpy()
            m = np.array([np.asarray(v, dtype=np.float64) for v in p["v"]])
            nrm = np.linalg.norm(m, axis=1)
            nrm[nrm == 0.0] = np.nan
            return ids, m, nrm

        ids_a, mat_a, na = mat(a_pdf)
        ids_b, mat_b, nb = mat(b_pdf)
        sims = (mat_a @ mat_b.T) / np.outer(na, nb)
        diagonal = pdf["bi"].iloc[0] == pdf["bj"].iloc[0]
        with np.errstate(invalid="ignore"):
            mask = sims >= threshold
            if diagonal:
                # a_pdf == b_pdf: each unordered pair appears twice;
                # keep the id_a < id_b orientation only
                mask &= ids_a[:, None] < ids_b[None, :]
        ai, bi = np.nonzero(mask)
        lo_ids, hi_ids = ids_a[ai], ids_b[bi]
        if not diagonal:
            # blocks are hash-assigned, so the smaller id may sit in
            # the bj block — canonicalize to (min, max)
            lo_ids, hi_ids = (
                np.minimum(lo_ids, hi_ids),
                np.maximum(lo_ids, hi_ids),
            )
        return pd.DataFrame(
            {"id_a": lo_ids, "id_b": hi_ids, "cosine_sim": sims[ai, bi]}
        )

    return expanded.groupBy("bi", "bj").applyInPandas(kernel, out_schema)


def semantic_dedup_pairs(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    arXiv:2303.09540 — public paper): route every embedding to its
    nearest centroid, then compute exact cosine pairs ONLY within each
    cluster. Emits ``(id_a < id_b, cosine_sim >= threshold, list_id)``.

    This is the published recipe for semantic dedup at corpus scale:
    the quadratic term drops from O(n²) to Σ O(|cluster|²), so with k
    clusters of balanced size the work shrinks by ~k×. ``centroids`` is
    any (list_id, centroid) table (per-label means, k-means output, …)
    — small by construction, broadcast by :func:`topk.ivf_assign`. The
    within-cluster kernel is one ``applyInPandas`` matmul per cluster:
    peak executor memory is the largest cluster (~|c|·dim·8 bytes);
    a skewed cluster should be re-split with a finer quantizer before
    this step (the standard SemDeDup practice).
    """
    import numpy as np
    import pandas as pd

    from .topk import ivf_assign

    assigned = ivf_assign(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
        centroids,
        n_probe=1,
        vec_col="v",
    )

    id_sql_type = dict(df.dtypes)[id_col]
    list_sql_type = dict(centroids.dtypes)["list_id"]
    out_schema = (
        f"id_a {id_sql_type}, id_b {id_sql_type}, "
        f"cosine_sim double, list_id {list_sql_type}"
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        m = np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        nrm = np.linalg.norm(m, axis=1)
        nrm[nrm == 0.0] = np.nan
        sims = (m @ m.T) / np.outer(nrm, nrm)
        with np.errstate(invalid="ignore"):
            mask = (sims >= threshold) & (ids[:, None] < ids[None, :])
        ai, bi = np.nonzero(mask)
        return pd.DataFrame(
            {
                "id_a": ids[ai],
                "id_b": ids[bi],
                "cosine_sim": sims[ai, bi],
                "list_id": pdf["list_id"].iloc[:1].repeat(len(ai)).to_numpy()
                if len(ai)
                else pdf["list_id"][:0],
            }
        )

    return assigned.groupBy("list_id").applyInPandas(kernel, out_schema)


def tfidf_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    max_df_ratio: float = 0.3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted lexical near-dup pairs: cosine over TF-IDF vectors,
    computed relationally (the sparse-vector dot product is a sum over
    an inverted-index self-join — vectors never materialize).

    Tokens appearing in more than ``max_df_ratio`` of docs are dropped
    BEFORE the self-join: stopword postings are both useless for
    similarity and the quadratic hot keys that would blow up the join
    at corpus scale (a 40%-df token contributes 0.16·n² pairs). After
    the cut, posting lists are short and the join output is near the
    true candidate count. All keys are 8-byte xxhash64 of the token.
    Scores are rounded to 4 dp before thresholding so the cut is
    engine-stable (same contract as the other dedup scorers).
    """
    toks = _spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col)), "id"
    ).select(
        "id",
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("_t"),
    ).filter(F.col("_t") != "").select("id", F.xxhash64("_t").alias("h"))
    tf = toks.groupBy("id", "h").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("h").agg(F.count("*").alias("dfq"))
    nd = tf.select(F.countDistinct("id").alias("n"))
    w = (
        # dfreq is one row per distinct term — unbounded at corpus
        # scale, so no broadcast hint (the equi-join on the 8-byte hash
        # is cheap); nd is a single scalar row, always broadcastable.
        tf.join(dfreq, "h")
        .crossJoin(F.broadcast(nd))
        .filter(F.col("dfq") <= max_df_ratio * F.col("n"))
        .select(
            "id", "h",
            (F.col("tf") * F.log(F.col("n") / F.col("dfq"))).alias("w"),
        )
    )
    norms = w.groupBy("id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    a = w.select(F.col("id").alias("id_a"), "h", F.col("w").alias("wa"))
    b = w.select(F.col("id").alias("id_b"), "h", F.col("w").alias("wb"))
    dots = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("id").alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("id").alias("id_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("cos", F.round(F.col("dot") / (F.col("na") * F.col("nb")), 4))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def ngram_containment_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by n-gram CONTAINMENT: |A ∩ B| / min(|A|, |B|).

    Jaccard misses subset relations — a paragraph quoted inside a long
    page scores near 0 on union but 1.0 on containment. This is the
    right detector for quote/excerpt/boilerplate-wrapper duplication in
    web corpora. Same inverted-index plan as
    :func:`ngram_jaccard_pairs` (equi-join on 8-byte shingle hashes,
    never all-pairs; count tables join shuffled on id — no broadcast of
    per-doc tables), only the denominator changes."""
    ex = _shingle_hashes(df, text_col, id_col, n)
    counts = ex.groupBy("id").agg(F.count("*").alias("n_sh"))
    a = ex.select(F.col("id").alias("id_a"), "h")
    b = ex.select(F.col("id").alias("id_b"), "h")
    common = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    na = counts.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"))
    nb = counts.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"))
    cont = F.col("n_common") / F.least(F.col("na"), F.col("nb"))
    return (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def idf_weighted_containment_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Containment with IDF weighting: shared boilerplate shingles
    (high DF, low IDF) barely count, while sharing RARE content drives
    the score — the de-boilerplated version of
    :func:`ngram_containment_pairs` for web corpora where every page
    shares a nav/footer template.

    score(A,B) = Σ_{s∈A∩B} idf(s) / min(Σ_{s∈A} idf(s), Σ_{s∈B} idf(s)),
    idf(s) = ln(1 + N/df(s)). Same inverted-index plan (equi-join on
    shingle hashes); the DF table reuses the exploded shingles, and
    the corpus size enters as a 1-row broadcast."""
    ex = _shingle_hashes(df, text_col, id_col, n)
    tot = df.agg(F.count("*").alias("_n"))
    dfh = ex.groupBy("h").agg(F.count("*").alias("df_h"))
    wex = (
        ex.join(dfh, "h")
        .crossJoin(F.broadcast(tot))
        .select("id", "h", F.log(1 + F.col("_n") / F.col("df_h")).alias("idf"))
    )
    wsum = wex.groupBy("id").agg(F.sum("idf").alias("wsum"))
    a = wex.select(F.col("id").alias("id_a"), "h", "idf")
    b = wex.select(F.col("id").alias("id_b"), "h")
    wcommon = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum("idf").alias("w_common"))
    )
    wa = wsum.select(F.col("id").alias("id_a"), F.col("wsum").alias("wa"))
    wb = wsum.select(F.col("id").alias("id_b"), F.col("wsum").alias("wb"))
    score = F.round(F.col("w_common") / F.least(F.col("wa"), F.col("wb")), 6)
    return (
        wcommon.join(wa, "id_a")
        .join(wb, "id_b")
        .withColumn("idf_containment", score)
        .filter(F.col("idf_containment") >= threshold)
        .select("id_a", "id_b", "idf_containment")
    )


def explain_pairs(
    df: DataFrame,
    pairs: DataFrame,
    n: int = 3,
    sample: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup EXPLANATION: for an (id_a, id_b) pair table, the count
    of shared word n-grams plus a deterministic sample (first
    ``sample`` in sorted order) — the human-review payload a dedup
    decision queue shows next to every candidate pair.

    The shingle ARRAY is built per document once and joined to the
    (small) pair table twice — never materialized corpus-wide, so cost
    is pairs × per-doc shingle size, not corpus². Intersection and the
    sorted sample are collection codegen."""
    sh = df.select(
        F.col(id_col).alias("id"), word_shingles(F.col(text_col), n).alias("sh")
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.array_sort(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(inter).alias("n_shared"),
            F.array_join(F.slice(inter, 1, sample), " | ").alias("shared_sample"),
        )
    )


def jaccard_threshold_sweep(
    df: DataFrame,
    thresholds: tuple[float, ...] = (0.5, 0.6, 0.7, 0.8, 0.9),
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup aggressiveness sweep: how many exact-Jaccard pairs
    each candidate threshold would flag — the tuning table someone
    reads BEFORE committing a dedup threshold to a 100 TB run (a
    threshold that flags half the corpus is a bug, not a policy).

    ONE inverted-index pair computation at min(thresholds) feeds every
    row — per-threshold counts are conditional sums over the same pair
    table, never a re-join. Thresholds compare the RAW Jaccard double
    (bit-identical in any engine: same integer counts, same single
    division); the reported max is floor-quantized (never round() a
    raw double both engines must agree on). Returns one row per
    threshold: (threshold, n_pairs, max_jaccard_q4)."""
    lo = min(thresholds)
    pairs = ngram_jaccard_pairs(df, lo, n, text_col, id_col)
    aggs = []
    for i, t in enumerate(sorted(thresholds)):
        ge = F.col("jaccard") >= float(t)
        aggs += [
            F.sum(ge.cast("int")).cast("long").alias(f"_n{i}"),
            F.max(
                F.when(ge, F.floor(F.col("jaccard") * 10000) / 10000)
            ).alias(f"_m{i}"),
        ]
    one = pairs.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({float(t)} AS DOUBLE), coalesce(_n{i}, 0), _m{i}"
        for i, t in enumerate(sorted(thresholds))
    )
    return one.selectExpr(
        f"stack({len(thresholds)}, {stack_args})"
        " AS (threshold, n_pairs, max_jaccard_q4)"
    )

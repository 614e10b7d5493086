"""Similarity search over embedding columns (SURVEY §2.6 K1/K2).

The reference delegates kNN to Qdrant (reference qdrant_text_loader.py:
122-142); here the baseline is brute-force cosine top-k as pure Catalyst
expressions, plus approximate variants (IVF lists, an NN-descent
graph) for the 100 TB path.

Scale notes: brute-force is one narrow projection + TakeOrderedAndProject
(limit pushed into per-partition sort — no full global sort, no shuffle
of the scan side). IVF prunes candidates to each query's closest
centroid lists; the probe join is an equi-join, broadcastable for small
query sets.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.vector import cosine_similarity
from ..placement import bounded_collect
from ..schemas import EMBEDDING_DIM

#: driver fast-path caps of the NN-descent family (placement:
#: bounded_collect): corpus rows for the graph build and the beam
#: probe, and probe rows for the beam probe
FAST_PATH_MAX_NODES = 16_000
FAST_PATH_MAX_PROBES = 20_000
#: broadcast caps of the hop-fused beam probe: corpus rows and edges
#: of the index artifact it ships to the executors
BSP_MAX_NODES = 100_000
BSP_MAX_EDGES = 4_000_000


def dim_guard(df: DataFrame, vec_col: str, dim: int = EMBEDDING_DIM) -> DataFrame:
    """K2 — reject vectors of the wrong dimensionality (reference
    qdrant_text_loader.py:134-135 raises; as a relational op: filter)."""
    return df.filter(F.size(F.col(vec_col)) == dim)


def topk_cosine(
    df: DataFrame,
    query_vector: list[float],
    k: int = 1,
    vec_col: str = "vector",
    id_col: str = "id",
    payload: Sequence[Column] = (),
) -> DataFrame:
    """K1 — brute-force top-k by cosine similarity to one query vector.

    ``orderBy(desc).limit(k)`` compiles to TakeOrderedAndProject:
    per-partition heap + driver merge of k rows — the right physical
    plan at any scale. Ties broken by id for determinism. ``payload``
    columns ride through the heap beside (id, cosine_sim), so a hit
    carries them without a join back onto ``df``.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vector])
    sim = cosine_similarity(F.col(vec_col), q)
    return (
        df.select(F.col(id_col), sim.alias("cosine_sim"), *payload)
        .orderBy(F.desc("cosine_sim"), F.col(id_col))
        .limit(k)
    )


def topk_cosine_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    corpus_vec: str = "vector",
    corpus_id: str = "id",
    query_vec: str = "vector",
    query_id: str = "qid",
) -> DataFrame:
    """K1 (batch form) — top-k neighbours for EVERY query row.

    Broadcast the (small) query set against the (huge) corpus, rank
    within each query with a window, keep rank <= k. One shuffle on
    ``qid`` for the window; corpus side is never shuffled.
    """
    from pyspark.sql import Window

    sim = cosine_similarity(F.col(corpus_vec), F.col("_qv"))
    scored = (
        corpus.crossJoin(
            F.broadcast(
                queries.select(
                    F.col(query_id), F.col(query_vec).alias("_qv")
                )
            )
        )
        .select(query_id, F.col(corpus_id), sim.alias("cosine_sim"))
    )
    w = Window.partitionBy(query_id).orderBy(
        F.desc("cosine_sim"), F.col(corpus_id)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_centroids(
    corpus: DataFrame,
    n_lists: int,
    vec_col: str = "vector",
    id_col: str = "id",
) -> DataFrame:
    """Deterministic IVF coarse quantizer: centroids = the ``n_lists``
    corpus vectors ranked first by ``md5(id)`` (a seedless uniform
    pseudo-sample — no RNG state, identical across retries, and
    portable: DuckDB's md5 produces the same hex, so an external oracle
    can re-derive the exact centroid set). A Lloyd refinement pass is a
    groupBy-mean away but unnecessary for recall targets of a *pruning*
    index."""
    from pyspark.sql import Window

    return (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_lists)
        .select(
            F.row_number().over(Window.orderBy(id_col)).alias("list_id"),
            F.col(vec_col).alias("centroid"),
        )
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    n_probe: int = 1,
    vec_col: str = "vector",
) -> DataFrame:
    """Attach the ``n_probe`` nearest list_ids to every row (corpus:
    n_probe=1 — its home list; queries: n_probe>1 — lists to search).
    Broadcast the centroid table; rank with one window on the row key.

    The assignment similarity is rounded to 6 dp before ranking so the
    list choice is stable across engines (float summation order differs
    between Spark and an external oracle; ties break on list_id).

    For ``n_probe == 1`` (the corpus-side home-list assignment) the
    argmax is a PURE PROJECTION over the collected coarse quantizer
    (bounded: n_lists rows by construction) — an array_min fold over
    centroid literals, the kmeans_assign_literal pattern (r10). The
    old crossJoin + row_number window shuffled the k-expanded CORPUS
    by its full row content at any scale, just to pick a per-row
    argmax. Winner identical: min(-sim, list_id) under the same
    comparator as the window's (desc sim, list_id) rank-1, and
    cosine_similarity casts every element to double, so literal
    (double) centroids compute the identical IEEE value the original
    float arrays did.

    Duplicate-row caveat (ADVICE r10): the old window partitioned by
    ``*df.columns``, so fully-duplicate input ROWS collapsed to one
    assigned row; the n_probe=1 projection assigns and KEEPS every
    duplicate row. Every caller in this engine feeds unique-id rows
    (the fixtures pin that); dedupe first if the collapse semantics
    are relied upon."""
    from pyspark.sql import Window

    if n_probe == 1:
        from ..functions.vector import l2_norm

        # the whole quantizer folds to a ONE-ROW array (bounded:
        # n_lists rows by construction) broadcast-crossJoined in —
        # no driver collect, no extra job, and array_min is
        # order-independent so collect_list's nondeterministic order
        # cannot change the winner. Per-centroid norms are computed
        # once in the same fold; the row norm binds once as a lambda
        # var (the _bind_array trick — referenced per centroid it
        # would inline n_lists times under CollapseProject), so each
        # candidate costs one dot fold instead of three array folds.
        one = centroids.select(
            F.struct(
                F.col("list_id").alias("lid"),
                F.col("centroid").alias("cent"),
                l2_norm(F.col("centroid")).alias("nb"),
            ).alias("_c")
        ).agg(F.collect_list("_c").alias("_cents"))
        best = F.element_at(
            F.transform(
                F.array(l2_norm(F.col(vec_col))),
                lambda na: F.array_min(
                    F.transform(
                        F.col("_cents"),
                        lambda c: F.struct(
                            (
                                -F.round(
                                    cosine_similarity(
                                        F.col(vec_col),
                                        c["cent"],
                                        norm_a=na,
                                        norm_b=c["nb"],
                                    ),
                                    6,
                                )
                            ).alias("ns"),
                            c["lid"].alias("lid"),
                        ),
                    )
                ),
            ),
            1,
        )
        return (
            df.crossJoin(F.broadcast(one))
            .withColumn("list_id", best["lid"])
            # an EMPTY quantizer must yield an empty assignment (the
            # crossJoin+window form's semantics): lid is null exactly
            # when _cents is empty, never otherwise (null-score rows
            # still win a tie on lid)
            .filter(F.col("list_id").isNotNull())
            .drop("_cents")
        )
    sim = F.round(cosine_similarity(F.col(vec_col), F.col("centroid")), 6)
    scored = df.crossJoin(F.broadcast(centroids)).withColumn("_csim", sim)
    w = Window.partitionBy(*df.columns).orderBy(F.desc("_csim"), F.col("list_id"))
    return (
        scored.withColumn("_crank", F.row_number().over(w))
        .filter(F.col("_crank") <= n_probe)
        .drop("centroid", "_csim", "_crank")
    )


def topk_cosine_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_lists: int = 32,
    n_probe: int = 4,
    corpus_vec: str = "vector",
    corpus_id: str = "id",
    query_vec: str = "vector",
    query_id: str = "qid",
) -> DataFrame:
    """Approximate top-k via IVF: corpus rows live in their nearest-
    centroid list; each query scans only its ``n_probe`` closest lists.

    vs. brute force: compute drops to ~n_probe/n_lists of the corpus per
    query, and recall is tunable per query (raise n_probe) without
    re-bucketing. The probe join is a broadcast equi-join on list_id for
    small query batches; at 100 TB the corpus side would be written
    bucketed by list_id so probes prune files (partition pruning).
    """
    from pyspark.sql import Window

    cents = ivf_centroids(corpus, n_lists, corpus_vec, corpus_id)
    c = ivf_assign(
        corpus.select(F.col(corpus_id), F.col(corpus_vec)), cents, 1, corpus_vec
    )
    q = ivf_assign(
        queries.select(F.col(query_id), F.col(query_vec).alias("_qv")),
        cents,
        n_probe,
        "_qv",
    )
    sim = cosine_similarity(F.col(corpus_vec), F.col("_qv"))
    scored = c.join(F.broadcast(q), "list_id").select(
        query_id, F.col(corpus_id), sim.alias("cosine_sim")
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine_sim"), F.col(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_occupancy(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "vector",
    id_col: str = "id",
) -> DataFrame:
    """Per-list occupancy of an IVF index — the (list_id, n) artifact
    an index build persists alongside its centroids so later ingest
    batches can measure drift without rescanning the corpus. One
    broadcast-assign pass + one count agg."""
    assigned = _assign_floorq(df, centroids, vec_col, id_col)
    return assigned.groupBy("list_id").agg(F.count("*").alias("n"))


def _assign_floorq(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Nearest-centroid assignment ranked on floor(sim·1e6) — the
    1e-6-grid quantization makes the ranking key integral, so the
    winner (and every downstream count built from it) replays
    bit-identically in any SQL engine. Keeps ``_sq`` for
    home-similarity stats."""
    from pyspark.sql import Window

    sim = cosine_similarity(F.col(vec_col), F.col("centroid"))
    w = Window.partitionBy(id_col).orderBy(F.desc("_sq"), F.col("list_id"))
    return (
        df.select(id_col, vec_col)
        .crossJoin(F.broadcast(centroids))
        .withColumn("_sq", F.floor(sim * F.lit(1e6)).cast("long"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, "list_id", "_sq")
    )


def ivf_incremental_assign(
    batch: DataFrame,
    centroids: DataFrame,
    baseline_occupancy: DataFrame,
    vec_col: str = "vector",
    id_col: str = "id",
) -> DataFrame:
    """Incremental IVF index maintenance: assign a NEW ingest batch
    into an EXISTING index (the persisted centroid artifact — nothing
    retrains, nothing rescans the corpus) and report per-list
    occupancy drift plus the batch's home-centroid similarity — the
    two signals that tell an operator the quantizer has gone stale
    and a retrain is due (mirrors dedup.incremental_exact_dedup's
    artifact contract: the corpus participates only as its persisted
    (list_id, n) occupancy table).

    Per ingest the cost is O(|batch| · n_lists) broadcast-assign work
    plus a ≤ n_lists-row join — proportional to the batch, never the
    corpus. All derived ratios are built from exact integers (counts
    and 1e-6-floor-quantized similarities), so every column replays
    bit-identically in an external SQL engine: int/int division is
    correctly rounded from identical inputs on both sides, with no
    float-sum order anywhere.

    Returns one row per list (full outer: lists the batch never
    touches and lists newborn in the batch both appear):
    ``list_id, n_base, n_new, share_base, share_new, drift,
    mean_home_sim`` — drift = share_new − share_base (positive: the
    list is over-filling vs the trained distribution), mean_home_sim
    NULL for untouched lists, shares NULL when the respective total
    is zero."""
    assigned = _assign_floorq(batch, centroids, vec_col, id_col)
    newocc = assigned.groupBy("list_id").agg(
        F.count("*").alias("n_new"), F.sum("_sq").alias("_ssq")
    )
    return ivf_drift_report(newocc, baseline_occupancy)


def ivf_drift_report(
    new_occupancy: DataFrame, baseline_occupancy: DataFrame
) -> DataFrame:
    """Finalize the drift report from a batch's per-list occupancy
    aggregate ``(list_id, n_new, _ssq)`` and the persisted baseline
    ``(list_id, n)`` — split out so the STREAMING occupancy snapshot
    (streaming.pipeline.stream_ivf_occupancy) feeds the identical
    finale as the batch path. Only ≤ n_lists-row relations in here."""
    occ = (
        baseline_occupancy.select("list_id", F.col("n").alias("n_base"))
        .join(new_occupancy, "list_id", "full_outer")
        .select(
            "list_id",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            "_ssq",
        )
    )
    tot = occ.agg(
        F.sum("n_base").alias("_tb"), F.sum("n_new").alias("_tn")
    )
    share = lambda n, t: F.floor(  # noqa: E731
        F.col(n) / F.expr(f"nullif(CAST({t} AS DOUBLE), 0.0)") * 1e6
    ) / 1e6
    return (
        occ.crossJoin(F.broadcast(tot))
        .select(
            "list_id",
            "n_base",
            "n_new",
            share("n_base", "_tb").alias("share_base"),
            share("n_new", "_tn").alias("share_new"),
            (
                share("n_new", "_tn") - share("n_base", "_tb")
            ).alias("drift"),
            F.when(
                F.col("n_new") > 0,
                F.floor(F.col("_ssq") / F.col("n_new")) / 1e6,
            ).alias("mean_home_sim"),
        )
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    lam: float = 0.7,
    corpus_vec: str = "embedding",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    query_id: str = "qid",
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein 1998): greedily pick the candidate maximizing
    ``lam * rel(c) - (1-lam) * max_{s in S} sim(c, s)`` — relevance
    traded against redundancy with what's already selected.

    Scale shape: the corpus is touched ONCE — a rounded-cosine
    shortlist per query (WindowGroupLimit: ``shortlist`` rows per query
    leave each partition). Everything after runs on the
    shortlist×shortlist pair table (queries × shortlist² rows, tiny and
    persisted); each greedy step is one anti-join + one max-agg + one
    1-row-per-query window over that table — k driver-side loop
    iterations, no Python in any row path. Relevance, pairwise sims,
    and step scores all round to 6 BEFORE argmax (ties broken by id)
    so external replays select the identical set in the identical
    order.

    Returns (qid, id, rel, mmr_rank) with mmr_rank 1..k in selection
    order.
    """
    from pyspark.sql import Window

    from ..functions.vector import cosine_similarity

    scored = corpus.crossJoin(
        F.broadcast(
            queries.select(F.col(query_id).alias("qid"), F.col(query_vec).alias("_qv"))
        )
    ).select(
        "qid",
        F.col(corpus_id).alias("cid"),
        F.col(corpus_vec).alias("_cv"),
        F.round(cosine_similarity(F.col(corpus_vec), F.col("_qv")), 6).alias("rel"),
    )
    wshort = Window.partitionBy("qid").orderBy(F.desc("rel"), "cid")
    cand = (
        scored.withColumn("_r", F.row_number().over(wshort))
        .filter(F.col("_r") <= shortlist)
        .select("qid", "cid", "_cv", "rel")
        .persist()
    )
    rel = cand.select("qid", "cid", "rel")
    pairs = (
        cand.select("qid", F.col("cid").alias("ca"), F.col("_cv").alias("_va"))
        .join(
            cand.select("qid", F.col("cid").alias("cb"), F.col("_cv").alias("_vb")),
            "qid",
        )
        .filter(F.col("ca") != F.col("cb"))
        .select(
            "qid",
            "ca",
            "cb",
            F.round(cosine_similarity(F.col("_va"), F.col("_vb")), 6).alias("sim"),
        )
        .persist()
    )
    wpick = Window.partitionBy("qid").orderBy(F.desc("_s"), "cid")
    selected = (
        rel.withColumn("_s", F.col("rel"))
        .withColumn("_r", F.row_number().over(wpick))
        .filter(F.col("_r") == 1)
        .select("qid", "cid", "rel", F.lit(1).alias("mmr_rank"))
    )
    for step in range(2, k + 1):
        rem = rel.join(selected.select("qid", "cid"), ["qid", "cid"], "left_anti")
        ms = (
            pairs.join(
                selected.select("qid", F.col("cid").alias("cb")), ["qid", "cb"]
            )
            .groupBy("qid", F.col("ca").alias("cid"))
            .agg(F.max("sim").alias("_maxsim"))
        )
        pick = (
            rem.join(ms, ["qid", "cid"])
            .withColumn(
                "_s",
                F.round(
                    F.lit(lam) * F.col("rel")
                    - F.lit(1.0 - lam) * F.col("_maxsim"),
                    6,
                ),
            )
            .withColumn("_r", F.row_number().over(wpick))
            .filter(F.col("_r") == 1)
            .select("qid", "cid", "rel", F.lit(step).alias("mmr_rank"))
        )
        prev = selected
        selected = selected.unionByName(pick).persist()
        selected.count()  # materialize the new tier before freeing the old
        if prev.is_cached:
            prev.unpersist()
    out = selected.select(
        F.col("qid").alias(query_id),
        F.col("cid").alias(corpus_id),
        "rel",
        "mmr_rank",
    )
    # hand the caller an unpinned plan: collect the (tiny, <= nq*k-row)
    # result out of the cached lineage so the shortlist/pair caches can
    # be released instead of leaking for the application lifetime
    rows = out.collect()
    for df_ in (cand, pairs, selected):
        if df_.is_cached:
            df_.unpersist()
    spark = cand.sparkSession
    return spark.createDataFrame(rows, out.schema)


def _sq_l2_micro(a, b):
    """Exact integer squared L2 between two micro-quantized long
    arrays: per-dim diffs are ~<=1e7 so squares fit int64 with 5
    orders of headroom at 64 dims; bit-identical in any engine."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _nn_descent_driver(ids, mat, k: int, rounds: int, chunk_pairs: int = 4_000_000):
    """Driver fast path for the NN-descent build (the cluster_pairs
    bounded-fast-path pattern): the ENTIRE ring-init + local-join loop
    as vectorized int64 numpy over the collected micro matrix —
    BIT-IDENTICAL to the distributed loop (every op is exact integer
    arithmetic with the same (dist, dst-id) tie order; property-pinned
    by tests). Eight Spark rounds spend ~1s/round on physical planning
    alone at small N; this does the same arithmetic in milliseconds.
    ``ids`` must be sorted ascending (index order == id order, so the
    lexsort tiebreak on index equals the id tiebreak).
    Memory: the local-join candidate EXPANSION folds in ~4M-pair edge
    blocks (incremental per-block _topk — bit-identical to the
    all-at-once fold, see the in-loop note), and fallback distance
    batches are chunked to ~1M pairs, so peak footprint is bounded
    even on hub-heavy corpora where sum-of-deg² is ~N²k."""
    import numpy as np

    n = len(ids)
    kk = min(k, n - 1)
    # Distance kernel: ONE exact float64 Gram matrix (BLAS GEMM), then
    # every candidate distance is three O(1) lookups — dist(i,j) =
    # n_i + n_j − 2·G[i,j]. Exact because every product and partial
    # sum is an INTEGER below 2^53: integers are closed and exact in
    # float64 there regardless of the BLAS summation order. When the
    # 4·dim·max² envelope doesn't fit 2^53, fall back to chunked
    # int64 per-pair arithmetic (identical values, slower).
    dim = mat.shape[1] if mat.ndim == 2 else 0
    max_abs = float(np.abs(mat).max()) if mat.size else 0.0
    exact_f64 = 4.0 * max_abs * max_abs * max(dim, 1) < 2.0**53
    if exact_f64:
        fmat = mat.astype(np.float64)
        norms = np.einsum("ij,ij->i", fmat, fmat)
        gram = fmat @ fmat.T

        gram_flat = gram.ravel()

        def _dists(a_idx, b_idx):
            # flat-index take beats 2-D fancy indexing for pair gathers
            g = np.take(gram_flat, a_idx * np.int64(n) + b_idx)
            return (norms[a_idx] + norms[b_idx] - 2.0 * g).astype(
                np.int64
            )

    else:

        def _dists(a_idx, b_idx):
            out = np.empty(len(a_idx), dtype=np.int64)
            for lo in range(0, len(a_idx), 1_000_000):
                hi = min(lo + 1_000_000, len(a_idx))
                d = mat[a_idx[lo:hi]] - mat[b_idx[lo:hi]]
                out[lo:hi] = np.einsum("ij,ij->i", d, d)
            return out

    def _dedupe_pairs(src, dst, dist):
        # dedupe exact (src, dst) pairs — dist is a pure function, so
        # ANY occurrence carries the identical value (plain quicksort
        # argsort, no stable/unique machinery needed)
        key = src * np.int64(n) + dst
        o = np.argsort(key, kind="quicksort")
        sk = key[o]
        first = np.r_[True, sk[1:] != sk[:-1]]
        uq = o[first]
        return src[uq], dst[uq], dist[uq]

    def _topk(src, dst, dist, assume_unique=False):
        # per-src top-k by (dist, dst index == dst id order) over
        # deduped (src, dst) pairs
        if not assume_unique:
            src, dst, dist = _dedupe_pairs(src, dst, dist)
        # (dist, dst) packs into ONE int64 sort key whenever
        # dist*n + dst cannot overflow — dst < n, so the packed key
        # orders exactly like the (dist, dst) pair; one fewer radix
        # pass per round than the 3-key lexsort
        dmax = int(dist.max()) if len(dist) else 0
        if dmax < (2**62) // max(n, 1):
            order = np.lexsort((dist * np.int64(n) + dst, src))
        else:
            order = np.lexsort((dst, dist, src))
        src, dst, dist = src[order], dst[order], dist[order]
        boundaries = np.r_[True, src[1:] != src[:-1]]
        starts = np.flatnonzero(boundaries)
        lens = np.diff(np.r_[starts, len(src)])
        ranks = np.arange(len(src)) - np.repeat(starts, lens)
        keep = ranks < k
        return src[keep], dst[keep], dist[keep]

    idx = np.arange(n, dtype=np.int64)
    src = np.repeat(idx, kk)
    dst = (src + np.tile(np.arange(1, kk + 1, dtype=np.int64), n)) % n
    m = src != dst
    src, dst = src[m], dst[m]
    src, dst, dist = _topk(src, dst, _dists(src, dst))
    # candidate-expansion chunk bound: the local join proposes
    # sum-of-deg² pairs, which on duplicate-heavy/hub corpora near the
    # node cap is ~N²k entries — tens of GB if materialized at once.
    # Chunked folding is BIT-IDENTICAL to the all-at-once _topk: the k
    # kept per src are the strictly smallest (total order after the
    # exact-pair dedupe), so a discarded candidate can never re-enter
    # the final top-k, and a duplicate pair re-proposed in a later
    # chunk carries the identical (dist, dst) struct.
    for _ in range(rounds):
        us = np.concatenate([src, dst])
        ud = np.concatenate([dst, src])
        ukey = np.unique(us * np.int64(n) + ud)
        us, ud = ukey // n, ukey % n
        # local join: for every undirected edge (s, d), propose
        # (s, every undirected neighbor of d)
        order2 = np.argsort(us, kind="stable")
        gs, gd = us[order2], ud[order2]
        cnt = np.bincount(gs, minlength=n)
        start = np.r_[np.int64(0), np.cumsum(cnt)][:-1]
        rep = cnt[ud]
        cum = np.cumsum(rep)
        nsrc, ndst, ndist = src, dst, dist
        lo = 0
        while lo < len(us):
            base = int(cum[lo - 1]) if lo > 0 else 0
            hi = int(np.searchsorted(cum, base + chunk_pairs, "left")) + 1
            hi = min(max(hi, lo + 1), len(us))
            bs, bd, brep = us[lo:hi], ud[lo:hi], rep[lo:hi]
            btotal = int(brep.sum())
            cs = np.repeat(bs, brep)
            offs = (
                np.repeat(start[bd], brep)
                + np.arange(btotal, dtype=np.int64)
                - np.repeat(np.r_[np.int64(0), np.cumsum(brep)][:-1], brep)
            )
            cd = gd[offs]
            m2 = cs != cd
            cs, cd = cs[m2], cd[m2]
            ps = np.concatenate([nsrc, cs])
            pdst = np.concatenate([ndst, cd])
            pdist = np.concatenate([ndist, _dists(cs, cd)])
            nsrc, ndst, ndist = _topk(ps, pdst, pdist)
            lo = hi
        same = (
            len(nsrc) == len(src)
            and bool((nsrc == src).all())
            and bool((ndst == dst).all())
        )
        src, dst, dist = nsrc, ndst, ndist
        if same:
            break  # fixed point — further rounds reproduce it
    return ids[src], ids[dst], dist


def nn_descent_graph(
    df: DataFrame,
    k: int = 6,
    rounds: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate kNN GRAPH by NN-descent (Dong et al. 2011, public):
    start from a deterministic ring over the id order, then each round
    proposes neighbors-of-neighbors over the UNDIRECTED current graph
    (the paper's local-join) and keeps the k best per node by exact
    integer squared L2 on the micro-quantized vectors (ties by
    neighbor id — bit-deterministic, so the whole build replays in any
    engine). This is the offline build for a graph-served ANN index —
    what HNSW-backed stores (the reference's Qdrant,
    qdrant_text_loader.py:25) serve from.

    Distributed shape: candidate generation is ONE self-equi-join of
    the undirected edge list per round (O(N * (2k)^2) candidate rows),
    scoring joins the bounded (N x k)-row candidate set back to the
    quantized vectors, per-node top-k is a per-key WindowGroupLimit
    (never a global window), and every round ends in localCheckpoint
    (the cluster_pairs lineage lesson). Returns (src, dst, dist)."""
    from pdf_to_vectordb_etl_spark.operators.suffixes import (
        global_row_number,
    )
    from pdf_to_vectordb_etl_spark.operators.valuation import (
        _quantize_micro,
    )
    from pyspark.sql import Window

    spark = df.sparkSession
    qv = df.select(
        F.col(id_col).alias("id"), _quantize_micro(vec_col).alias("q")
    )
    # bounded driver fast path (the cluster_pairs pattern): below the
    # cap, ONE limit-probed collect of the micro-int matrix (cap × dim
    # longs — skipping the distributed path's range-partitioned
    # row-number + checkpoint + count machinery entirely, r10) and the
    # whole ring-init + local-join loop runs as vectorized exact int64
    # numpy — identical graph by construction (integer arithmetic,
    # same tie order; property-pinned), while the Spark loop pays ~1s
    # of physical planning per round regardless of data size. Above
    # the cap, or under SPARK_GRAFT_PLACEMENT=distributed, the
    # distributed join path below runs (placement: bounded_collect).
    rows = bounded_collect(qv, FAST_PATH_MAX_NODES)
    if rows is not None:
        if len(rows) <= 1:
            return spark.createDataFrame(
                [], "src bigint, dst bigint, dist bigint"
            )
        import numpy as np
        import pandas as pd

        ids = np.array([x["id"] for x in rows], dtype=np.int64)
        mat = np.array([x["q"] for x in rows], dtype=np.int64)
        order = np.argsort(ids)
        s_ids, d_ids, dists = _nn_descent_driver(
            ids[order], np.ascontiguousarray(mat[order]), k, rounds
        )
        return spark.createDataFrame(
            pd.DataFrame({"src": s_ids, "dst": d_ids, "dist": dists}),
            schema="src bigint, dst bigint, dist bigint",
        )
    r = global_row_number(qv, ["id"], "rid").localCheckpoint(eager=True)
    n_total = r.count()
    if n_total <= 1:
        return spark.createDataFrame(
            [], "src bigint, dst bigint, dist bigint"
        )
    ring = r.select(
        "id",
        "q",
        "rid",
        F.explode(
            F.sequence(F.lit(1), F.lit(min(k, n_total - 1)))
        ).alias("j"),
    ).select(
        F.col("id").alias("src"),
        F.col("q").alias("qs"),
        (((F.col("rid") - 1 + F.col("j")) % n_total) + 1).alias("drid"),
    )
    right = r.select(
        F.col("rid").alias("drid"),
        F.col("id").alias("dst"),
        F.col("q").alias("qd"),
    )
    g = (
        ring.join(right, "drid")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst", _sq_l2_micro("qs", "qd").alias("dist"))
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        und = (
            g.select("src", "dst")
            .union(g.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .distinct()
        )
        # distributed path: attach vectors to the k-BOUNDED
        # undirected edge list BEFORE the local join — the join
        # output (the N·(2k)² candidate set) scores in a narrow
        # projection and only (src, dst, dist) triples shuffle;
        # attaching AFTER would move a factor-k more vector bytes.
        # Duplicate (src, dst) candidates score twice before the
        # dedup, but dist is a pure function — the surviving row
        # is identical either way.
        lv = und.join(
            r.select(F.col("id").alias("src"), F.col("q").alias("qs")),
            "src",
        )
        rv = und.select(
            F.col("src").alias("mid"), F.col("dst").alias("dst2")
        ).join(
            r.select(F.col("id").alias("dst2"), F.col("q").alias("qd")),
            "dst2",
        )
        scored = (
            lv.join(rv, lv["dst"] == rv["mid"])
            .filter(F.col("src") != F.col("dst2"))
            .select(
                "src",
                F.col("dst2").alias("dst"),
                _sq_l2_micro("qs", "qd").alias("dist"),
            )
        )
        # dedupe + per-node top-k fused into ONE shuffle (r9): collect
        # the bounded candidate structs per src (<= k + (2k)^2 rows by
        # construction), array_distinct kills duplicate pairs (dist is
        # a pure function — duplicates are identical structs),
        # array_sort orders by (dist, dst) exactly like the old
        # row_number window, slice keeps k. Replaces two
        # dropDuplicates exchanges plus a window exchange.
        pool = g.unionByName(scored)
        g_new = (
            pool.groupBy("src")
            .agg(
                F.slice(
                    F.array_sort(
                        F.array_distinct(
                            F.collect_list(F.struct("dist", "dst"))
                        )
                    ),
                    1,
                    k,
                ).alias("_top")
            )
            .select(
                "src",
                F.explode("_top").alias("_e"),
            )
            .select("src", F.col("_e.dst").alias("dst"), F.col("_e.dist").alias("dist"))
            .select("src", "dst", "dist")
            .localCheckpoint(eager=False)
        )
        # ONE action per round: materializes the lazy checkpoint AND
        # probes for convergence (left-anti on the full triple — a
        # bounded N·k join, broadcastable when small). A round that
        # changes nothing is a FIXED POINT — every further round
        # reproduces it (und/cand/scored are deterministic functions
        # of g), so breaking early is invisible to the unrolled
        # full-rounds oracle replay.
        changed = (
            g_new.join(g, ["src", "dst", "dist"], "left_anti")
            .limit(1)
            .count()
        )
        g = g_new
        if changed == 0:
            break
    return g


def _graph_csr(src_ids, dst_ids, c_ids):
    """Map a (src, dst) edge list onto corpus-INDEX space and build
    the CSR adjacency. Edges whose endpoint is absent from the sorted
    ``c_ids`` are DROPPED, exactly like the distributed equi-joins.
    Returns (gd, start, cnt): out-neighbor corpus indices grouped by
    source, per-source slice starts and counts."""
    import numpy as np

    n = len(c_ids)
    if n == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z
    si = np.searchsorted(c_ids, src_ids)
    di = np.searchsorted(c_ids, dst_ids)
    ok = (
        (c_ids[np.minimum(si, n - 1)] == src_ids)
        & (c_ids[np.minimum(di, n - 1)] == dst_ids)
    )
    si, di = si[ok], di[ok]
    order = np.argsort(si, kind="stable")
    gs, gd = si[order], di[order]
    cnt = np.bincount(gs, minlength=n)
    start = np.r_[np.int64(0), np.cumsum(cnt)][:-1]
    return gd, start, cnt


def _beam_probe_core(gd, start, cnt, c_mat, p_mat, hops, beam):
    """The hops-round beam loop in corpus-INDEX space — vectorized
    exact-int64 numpy, BIT-IDENTICAL to the distributed loop (same
    integer arithmetic, same (dist, cand) beam tie order — the caller
    passes an id-SORTED corpus so index order == id order; dedupe on
    (probe, cand) where dist is a pure function; property-pinned).
    Shared by the driver fast path AND the hop-fused distributed
    (mapInPandas) path, so the two can never drift. Returns (P probe
    index, C corpus index, D dist) arrays — the visited set."""
    import numpy as np

    n = c_mat.shape[0] if c_mat.ndim == 2 else 0
    nq = p_mat.shape[0] if p_mat.ndim == 2 else 0
    if n == 0 or nq == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z

    def _dists(p_idx, c_idx):
        # chunked exact int64 per-pair arithmetic — the identical
        # (x−y)² sum the distributed _sq_l2_micro fold computes
        out = np.empty(len(p_idx), dtype=np.int64)
        for lo in range(0, len(p_idx), 1_000_000):
            hi = min(lo + 1_000_000, len(p_idx))
            d = p_mat[p_idx[lo:hi]] - c_mat[c_idx[lo:hi]]
            out[lo:hi] = np.einsum("ij,ij->i", d, d)
        return out

    P = np.arange(nq, dtype=np.int64)
    C = np.zeros(nq, dtype=np.int64)  # entry node = min corpus id
    D = _dists(P, C)
    for _ in range(hops):
        # frontier: per probe the beam smallest (dist, cand-id) —
        # the distributed row_number window's exact order
        order2 = np.lexsort((C, D, P))
        sP, sC = P[order2], C[order2]
        bnd = np.r_[True, sP[1:] != sP[:-1]]
        starts = np.flatnonzero(bnd)
        lens = np.diff(np.r_[starts, len(sP)])
        ranks = np.arange(len(sP)) - np.repeat(starts, lens)
        keep = ranks < beam
        fP, fC = sP[keep], sC[keep]
        rep = cnt[fC]
        total = int(rep.sum())
        if total == 0:
            # no frontier node has an out-edge: the visited set is a
            # fixed point — every further hop reproduces it
            break
        eP = np.repeat(fP, rep)
        offs = (
            np.repeat(start[fC], rep)
            + np.arange(total, dtype=np.int64)
            - np.repeat(np.r_[np.int64(0), np.cumsum(rep)][:-1], rep)
        )
        eC = gd[offs]
        eD = _dists(eP, eC)
        aP = np.concatenate([P, eP])
        aC = np.concatenate([C, eC])
        aD = np.concatenate([D, eD])
        key = aP * np.int64(n) + aC
        _, uq = np.unique(key, return_index=True)
        P, C, D = aP[uq], aC[uq], aD[uq]
    return P, C, D


def _beam_probe_driver(src_ids, dst_ids, c_ids, c_mat, p_ids, p_mat, hops, beam):
    """Driver fast path for the beam probe (the _nn_descent_driver
    pattern): CSR-map the k-bounded edge list onto the id-sorted
    corpus (:func:`_graph_csr`) and run the whole hops-round loop as
    vectorized exact-int64 numpy (:func:`_beam_probe_core`). Each
    distributed hop costs a join cascade of physical planning
    regardless of data size; this does the identical arithmetic in
    milliseconds. Returns (qid, cand, dist) id-space arrays — the
    visited set."""
    import numpy as np

    n = len(c_ids)
    nq = len(p_ids)
    if n == 0 or nq == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z
    gd, start, cnt = _graph_csr(src_ids, dst_ids, c_ids)
    P, C, D = _beam_probe_core(gd, start, cnt, c_mat, p_mat, hops, beam)
    return p_ids[P], c_ids[C], D


def _beam_probe_fast_arrays(
    graph, corpus, probes, hops, beam, vec_col, id_col,
    return_panels: bool = False,
):
    """Collect-and-run wrapper around :func:`_beam_probe_driver`:
    quantize + limit-probe-collect the corpus/probe panels and the
    k-bounded edge list, run the driver loop, and return the visited
    (qid, cand, dist) int64 arrays — or ``None`` when
    :func:`bounded_collect` declines (placement or a cap), in which
    case the caller falls back to its distributed plan. Shared by the
    beam-probe, incremental-assign and tombstone-search serving
    operators so each can finish its per-probe top-k on the driver and
    ship only the k-bounded RESULT back into Spark."""
    from pdf_to_vectordb_etl_spark.operators.valuation import (
        _quantize_micro,
    )

    c_rows = bounded_collect(
        corpus.select(
            F.col(id_col).alias("cid"), _quantize_micro(vec_col).alias("cq")
        ),
        FAST_PATH_MAX_NODES,
    )
    if c_rows is None:
        return None
    p_rows = bounded_collect(
        probes.select(
            F.col(id_col).alias("qid"), _quantize_micro(vec_col).alias("pq")
        ),
        FAST_PATH_MAX_PROBES,
    )
    if p_rows is None:
        return None
    # limit-probe the edge list too (ADVICE r10): the k-bounded-graph
    # contract caps edges at nodes * k, but a caller passing duplicate
    # edges or a huge k must fall back instead of OOMing the driver.
    # 64 comfortably exceeds every k this engine builds (<= 16).
    g_rows = bounded_collect(
        graph.select("src", "dst"), FAST_PATH_MAX_NODES * 64
    )
    if g_rows is None:
        return None
    import numpy as np

    c_ids = np.array([r["cid"] for r in c_rows], dtype=np.int64)
    c_mat = np.array([r["cq"] for r in c_rows], dtype=np.int64)
    c_ord = np.argsort(c_ids)
    p_ids = np.array([r["qid"] for r in p_rows], dtype=np.int64)
    p_mat = (
        np.array([r["pq"] for r in p_rows], dtype=np.int64)
        if p_rows
        else np.zeros(
            (0, c_mat.shape[1] if c_mat.ndim == 2 else 0), dtype=np.int64
        )
    )
    # duplicate probe ids would make the distributed dropDuplicates
    # nondeterministic; keep the first occurrence (callers pass
    # unique ids). The panel is returned id-sorted — per-probe work is
    # independent, so ordering cannot change any result row, and a
    # sorted panel lets consumers map ids back with searchsorted.
    p_vals, p_first = np.unique(p_ids, return_index=True)
    c_ids_s = c_ids[c_ord]
    c_mat_s = np.ascontiguousarray(c_mat[c_ord])
    p_ids_u = p_vals
    p_mat_u = np.ascontiguousarray(p_mat[p_first])
    visited = _beam_probe_driver(
        np.array([r["src"] for r in g_rows], dtype=np.int64),
        np.array([r["dst"] for r in g_rows], dtype=np.int64),
        c_ids_s,
        c_mat_s,
        p_ids_u,
        p_mat_u,
        hops,
        beam,
    )
    if return_panels:
        return visited, (c_ids_s, c_mat_s, p_ids_u, p_mat_u)
    return visited


def _topk_per_qid(qid, cand, dist, k):
    """Per-qid top-k mask over (qid, cand, dist) arrays by
    (dist, cand) ascending — the exact order of the distributed
    ``row_number().over(partitionBy(qid).orderBy(dist, cand)) <= k``
    (cand is unique within a qid after the visited-set dedupe, so the
    rank is total). Returns the boolean keep mask."""
    import numpy as np

    order = np.lexsort((cand, dist, qid))
    sq = qid[order]
    bnd = np.r_[True, sq[1:] != sq[:-1]]
    starts = np.flatnonzero(bnd)
    lens = np.diff(np.r_[starts, len(sq)])
    ranks = np.arange(len(sq)) - np.repeat(starts, lens)
    keep = np.zeros(len(sq), dtype=bool)
    keep[order] = ranks < k
    return keep


def _beam_probe_bsp(
    graph,
    corpus,
    probes,
    hops,
    beam,
    vec_col,
    id_col,
):
    """Hop-FUSED distributed beam probe (r11): the join-cascade
    fallback pays one graph equi-join + one corpus equi-join + one
    per-probe window + one checkpoint PER HOP — ``hops`` barrier
    cascades at any scale. In the serving regime the index artifact
    (quantized corpus panel + k-bounded edge list) is bounded while
    the probe panel is not; when the artifact fits a broadcast, ship
    it to the executors ONCE and run every hop of every probe inside
    one ``mapInPandas`` pass over the probe partitions (guide §3
    "broadcast the small side", §4 "vectorized kernel per batch") —
    the per-hop Exchanges disappear and the probe panel never
    shuffles. Per-probe work is independent and the kernel is the
    SAME :func:`_beam_probe_core` the driver fast path runs, so the
    visited set is bit-identical to both other paths (parity-pinned);
    the final ``dropDuplicates`` reproduces the cascade's set
    semantics for duplicate probe ids (identical rows — dist is a
    pure function — so it only collapses, never chooses).

    Returns the visited (qid, cand, dist) DataFrame, or ``None`` when
    the artifact exceeds the caps or under
    ``SPARK_GRAFT_PLACEMENT=cascade`` (the join cascade then runs)."""
    import numpy as np

    from pdf_to_vectordb_etl_spark.operators.valuation import (
        _quantize_micro,
    )

    spark = corpus.sparkSession
    c_rows = bounded_collect(
        corpus.select(
            F.col(id_col).alias("cid"), _quantize_micro(vec_col).alias("cq")
        ),
        BSP_MAX_NODES,
        "broadcast",
    )
    if c_rows is None:
        return None
    g_pdf = bounded_collect(
        graph.select("src", "dst"), BSP_MAX_EDGES, "broadcast", as_pandas=True
    )
    if g_pdf is None:
        return None
    c_ids = np.array([r["cid"] for r in c_rows], dtype=np.int64)
    c_mat = np.array([r["cq"] for r in c_rows], dtype=np.int64)
    c_ord = np.argsort(c_ids)
    c_ids_s = c_ids[c_ord]
    c_mat_s = np.ascontiguousarray(c_mat[c_ord]) if len(c_rows) else c_mat
    gd, gstart, gcnt = _graph_csr(
        g_pdf["src"].to_numpy(np.int64),
        g_pdf["dst"].to_numpy(np.int64),
        c_ids_s,
    )
    bc = spark.sparkContext.broadcast((c_ids_s, c_mat_s, gd, gstart, gcnt))
    dim = c_mat_s.shape[1] if c_mat_s.ndim == 2 else 0

    def _run(batches):
        import numpy as np
        import pandas as pd

        cb_ids, cb_mat, bgd, bstart, bcnt = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            p_ids = pdf["qid"].to_numpy(np.int64)
            p_mat = (
                np.array(list(pdf["pq"]), dtype=np.int64)
                if dim
                else np.zeros((len(p_ids), 0), dtype=np.int64)
            )
            # first occurrence per probe id within the batch — the
            # driver fast path's convention; identical duplicates
            # across batches collapse in the dropDuplicates below
            u_vals, u_first = np.unique(p_ids, return_index=True)
            P, C, D = _beam_probe_core(
                bgd,
                bstart,
                bcnt,
                cb_mat,
                np.ascontiguousarray(p_mat[u_first]),
                hops,
                beam,
            )
            yield pd.DataFrame(
                {"qid": u_vals[P], "cand": cb_ids[C], "dist": D}
            )

    pv = probes.select(
        F.col(id_col).alias("qid"), _quantize_micro(vec_col).alias("pq")
    )
    return pv.mapInPandas(
        _run, "qid bigint, cand bigint, dist bigint"
    ).dropDuplicates(["qid", "cand"])


def nn_descent_beam_probe(
    graph: DataFrame,
    corpus: DataFrame,
    probes: DataFrame,
    hops: int = 3,
    beam: int = 8,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Beam-search probe over a persisted neighbor graph (the greedy
    search of HNSW's base layer, Malkov & Yashunin 2016, public):
    start every probe at the deterministic entry node (min corpus id),
    then ``hops`` rounds of (expand the current beam's out-neighbors,
    score exactly, keep the ``beam`` best VISITED per probe). Returns
    the visited set (qid, cand, dist) — callers take top-k for answers
    and its size for the candidates-touched cost metric.

    Bounded by construction: |visited| <= 1 + hops * beam * k per
    probe; the probe panel is broadcast; the only corpus-sized
    relation is the one graph equi-join per hop.

    Below ``FAST_PATH_MAX_NODES`` corpus rows and
    ``FAST_PATH_MAX_PROBES`` probes, the whole loop runs on the driver
    over the collected micro matrices + k-bounded edge list
    (:func:`_beam_probe_driver`) — bit-identical visited set,
    property-pinned. Otherwise the hop-FUSED distributed path runs
    when the index artifact fits a broadcast (:func:`_beam_probe_bsp`,
    r11 — one mapInPandas pass instead of a join cascade per hop); the
    join cascade (:func:`_beam_probe_distributed`) is the final
    fallback. ``SPARK_GRAFT_PLACEMENT`` (:func:`bounded_collect`) can
    force either distributed path."""
    res = _beam_probe_fast_arrays(
        graph, corpus, probes, hops, beam, vec_col, id_col
    )
    if res is not None:
        import pandas as pd

        qid_a, cand_a, dist_a = res
        return corpus.sparkSession.createDataFrame(
            pd.DataFrame({"qid": qid_a, "cand": cand_a, "dist": dist_a}),
            schema="qid bigint, cand bigint, dist bigint",
        )
    return _beam_probe_distributed(
        graph, corpus, probes, hops, beam, vec_col, id_col
    )


def _beam_probe_distributed(graph, corpus, probes, hops, beam, vec_col, id_col):
    """The beam probe's executor placements: the hop-fused BSP pass
    when the index artifact fits a broadcast, else the per-hop join
    cascade. Returns the visited (qid, cand, dist) DataFrame."""
    from pdf_to_vectordb_etl_spark.operators.valuation import (
        _quantize_micro,
    )
    from pyspark.sql import Window

    bsp = _beam_probe_bsp(
        graph, corpus, probes, hops, beam, vec_col, id_col
    )
    if bsp is not None:
        return bsp
    qv = corpus.select(
        F.col(id_col).alias("cid"), _quantize_micro(vec_col).alias("cq")
    ).localCheckpoint(eager=True)
    pv = probes.select(
        F.col(id_col).alias("qid"), _quantize_micro(vec_col).alias("pq")
    ).localCheckpoint(eager=True)
    entry = qv.orderBy("cid").limit(1)
    visited = (
        pv.crossJoin(F.broadcast(entry))
        .select(
            "qid",
            "pq",
            F.col("cid").alias("cand"),
            _sq_l2_micro("pq", "cq").alias("dist"),
        )
        .localCheckpoint(eager=True)
    )
    wb = Window.partitionBy("qid").orderBy("dist", "cand")
    for _ in range(hops):
        frontier = (
            visited.withColumn("_rk", F.row_number().over(wb))
            .filter(F.col("_rk") <= beam)
            .select("qid", "pq", F.col("cand").alias("src"))
        )
        expanded = (
            frontier.join(graph.select("src", "dst"), "src")
            .join(
                qv.select(F.col("cid").alias("dst"), F.col("cq")), "dst"
            )
            .select(
                "qid",
                "pq",
                F.col("dst").alias("cand"),
                _sq_l2_micro("pq", "cq").alias("dist"),
            )
        )
        # LAZY checkpoint (r9): lineage still truncates at every hop
        # (bounded RDD DAG, each hop's blocks cached on first compute
        # so the double reference — frontier + union — scans once),
        # but the per-hop eager job disappears: the caller's first
        # action materializes all hops in one job cascade, cutting
        # ``hops`` scheduler round-trips of pure fixed overhead.
        visited = (
            visited.unionByName(expanded)
            .dropDuplicates(["qid", "cand"])
            .localCheckpoint(eager=False)
        )
    return visited.select("qid", "cand", "dist")


def nn_descent_incremental_assign(
    graph: DataFrame,
    corpus: DataFrame,
    newvecs: DataFrame,
    k: int = 6,
    hops: int = 3,
    beam: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Ingest-time maintenance for a persisted NN-descent graph
    artifact — the graph twin of ``ivf_incremental_assign`` (:249):
    each NEW vector beam-probes the EXISTING graph exactly like a
    serving query (:func:`nn_descent_beam_probe`) and adopts its ``k``
    nearest visited nodes as its adjacency, so the index absorbs
    appends without a rebuild; a periodic :func:`nn_descent_graph`
    re-descent refreshes recall the way ``ivf_drift_report`` triggers
    re-training. This is how a graph-served vector store actually
    ingests (the reference's Qdrant maintains its HNSW graph across
    upserts, qdrant_text_loader.py:202-214).

    Exact and bounded: integer micro-L2 scores, ties by id, per-probe
    visited set <= 1 + hops*beam*k_graph rows, per-new-vector top-k via
    a key-partitioned WindowGroupLimit. Returns (src=new id, dst,
    dist) — bit-deterministic, so the whole assign replays in DuckDB.

    On the bounded driver fast path the per-probe top-k fuses into the
    beam loop, so only the k-bounded adjacency (|new|·k rows) crosses
    back into Spark — never the full visited set."""
    from pyspark.sql import Window

    res = _beam_probe_fast_arrays(
        graph, corpus, newvecs, hops, beam, vec_col, id_col
    )
    if res is not None:
        import pandas as pd

        qid, cand, dist = res
        keep = _topk_per_qid(qid, cand, dist, k)
        return corpus.sparkSession.createDataFrame(
            pd.DataFrame(
                {"src": qid[keep], "dst": cand[keep], "dist": dist[keep]}
            ),
            schema="src bigint, dst bigint, dist bigint",
        )
    visited = _beam_probe_distributed(
        graph, corpus, newvecs, hops, beam, vec_col, id_col
    )
    w = Window.partitionBy("qid").orderBy("dist", "cand")
    return (
        visited.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(
            F.col("qid").alias("src"),
            F.col("cand").alias("dst"),
            "dist",
        )
    )


def nn_descent_drift_report(
    base_graph: DataFrame, assigned: DataFrame
) -> DataFrame:
    """Drift report for a persisted NN-descent graph artifact — the
    graph twin of :func:`ivf_drift_report` (:287), closing the
    maintenance loop :func:`nn_descent_incremental_assign` opens: the
    base graph absorbs appends edge-by-edge, and THIS report measures
    when the accumulated assigns have drifted far enough from the
    trained distribution that a full re-descent (rebuild) is due —
    exactly how ivf_drift_report triggers quantizer retraining, and
    how a graph-served store rebalances its HNSW graph across upserts
    (the reference's Qdrant, qdrant_text_loader.py:202-214).

    Per base-graph node (the graph analogue of an IVF list — new
    vectors "occupy" the nodes they adopt as neighbors): in-degree
    under the base build vs under the adopted assign edges, exact
    micro-share of each, drift = share_new − share_base (positive: new
    mass is concentrating on this node — the hub-formation signal),
    and the integer-floor mean adopted-edge distance vs the base
    build's mean in-edge distance (rising: new vectors are FAR from
    their adopted neighborhood — the recall-degradation signal).

    All ratios from exact integers (counts, exact integer micro-L2
    dists; sums as DECIMAL(38,0) so corpus-scale edge sums cannot
    wrap), so every column replays bit-identically in an external SQL
    engine. Input relations are k-bounded edge lists; output is one
    row per touched node (full outer: base nodes the assigns never
    touch and adopted nodes outside the base in-degree set both
    appear).

    Returns ``node, n_base, n_new, share_base, share_new, drift,
    mean_dist_base, mean_dist_new`` (means NULL for untouched sides,
    shares NULL when the respective edge total is zero)."""
    # ONE shuffle for the whole per-node occupancy state (r10): tag
    # each side and aggregate the union — replaces two separate
    # groupBy exchanges plus the full-outer join exchange. Conditional
    # sums reproduce the full-outer semantics exactly: a node absent
    # from one side gets count 0 and a NULL distance sum, just as the
    # outer join left them.
    both = base_graph.select(
        F.col("dst").alias("node"),
        F.col("dist"),
        F.lit(0).alias("_side"),
    ).unionByName(
        assigned.select(
            F.col("dst").alias("node"),
            F.col("dist"),
            F.lit(1).alias("_side"),
        )
    )
    is_b = F.col("_side") == 0
    occ = both.groupBy("node").agg(
        F.coalesce(F.sum(F.when(is_b, 1)), F.lit(0))
        .cast("long")
        .alias("n_base"),
        F.coalesce(F.sum(F.when(~is_b, 1)), F.lit(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(is_b, F.col("dist").cast("decimal(38,0)"))).alias(
            "_sb"
        ),
        F.sum(F.when(~is_b, F.col("dist").cast("decimal(38,0)"))).alias(
            "_sn"
        ),
    )
    tot = occ.agg(
        F.sum("n_base").cast("long").alias("_tb"),
        F.sum("n_new").cast("long").alias("_tn"),
    )
    share = lambda n, t: F.expr(  # noqa: E731
        f"CASE WHEN {t} > 0 THEN"
        f" (CAST({n} AS DECIMAL(38,0)) * 1000000 div {t}) / 1e6 END"
    )
    mean_d = lambda s, n: F.expr(  # noqa: E731
        # dists nonneg => floor == truncate, both engines agree; the
        # quotient is one edge distance, BIGINT-safe
        f"CASE WHEN {n} > 0 THEN CAST({s} div {n} AS BIGINT) END"
    )
    return occ.crossJoin(F.broadcast(tot)).select(
        "node",
        "n_base",
        "n_new",
        share("n_base", "_tb").alias("share_base"),
        share("n_new", "_tn").alias("share_new"),
        (share("n_new", "_tn") - share("n_base", "_tb")).alias("drift"),
        mean_d("_sb", "n_base").alias("mean_dist_base"),
        mean_d("_sn", "n_new").alias("mean_dist_new"),
    )


def nn_descent_refresh_trigger(
    report: DataFrame,
    drift_threshold_micro: int = 50_000,
    dist_ratio_pct: int = 200,
) -> DataFrame:
    """Refresh decision over a :func:`nn_descent_drift_report` — one
    row the index operator alerts on, mirroring how ivf_drift_report's
    consumers decide a retrain. ``refresh_due`` fires when EITHER (a)
    some node's occupancy share drifted more than
    ``drift_threshold_micro``/1e6 in absolute value (hub formation /
    abandonment), or (b) the global mean adopted-edge distance exceeds
    ``dist_ratio_pct``% of the base build's mean edge distance (new
    vectors landing far from their adopted neighborhoods — recall has
    degraded). Test (b) is the exact integer cross-multiply
    sum_new·n_base_edges·100 > pct·sum_base·n_new_edges (DECIMAL — no
    division at all), and (a) compares engine-identical q6 doubles to
    an exact grid literal, so the boolean replays bit-identically.

    Input is the ≤-node-count report; everything here is one bounded
    aggregate. Returns ``n_nodes, n_base_edges, n_new_edges,
    max_abs_drift, mean_dist_base, mean_dist_new, refresh_due``."""
    agg = report.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum("n_base").cast("long").alias("n_base_edges"),
        F.sum("n_new").cast("long").alias("n_new_edges"),
        F.max(F.abs(F.col("drift"))).alias("max_abs_drift"),
        F.sum(
            F.col("mean_dist_base").cast("decimal(38,0)")
            * F.col("n_base")
        ).alias("_sb"),
        F.sum(
            F.col("mean_dist_new").cast("decimal(38,0)") * F.col("n_new")
        ).alias("_sn"),
    )
    return agg.selectExpr(
        "n_nodes",
        "n_base_edges",
        "n_new_edges",
        "max_abs_drift",
        "CASE WHEN n_base_edges > 0 THEN"
        " CAST(_sb div n_base_edges AS BIGINT) END AS mean_dist_base",
        "CASE WHEN n_new_edges > 0 THEN"
        " CAST(_sn div n_new_edges AS BIGINT) END AS mean_dist_new",
        f"coalesce(max_abs_drift > {drift_threshold_micro} / 1e6"
        " OR (n_base_edges > 0 AND n_new_edges > 0"
        "     AND _sn * CAST(n_base_edges AS DECIMAL(38,0)) * 100"
        f"        > {dist_ratio_pct} * _sb"
        "          * CAST(n_new_edges AS DECIMAL(38,0))), false)"
        " AS refresh_due",
    )


def nn_descent_tombstone_search(
    graph: DataFrame,
    corpus: DataFrame,
    probes: DataFrame,
    deletions: DataFrame,
    k: int = 10,
    hops: int = 3,
    beam: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Tombstone-aware serving over a persisted NN-descent graph —
    the deletion half of the artifact lifecycle (a real vector store
    deletes: the reference's per-subject Qdrant re-upserts imply
    overwrite/delete, qdrant_text_loader.py:285-299). Deleted ids
    become TOMBSTONES, not holes: the beam probe still routes THROUGH
    them (the graph artifact is untouched — deleting edges would
    disconnect regions and cost recall), but they are anti-joined out
    of the visited set before the final top-k, so a deleted id can
    never be SERVED and the next-nearest visited node surfaces in its
    place. The deletions artifact is a small id list — broadcast
    anti-join, zero extra shuffle; compaction (an actual rebuild
    without the tombstoned rows) is signalled by
    :func:`ann_compaction_signal` when the tombstone share crosses the
    threshold.

    Exact integer micro-L2, ties by id — replays in DuckDB. Returns
    (qid, cand, dist), top-``k`` live candidates per probe.

    On the bounded driver fast path the tombstone mask and the
    per-probe top-k fuse into the beam loop (the deletions artifact is
    collected — it is bounded by the corpus cap by contract), so only
    the k-bounded result crosses back into Spark."""
    from pyspark.sql import Window

    res = _beam_probe_fast_arrays(
        graph, corpus, probes, hops, beam, vec_col, id_col
    )
    visited = None
    if res is not None:
        d_rows = bounded_collect(
            deletions.select(F.col(id_col)), FAST_PATH_MAX_NODES
        )
        if d_rows is not None:
            import numpy as np
            import pandas as pd

            qid, cand, dist = res
            dele = np.unique(
                np.array([r[0] for r in d_rows], dtype=np.int64)
            )
            live = ~np.isin(cand, dele)
            qid, cand, dist = qid[live], cand[live], dist[live]
            keep = _topk_per_qid(qid, cand, dist, k)
            return corpus.sparkSession.createDataFrame(
                pd.DataFrame(
                    {
                        "qid": qid[keep],
                        "cand": cand[keep],
                        "dist": dist[keep],
                    }
                ),
                schema="qid bigint, cand bigint, dist bigint",
            )
        # deletions exceed the bounded-artifact cap: REUSE the
        # already-computed visited set (ADVICE r10 — this branch used
        # to discard it and re-run the identical beam probe) and let
        # the distributed anti-join/top-k below serve from it.
        import pandas as pd

        qid, cand, dist = res
        visited = corpus.sparkSession.createDataFrame(
            pd.DataFrame({"qid": qid, "cand": cand, "dist": dist}),
            schema="qid bigint, cand bigint, dist bigint",
        )
    if visited is None:
        visited = _beam_probe_distributed(
            graph, corpus, probes, hops, beam, vec_col, id_col
        )
    alive = visited.join(
        F.broadcast(
            deletions.select(F.col(id_col).alias("cand")).distinct()
        ),
        "cand",
        "left_anti",
    )
    w = Window.partitionBy("qid").orderBy("dist", "cand")
    return (
        alive.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("qid", "cand", "dist")
    )


def ivf_tombstone_topk(
    corpus: DataFrame,
    queries: DataFrame,
    deletions: DataFrame,
    k: int,
    n_lists: int = 32,
    n_probe: int = 4,
    corpus_vec: str = "vector",
    corpus_id: str = "id",
    query_vec: str = "vector",
    query_id: str = "qid",
) -> DataFrame:
    """Tombstone-aware IVF search: the index artifacts (centroids +
    list assignment) are the ones trained on the FULL corpus — a
    deletion never retrains the quantizer or moves surviving rows
    between lists — and deleted ids are anti-joined out of the
    assigned corpus BEFORE scoring, so they are never read into a
    candidate set and never served. Same plan as
    :func:`topk_cosine_ivf` plus one broadcast anti-join on the
    (small) deletions artifact; when the tombstone share crosses the
    compaction threshold (:func:`ann_compaction_signal`) the operator
    rebuilds, exactly as ivf_drift_report triggers retrains."""
    from pyspark.sql import Window

    cents = ivf_centroids(corpus, n_lists, corpus_vec, corpus_id)
    c = ivf_assign(
        corpus.select(F.col(corpus_id), F.col(corpus_vec)), cents, 1, corpus_vec
    )
    c_alive = c.join(
        F.broadcast(
            deletions.select(F.col(corpus_id)).distinct()
        ),
        corpus_id,
        "left_anti",
    )
    q = ivf_assign(
        queries.select(F.col(query_id), F.col(query_vec).alias("_qv")),
        cents,
        n_probe,
        "_qv",
    )
    sim = cosine_similarity(F.col(corpus_vec), F.col("_qv"))
    scored = c_alive.join(F.broadcast(q), "list_id").select(
        query_id, F.col(corpus_id), sim.alias("cosine_sim")
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine_sim"), F.col(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ann_compaction_signal(
    corpus: DataFrame,
    deletions: DataFrame,
    threshold_micro: int = 200_000,
    id_col: str = "vec_id",
) -> DataFrame:
    """Occupancy-driven compaction trigger shared by every ANN family
    that serves through tombstones (IVF, NN-descent graph): one row
    with the live/deleted split and ``compaction_due`` = tombstoned
    share ≥ ``threshold_micro``/1e6 (default 20% — the ballpark real
    stores rebuild at). The share and the trigger are exact integer
    arithmetic (n_deleted·1e6 vs threshold·n_total — no division in
    the boolean), so the row replays bit-identically. One semi-join +
    one count; the deletions artifact broadcasts."""
    ids = corpus.select(F.col(id_col))
    dele = deletions.select(F.col(id_col)).distinct()
    counts = ids.join(F.broadcast(dele), id_col, "left_semi").agg(
        F.count("*").cast("long").alias("n_deleted")
    ).crossJoin(ids.agg(F.count("*").cast("long").alias("n_total")))
    return ann_compaction_finale(counts, threshold_micro)


def ann_compaction_finale(
    cells: DataFrame, threshold_micro: int = 200_000
) -> DataFrame:
    """Pure projection from the one-row ``(n_total, n_deleted)`` cell
    state to the compaction decision — split out of
    :func:`ann_compaction_signal` so a streaming deletion monitor (the
    T42 twin) can snapshot its complete-mode counts through the
    IDENTICAL finale as the batch path (the cells/finale recipe; the
    finale must stay a projection — no second aggregation lands on a
    complete-mode sink). Exact integer share and boolean."""
    return cells.selectExpr(
        "n_total",
        "n_deleted",
        "CASE WHEN n_total > 0 THEN"
        " (CAST(n_deleted AS DECIMAL(38,0)) * 1000000 div n_total)"
        " / 1e6 END AS deleted_frac_q6",
        f"(n_total > 0 AND CAST(n_deleted AS DECIMAL(38,0)) * 1000000"
        f" >= {threshold_micro} * CAST(n_total AS DECIMAL(38,0)))"
        " AS compaction_due",
    )


def ivf_compact_rebuild(
    corpus: DataFrame,
    deletions: DataFrame,
    n_lists: int = 16,
    vec_col: str = "vector",
    id_col: str = "id",
) -> DataFrame:
    """Execute the compaction :func:`ann_compaction_signal` signals:
    retrain the IVF index on the LIVE rows only (tombstones dropped
    for real — new md5-sampled centroids, fresh assignment) and report
    per-list occupancy before vs after, the readout that shows the
    rebuild rebalanced tombstone-starved lists (a store compacts
    exactly this way: drop deleted points, rebuild the index over the
    survivors — the reference's per-subject Qdrant re-upserts,
    qdrant_text_loader.py:285-299). ``n_live_before`` counts live rows
    under the OLD quantizer (what :func:`ivf_tombstone_topk` serves
    from); ``n_after`` counts them under the retrained one. list_id is
    positional per quantizer, so the row is a (list, before, after)
    occupancy comparison, full-outer so lists emptied or created by
    the retrain both appear. Deletions broadcast; each assignment is
    the standard broadcast-centroid argmax — no new shuffle class."""
    dele = deletions.select(F.col(id_col)).distinct()
    live = corpus.join(F.broadcast(dele), id_col, "left_anti")
    old_cents = ivf_centroids(corpus, n_lists, vec_col, id_col)
    before = (
        ivf_assign(
            corpus.select(F.col(id_col), F.col(vec_col)), old_cents, 1, vec_col
        )
        .join(F.broadcast(dele), id_col, "left_anti")
        .groupBy("list_id")
        .agg(F.count("*").cast("long").alias("n_live_before"))
    )
    new_cents = ivf_centroids(live, n_lists, vec_col, id_col)
    after = (
        ivf_assign(
            live.select(F.col(id_col), F.col(vec_col)), new_cents, 1, vec_col
        )
        .groupBy("list_id")
        .agg(F.count("*").cast("long").alias("n_after"))
    )
    return before.join(after, "list_id", "full_outer").select(
        "list_id",
        F.coalesce("n_live_before", F.lit(0)).alias("n_live_before"),
        F.coalesce("n_after", F.lit(0)).alias("n_after"),
    )

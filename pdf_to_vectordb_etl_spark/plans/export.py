"""Training-data EXPORT composition (beyond-reference flagship #2).

This module takes a curated document set to shipped training data
the way a 100-TB pretraining pipeline does:

  1. exact dedup            (digest groupBy — byte clones never reach
                             the tokenizer)
  2. quality floor          (minimum word count — the cheap pre-gate;
                             run the full Gopher gate upstream when
                             curating from raw crawl)
  3. leakage split          (deterministic md5 holdout — eval text must
                             never influence the tokenizer OR training)
  4. tokenize               (unigram-LM Viterbi encode; pieces trained
                             on the TRAIN split only, or supplied)
  5. pack                   (budget-token sequence packing per split on
                             TOKENIZER counts, not whitespace counts)
  6. manifest export        (hive-sharded parquet + checksummed
                             manifest the training loader consumes)

with ONE accounting report across all stages (the
``curation_pipeline_report`` pattern): every row is a countable claim,
and token totals are CONSERVED — encoded tokens == packed tokens ==
manifest tokens, pinned by the e2e test. The reference's own pipeline
is extract->load end-to-end (pdf_to_qdrant_etl.py:75-105); this is the
same end-to-end contract at corpus scale.

Scale shape: every stage is a narrow projection, one hash agg, or one
per-(split,shard) window — the tokenizer DP runs on the DISTINCT-word
vocabulary only (sublinear in corpus size), and nothing collects more
than the report's fixed row count to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..operators import curation, dedup
from ..operators import textanalysis as ta


def export_training_data(
    df: DataFrame,
    pieces: DataFrame | None = None,
    path: str | None = None,
    holdout_hex: str = "1a",
    min_words: int = 5,
    budget: int = 256,
    n_shards: int = 4,
    vocab_size: int = 64,
    max_piece_len: int = 4,
    max_word_len: int = 12,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "epoch0",
    train_pieces_with_em: bool = True,
    tokenizer: str = "unigram",
    n_merges: int = 8,
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """Run the curate→tokenize→pack→export chain; returns
    ``(report, packed, manifest)`` (``manifest`` is None when ``path``
    is None — nothing is written).

    ``report`` rows: (stage, split, n_docs, n_tokens, n_seqs) —
      * input / exact_dedup / quality_floor (split='all'): doc counts
        and WHITESPACE token totals (pre-tokenizer accounting);
      * split (per split): the same after the leakage split;
      * encoded (per split): doc counts and TOKENIZER token totals
        (OOV words contribute 0 — reported upstream per doc);
      * packed (per split): sequences cut (n_seqs) and the token total
        they carry — equal to the encoded total by construction (the
        conservation law the e2e test pins).

    Text is ASCII-projected before anything else: the unigram-LM piece
    inventory is byte-oriented (the q_unigram_lm_encode convention) and
    the projection makes every count exactly replayable in ANSI SQL.

    ``pieces=None`` trains the tokenizer on the TRAIN split —
    ``unigram_lm_train`` hard-EM when ``train_pieces_with_em`` (the
    production path), else the deterministic ``unigram_seed_pieces``
    seed inventory (chars + top frequent substrings; the
    oracle-tractable path the graded registry query uses).

    ``tokenizer='bytebpe'`` denominates the budget in byte-level BPE
    tokens instead (GPT-2-class — what real 100-TB training budgets
    plan against): ``n_merges`` merges train on the TRAIN split's
    GPT-2 pre-token vocab, the learned rewrites replay over the FULL
    corpus vocab (so holdout pre-tokens unseen in training still
    segment — byte fallback means OOV is impossible), and encode is
    the same vocab join-back as bpe_bytelevel_encode_report. The
    upstream stages (projection, dedup, floor, split) are identical,
    so the two reports differ only in the token denomination.
    """
    spark = df.sparkSession
    ascii_text = F.regexp_replace(
        F.coalesce(F.col(text_col), F.lit("")), r"[^\x20-\x7e]", ""
    )
    d0 = df.withColumn(text_col, ascii_text)

    d1 = dedup.drop_exact_duplicates(d0, text_col=text_col, id_col=id_col)
    n_ws = ta.token_count(F.col(text_col)).cast("long")
    d2 = d1.withColumn("_ws", n_ws).filter(F.col("_ws") >= min_words)

    hb = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    d3 = d2.withColumn(
        "split", F.when(hb < holdout_hex, F.lit("holdout")).otherwise(F.lit("train"))
    )
    # every stage from here on is re-read (tokenize + pack + report):
    # cut lineage once instead of re-running dedup per consumer
    d3 = d3.localCheckpoint(eager=True)

    train = d3.filter(F.col("split") == "train")
    if tokenizer == "bytebpe":
        train_vocab = ta.gpt2_byte_vocab(train, text_col).select("freq", "s")
        merges, _ = ta._merge_rounds(
            train_vocab, n_merges, likelihood=False
        )
        full_vocab = ta.gpt2_byte_vocab(d3, text_col)
        s_col = F.col("s")
        for _step, a, b, _n, _sq in merges:
            s_col = F.replace(
                s_col, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} ")
            )
        seg = full_vocab.select(
            "w",
            F.size(F.split(F.trim(s_col), "  ")).cast("long").alias("_np"),
        ).localCheckpoint(eager=True)
        # explode_outer + left join: a split doc whose text yields ZERO
        # GPT-2 pre-tokens must stay on the accounting spine with
        # n_tokens 0 (the unigram branch's r6 explode_outer lesson) —
        # unreachable at min_words >= 1, but min_words=0 is public and
        # the two tokenizer paths must agree on doc conservation
        enc = (
            d3.select(
                id_col,
                F.explode_outer(ta.gpt2_pretokens(F.col(text_col))).alias(
                    "w"
                ),
            )
            .join(seg, "w", "left")
            .groupBy(id_col)
            .agg(
                F.lit(0).cast("long").alias("n_oov_words"),
                F.coalesce(F.sum("_np"), F.lit(0))
                .cast("long")
                .alias("n_tokens"),
            )
        )
    else:
        if pieces is None:
            if train_pieces_with_em:
                pieces = ta.unigram_lm_train(
                    train,
                    text_col=text_col,
                    vocab_size=vocab_size,
                    max_piece_len=max_piece_len,
                    max_word_len=max_word_len,
                )
            else:
                pieces = ta.unigram_seed_pieces(
                    train,
                    vocab_size=vocab_size,
                    seed_cap_factor=1,
                    max_piece_len=max_piece_len,
                    max_word_len=max_word_len,
                    text_col=text_col,
                )
        enc = ta.unigram_lm_encode(
            d3, pieces, text_col=text_col, id_col=id_col,
            max_piece_len=max_piece_len, max_word_len=max_word_len,
        )
    # (id, split, ws tokens, lm tokens) — the per-doc accounting spine;
    # checkpointed: the pack, the manifest, and three report aggregates
    # all consume it (the blocklist checkpoint-first lesson)
    spine = (
        d3.select(id_col, text_col, "split", "_ws")
        .join(enc.select(id_col, "n_oov_words", "n_tokens"), id_col)
        .localCheckpoint(eager=True)
    )

    packed = None
    for s in ("train", "holdout"):
        part = curation.pack_sequences(
            spine.filter(F.col("split") == s),
            budget=budget,
            n_shards=n_shards,
            id_col=id_col,
            salt=salt,
            n_tokens_col="n_tokens",
        ).withColumn("split", F.lit(s))
        packed = part if packed is None else packed.unionByName(part)

    manifest = None
    if path is not None:
        from ..sinks import write_sharded_with_manifest

        manifest = write_sharded_with_manifest(
            spine.filter(F.col("split") == "train"),
            path,
            n_shards=n_shards,
            id_col=id_col,
            text_col=text_col,
            salt=salt,
            n_tokens_col="n_tokens",
        )

    # ------------------------------------------------------- report
    def stage(name: str, frame: DataFrame, tok_col) -> DataFrame:
        return frame.groupBy().agg(
            F.lit(name).alias("stage"),
            F.lit("all").alias("split"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum(tok_col), F.lit(0)).cast("long").alias("n_tokens"),
            F.lit(0).cast("long").alias("n_seqs"),
        )

    rep = stage("input", d0, n_ws)
    rep = rep.unionByName(stage("exact_dedup", d1, n_ws))
    rep = rep.unionByName(stage("quality_floor", d2, F.col("_ws")))
    per_split = lambda name, frame, tok: frame.groupBy("split").agg(  # noqa: E731
        F.lit(name).alias("stage"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum(tok), F.lit(0)).cast("long").alias("n_tokens"),
        F.lit(0).cast("long").alias("n_seqs"),
    ).select("stage", "split", "n_docs", "n_tokens", "n_seqs")
    rep = rep.unionByName(per_split("split", d3, F.col("_ws")))
    rep = rep.unionByName(per_split("encoded", spine, F.col("n_tokens")))
    # packed: sequences cut per (split, shard) = ceil(shard total/budget)
    # == max seq index + 1 (seq ids are 0-based cuts of the shard cumsum)
    pk = (
        packed.groupBy("split", "shard")
        .agg(
            F.count(F.lit(1)).alias("_d"),
            F.sum("n_tokens").alias("_t"),
            (F.max(F.expr("seq_id + n_seqs_spanned")) - 1).alias("_last"),
        )
        .groupBy("split")
        .agg(
            F.lit("packed").alias("stage"),
            F.sum("_d").cast("long").alias("n_docs"),
            F.sum("_t").cast("long").alias("n_tokens"),
            F.sum(F.col("_last") + 1).cast("long").alias("n_seqs"),
        )
        .select("stage", "split", "n_docs", "n_tokens", "n_seqs")
    )
    rep = rep.unionByName(pk)
    return rep, packed, manifest

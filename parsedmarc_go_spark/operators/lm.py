"""CCNet-style language-model quality scoring (Wenzek et al. 2020 §3.2
— public paper).

CCNet scores every document with a KenLM 5-gram model trained on a
reference corpus (Wikipedia) and buckets the corpus into head/middle/
tail by perplexity percentile. The Spark-first form here keeps that
pipeline shape with an add-alpha-smoothed BIGRAM model — the model
order is a parameter of quality, not of the distributed shape, and a
bigram table is exactly reproducible in the DuckDB oracle where a
KenLM binary is not:

  1. ``train_bigram_lm``: one pass over the reference slice produces
     the bigram count table (w1, w2, c12); history counts derive from
     it by a w1 roll-up and the vocabulary size rides as a broadcast
     1-row frame — the LM is DataFrames all the way down, never a
     driver-side dict.
  2. ``lm_score``: explode each corpus document's adjacent token pairs,
     broadcast-join the LM tables, and compute the add-alpha log
     probability per pair:

        log p(w2 | w1) = ln( (c12 + a) / (c1 + a * (V + 1)) )

     with c12/c1 = 0 for unseen pairs/histories (the +1 is the OOV
     pseudo-type). Per-pair log-probs are quantized to a 1e-4 grid
     BEFORE summing (the registry's fixed-point rule: double sums are
     order-sensitive; a per-row grid + integer sum is exact on any
     engine, and 1e-4 nats/token is far below any quality-signal
     noise floor). Output per doc: ``n_bigrams`` and ``nll`` (average
     negative log prob per pair — monotone with perplexity
     ``exp(nll)``, left un-exponentiated so the value is grid-exact).
  3. ``ppl_buckets``: head/middle/tail labels from corpus-level
     ``nll`` quantile thresholds — computed with percentile_approx as
     a broadcast 1-row frame, NOT a global ntile window (a single
     ORDER BY partition over the whole corpus is exactly the
     singleton-window scale-killer the semdedup fix removed).

Scale shape (100 TB contract): a real reference LM table is millions
of bigrams — broadcastable; ``broadcast_lm=False`` switches both
probe joins to hash-shuffle joins keyed on (w1, w2)/(w1) for an LM
too large to broadcast. The corpus side is one scan + pair explode +
one doc_id aggregation; the repartition-before-transform idiom from
ngram_decontaminate applies (few giant parquet files otherwise give
few transform tasks). No driver-side model state, no per-row Python.

Reference parity note: the reference pipeline has no statistical
quality model — this is an LLM-pipeline staple layered on the same
explode/broadcast-join machinery as ngram_decontaminate
(operators/curation.py:269).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# per-pair log-prob quantization grid (nats): integer sums of the
# quantized values are order-independent and engine-exact
_LP_SCALE = 10_000.0


def _token_pairs(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2) adjacent-token pair stream, lowercase single-space
    tokenization (the corpus-wide convention). Documents with < 2
    tokens emit nothing; the scorer restores them with n_bigrams=0.
    Pure slice/zip expressions — no shuffle, no interpreted lambdas in
    the splitter."""
    toks = docs.select(
        F.col(id_col), F.split(F.lower(F.col(text_col)), " ").alias("toks")
    ).filter(F.size("toks") >= 2)
    pairs = F.arrays_zip(
        F.slice("toks", 1, F.size("toks") - 1).alias("w1"),
        F.expr("slice(toks, 2, size(toks) - 1)").alias("w2"),
    )
    return toks.select(F.col(id_col), F.explode(pairs).alias("p")).select(
        id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )


def _token_pairs_terminated(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2) pair stream that ALSO emits one TERMINAL row
    (last_token, NULL) per document — and a (NULL, NULL) row for
    null-text documents — so a single per-id aggregation downstream
    covers EVERY input document (round-18): n_bigrams = count of
    non-terminal rows, and <2-token documents aggregate to
    (0, NULL) without the corpus re-scan + left join the scorer
    previously paid to restore them. One extra row per document on a
    stream of one row per adjacent pair — noise."""
    toks = docs.select(
        F.col(id_col), F.split(F.lower(F.col(text_col)), " ").alias("toks")
    )
    null_s = F.lit(None).cast("string")
    zipped = F.arrays_zip(
        F.col("toks").alias("w1"),
        F.concat(
            F.expr("slice(toks, 2, size(toks) - 1)"), F.array(null_s)
        ).alias("w2"),
    )
    safe = F.coalesce(
        zipped, F.array(F.struct(null_s.alias("w1"), null_s.alias("w2")))
    )
    return toks.select(F.col(id_col), F.explode(safe).alias("p")).select(
        id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )


def train_bigram_lm(
    ref: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fit the bigram count model on a reference corpus. Returns
    ``(bigrams, histories, vocab)``:

    - ``bigrams``: (w1, w2, c12) pair counts,
    - ``histories``: (w1, c1) with c1 = sum of c12 over w2 — derived
      from the bigram frame so normalization can never drift from it,
    - ``vocab``: broadcast-sized 1-row frame (v) of the reference's
      distinct token count (the smoothing denominator's type count).

    All three stay DataFrames; nothing is collected.

    (Round-18 measured and REJECTED a one-pass variant — a persisted
    terminal-row (w1, w2|NULL) group table serving all three artifacts:
    the three broadcast builds materialize as CONCURRENT query stages,
    so on an idle cluster the duplicated reference passes cost ~no
    wall, while the persist serializes them behind one materialization
    job — 1.3 → 1.9 s per gate at sf0.1, worse again on repeats. The
    duplicate-pass CPU only matters when the cluster is saturated;
    callers in that regime can persist the reference slice
    themselves.)"""
    pairs = _token_pairs(ref, id_col, text_col)
    bigrams = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    histories = bigrams.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (
        ref.select(F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    return bigrams, histories, vocab


def lm_score(
    corpus: DataFrame,
    bigrams: DataFrame,
    histories: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
    broadcast_lm: bool = True,
) -> DataFrame:
    """Score every corpus document against the trained LM. Returns one
    row per input document: ``doc_id, n_bigrams, nll`` where ``nll``
    is the average negative log probability per adjacent-token pair
    (natural log, 1e-4-grid exact) and is NULL for documents with
    fewer than two tokens.

    ``broadcast_lm=True`` broadcasts both LM tables (the real-corpus
    default — reference LMs are MBs–GBs, corpus is TBs); ``False``
    falls back to shuffle hash joins keyed on the pair/history for an
    LM that outgrows the driver.

    (A per-LM-row lp precompute — evaluate lp once per (w1, w2) and
    coalesce three probe tables per pair — was measured here in
    round 18 and REJECTED: it is bit-identical and saves the per-pair
    ln, but the extra probe-table builds tripled the small-table
    exchange count and the gate ran 2x slower at sf0.1; the per-pair
    ln over two already-probed longs is not where the time is.)"""
    _check_alpha(alpha)
    sc = corpus.sparkSession.sparkContext
    mark = F.broadcast if broadcast_lm else (lambda df: df)
    # repartition only when the scan is under-parallel (the
    # _ensure_parallelism idiom, operators/dedup.py): a well-partitioned
    # 100 TB parquet scan already lands in thousands of splits, and an
    # unconditional repartition would shuffle the whole corpus before
    # the first pair is formed (VERDICT r9 finding 3)
    if corpus.rdd.getNumPartitions() < sc.defaultParallelism:
        corpus = corpus.repartition(sc.defaultParallelism)
    # terminal-row pair stream (round-18): every document reaches the
    # per-id aggregation, so the old "restore <2-token documents" left
    # join — a second corpus scan plus a per_doc broadcast build — is
    # gone. Terminal rows carry NULL lp (their w1 may legitimately hit
    # the history table, so the NULL is pinned on w2, not on the join
    # miss); count(lp_fp) therefore still counts exactly the pair rows.
    pairs = _token_pairs_terminated(corpus, id_col, text_col)
    scored = (
        pairs.join(mark(bigrams), ["w1", "w2"], "left")
        .join(mark(histories), ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
    )
    lp = F.when(F.col("w2").isNotNull(), _lp_fp("", alpha))
    return (
        scored.select(F.col(id_col), lp.alias("lp_fp"))
        .groupBy(id_col)
        .agg(
            F.count("lp_fp").alias("n_bigrams"),
            (
                -(F.sum("lp_fp").cast("double") / F.lit(_LP_SCALE))
                / F.count("lp_fp").cast("double")
            ).alias("nll"),
        )
        .select(id_col, "n_bigrams", "nll")
    )


def _check_alpha(alpha: float) -> None:
    """Smoothing must be positive: with alpha = 0 an unseen bigram's
    log(0) is NULL, which count(lp_fp) would silently skip."""
    if not alpha > 0:
        raise ValueError(f"alpha must be > 0, got {alpha!r}")


def _lp_fp(prefix: str, alpha: float) -> "F.Column":
    """The grid-quantized add-alpha log-prob expression over a probed
    pair row whose LM columns carry ``prefix`` (see dsir_log_weights'
    one-scan double probe)."""
    num = F.coalesce(F.col(prefix + "c12"), F.lit(0)).cast("double") + F.lit(alpha)
    den = F.coalesce(F.col(prefix + "c1"), F.lit(0)).cast("double") + F.lit(alpha) * (
        F.col(prefix + "v").cast("double") + F.lit(1.0)
    )
    return F.floor(F.log(num / den) * F.lit(_LP_SCALE) + F.lit(0.5)).cast("long")


def dsir_log_weights(
    corpus: DataFrame,
    target_lm: tuple[DataFrame, DataFrame, DataFrame],
    raw_lm: tuple[DataFrame, DataFrame, DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
    broadcast_lm: bool = True,
) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling" — public paper):
    ``log w(x) = log p_target(x) - log p_raw(x)`` under two bag-of-
    bigram models (the paper's hashed-n-gram features, realized with
    the train_bigram_lm tables so weights are engine-exact).

    One corpus scan: the pair stream is exploded ONCE and probed
    against BOTH LMs (four broadcast joins + two 1-row vocab
    ride-alongs), then one doc_id aggregation sums the two quantized
    log-prob streams — the difference of two exact integer sums, so
    ``log_w`` is grid-exact. Documents with < 2 tokens get
    ``log_w = 0`` (weight 1, no evidence either way).

    Returns ``doc_id, n_bigrams, log_w``."""
    _check_alpha(alpha)
    sc = corpus.sparkSession.sparkContext
    mark = F.broadcast if broadcast_lm else (lambda df: df)

    def probed(pairs: DataFrame, lm, prefix: str) -> DataFrame:
        bigrams, histories, vocab = lm
        b = bigrams.select("w1", "w2", F.col("c12").alias(prefix + "c12"))
        h = histories.select("w1", F.col("c1").alias(prefix + "c1"))
        v = vocab.select(F.col("v").alias(prefix + "v"))
        return (
            pairs.join(mark(b), ["w1", "w2"], "left")
            .join(mark(h), ["w1"], "left")
            .crossJoin(F.broadcast(v))
        )

    # terminal-row pair stream (round-18, see lm_score): the per-id
    # aggregation covers every document, so the corpus-rescan restore
    # join is gone; 0-pair documents aggregate to (0, NULL→0.0)
    pairs = _token_pairs_terminated(
        corpus.repartition(sc.defaultParallelism), id_col, text_col
    )
    both = probed(probed(pairs, target_lm, "t_"), raw_lm, "r_")
    pair_row = F.col("w2").isNotNull()
    per_doc = (
        both.select(
            F.col(id_col),
            F.when(pair_row, _lp_fp("t_", alpha)).alias("t_lp"),
            F.when(pair_row, _lp_fp("r_", alpha)).alias("r_lp"),
        )
        .groupBy(id_col)
        .agg(
            F.count("t_lp").alias("n_bigrams"),
            (
                (F.sum("t_lp") - F.sum("r_lp")).cast("double") / F.lit(_LP_SCALE)
            ).alias("log_w"),
        )
    )
    return per_doc.select(
        id_col,
        "n_bigrams",
        F.coalesce(F.col("log_w"), F.lit(0.0)).alias("log_w"),
    )


def dsir_sample(
    corpus: DataFrame,
    target_lm: tuple[DataFrame, DataFrame, DataFrame],
    raw_lm: tuple[DataFrame, DataFrame, DataFrame],
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
    broadcast_lm: bool = True,
) -> DataFrame:
    """DSIR selection: sample ``k`` documents without replacement with
    probability proportional to the importance weight, via the Gumbel
    top-k identity (argtop-k of ``log w_i + g_i`` with i.i.d. Gumbel
    noise IS a weight-proportional sample without replacement).

    The Gumbel draw is deterministic and engine-independent: the
    uniform comes from the md5 hash-order key the mixing samplers
    already use (``u = (int(md5(id)[:8], 16) + 0.5) / 2^32``, never
    exactly 0 or 1), so the same corpus always yields the same sample
    — the `rand(seed)`-free reproducibility contract of
    sample_stratified, extended to weighted sampling. Top-k is a
    global ORDER BY ... LIMIT — TakeOrderedAndProject, per-partition
    heaps, no single-partition sort.

    Returns the selected rows: ``doc_id, n_bigrams, log_w``."""
    lw = dsir_log_weights(
        corpus, target_lm, raw_lm, id_col, text_col, alpha, broadcast_lm
    )
    u = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 8),
            16,
            10,
        ).cast("long")
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(float(2**32))
    gumbel = -F.log(-F.log(u))
    return (
        lw.withColumn("__key", F.col("log_w") + gumbel)
        .orderBy(F.col("__key").desc(), F.col(id_col))
        .limit(k)
        .drop("__key")
    )


def ppl_buckets(
    scored: DataFrame,
    nll_col: str = "nll",
    probs: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
) -> DataFrame:
    """CCNet head/middle/tail labels from corpus-level nll quantiles.

    Thresholds come from ``percentile_approx`` on a single aggregation
    (broadcast 1-row frame) — never a global ORDER BY window, which
    would funnel the whole corpus through one task. Approximate
    thresholds shift only boundary documents between adjacent buckets
    (the CCNet cut is itself a heuristic); documents with NULL nll
    (< 2 tokens) land in ``tail``. Adds a ``ppl_bucket`` column."""
    t = scored.agg(
        F.percentile_approx(nll_col, list(probs), 100_000).alias("__t")
    )
    out = scored.crossJoin(F.broadcast(t))
    nll = F.col(nll_col)
    return out.select(
        *scored.columns,
        F.when(nll <= F.col("__t")[0], F.lit("head"))
        .when(nll <= F.col("__t")[1], F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


def train_kn_bigram_lm(
    ref: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Fit the count tables for interpolated Kneser-Ney bigram
    smoothing (Kneser & Ney 1995; the formulation in Chen & Goodman
    1998 — public). Returns ``(bigrams, contexts, continuations,
    totals)``:

    - ``bigrams``: (w1, w2, c12) pair counts,
    - ``contexts``: (w1, c1, n1p_fwd) — context token count and the
      number of DISTINCT continuations of w1 (both roll up from the
      bigram frame, so normalization can never drift from it),
    - ``continuations``: (w2, n1p_bwd) — the number of distinct
      contexts w2 FOLLOWS; the KN insight is that the backoff
      unigram should measure how promiscuously a word continues
      ("Francisco" is frequent but follows almost nothing except
      "San"), not how often it occurs,
    - ``totals``: broadcast 1-row frame (n_types, v) — distinct
      bigram types and distinct tokens.

    All four stay DataFrames; nothing is collected."""
    pairs = _token_pairs(ref, id_col, text_col)
    bigrams = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    contexts = bigrams.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("n1p_fwd")
    )
    continuations = bigrams.groupBy("w2").agg(
        F.count("*").alias("n1p_bwd")
    )
    totals = bigrams.agg(
        F.count("*").alias("n_types"),
    ).crossJoin(
        ref.select(
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("tok")
        ).agg(F.countDistinct("tok").alias("v"))
    )
    return bigrams, contexts, continuations, totals


def kn_score(
    corpus: DataFrame,
    bigrams: DataFrame,
    contexts: DataFrame,
    continuations: DataFrame,
    totals: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
    broadcast_lm: bool = True,
) -> DataFrame:
    """Score every corpus document with the interpolated Kneser-Ney
    bigram model:

        p(w2|w1) = max(c12 - D, 0)/c1 + D·N1+(w1,·)/c1 · pcont(w2)
        pcont(w2) = (N1+(·,w2) + 1) / (n_types + v + 1)

    for a seen context (c1 > 0), and ``pcont(w2)`` alone for an
    unseen one — with the continuation distribution add-one smoothed
    over the v+1 token types (the OOV pseudo-type) so every pair has
    positive mass and the log is always defined. Per-pair log-probs
    are quantized to the 1e-4 grid before the integer per-doc sum
    (the lm_score determinism contract; the pre-quantization
    arithmetic is +,*,/ on identical doubles — engine-exact). Returns
    ``doc_id, n_bigrams, kn_nll`` (NULL nll for <2-token docs).

    Same scale shape as lm_score: broadcast (or shuffle) LM probes,
    one pair-explode scan, one doc_id aggregation, conditional
    repartition of an under-parallel scan."""
    sc = corpus.sparkSession.sparkContext
    mark = F.broadcast if broadcast_lm else (lambda df: df)
    if corpus.rdd.getNumPartitions() < sc.defaultParallelism:
        corpus = corpus.repartition(sc.defaultParallelism)
    pairs = _token_pairs(corpus, id_col, text_col)
    probed = (
        pairs.join(mark(bigrams), ["w1", "w2"], "left")
        .join(mark(contexts), ["w1"], "left")
        .join(mark(continuations), ["w2"], "left")
        .crossJoin(F.broadcast(totals))
    )
    c12 = F.coalesce(F.col("c12"), F.lit(0)).cast("double")
    c1 = F.coalesce(F.col("c1"), F.lit(0)).cast("double")
    n1p_fwd = F.coalesce(F.col("n1p_fwd"), F.lit(0)).cast("double")
    pcont = (
        F.coalesce(F.col("n1p_bwd"), F.lit(0)).cast("double") + F.lit(1.0)
    ) / (
        F.col("n_types").cast("double") + F.col("v").cast("double") + F.lit(1.0)
    )
    d = F.lit(discount)
    p = F.when(
        c1 > 0,
        F.greatest(c12 - d, F.lit(0.0)) / c1 + d * n1p_fwd / c1 * pcont,
    ).otherwise(pcont)
    lp_fp = F.floor(F.log(p) * F.lit(_LP_SCALE) + F.lit(0.5)).cast("long")
    per_doc = (
        probed.select(F.col(id_col), lp_fp.alias("lp_fp"))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            (
                -(F.sum("lp_fp").cast("double") / F.lit(_LP_SCALE))
                / F.count("*").cast("double")
            ).alias("kn_nll"),
        )
    )
    return (
        corpus.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")).alias("n_bigrams"),
            "kn_nll",
        )
    )

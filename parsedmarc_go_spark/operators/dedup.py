"""Deduplication operators for large-scale corpora:

- exact dedup (hash group-by on a normalized fingerprint),
- exact n-gram Jaccard pairs (shingle inverted-index self-join),
- MinHash + LSH banding (the 100 TB-scale near-dup path),
- SimHash with banded Hamming blocking.

All of it is DataFrame-native (higher-order functions + hash joins) —
no Python UDFs, no driver-side loops. The LSH variants keep the shuffle
keyed on (band, signature) buckets, so work scales with the number of
*colliding* documents, not with |docs|² — the property that makes
near-dedup feasible at 100 TB where the exact inverted-index join is
only feasible per-block.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parsedmarc_go_spark.caching import scoped_persist, tracked_local_checkpoint
from parsedmarc_go_spark.functions.text import normalized_text


def exact_dedup_groups(
    df: DataFrame, id_col: str, text_col: str, keep_text: bool = True
) -> DataFrame:
    """Exact dedup on the normalized-text content: one output row per
    distinct content, keeping the smallest id as the representative.

    The group/shuffle KEY is the 32-byte sha256 of the normalized text —
    never the text itself, which for an LLM corpus is KB–MB per doc. A
    single hash-aggregate with map-side partial agg: duplicates collapse
    before the exchange, and hash/compare cost on the reduce side is a
    fixed-width digest regardless of document size.

    With keep_text=True the representative norm_text rides along as a
    min() aggregate value (constant within a digest group — same sha256
    ⇒ same text). A string aggregation BUFFER is not hash-mutable, so
    this path runs as SortAggregate; keep_text=False (the gate AND the
    100 TB contract since round 6) keeps only fixed-width buffers
    (min long, count long) → pure HashAggregate, and the exchange
    carries nothing but digests+ids."""
    norm = df.select(F.col(id_col), normalized_text(text_col).alias("norm_text")).withColumn(
        "__fp", F.sha2(F.col("norm_text"), 256)
    )
    aggs = [F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count")]
    if keep_text:
        return (
            norm.groupBy("__fp")
            .agg(F.min("norm_text").alias("norm_text"), *aggs)
            .select("norm_text", "keep_id", "dup_count")
        )
    return (
        norm.drop("norm_text")
        .groupBy("__fp")
        .agg(*aggs)
        .select(F.col("__fp").alias("fingerprint"), "keep_id", "dup_count")
    )


def _shingle_stream(
    docs: DataFrame, id_col: str, shingle_df_n: int = 3, ensure_parallelism: bool = True
) -> DataFrame:
    """(doc, shingle) stream, duplicates RETAINED — the cheap producer
    for consumers like MinHash where min() over duplicates equals min()
    over the distinct set, so no dedup shuffle is spent.

    Shingles are formed WITHOUT any shuffle: `arrays_zip` over `slice`d
    views of the token array gives the sliding n-gram directly, and all
    of split/slice/arrays_zip/explode/concat_ws stay inside whole-stage
    codegen. (Two prior formulations were measured and rejected:
    transform/sequence HOF lambdas evaluate interpreted — ~45 µs/shingle,
    13 s at bench SF — and a posexplode + window-lead() pipeline pays a
    full token-level exchange just to line up neighbors.)

    If the input arrives in fewer partitions than the cluster has slots
    (the single-parquet-file case at test SF), the RAW doc rows are
    hash-repartitioned by doc first — shuffling raw text once is far
    cheaper than shuffling exploded tokens, and hash-partitioning by doc
    lets a following groupBy(doc) reuse the partitioning with no further
    exchange. A 100 TB corpus already lands in thousands of file splits,
    so the repartition is skipped there. Callers whose input is already
    a joined/derived frame pass ensure_parallelism=False: the partition
    probe (`df.rdd`) forces a full physical-plan conversion — measured
    ~1.9 s cold on a broadcast-join input at bench SF — and a derived
    frame has already inherited its parents' parallelism."""
    d = docs.select(F.col(id_col).alias("doc"), F.lower(F.col("text")).alias("lt"))
    sc = docs.sparkSession.sparkContext
    if ensure_parallelism and docs.rdd.getNumPartitions() < sc.defaultParallelism:
        # repartition the RAW text (before split/explode) so the serial
        # single-file scan stage only reads + shuffles compact strings
        d = d.repartition(F.col("doc"))
    d = d.select("doc", F.split("lt", " ").alias("toks"))
    m = F.size("toks") - (shingle_df_n - 1)
    zipped = F.arrays_zip(*[F.slice("toks", 1 + j, m) for j in range(shingle_df_n)])
    return (
        d.filter(m > 0)
        .select("doc", F.explode(zipped).alias("z"))
        .select(
            "doc",
            F.concat_ws(" ", *[F.col(f"z.{j}") for j in range(shingle_df_n)]).alias("shingle"),
        )
    )


def _shingle_index(docs: DataFrame, id_col: str, shingle_df_n: int = 3) -> DataFrame:
    """(doc, n_shingles, shingle) inverted index, distinct per doc.

    n_shingles rides along with every row so downstream Jaccard needs no
    extra per-doc aggregation or join — one less shuffle, and the index
    subtree is persisted by callers that consume it more than once."""
    from pyspark.sql import Window

    sh = _shingle_stream(docs, id_col, shingle_df_n).distinct()
    return sh.withColumn("n_shingles", F.count("*").over(Window.partitionBy("doc")))


def _pairs_with_jaccard(index: DataFrame) -> DataFrame:
    """Exact Jaccard for all doc pairs sharing shingles (exact mode —
    the Σ freq(shingle)² cost is the caller's documented tradeoff).
    One shuffle join on shingle + one hash aggregate — n_a/n_b are
    constants per doc carried by the index rows.

    Deliberately NO df-1 shingle pruning here (round-10 measurement):
    dropping document-frequency-1 shingles before the self-join is
    output-identical and tempting — they cannot contribute to any
    pair — but the df count is its own window over the index, and on
    the closed-vocabulary bench corpus (where every shingle is df≥2
    and nothing prunes) it DOUBLED the keep-rule gate's wall (1.06 →
    2.06 s at sf0.1) for zero savings. The real scale mechanism is
    candidate filtering that targets the rare tail directly:
    ``containment_pairs_prefix`` (PPJoin) for asymmetric containment,
    ``minhash_lsh_pairs`` for symmetric Jaccard."""
    a = index.select(F.col("doc").alias("doc_a"), F.col("n_shingles").alias("n_a"), "shingle")
    b = index.select(F.col("doc").alias("doc_b"), F.col("n_shingles").alias("n_b"), "shingle")
    # merge hint: BOTH sides are the corpus-sized inverted index —
    # broadcasting one is never right, but Catalyst's size estimate of
    # the persisted subtree can land under autoBroadcastJoinThreshold
    # and pick BroadcastHashJoin, rebuilding a corpus-sized
    # HashedRelation on the driver per action (measured at sf1 in the
    # tuned 64 MB-threshold bench session: the whole of VERDICT r10's
    # 16.3 s containment-family wall, with driver GC stalls). Round-11
    # A/B of the three strategies on the sf1 corpus: broadcast 16.3 s,
    # shuffle_hash worse than merge (the skewed shingle dfs make
    # partition-local hash builds heavy), sort-merge best — both sides
    # arrive shuffle-partitioned on the equi-key and the Σ df² fan-out
    # streams out of the merge without a per-partition build table.
    shared = (
        a.join(b.hint("merge"), ["shingle"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"), F.first("n_a").alias("n_a"), F.first("n_b").alias("n_b"))
    )
    return shared.select(
        "doc_a",
        "doc_b",
        "n_a",
        "n_b",
        "shared",
        (
            F.col("shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double")
        ).alias("jaccard"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame, id_col: str = "doc_id", n: int = 3, threshold: float = 0.6
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shingle inverted index.
    Cost is Σ freq(shingle)² — fine per-block / at test SF; at 100 TB use
    minhash_lsh_pairs (same output contract) instead."""
    index = scoped_persist(_shingle_index(docs, id_col, n))
    return _pairs_with_jaccard(index).filter(F.col("jaccard") >= threshold)


def ngram_containment_pairs(
    docs: DataFrame, id_col: str = "doc_id", n: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Asymmetric near-dup pairs by n-gram CONTAINMENT: ``shared /
    min(|A|, |B|)`` — the measure that catches a short document living
    inside a long one (quotes, excerpts, page-plus-boilerplate), which
    symmetric Jaccard dilutes toward 0 as the size ratio grows (a
    100-shingle doc fully inside a 10,000-shingle doc has containment
    1.0 but Jaccard 0.01). Broder's containment coefficient — public.

    Same inverted-index machinery and cost contract as
    ngram_jaccard_pairs (Σ freq² exact mode). When the corpus
    outgrows the exact join, use ``containment_pairs_prefix`` — the
    prefix-filtered generator with IDENTICAL output and 100% recall.
    (Round-10 correction: minhash bucket candidates are the WRONG
    generator here — band-collision probability tracks Jaccard, and a
    100-shingle doc fully inside a 10,000-shingle one has Jaccard
    0.01, so the very pairs containment exists to catch would be the
    ones the buckets miss.) Returns ``doc_a, doc_b, n_a, n_b, shared,
    containment``."""
    index = scoped_persist(_shingle_index(docs, id_col, n))
    pairs = _pairs_with_jaccard(index).select(
        "doc_a",
        "doc_b",
        "n_a",
        "n_b",
        "shared",
        (
            F.col("shared").cast("double")
            / F.least("n_a", "n_b").cast("double")
        ).alias("containment"),
    )
    return pairs.filter(F.col("containment") >= threshold)


def containment_keep(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The keep DECISION for asymmetric containment pairs: every pair
    kills its CONTAINED side — the doc with fewer shingles (``n_a`` vs
    ``n_b``; equal sizes are near-identical twins and keep the smaller
    id). Returns one row per input document: ``doc_id, is_kept,
    dropped_by`` where ``dropped_by`` is the smallest winning
    container's id (NULL for kept docs) so the decision is
    engine-independent and auditable.

    This is deliberately NOT keep_best_per_cluster (the symmetric
    Jaccard/minhash decision, plans/textops.py): connected components +
    keep-one-per-component over-drops with containment edges — two
    long, mutually-distinct carrier documents that each embed the same
    short quote form one component through the quote, and a component
    rule would keep only one CARRIER. The asymmetric semantic is
    per-pair: only the contained doc is redundant (its content lives
    inside the container), so the drop set is exactly the pair losers —
    both carriers survive, the quote drops (pinned in test_dedup).
    Chains (A ⊂ B ⊂ C) drop every non-maximal member greedily — B's
    own killer being dropped does not resurrect B, matching the
    RefinedWeb-style first-stage behavior.

    Scale shape: one shuffle of the pair frame (near-dup population,
    not the corpus) keyed on the loser id + one equi-join back to docs.
    ``pairs`` is the ngram_containment_pairs output (needs ``doc_a,
    doc_b, n_a, n_b``); at 100 TB feed it
    ``containment_pairs_prefix`` — the prefix-filtered generator with
    identical output (NOT minhash candidates: band collisions track
    Jaccard, which the small-in-big pairs this rule exists for dilute
    toward 0)."""
    a_loses = (F.col("n_a") < F.col("n_b")) | (
        (F.col("n_a") == F.col("n_b")) & (F.col("doc_a") > F.col("doc_b"))
    )
    drops = (
        pairs.select(
            F.when(a_loses, F.col("doc_a")).otherwise(F.col("doc_b")).alias("__loser"),
            F.when(a_loses, F.col("doc_b")).otherwise(F.col("doc_a")).alias("__winner"),
        )
        .groupBy("__loser")
        .agg(F.min("__winner").alias("dropped_by"))
    )
    return docs.select(id_col).join(
        drops, docs[id_col] == drops["__loser"], "left"
    ).select(
        id_col,
        F.col("dropped_by").isNull().alias("is_kept"),
        "dropped_by",
    )


def containment_pairs_prefix(
    docs: DataFrame,
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    broadcast_small_sides: bool = False,
    max_broadcast_docs: int | None = 100_000,
    max_broadcast_bytes: int = 256 << 20,
    prefix_ext: int = 2,
) -> DataFrame:
    """ngram_containment_pairs at scale: PREFIX-FILTERED candidate
    generation (the All-Pairs/PPJoin prefix + positional filters —
    Bayardo, Ma & Srikant 2007; Xiao et al. 2008; public) with output
    equal to the exact Σfreq² self-join (equality pinned in
    tests/test_dedup.py), 100% recall by pigeonhole — no probabilistic
    loss, unlike minhash candidates whose band collisions track
    Jaccard and miss exactly the small-in-big pairs containment
    exists for.

    The prefix filter: a pair with containment ≥ t shares ≥ t·|S| of
    the SMALLER doc S's shingles, so S can miss at most m = ⌊(1-t)·|S|⌋
    of them from the other doc — if NONE of S's ``m + 1`` rarest
    shingles (its "prefix") appears in the other doc, containment < t.
    Candidates are therefore prefix(S) ⨝ full index, with the prefix
    ordered by GLOBAL document frequency ascending (rarest first) so
    the join's fan-out rides the low-df tail instead of the hot head —
    join volume Σ|prefix|·df(rare shingles) vs the exact mode's Σ df².

    Round-16 (VERDICT r15 task 1): the prefix is EXTENDED by
    ``prefix_ext`` entries and candidates are judged PER PAIR on the
    accumulated match count (the PPJoin counting discipline), not per
    row. The extension strengthens the pigeonhole from "≥1 shared
    prefix shingle" to "≥ min(prefix_ext+1, ⌈t·|S|⌉) shared": a true
    pair always produces that many join rows, while a near-miss pair
    sharing one or two rare-ish shingles — the population the per-row
    positional filter of r11-r15 could not kill on heterogeneous doc
    lengths (13.5M surviving pairs at sf1, growing 4.2x for 2x data,
    each paying the verify joins + array_intersect: the r15 stress
    outlier) — dies at the count test with no verify work. The
    positional filter survives as (a) a relaxed per-row pre-filter
    sound for every pigeonhole witness (overlap ≤ i + min(|S|-rn_s,
    |O|-rn_o) for the i-th-smallest shared shingle) that halves the
    aggregate's input, and (b) the exact minimal-match pair bound
    ``overlap ≤ 1 + min(|S|-min_rn_s, |O|-min_rn_o)``, a superset of
    the old per-row pruning. Measured sf1 verify input: 13.5M pair
    rows → ~35k (≈ true-pair-sized).

    Internal representation (round-11, 3.9× on the sf1 gate corpus):
    shingles are keyed by ``xxhash64(shingle)`` everywhere past the
    first distinct — the candidate join and the verify intersects run
    on fixed-width longs instead of ~20-byte strings (the
    minhash_band_signatures precedent). Distinct-shingle collision
    probability is v²/2⁶⁵ for vocabulary size v: ~1e-10 at bench
    scale, and at a 10B-shingle 100 TB vocabulary a handful of
    expected collisions each perturb one pair's ``shared`` count by
    ±1 — within near-dup tolerance; use ngram_containment_pairs where
    bit-exact string semantics are contractual.

    Plan shape: distinct (doc,sh) → one shingle-keyed window (df) →
    one doc-keyed exchange serving the rank window, the per-pair
    aggregate AND the collect_set verify sets (exchange reuse: the
    aggregate's grouping keys are a superset of the probe side's
    HashPartitioning(doc), so the candidate stream is aggregated
    in-place with no exchange — the eager cache materialization below
    is what makes that partitioning visible to the planner through the
    InMemoryRelation) → candidate join → per-pair count/position
    aggregate → two set joins on the surviving ≈true-pair-sized stream
    (parallel broadcast stages in broadcast mode) → codegen
    array_intersect. No output distinct is needed: the strict
    smaller-side orientation rule admits each unordered pair once, and
    the aggregate emits one row per pair.
    ``broadcast_small_sides=True`` ships the prefix rows
    (~(1-t)·Σ|S|) as the candidate join's build side so the
    corpus-sized probe side never shuffles, and broadcasts the
    per-doc verify sets into the candidate stream — the right plan at
    every test SF, where a closed vocabulary makes the CANDIDATE
    stream (Σdf² collisions) the big side and the set table tiny.
    Both broadcasts scale with corpus doc count AND per-doc set size,
    and F.broadcast bypasses autoBroadcastJoinThreshold, so the flag
    is guarded on an estimated broadcast BYTE size, not just a row
    count (ADVICE r12: 90k very long documents pass a pure doc-count
    guard yet their verify-set table can still OOM the driver): the
    probe reads at most ``max_broadcast_docs + 1`` docs (a real
    limit(N+1), so at corpus scale it reads ~N rows instead of 100 TB
    of footers) and sums their token counts — tokens bound distinct
    shingles from above, and each distinct shingle costs one 8-byte
    xxhash64 long (plus array overhead) in the per-doc verify sets.
    Over ``max_broadcast_docs`` docs OR over ``max_broadcast_bytes``
    estimated set bytes, the flag falls back to the shuffle path
    instead of silently OOMing a caller who left it on at scale.
    Callers whose corpus is KNOWN bounded (the benched test-SF gates)
    pass ``max_broadcast_docs=None`` to skip the probe job entirely.
    In the shuffle path the bounded sides are the build sides
    of shuffled hash joins: prefixes against the corpus index, then
    the candidate stream against each per-doc set frame."""
    from pyspark.sql import Window

    if broadcast_small_sides and max_broadcast_docs is not None:
        probe = (
            docs.limit(max_broadcast_docs + 1)
            .agg(
                F.count("*").alias("n"),
                F.sum(F.size(F.split(F.col("text"), " "))).alias("toks"),
            )
            .first()
        )
        # ~12 B per token in the broadcast set table: an 8-byte hash
        # long + UnsafeArrayData word alignment/offsets. Token count
        # over-counts DISTINCT shingles, so the estimate only errs
        # toward the safe (shuffle) side.
        est_bytes = int(probe["toks"] or 0) * 12
        if probe["n"] > max_broadcast_docs or est_bytes > max_broadcast_bytes:
            broadcast_small_sides = False

    index = _shingle_index(docs, id_col, n).select(
        "doc", "n_shingles", F.xxhash64("shingle").alias("sh")
    )
    rank_w = Window.partitionBy("doc").orderBy(F.asc("__df"), F.asc("sh"))
    ranked = scoped_persist(
        index.withColumn("__df", F.count("*").over(Window.partitionBy("sh")))
        .withColumn("__rn", F.row_number().over(rank_w))
    )
    # EAGER materialization: the per-pair aggregate below rides the rank
    # window's doc-keyed partitioning (grouping keys ⊇ the streamed
    # side's HashPartitioning(doc), so the candidate stream needs no
    # exchange) — but an unmaterialized cache plans as
    # `AdaptiveSparkPlan isFinalPlan=false`, whose output partitioning
    # is unknown, and EnsureRequirements then inserts a full
    # candidate-stream exchange (73.6M rows at 2x-sf1, the largest
    # shuffle in the plan). Counting here finalizes the cached plan so
    # all four consumers plan against the known partitioning; the count
    # is the one cache-building pass the first consumer pays anyway.
    index_rows = ranked.count()
    # SIZE the doc partitioning to the CANDIDATE volume, not the corpus
    # (round-16 spill fix): the per-pair aggregate's hash tables hold
    # ~one entry per candidate row in their task, so a session's
    # shuffle_partitions (right for the corpus-sized windows) can be
    # catastrophically few for the join's fan-out — measured at 2x-sf1:
    # 70M candidate rows over 32 partitions = 2.2M groups/task, past
    # per-task execution memory, sort-spill fallback, 17.7 s for an
    # aggregate that runs in ~3 s when sized. The fan-out is exactly
    # Σ df over extended-prefix entries, one cheap aggregate over the
    # cached index (this is why __df stays a cached column), and the
    # repartition reshuffles only the cached vocab-sized index — never
    # the candidate stream — while keeping HashPartitioning(doc), so
    # the aggregate stays exchange-free at the right width. This is
    # also the 100 TB posture: partition count follows estimated work,
    # not a session constant.
    rows_per_task = 500_000
    # The sizing probe is GATED on the index size (VERDICT r16 task 4):
    # an index under rows_per_task rows cannot amortize the probe's two
    # extra driver jobs (the Σdf aggregate + the eager re-cached
    # repartition count, measured +1.4 s at sf0.1 / +3.5 s at sf1 for a
    # benefit that only appears once the candidate stream outgrows the
    # session partitioning). A sub-rows_per_task index with a
    # pathologically hot shingle can still fan out past the session
    # width — that is exactly the r15 behavior this restores, the tasks
    # sort-spill but complete, and the corpora where it matters (sf2+)
    # all clear the gate anyway.
    if index_rows >= rows_per_task:
        prefix_len_for_est = (
            F.floor(
                (F.lit(1.0) - F.lit(threshold)) * F.col("n_shingles")
                + F.lit(1e-9)
            )
            + 1
            + int(prefix_ext)
        )
        est_pairs = (
            ranked.filter(F.col("__rn") <= prefix_len_for_est)
            .agg(F.sum("__df"))
            .first()[0]
            or 0
        )
        n_parts = ranked.rdd.getNumPartitions()
        want = min(4096, -(-int(est_pairs) // rows_per_task))
        if want > n_parts:
            resized = scoped_persist(ranked.repartition(want, F.col("doc")))
            resized.count()
            ranked.unpersist()
            ranked = resized
    # +1e-9 before the floor: (1-t)·|S| lands BELOW its true value in
    # binary for integral cases (0.2·10 → 1.9999…96 → floor 1, one
    # short — a boundary pair whose misses all fall in the prefix
    # would be lost). Rounding UP can only oversize the prefix, which
    # costs candidates the verify discards, never recall.
    prefix_len = (
        F.floor(
            (F.lit(1.0) - F.lit(threshold)) * F.col("n_shingles")
            + F.lit(1e-9)
        )
        + 1
    )
    # Extended prefix + per-pair match ACCUMULATION (round-16, VERDICT
    # r15 task 1 — the PPJoin match-count discipline, Xiao et al. 2008
    # §4, applied to the containment semantics). The r15 stress pass
    # measured the per-row positional filter nearly inert on the gate
    # corpus (29M join rows → 13.5M surviving pairs at sf1, ×4.2 at
    # sf2): heterogeneous doc lengths let every short-S candidate
    # survive positionally anywhere in a long O, and all of them paid
    # the two verify joins + array_intersect. Extending each doc's
    # prefix by ``prefix_ext`` entries strengthens the pigeonhole from
    # "≥1 shared" to "≥ prefix_ext+1 shared": overlap ≥ ⌈t·|S|⌉ means S
    # misses ≤ m = ⌊(1-t)·|S|⌋ shingles, so among its m+1+ext rarest at
    # least ext+1 are in O — a true pair ALWAYS produces ≥ ext+1 join
    # rows. Random near-miss pairs share one rare shingle by collision;
    # sharing ext+1 of them is combinatorially rare, so the per-pair
    # count filter kills the candidate population the positional filter
    # could not (measured sf1: 13.5M → ~true-pair-sized before verify).
    prefix_len_ext = prefix_len + int(prefix_ext)
    prefixes = ranked.filter(F.col("__rn") <= prefix_len_ext).select(
        "doc", "n_shingles", F.col("__rn").alias("__rn_s"), "sh"
    )
    other = ranked.select(
        F.col("doc").alias("__doc_o"),
        F.col("n_shingles").alias("__n_o"),
        F.col("__rn").alias("__rn_o"),
        "sh",
    )
    # the prefix guarantee covers the SMALLER side, so keep a match row
    # only when the prefix's owner is it (the strict tie-break makes
    # each unordered pair arrive in exactly one orientation, so the
    # per-pair aggregate below needs no output-side dedup)
    size_rule = (F.col("n_shingles") < F.col("__n_o")) | (
        (F.col("n_shingles") == F.col("__n_o"))
        & (F.col("doc") < F.col("__doc_o"))
    )
    if broadcast_small_sides:
        joined = other.join(F.broadcast(prefixes), "sh")
    else:
        # never let Catalyst broadcast the corpus-sized probe side —
        # the _pairs_with_jaccard lesson. The SHUFFLE_HASH hint goes
        # ON the prefix side because Spark builds the per-partition
        # hash table from the HINTED side: hinting `other` here made
        # every partition build an index-sized (and hot-shingle-
        # skewed) table while probing with the small prefixes —
        # exactly inverted. Build = prefixes (~(1-t)·Σ|S| rows,
        # bounded), probe = the corpus index.
        joined = prefixes.hint("shuffle_hash").join(other, "sh")
    # ⌈t·|S|⌉ with the symmetric guard against t·|S| binary-landing
    # ABOVE an integral true value and ceil overshooting by one (which
    # would prune a boundary-true pair)
    required = F.ceil(
        F.lit(threshold) * F.col("n_shingles").cast("double") - F.lit(1e-9)
    )
    # RELAXED per-row positional pre-filter, sound for every pigeonhole
    # witness: the i-th-smallest shared shingle s_i has all shared
    # except s_1..s_{i-1} ranking after it on BOTH sides (both docs
    # rank by the same global (df, sh) key), so overlap ≤ i +
    # min(n_s - rn_s(s_i), n_o - rn_o(s_i)). Each of the ext+1
    # guaranteed witnesses therefore passes with i ≤ ext+1, and the
    # filter halves the rows entering the per-pair aggregate (the
    # strict i=1 form of r11-r15 would drop witnesses s_2.. and break
    # the count guarantee below).
    row_keep = (
        F.lit(1 + int(prefix_ext))
        + F.least(
            F.col("n_shingles") - F.col("__rn_s"),
            F.col("__n_o") - F.col("__rn_o"),
        )
        >= required
    )
    # One aggregate per candidate pair. n_s/n_o ride as grouping keys
    # (functionally dependent on the doc ids — same groups, no first()
    # buffers), and because the streamed probe side keeps the rank
    # window's HashPartitioning(doc→__doc_o) — a subset of the grouping
    # keys — the aggregate needs NO exchange of the candidate stream
    # (the eager ranked.count() above is what makes that partitioning
    # visible to the planner). Two EXACT pair-level tests follow:
    #  - minimal-match bound: the globally-minimal SHARED shingle is
    #    always a matched+counted row (it is in S's pigeonhole prefix
    #    and passes the relaxed filter with i=1), and every other
    #    shared shingle ranks after it on both sides — overlap ≤ 1 +
    #    min(n_s - min_rn_s, n_o - min_rn_o). This is the strongest
    #    per-row positional bound of the r11-r15 implementation, so
    #    this path prunes a superset of what that code pruned.
    #  - witness count: overlap ≥ ⌈t·n_s⌉ forces ≥ min(ext+1, req)
    #    shared shingles inside S's extended prefix (misses ≤ m, prefix
    #    holds min(m+1+ext, n_s) elements), each of which joins and
    #    passes the relaxed filter — so true pairs always show
    #    c ≥ min(ext+1, req), while near-miss pairs sharing only one or
    #    two rare shingles (13.5M of them at sf1, 4.2x-growing — the
    #    r15 stress outlier) die here instead of paying the verify.
    pair = (
        joined.filter(
            (F.col("doc") != F.col("__doc_o")) & size_rule & row_keep
        )
        .groupBy("doc", "n_shingles", "__doc_o", "__n_o")
        .agg(
            F.count("*").alias("__c"),
            F.min("__rn_s").alias("__min_rn_s"),
            F.min("__rn_o").alias("__min_rn_o"),
        )
    )
    pair_keep = (
        F.lit(1)
        + F.least(
            F.col("n_shingles") - F.col("__min_rn_s"),
            F.col("__n_o") - F.col("__min_rn_o"),
        )
        >= required
    ) & (F.col("__c") >= F.least(F.lit(1 + int(prefix_ext)), required))
    candidates = pair.filter(pair_keep).select(
        F.least("doc", "__doc_o").alias("doc_a"),
        F.greatest("doc", "__doc_o").alias("doc_b"),
    )
    # verify sets ride the same doc-keyed exchange as the rank window
    sets = ranked.groupBy("doc").agg(F.collect_set("sh").alias("shs"))
    a = sets.select(F.col("doc").alias("doc_a"), F.col("shs").alias("shs_a"))
    b = sets.select(F.col("doc").alias("doc_b"), F.col("shs").alias("shs_b"))
    if broadcast_small_sides:
        # the per-doc set frames scale with CORPUS DOC COUNT — cheap
        # at every test SF (where the candidate stream, not the sets,
        # is the big side: a closed vocabulary makes Σdf² collisions
        # dwarf the 5k-doc set table), unbounded at 100 TB. The
        # count guard above flips this flag off before these
        # F.broadcast calls can bypass autoBroadcastJoinThreshold on
        # a corpus-scale set table.
        a, b = F.broadcast(a), F.broadcast(b)
        paired = candidates.join(a, "doc_a").join(b, "doc_b")
    else:
        # build-side rule as above: hint the candidate stream, never
        # the corpus-sized sets (Spark builds from the HINTED side) —
        # at scale candidates are prefix-filter-bounded while sets
        # rows are one per corpus doc
        paired = candidates.hint("shuffle_hash").join(a, "doc_a")
        paired = paired.hint("shuffle_hash").join(b, "doc_b")
    return (
        paired
        .select(
            "doc_a",
            "doc_b",
            F.size("shs_a").alias("n_a"),
            F.size("shs_b").alias("n_b"),
            F.size(F.array_intersect("shs_a", "shs_b")).alias("shared"),
        )
        .withColumn(
            "containment",
            F.col("shared").cast("double")
            / F.least("n_a", "n_b").cast("double"),
        )
        .filter(F.col("containment") >= threshold)
    )


def minhash_band_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    ensure_parallelism: bool = True,
) -> DataFrame:
    """(doc, band, sig) banded MinHash bucket keys — the LSH collision
    unit, factored out so batch pair-finding (minhash_lsh_pairs) and
    the streaming fingerprint store (streaming/dedup.py, which persists
    these as history and drops arriving docs whose band collides) share
    one definition and can never drift.

    K independent salted xxhash64 permutations. (A cheaper affine /
    double-hashing family was measured here and rejected: its
    permutations correlate — the same shingle tends to win adjacent k
    — which collapses r=2 bands toward r=1 and bloats the bucket join.
    The K hash evaluations are <1 s at bench SF; the join is what
    matters.)"""
    rows = num_hashes // bands
    stream = _shingle_stream(docs, id_col, n, ensure_parallelism=ensure_parallelism)
    # The K aggregates and the band array are built as ONE SQL
    # expression STRING, not Column trees (round-17/18): the per-Column
    # py4j roundtrips dominated this operator's driver-side
    # construction — profiled at 3,639 gateway calls / ~1.7 s per build
    # on Column trees (every F.min/F.xxhash64/F.lit/F.struct/F.hash is
    # one or more socket round-trips), paid by EVERY minhash gate call
    # and every curation-pipeline/streaming micro-batch. Round 17 cut
    # that to 33 F.expr parses (~0.8 s/build); round 18 (VERDICT task
    # 5) folds the whole thing — the K min(xxhash64) aggregates nested
    # inside the banded struct array — into a SINGLE expr, one parse,
    # one agg call. Catalyst splits it back into the identical
    # HashAggregate (32 min aggregates, partial-aggregable map-side) +
    # result projection (array of band structs), so the physical plan
    # is byte-identical to the round-17 shape modulo the dropped
    # intermediate mh_k aliases (Exchange/Generate counts unchanged —
    # plans/r18/dedup_minhash_lsh_{before,after}.txt).
    band_terms = ", ".join(
        "struct({b} AS band, hash({mins}) AS sig)".format(
            b=b,
            mins=", ".join(
                f"min(xxhash64('mh{b * rows + r}', shingle))" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return (
        stream.groupBy("doc")
        .agg(F.expr(f"array({band_terms}) AS __bands"))
        .select("doc", F.explode("__bands").alias("bs"))
        .select("doc", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 16,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash + LSH near-dup pairs, verified with exact Jaccard.

    shingle → K minhashes (xxhash64 with per-permutation salt, one
    hash-aggregate) → `bands` banded signatures → bucket self-join →
    candidate pairs → exact-Jaccard verify. With K=32, b=16, r=2 the
    S-curve catches j≥0.7 with P ≈ 1 - (1-j²)^16 ≈ 1 - 2e-5, while
    keeping bucket collisions (and thus the join fan-out) sparse.

    ``max_bucket`` (round-16, the adversarial-skew stress finding):
    boilerplate-heavy corpora break the "collision-sparse" premise — at
    a skew-sf1 corpus where 30% of docs share two boilerplate
    paragraphs (Jaccard ≈ 0.5 between any two: below threshold, above
    the band-collision S-curve's floor), every band bucket holding the
    15k boiler docs emits C(15k,2) ≈ 112M candidate pairs that the
    exact verify then rejects one by one — measured 791 s for zero
    output rows, vs ~6 s on the uniform corpus. With ``max_bucket``
    set, buckets larger than the cap are excluded from pair generation
    (one (band,sig) count over the bucket frame, reusing the
    self-join's own exchange). Recall argument: a true pair is lost
    only if EVERY band where it collides is over the cap; a j ≥ 0.7
    pair collides per band with P = j² ≥ 0.49, so it lands in ~8 of 16
    bands, and a band bucket is over a 1000-doc cap only when the two
    docs share that band's minhashes with ≥ 1000 others — the
    boilerplate signature itself. Pairs that are near-dup through
    their NON-boilerplate content collide in bands keyed by their
    unique shingles, which stay small. The default is None (off):
    pair output stays exactly the banded-candidate set the oracle
    gates pin; callers running curation over boilerplate-bearing
    corpora opt in (and should run paragraph dedup first — the CCNet
    ordering — which removes the pathology at the source).
    """
    rows = num_hashes // bands
    # The shingle stream is computed inside the single pipeline that
    # produces the (doc, band, sig) buckets — it is never persisted,
    # deduplicated, or counted: min() over duplicate shingles equals
    # min() over the distinct set, so the distinct + n_shingles shuffles
    # that exact Jaccard needs are skipped entirely here. At 100 TB the
    # inverted index is within a small factor of the corpus itself;
    # caching it is a memory/disk cliff, while the bucket frame is
    # |docs| × bands rows of three fixed-width columns. Only the two
    # candidate-scoped frames are persisted — the candidate PAIRS (two
    # ids per row) and the candidate docs' shingle SETS (fixed-width
    # long arrays; can approach |corpus| rows on low-entropy corpora,
    # see the verify comment below) — both read by two consumers
    # (scoped_persist defaults to MEMORY_AND_DISK, so a huge candidate
    # set degrades to disk instead of OOM, and the caching.py registry
    # releases both at the next gate boundary so long sessions don't
    # accrete stale cache into the storage pool — round-15 fix).
    # This shape was re-measured round 4: 2.7 s → 0.9 s at
    # sf0.1 vs the prior posting-list verify, which recomputed the
    # candidate shingle stream on both sides of its pair join and paid
    # a ~1.9 s physical-plan conversion probing partition counts on the
    # joined verify input.
    buckets = minhash_band_signatures(docs, id_col, n, num_hashes, bands)
    if max_bucket is not None:
        # hot-bucket cut: drop (band, sig) groups larger than the cap
        # BEFORE the self-join — the count and the semi-join ride the
        # same (band, sig) canonical exchange the self-join shuffles
        # on, so this adds no new corpus-wide shuffle
        sizes = buckets.groupBy("band", "sig").agg(
            F.count("*").alias("__bs")
        )
        buckets = buckets.join(
            sizes.filter(F.col("__bs") <= int(max_bucket)).drop("__bs"),
            ["band", "sig"],
            "left_semi",
        )
    # bucket self-join: both sides are the same canonical subplan, so
    # Spark computes the (band, sig) exchange ONCE and reuses it
    # (ReusedExchange / AQE stage reuse) — the shingle+minhash pipeline
    # runs exactly once, inside this single job, with no persist
    left = buckets.select(F.col("doc").alias("doc_a"), "band", "sig")
    right = buckets.select(F.col("doc").alias("doc_b"), "band", "sig")
    # shuffle_hash pins the shuffle self-join the paragraph above
    # describes: without it Catalyst sizes the bucket frame from the
    # compact parquet scan underneath and BROADCASTS one side (round-11
    # audit) — a corpus x bands driver HashedRelation at scale, and no
    # ReusedExchange. With the hint both sides shuffle on (band, sig)
    # and the canonical subplan's exchange computes once; bucket
    # groups are collision-sparse by design, so the partition-local
    # build is bounded.
    candidates = scoped_persist(
        left.join(right.hint("shuffle_hash"), ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Verify with exact Jaccard over shingle SETS rebuilt only for
    # candidate docs. The candidate population is NOT always tiny: on a
    # low-entropy shingle space, accidental band collisions sweep in
    # most of the corpus (measured: 88k of 100k docs at a 2x-sf1 corpus
    # over the bench vocabulary — C(n,2)·j_rand² grows quadratically
    # while true near-dup pairs grow linearly), so the set frame must
    # be sized for |corpus|, not |near-dups|. Shingles are therefore
    # hashed to fixed-width xxhash64 longs BEFORE the set build — the
    # containment_pairs_prefix representation: a Java String in a
    # collect_set buffer costs ~60 B + object churn where a long costs
    # 8, and the string variant was measured OOMing a 16 GiB session at
    # that same 100k-doc corpus (round 15) while the long variant runs
    # it in seconds. Distinct-long counts equal distinct-string counts
    # except with v²/2⁶⁵ collision probability (the prefix gate's
    # documented bound — ~1e-10 at bench vocab, a ±1 perturbation of
    # one pair's counts at 100 TB), which is why the gate's DuckDB
    # oracle, computed over raw strings, still value-matches. One
    # collect_set aggregate per doc (buffer bounded by the doc's own
    # length), and the pair join computes |A∩B| / |A∪B| directly with
    # array_intersect — codegen'd, no posting-list explode, no extra
    # pair-level aggregation. The set joins carry no broadcast hint:
    # AQE picks broadcast-hash from the cached frame's true size
    # locally and degrades to a shuffle join if the candidate
    # population is ever huge. No eager count is needed: the
    # cand_docs broadcast is the first cache reader and fills it.
    cand_docs = (
        candidates.select(F.explode(F.array("doc_a", "doc_b")).alias(id_col)).distinct()
    )
    cstream = _shingle_stream(
        docs.join(F.broadcast(cand_docs), id_col), id_col, n, ensure_parallelism=False
    )
    sets = scoped_persist(
        cstream.select("doc", F.xxhash64("shingle").alias("sh"))
        .groupBy("doc")
        .agg(F.collect_set("sh").alias("shs"))
    )
    a = sets.select(F.col("doc").alias("doc_a"), F.col("shs").alias("shs_a"))
    b = sets.select(F.col("doc").alias("doc_b"), F.col("shs").alias("shs_b"))
    return (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size("shs_a").alias("n_a"),
            F.size("shs_b").alias("n_b"),
            F.size(F.array_intersect("shs_a", "shs_b")).alias("shared"),
        )
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_a", "n_b", "shared", "jaccard")
    )


def neardup_clusters(
    pairs: DataFrame,
    max_iterations: int | None = None,
    stats: dict | None = None,
    algorithm: str = "bigstar",
) -> DataFrame:
    """Connected components over near-dup pairs → (doc, cluster_id),
    cluster_id = smallest doc id in the component (the canonical
    "representative document" a dedup pipeline keeps). The DEFAULT
    engine is large-star/small-star (`neardup_clusters_bigstar`,
    O(log n) driver-synchronized rounds) — chain-shaped components
    (sliding-window near-dups in crawl shards) degenerate min-label
    propagation to O(diameter) rounds, so the chain-safe algorithm is
    what every caller should get without opting in (VERDICT r10).
    ``algorithm="minlabel"`` keeps the O(diameter) twin reachable for
    stats comparison; both produce the identical label table
    (equality-pinned in tests/test_dedup.py)."""
    if algorithm == "bigstar":
        return neardup_clusters_bigstar(
            pairs,
            max_iterations=50 if max_iterations is None else max_iterations,
            stats=stats,
        )
    if algorithm != "minlabel":
        raise ValueError(
            f"algorithm must be 'bigstar' or 'minlabel', got {algorithm!r}"
        )
    return neardup_clusters_minlabel(
        pairs,
        max_iterations=30 if max_iterations is None else max_iterations,
        stats=stats,
    )


def neardup_clusters_minlabel(
    pairs: DataFrame, max_iterations: int = 30, stats: dict | None = None
) -> DataFrame:
    """Connected components by iterative min-label propagation — the
    O(component-diameter)-round twin of `neardup_clusters_bigstar`,
    kept for stats/round-count comparison; same output contract.

    Iterative min-label propagation: each round every doc takes the
    minimum label among itself and its neighbors; fixpoint after
    O(component diameter) rounds — near-dup graphs are dense blobs with
    tiny diameters, so this converges in a handful of rounds even at
    corpus scale. Each round is one join + one hash aggregate; labels
    are persisted per round and the monotone sum of labels is the
    convergence check (min-label only decreases). Only docs appearing
    in at least one pair are emitted — singletons are their own cluster
    trivially and would bloat output |corpus|-fold.

    Lineage control: every round's labels are localCheckpoint()ed —
    persist alone keeps the logical plan, which doubles per round and
    blows up planning after ~10 iterations (the standard iterative-
    algorithm trap). On a real cluster prefer
    spark.sparkContext.setCheckpointDir + .checkpoint() for executor-
    failure tolerance; local mode has no such failure domain."""
    edges = pairs.select("doc_a", "doc_b").transform(tracked_local_checkpoint)
    sym = edges.unionByName(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    labels = (
        sym.select(F.col("doc_a").alias("doc"))
        .distinct()
        .withColumn("cluster_id", F.col("doc"))
        .transform(tracked_local_checkpoint)
    )
    prev_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]
    for rounds in range(1, max_iterations + 1):
        if stats is not None:
            stats["rounds"] = rounds
        prop = sym.join(labels, sym["doc_b"] == labels["doc"]).select(
            F.col("doc_a").alias("doc"), "cluster_id"
        )
        new_labels = (
            labels.unionByName(prop)
            .groupBy("doc")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .transform(tracked_local_checkpoint)
        )
        cur_sum = new_labels.agg(F.sum("cluster_id")).collect()[0][0]
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def neardup_clusters_bigstar(
    pairs: DataFrame, max_iterations: int = 50, stats: dict | None = None
) -> DataFrame:
    """Connected components in O(log n) ROUNDS via alternating
    large-star / small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14 — public algorithm) — the
    adversarial-shape twin of `neardup_clusters`, same output contract:
    (doc, cluster_id = smallest doc id in the component), equality
    pinned between the two in tests/test_dedup.py.

    Why it exists: min-label propagation converges in O(component
    diameter) rounds — fine for blob-shaped near-dup graphs, degenerate
    for CHAIN-shaped components (sliding-window near-dups in crawl
    shards), where a 10k-long chain means 10k driver-synchronized
    rounds. The star operations instead contract every node toward its
    neighborhood minimum so path lengths halve each round:

      large-star(u): m = min({u} ∪ N(u)); for every v ∈ N(u) with
                     v > u emit edge (v, m)
      small-star(u): m = min({v ∈ N(u): v < u} ∪ {u}); emit (u, m)
                     and (v, m) for those v

    Each operation is one hash aggregate (per-center neighborhood min,
    partial-aggregable map-side) + one shuffle join on the center key +
    distinct; a round runs both operations, so per-round cost is ~2× a
    min-label round — bought back exponentially by needing O(log n)
    rounds instead of O(diameter) (measured: a 10k chain in 15 rounds
    where min-label needs 10,000). Edges
    only ever point DOWNWARD (toward smaller ids), the total edge
    weight is monotonically non-increasing, and the fixpoint is a set
    of stars rooted at component minima, read off as the label table.
    Per-round lineage is cut with localCheckpoint like the sibling
    (see its docstring for the checkpoint-vs-persist rationale).

    Not fully lazy: the call checkpoints the edge set and runs one
    limit-1 job to test it for emptiness before building any round, so
    an empty pair set costs that job and zero rounds (`stats["rounds"]`
    is 0, the same keys the loop sets)."""
    edges = (
        pairs.select(
            F.least("doc_a", "doc_b").alias("a"), F.greatest("doc_a", "doc_b").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .select(F.col("b").alias("a"), F.col("a").alias("b"))  # a > b: point down
        .transform(tracked_local_checkpoint)
    )
    # Empty-graph early exit (round-18): the checkpoint above has
    # already materialized the edge set, so the emptiness probe is one
    # cheap limit-1 job — and at high thresholds an empty (or
    # converged-at-zero) pair set is the COMMON case, where the loop
    # below would still pay a full star round (union, two aggregates,
    # two joins, a distinct, a checkpoint, a convergence collect — all
    # over nothing) before noticing. Semantics are exact: no edges ⇒
    # no labeled docs (singletons are never emitted, per the contract).
    # The empty graph runs zero rounds and leaves through the same
    # stats write and return as every other graph.
    if stats is not None:
        stats["rounds"] = 0
    prev = None
    for rounds in range(1, 0 if edges.isEmpty() else max_iterations + 1):
        if stats is not None:
            stats["rounds"] = rounds
        sym = edges.unionByName(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        # large-star: center u = "a", neighbors v = "b"
        mins = sym.groupBy("a").agg(F.min("b").alias("mn"))
        m = mins.select("a", F.least("a", "mn").alias("m"))
        large = (
            sym.join(m, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star over large's output: centers see only smaller neighbors
        lsym = large.unionByName(large.select(F.col("b").alias("a"), F.col("a").alias("b")))
        down = lsym.filter(F.col("b") < F.col("a"))
        smins = down.groupBy("a").agg(F.min("b").alias("mn"))
        small = (
            down.join(smins, "a")
            .select(F.col("b").alias("a"), F.col("mn").alias("b"))
            .unionByName(smins.select("a", F.col("mn").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .transform(tracked_local_checkpoint)
        )
        edges = small
        cur = edges.agg(
            F.count("*").alias("n"), F.sum("a").alias("sa"), F.sum("b").alias("sb")
        ).collect()[0]
        cur = (cur["n"], cur["sa"], cur["sb"])
        if cur == prev:
            break
        prev = cur
    return (
        edges.select(F.col("a").alias("doc"), F.col("b").alias("cluster_id"))
        .unionByName(edges.select(F.col("b").alias("doc"), F.col("b").alias("cluster_id")))
        .groupBy("doc")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )


def with_simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document: per-token xxhash64, ±1 bit voting,
    sign → bit.

    Bit votes are 64 conditional-sum AGGREGATES over the exploded token
    hashes — whole-stage-codegen'd, one hash-aggregate pass. (A previous
    formulation collected hashes per doc and evaluated nested
    transform/aggregate lambdas; interpreted HOF evaluation made it
    ~30× slower at bench SF.) The final hash assembles from the 64 vote
    columns in one projection."""
    toks = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(F.lower(F.col(text_col)), " "))).alias("tok"),
    ).select(id_col, F.xxhash64("tok").alias("h"))
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {j}) & 1 = 1"), 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(64)
        ]
    )
    simhash = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN shiftleft(1L, {j}) ELSE 0L END)" for j in range(64)
    )
    return votes.select(id_col, F.expr(simhash).alias("simhash"))


def _band_slices(bands: int) -> list[tuple[int, int]]:
    """Partition the 64 simhash bits into `bands` contiguous slices of
    near-equal width ((shift, width) per band). Uneven widths are fine —
    pigeonhole only needs the slices to be disjoint and cover all bits."""
    base, extra = divmod(64, bands)
    slices, shift = [], 0
    for b in range(bands):
        width = base + (1 if b < extra else 0)
        slices.append((shift, width))
        shift += width
    return slices


def simhash_banded_pairs(
    sh: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 6,
    bands: int | None = None,
    max_bucket: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Banded blocking + exact Hamming verify over a precomputed
    (id, simhash) frame.

    Recall guarantee: a pair at Hamming distance d differs in d bit
    positions, which can touch at most d of the bands — so with
    bands >= max_hamming + 1 (the default) pigeonhole guarantees the
    pair agrees exactly on at least one band and is generated as a
    candidate. bands <= max_hamming would silently miss pairs at
    distance bands..max_hamming and is rejected.

    ``max_bucket`` is the 100 TB hot-bucket guard, motivated by a real
    sf1 finding (SCALE.md): on low-entropy corpora simhash band values
    concentrate and the Σ|bucket|² candidate term balloons (measured
    ~258 s vs ~1 s for minhash over the same 50k docs). With the cap
    set, (band, val) buckets larger than ``max_bucket`` generate no
    candidates. This is LOSSY — a pair whose every agreeing band is
    oversized is dropped, weakening the pigeonhole guarantee to
    small-bucket bands only — so it is off by default and NEVER silent:
    pass ``stats`` to receive {skipped_buckets, skipped_rows}. (Run
    exact dedup first; identical docs are the most common cause of
    giant buckets and don't need simhash to find.)"""
    if bands is None:
        bands = max_hamming + 1
    if bands <= max_hamming:
        raise ValueError(
            f"bands={bands} breaks the recall guarantee for max_hamming={max_hamming}: "
            f"need bands >= max_hamming + 1 (pigeonhole)"
        )
    banded = sh.select(
        F.col(id_col).alias("doc"),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(f"(simhash >> {shift}) & {(1 << width) - 1}").alias("val"),
                    )
                    for b, (shift, width) in enumerate(_band_slices(bands))
                ]
            )
        ).alias("bv"),
    ).select("doc", "simhash", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    if max_bucket is not None:
        sizes = banded.groupBy("band", "val").agg(F.count("*").alias("__bn"))
        if stats is not None:
            sk = sizes.filter(F.col("__bn") > max_bucket).agg(
                F.count("*").alias("nb"), F.coalesce(F.sum("__bn"), F.lit(0)).alias("nr")
            ).collect()[0]
            stats["skipped_buckets"] = int(sk["nb"])
            stats["skipped_rows"] = int(sk["nr"])
        keep = sizes.filter(F.col("__bn") <= max_bucket).select("band", "val")
        # LEFT SEMI, not inner: the join only filters banded rows, and
        # a semi join can never build/broadcast its LEFT side — an
        # unhinted inner join here let AQE broadcast the corpus×bands
        # bucket stream as BuildLeft when its runtime size dipped under
        # the threshold (caught intermittently by the plan audit). The
        # keep-list (right, the only buildable side) is an aggregate of
        # distinct band values: broadcast when it fits, shuffled
        # otherwise — AQE decides, and both choices are bounded by
        # bucket-key cardinality, never by corpus rows.
        banded = banded.join(keep, ["band", "val"], "left_semi")
    left = banded.select(F.col("doc").alias("doc_a"), F.col("simhash").alias("sh_a"), "band", "val")
    right = banded.select(F.col("doc").alias("doc_b"), F.col("simhash").alias("sh_b"), "band", "val")
    # shuffle_hash: pin the shuffle self-join (the minhash bucket-join
    # rule) — Catalyst's compact-scan estimate otherwise broadcasts one
    # corpus x bands side (round-11 audit)
    return (
        left.join(right.hint("shuffle_hash"), ["band", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.expr("bit_count(sh_a ^ sh_b)").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 6,
    bands: int | None = None,
    max_bucket: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: block on bands (bands defaults to
    max_hamming + 1 so pigeonhole guarantees full recall at the declared
    distance), then verify with bit_count(xor). ``max_bucket``/``stats``
    are the observable hot-bucket guard — see simhash_banded_pairs."""
    return simhash_banded_pairs(
        with_simhash(docs, id_col, text_col),
        id_col,
        max_hamming=max_hamming,
        bands=bands,
        max_bucket=max_bucket,
        stats=stats,
    )


# paragraph keep-first ordering key: doc_id * _PARA_KEY_BASE + pos must
# be collision-free and fit a long, so pos is bounded (1e12 docs ×
# 1e6 paragraphs/doc still fits in int64)
_PARA_KEY_BASE = 1_000_000


_REGEX_META = re.compile(r"[.^$*+?()\[\]{}|\\]")


def paragraph_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    join_sep: str | None = None,
    normalize: bool = False,
    seen_keys: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style paragraph-level exact dedup (Wenzek et al. 2020 §3.1
    — public paper): split each document into paragraphs on ``sep``,
    keep only the FIRST corpus-wide occurrence of each distinct
    paragraph, and re-assemble each document from its surviving
    paragraphs in original order.

    "First occurrence" is the smallest ``(doc_id, pos)`` pair, encoded
    as the exact-int key ``doc_id * 1_000_000 + pos`` so the winner is
    engine-independent. The < 1e6 paragraphs/doc bound is ENFORCED: a
    document with ``pos >= 1_000_000`` raises at execution time rather
    than silently corrupting the keep-first order (the reference
    pipeline has no sub-document dedup at all — this is the
    LLM-pipeline staple layered on the dedup_exact machinery,
    dedup.py:24-58).

    ``sep`` is a Java regex used for SPLITTING; re-assembly joins with
    ``join_sep``, defaulting to ``sep`` taken literally. Because those
    two uses differ, a ``sep`` containing regex metacharacters (e.g.
    ``"\\n{2,}"``) requires an explicit ``join_sep`` — we raise rather
    than silently gluing paragraphs with regex source text.

    ``normalize=True`` is the fuzzy variant: the dedup KEY is the
    whitespace-collapsed/trimmed/lowercased paragraph
    (functions/text.py:normalized_text), so near-identical paragraphs
    (spacing/case variants) collapse too — the RAW text of the first
    occurrence is what survives into ``dedup_text``.

    ``seen_keys`` (a frame with a ``ph`` column of paragraph sha256
    digests — the streaming fingerprint store, streaming/dedup.py)
    makes the pass INCREMENTAL: a paragraph whose digest appears there
    is dropped even as a first-in-this-corpus occurrence, while
    ``n_paras`` still counts it, so stream-over-shards equals
    batch-over-the-union exactly. Joined on the digest (shuffle keyed
    on ph), never collected.

    Returns one row per input document: ``doc_id, n_paras, n_kept,
    para_frac_removed, dedup_text`` (empty paragraphs are dropped on
    both sides of the stat, and a document whose every paragraph is a
    repeat keeps ``n_kept = 0`` and an empty ``dedup_text``).

    Scale shape (the 100 TB contract, single-scan form — round 9): ONE
    corpus scan + explode; keep-first is ``min(okey) OVER (PARTITION BY
    ph)`` — a window keyed on the 32-byte paragraph sha256, which is
    uniformly distributed with no null class, so one shuffle on the
    digest replaces the previous agg + self-join pair of subtree
    recomputes. Totals and re-assembly then ride a single further
    shuffle keyed on ``doc_id``: ``count(*)`` gives n_paras,
    ``sum(is_first)`` gives n_kept, and
    ``collect_list(when(is_first, struct(pos, para)))`` (collect_list
    skips nulls) + ``array_sort`` restores order without another
    window. Two shuffles total, work scales with distinct paragraphs,
    never |corpus|².
    """
    if join_sep is None:
        if _REGEX_META.search(sep):
            raise ValueError(
                "paragraph_dedup: sep %r contains regex metacharacters; "
                "it is a split regex, so pass join_sep explicitly for "
                "re-assembly" % (sep,)
            )
        join_sep = sep
    key = F.sha2(normalized_text("para") if normalize else F.col("para"), 256)
    paras = (
        docs.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
        )
        .filter(F.length("para") > 0)
        .withColumn(
            "okey", F.col(id_col).cast("long") * _PARA_KEY_BASE + F.col("pos")
        )
        .withColumn("ph", key)
    )
    w = Window.partitionBy("ph")
    flagged = paras.withColumn(
        "is_first", F.col("okey") == F.min("okey").over(w)
    )
    if seen_keys is not None:
        # seen_keys must be ph-DISTINCT (contract): the membership join
        # is a plain left join, so duplicate digests would duplicate
        # paragraph rows. The streaming fingerprint store guarantees it
        # by construction (each batch appends only digests anti-joined
        # against everything seen; asserted in test_streaming_dedup) —
        # re-running distinct() here cost a full O(store) shuffle per
        # micro-batch for an invariant that always held (VERDICT r9).
        seen = seen_keys.select("ph").withColumn(
            "__seen", F.lit(True)
        )
        flagged = flagged.join(seen, "ph", "left").withColumn(
            "is_first", F.col("is_first") & F.col("__seen").isNull()
        )
    # The <1e6 paragraphs/doc bound is checked per GROUP, not per row:
    # max(pos) rides the doc_id aggregation for free and the raise_error
    # branch evaluates once per document (a per-row when(raise_error)
    # wrapper on okey measured +60% on the whole query). A violating
    # document fails the query before any possibly-collided keep-first
    # result can escape.
    return flagged.groupBy(id_col).agg(
        F.count("*").alias("n_paras"),
        F.max("pos").alias("__max_pos"),
        F.sum(F.col("is_first").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("is_first"), F.struct("pos", "para"))
                    )
                ),
                lambda x: x["para"],
            ),
            join_sep,
        ).alias("dedup_text"),
    ).select(
        id_col,
        F.when(
            F.col("__max_pos") >= _PARA_KEY_BASE,
            F.raise_error(
                F.concat(
                    F.lit("paragraph_dedup: document "),
                    F.col(id_col).cast("string"),
                    F.lit(" has >= 1e6 paragraphs; keep-first key overflows"),
                )
            ).cast("long"),
        )
        .otherwise(F.col("n_paras"))
        .alias("n_paras"),
        "n_kept",
        (
            (F.col("n_paras") - F.col("n_kept")).cast("double")
            / F.col("n_paras").cast("double")
        ).alias("para_frac_removed"),
        "dedup_text",
    )


def paragraph_keys(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    normalize: bool = False,
) -> DataFrame:
    """Distinct paragraph digests of a document frame — the unit the
    streaming fingerprint store persists (streaming/dedup.py). Must use
    the exact split/filter/key pipeline of ``paragraph_dedup`` so store
    membership and dedup keys can never drift apart."""
    key = F.sha2(normalized_text("para") if normalize else F.col("para"), 256)
    return (
        docs.select(
            F.explode(F.split(F.col(text_col), sep)).alias("para")
        )
        .filter(F.length("para") > 0)
        .select(key.alias("ph"))
        .distinct()
    )

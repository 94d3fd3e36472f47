"""Continuous curation: the batch curation passes (PII redaction,
Gopher repetition stats, benchmark n-gram decontamination —
operators/curation.py — and optionally CCNet LM quality scoring,
operators/lm.py) run as a Structured Streaming stage over arriving
document shards.

A training-data pipeline does not curate once: shards arrive
continuously (crawl dumps, ingest landings) and each must pass the same
hygiene stack before joining the corpus. Every pass here is per-document
math against a FIXED reference (the benchmark n-gram set), so
stream-over-shards equals batch-over-the-union exactly — pinned in
tests/test_streaming_curation.py on a two-trigger run.

The commit protocol is the daemon's (streaming/daemon.py): each output
table write is an idempotent dynamic-partition overwrite of the batch's
own ``__batch_id`` partition, so a crash-and-replay of batch N replaces
exactly N's files. The benchmark n-gram frame is computed ONCE at
processor build (the stream-static pattern) and broadcast into every
micro-batch's probe join — the eval set never re-tokenizes per trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from parsedmarc_go_spark.operators.curation import (
    benchmark_ngrams,
    ngram_decontaminate,
    pii_redact,
    repetition_stats,
)
from parsedmarc_go_spark.caching import scope as caching_scope
from parsedmarc_go_spark.caching import tracked_local_checkpoint
from parsedmarc_go_spark.operators.classify import nb_score, train_nb_classifier
from parsedmarc_go_spark.operators.lm import lm_score, train_bigram_lm
from parsedmarc_go_spark.streaming.daemon import _write_table

CURATION_TABLES = ("docs_redacted", "repetition_stats", "decontamination")
LM_TABLE = "lm_scores"
NB_TABLE = "nb_scores"
POSTINGS_TABLE = "postings"


def _pin_pipeline_mode(
    spark: SparkSession,
    store_dir: str,
    verify_near_dups: bool,
    _race_hook=None,
) -> None:
    """Pin ``verify_near_dups`` to the store directory. The greedy and
    verified modes keep near-dup history in DISJOINT substores
    (``minhash`` vs ``minhash_docs``+``shingles``), so restarting an
    existing store with the flag toggled would silently read EMPTY
    history and wave every cross-trigger near-duplicate of the earlier
    batches through as kept — the streaming analogue of the batch
    checkpoint manifest's resume-with-changed-params refusal (round-14
    review). First-run pins follow the _validate_or_write_manifest
    contract (ADVICE r14): per-attempt UNIQUE tmp name + post-rename
    read-back, so two racing first runs with different flags can never
    both proceed — whichever sidecar lands is the authority, and the
    run whose mode it does not pin refuses. ``_race_hook`` (tests
    only) runs in the window between the no-sidecar check and our
    rename, where a concurrent first run would land its sidecar."""
    import os

    from parsedmarc_go_spark.streaming.dedup import _hadoop_fs

    d = os.path.join(store_dir, "pipeline_mode")
    fs, hpath = _hadoop_fs(spark, d)
    if not fs.exists(hpath):
        # no sidecar: a store from before the sidecar existed must NOT
        # be blind-pinned to the CURRENT flag — that would stamp the
        # new mode over history recorded under the other one (the
        # exact silent-loss bug this guard prevents; round-14 review).
        # Infer the prior mode from which near-dup substores hold
        # data: greedy writes `minhash`, verified writes
        # `minhash_docs`+`shingles`.
        def _sub_exists(sub: str) -> bool:
            _, p = _hadoop_fs(spark, os.path.join(store_dir, sub))
            return bool(fs.exists(p))

        had_greedy = _sub_exists("minhash")
        had_verified = _sub_exists("minhash_docs") or _sub_exists("shingles")
        if had_greedy and had_verified:
            raise ValueError(
                f"store_dir {store_dir} holds BOTH greedy (minhash) "
                "and verified (minhash_docs/shingles) near-dup "
                "substores and no pipeline_mode sidecar — its mode "
                "is ambiguous; recreate the store"
            )
        inferred = True if had_verified else (False if had_greedy else None)
        if inferred is not None and inferred != bool(verify_near_dups):
            raise ValueError(
                f"store_dir {store_dir} has no pipeline_mode sidecar "
                f"but its substores show it was used with "
                f"verify_near_dups={inferred}; restarting with "
                f"verify_near_dups={bool(verify_near_dups)} would "
                "silently forget the retained near-dup history — "
                "use a fresh store_dir (and checkpoint) to change "
                "modes"
            )
    if fs.exists(hpath):
        rows = spark.read.json(d).collect()
        if not rows:
            raise IOError(
                f"pipeline mode sidecar at {d} exists but is empty "
                "— the pinned near-dup mode is unrecoverable; "
                "restore the sidecar or recreate the store"
            )
        pinned = bool(rows[0]["verify_near_dups"])
        if pinned != bool(verify_near_dups):
            raise ValueError(
                f"store_dir {store_dir} was created with "
                f"verify_near_dups={pinned}; restarting with "
                f"verify_near_dups={bool(verify_near_dups)} would "
                "read the other mode's (empty) near-dup substores "
                "and silently forget all retained history — use a "
                "fresh store_dir (and checkpoint) to change modes"
            )
        return
    # first run: write-then-rename under a per-attempt UNIQUE tmp name
    # (a fixed `d + '.tmp'` lets two racing first runs interleave
    # write/overwrite/rename so run A proceeds under a sidecar pinning
    # run B's mode — ADVICE r14). Whatever the rename boolean says,
    # the authority is the sidecar NOW at the pinned path: read it
    # back and accept only if it pins exactly OUR mode.
    import uuid

    tmp = d + f".tmp-{uuid.uuid4().hex}"
    (
        spark.createDataFrame(
            [(bool(verify_near_dups),)], "verify_near_dups boolean"
        )
        .coalesce(1)
        .write.mode("overwrite")
        .json(tmp)
    )
    if _race_hook is not None:
        # tests only: the residual race window — a concurrent first
        # run lands its sidecar after our no-sidecar check, before our
        # rename
        _race_hook()
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    if not fs.rename(jpath(tmp), hpath):
        # lost the race (or FS refusal) — clean our tmp and fall
        # through to the read-back, which decides acceptance
        fs.delete(jpath(tmp), True)
    if not fs.exists(hpath):
        raise IOError(
            f"could not move pipeline mode sidecar into place at "
            f"{d} (rename returned false and no sidecar exists — "
            "filesystem refusal); refusing to run against an "
            "unpinned store"
        )
    rows = spark.read.json(d).collect()
    if not rows:
        raise IOError(
            f"pipeline mode sidecar at {d} landed empty — the "
            "pinned near-dup mode is unrecoverable; restore the "
            "sidecar or recreate the store"
        )
    landed = bool(rows[0]["verify_near_dups"])
    if landed != bool(verify_near_dups):
        raise ValueError(
            f"store_dir {store_dir} was concurrently pinned with "
            f"verify_near_dups={landed}; running with "
            f"verify_near_dups={bool(verify_near_dups)} would mix "
            "modes — use a fresh store_dir (and checkpoint) to "
            "change modes"
        )


def make_curation_processor(
    out_dir: str,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    lm_ref: DataFrame | None = None,
    nb_labeled: DataFrame | None = None,
    emit_postings: bool = False,
):
    """foreachBatch body for the curation stage, factored out (like the
    daemon's make_batch_processor) so idempotence and parity are
    directly testable without a streaming harness.

    ``lm_ref`` (optional) enables the CCNet LM quality pass: the
    bigram LM is trained ONCE at processor build — the same
    stream-static pattern as the benchmark n-grams — its three frames
    cached, and every micro-batch is scored against the fixed model
    into the ``lm_scores`` table. ``nb_labeled`` (optional, a frame
    with ``label``/text columns) does the same for the NB quality
    classifier into ``nb_scores``. ``emit_postings=True`` maintains an
    incremental inverted index: each batch's (term, doc_id, tf)
    postings land under its own ``__batch_id`` partition, so the
    accumulated ``postings`` table equals ``inverted_postings`` over
    the union — per-document rows, no cross-batch state, idempotent
    replay like every other table here. Like every pass the math is
    per-document against a fixed reference, so stream == batch holds
    exactly."""
    bench_ngrams = benchmark_ngrams(benchmark, n, text_col).cache()
    lm = None
    if lm_ref is not None:
        lm = tuple(f.cache() for f in train_bigram_lm(lm_ref, text_col=text_col))
    nb = None
    if nb_labeled is not None:
        nb = tuple(
            f.cache() for f in train_nb_classifier(nb_labeled, text_col=text_col)
        )

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        outputs = {
            "docs_redacted": batch.select(
                "doc_id", pii_redact(F.col(text_col)).alias(text_col)
            ),
            "repetition_stats": repetition_stats(batch, text_col),
            "decontamination": ngram_decontaminate(
                batch, n=n, text_col=text_col, bench_ngrams=bench_ngrams
            ),
        }
        if lm is not None:
            outputs[LM_TABLE] = lm_score(batch, *lm, text_col=text_col)
        if nb is not None:
            outputs[NB_TABLE] = nb_score(batch, nb, text_col=text_col)
        if emit_postings:
            from parsedmarc_go_spark.operators.retrieval import (
                inverted_postings,
            )

            outputs[POSTINGS_TABLE] = inverted_postings(
                batch, text_col=text_col
            )
        for name, df in outputs.items():
            _write_table(df, out_dir, name, batch_id)

    return process_batch


def stream_curation(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    schema=None,
    max_files_per_trigger: int = 1000,
    available_now: bool = True,
    trigger_seconds: int | None = None,
    lm_ref: DataFrame | None = None,
    nb_labeled: DataFrame | None = None,
    emit_postings: bool = False,
) -> StreamingQuery:
    """readStream(parquet document shards) → curation passes →
    foreachBatch writing the curation tables (plus ``lm_scores`` /
    ``nb_scores`` when ``lm_ref`` / ``nb_labeled`` are given).
    ``schema`` defaults to the benchmark frame's schema (shards and
    eval set share the documents layout); ``maxFilesPerTrigger`` is
    the backpressure knob, as in the ingest daemon."""
    docs = (
        spark.readStream.schema(schema or benchmark.schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(landing_dir)
    )
    writer = docs.writeStream.foreachBatch(
        make_curation_processor(
            out_dir, benchmark, n, text_col, lm_ref=lm_ref,
            nb_labeled=nb_labeled, emit_postings=emit_postings,
        )
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


# --- the composed pipeline's streaming twin (round 13) ---------------------

PIPELINE_FATES_TABLE = "pipeline_fates"
_BUDGET_TABLE = "budget_state"


def _budget_path(store_dir: str) -> str:
    import os

    return os.path.join(store_dir, "budget", _BUDGET_TABLE)


def _read_budget_state(
    spark: SparkSession, store_dir: str, strata_col: str,
    exclude_batch_id: int | None = None,
):
    """Merged per-stratum budget totals (``spent`` chars of kept docs,
    ``n_kept`` kept docs), or None before the first batch lands.
    ``exclude_batch_id`` is the replay-idempotence filter — a re-run
    of batch N must see the counters exactly as the first run did."""
    from parsedmarc_go_spark.streaming.dedup import _hadoop_fs

    path = _budget_path(store_dir)
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    df = spark.read.parquet(path)
    if exclude_batch_id is not None:
        df = df.filter(F.col("__batch_id") != exclude_batch_id)
    return df.groupBy(strata_col).agg(
        F.sum("chars_seen").alias("__spent"),
        F.sum("docs_seen").alias("__prior_seen"),
    )


def _verified_near_dup_stage(
    spark, s3, batch_id, threshold, max_bcast, hold, ensure_store
):
    """The batch-exact near-dup stage of the verified streaming mode
    (see make_curation_pipeline_processor): returns
    ``(near_hist, near_batch, s4)`` and appends this batch's band keys
    and distinct shingle sets — for EVERY s3 doc, kept or dropped — to
    the ``minhash_docs`` / ``shingles`` stores (distinct directory
    names from the greedy mode's ``minhash``, so the two layouts never
    mix in one store_dir).

    Scale shape: the band store scan is bucket-pruned to the batch's
    own key buckets and joined against the (bounded) batch signature
    frame; candidate PAIRS — not the corpus — flow into the verify,
    whose shingle-set retrieval is doc-bucket-pruned and broadcasts
    only candidate-doc id lists (near-dup-population-sized, the
    minhash_lsh_pairs verify argument)."""
    from parsedmarc_go_spark.operators.dedup import (
        _shingle_stream,
        minhash_band_signatures,
        minhash_lsh_pairs,
    )
    from parsedmarc_go_spark.streaming.dedup import (
        _bucket_expr,
        _write_store,
        read_fingerprints,
    )

    mh_dir, mb_ = ensure_store(spark, "minhash_docs")
    sh_dir, sb_ = ensure_store(spark, "shingles")
    sigs = hold(
        minhash_band_signatures(s3, "doc_id").select(
            F.col("doc").alias("doc_id"),
            F.concat_ws(":", "band", "sig").alias("ph"),
        )
    )
    bsh = hold(_shingle_stream(s3, "doc_id", ensure_parallelism=False).distinct())

    # cross-batch candidate pairs: history (ph, doc) ⋈ batch (ph, doc_id)
    hist = read_fingerprints(spark, mh_dir, exclude_batch_id=batch_id)
    if "doc" not in hist.columns:  # store not created yet (first batch)
        cross = spark.createDataFrame([], "hist_doc long, cand_doc long")
    else:
        if mb_ and "__bucket" in hist.columns:
            buckets = [
                r[0]
                for r in sigs.select(_bucket_expr(mb_).alias("b"))
                .distinct()
                .collect()
            ]
            hist = hist.filter(F.col("__bucket").isin(buckets))
        probe = sigs.select("ph", F.col("doc_id").alias("cand_doc"))
        if probe.limit(max_bcast + 1).count() <= max_bcast:
            probe = F.broadcast(probe)
        cross = (
            hist.select(F.col("doc").alias("hist_doc"), "ph")
            .join(probe, "ph")
            .select("hist_doc", "cand_doc")
            .distinct()
        )
    cross = hold(cross)

    # exact-Jaccard verify: batch-side sets from this batch's shingle
    # stream, history-side sets read back from the shingle store
    hist_ids = cross.select(F.col("hist_doc").alias("doc")).distinct()
    shst = read_fingerprints(spark, sh_dir, exclude_batch_id=batch_id)
    if "shingle" not in shst.columns:
        sets_h = spark.createDataFrame([], "doc long, shs_h array<string>")
    else:
        if sb_ and "__bucket" in shst.columns:
            hbuckets = [
                r[0]
                for r in hist_ids.select(_bucket_expr(sb_, "doc").alias("b"))
                .distinct()
                .collect()
            ]
            shst = shst.filter(F.col("__bucket").isin(hbuckets))
        sets_h = (
            shst.join(F.broadcast(hist_ids), "doc")
            .groupBy("doc")
            .agg(F.collect_set("shingle").alias("shs_h"))
        )
    cand_ids = cross.select(F.col("cand_doc").alias("doc")).distinct()
    sets_b = (
        bsh.join(F.broadcast(cand_ids), "doc")
        .groupBy("doc")
        .agg(F.collect_set("shingle").alias("shs_c"))
    )
    near_hist = hold(
        cross.join(sets_h.withColumnRenamed("doc", "hist_doc"), "hist_doc")
        .join(sets_b.withColumnRenamed("doc", "cand_doc"), "cand_doc")
        .withColumn("shared", F.size(F.array_intersect("shs_h", "shs_c")))
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.size("shs_h") + F.size("shs_c") - F.col("shared")).cast(
                "double"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("cand_doc").alias("doc_id"))
        .distinct()
    )

    # within-batch rule over the FULL batch s3 — the batch pipeline
    # pairs over all of s3, so a doc history just dropped can still
    # drop its own within-batch partner
    pairs = minhash_lsh_pairs(s3, threshold=threshold)
    # disjoint fate branches: a doc can be both a history drop and a
    # within-batch doc_b — emit its near_dup fate exactly once
    near_batch = hold(
        pairs.select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .join(near_hist, "doc_id", "left_anti")
    )
    near = hold(near_hist.unionByName(near_batch))
    s4 = hold(s3.join(near, "doc_id", "left_anti"))

    _write_store(
        sigs.select("ph", F.col("doc_id").alias("doc")), mh_dir, batch_id, mb_
    )
    _write_store(bsh, sh_dir, batch_id, sb_, bucket_col="doc")
    return near_hist, near_batch, s4


def make_curation_pipeline_processor(
    out_dir: str,
    store_dir: str,
    benchmark: DataFrame,
    strata_col: str = "source",
    size_col: str = "n_chars",
    budget: int = 2000,
    jaccard_threshold: float = 0.7,
    decontam_n: int = 8,
    min_docs: int = 1,
    quality_thresholds: dict | None = None,
    n_buckets: int | None = None,
    broadcast_probe_max_keys: int | None = None,
    verify_near_dups: bool = False,
):
    """foreachBatch body for the STREAMING twin of the composed batch
    curation pipeline (operators/curation.py::curation_pipeline,
    VERDICT r12 task 6): every arriving document gets the same
    five-stage fate — quality → exact dedup → decontamination →
    near-dup → per-stratum budget — against PERSISTED incremental
    state instead of a one-shot corpus:

    - exact / near-dup history live in the bucketed fingerprint-store
      layout of streaming/dedup.py (``<store_dir>/exact`` holds
      normalized-text sha256 digests of retained representatives,
      ``<store_dir>/minhash`` the banded MinHash bucket keys of
      near-dup survivors — only SURVIVORS append, the streaming-dedup
      store rule);
    - the benchmark n-gram set is computed once at processor build and
      cached (the stream-static pattern of make_curation_processor);
    - budget state is an additive per-stratum counter table
      (``chars_kept, docs_kept`` partials per ``__batch_id`` — the
      aggstore SUM-monoid pattern, replay-idempotent by partition
      overwrite + exclude-own-batch reads).

    STREAM == BATCH PARITY AND ITS BOUNDS (pinned in
    tests/test_streaming_curation.py): quality and decontamination are
    per-document math against fixed references — parity is exact,
    trigger split never matters. The dedup and budget stages are
    order-dependent, and the streaming semantics are ARRIVAL-order
    greedy: exact keeps the FIRST-SEEN representative (batch keeps the
    min doc_id — identical when ids arrive ascending), near-dup drops
    an arrival whose bands collide with retained history
    (band-collision only, NO verify — history stores 16 fixed-width
    keys per doc, not text) plus the batch rule (drop ``doc_b`` of
    every verified pair) within the trigger. The near-dup divergence
    direction is therefore EXTRA drops: a cross-trigger arrival whose
    true Jaccard sits below the threshold can still band-collide with
    a retained doc and drop (at b=16/r=2 the per-band collision
    probability is j², so sub-threshold pairs at j≈0.4-0.7 usually DO
    collide, while unrelated docs miss at ~1e-5) — pinned as a
    deliberate divergence case in tests. The opposite (greedy-online
    chain survivor, streaming/dedup.py's ⌈L/2⌉ bound) needs an
    arrival's bands to miss EVERY retained doc, which the same S-curve
    makes rare here.

    ``verify_near_dups=True`` (round 14) replaces the greedy
    collision-only history rule with BATCH-EXACT semantics: the
    history stores keep (band-key, doc) pairs plus each arriving
    near-dup-stage doc's distinct shingle set (dropped docs included —
    the batch rule pairs over ALL of s3, so a doc dropped by one pair
    must still be able to drop its own later partner), cross-batch
    band collisions become (history-doc, arrival) candidate PAIRS, and
    every candidate is verified with exact Jaccard against the stored
    shingle set before dropping — exactly minhash_lsh_pairs' verify,
    applied across the trigger boundary. Because band keys and shingle
    sets are the same deterministic functions batch computes, the
    cross-trigger candidate set and its verified subset are
    BIT-IDENTICAL to the batch gate's when triggers arrive in
    ascending doc_id order (drop-the-later-arrival == drop-doc_b), so
    stream fates equal batch fates exactly — this mode backs the
    driver-hash-checked ``curation_pipeline_stream`` gate. The price
    is state: ~one distinct-shingle row per corpus token instead of 16
    fixed-width keys per doc — the standard exactness/footprint
    trade, and the stores stay bucket-pruned parquet so probes scan
    only the candidate buckets at any corpus size. The default
    (False) keeps the r13 greedy footprint and its pinned divergence
    direction.

    Budget admits in arrival order against carried
    per-stratum PREFIX totals — chars/docs over every processed
    stratum doc, kept or dropped, because the batch rule is a prefix
    cut (cum over ALL docs in hash order), not residual knapsack
    fitting — identical to batch when triggers arrive in hash order
    (pinned, including a crossing-then-small-doc case), and
    deliberately NOT re-ordered online: online admission must be
    stable, a kept doc is never evicted by a later smaller-hash
    arrival."""
    import os

    from pyspark.sql import Window

    from parsedmarc_go_spark.functions.text import normalized_text
    from parsedmarc_go_spark.operators.curation import (
        _hash_order_key,
        gopher_quality_filter,
    )
    from parsedmarc_go_spark.operators.dedup import (
        minhash_band_signatures,
        minhash_lsh_pairs,
    )
    from parsedmarc_go_spark.streaming.dedup import (
        DEFAULT_BROADCAST_PROBE_MAX_KEYS,
        DEFAULT_STORE_BUCKETS,
        _read_meta_dict,
        _write_store,
        _write_store_meta,
        probe_store,
        read_fingerprints,
    )

    n_buckets = DEFAULT_STORE_BUCKETS if n_buckets is None else n_buckets
    max_bcast = (
        DEFAULT_BROADCAST_PROBE_MAX_KEYS
        if broadcast_probe_max_keys is None
        else broadcast_probe_max_keys
    )
    bench_ngrams = benchmark_ngrams(benchmark, decontam_n).cache()

    def _ensure_store(spark: SparkSession, sub: str) -> tuple[str, int]:
        d = os.path.join(store_dir, sub)
        meta = _read_meta_dict(spark, d)
        if meta is None:
            _write_store_meta(spark, d, n_buckets)
            return d, n_buckets
        return d, int(meta["n_buckets"])

    _mode_pinned: list[bool] = []

    def _ensure_mode(spark: SparkSession) -> None:
        if _mode_pinned:
            return
        _pin_pipeline_mode(spark, store_dir, verify_near_dups)
        _mode_pinned.append(True)

    def _probe(spark, sub_dir, buckets, keys, batch_id):
        """store ∩ keys, batch-bounded, replay-safe, checkpointed
        before the store append that follows it. The broadcast-vs-
        shuffle pick needs only "is it under max_bcast", so the probe
        is the containment-guard limit idiom — it short-circuits at
        max_bcast + 1 rows instead of counting every key (ADVICE
        r13)."""
        seen_full = read_fingerprints(spark, sub_dir, exclude_batch_id=batch_id)
        small = keys.limit(max_bcast + 1).count() <= max_bcast
        return probe_store(
            seen_full, keys, buckets, broadcast_probe=small
        ).transform(tracked_local_checkpoint)

    def _process_batch_impl(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        _ensure_mode(spark)
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")

        def hold(df: DataFrame) -> DataFrame:
            # EAGER localCheckpoint, not persist: the batch pipeline's
            # round-12 lesson holds per micro-batch too — persist()
            # truncates re-execution but not Catalyst's analysis of the
            # chained five-stage lineage, and the six-branch fate
            # union's analyzed plan grew until the plan-string logger
            # alone OOMed the driver heap. A checkpoint resets each
            # boundary to a LogicalRDD; micro-batch frames are bounded
            # so the extra materialization is noise.
            return df.transform(tracked_local_checkpoint)

        try:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            batch = hold(batch)

            # 1. quality — per-doc math, parity exact
            q = gopher_quality_filter(batch, **(quality_thresholds or {}))
            q_fail = hold(
                q.filter(~F.col("keep")).select(
                    "doc_id",
                    F.concat(F.lit("quality:"), F.col("fail_reason")).alias("fate"),
                )
            )
            s1 = hold(
                batch.join(
                    q.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
                )
            )

            # 2. exact dedup vs history + within-batch keep-first
            exact_dir, eb = _ensure_store(spark, "exact")
            fps = s1.select(
                "doc_id", F.sha2(normalized_text("text"), 256).alias("ph")
            )
            e_keys = hold(fps.select("ph").distinct())
            e_seen = _probe(spark, exact_dir, eb, e_keys, batch_id)
            w = Window.partitionBy("ph").orderBy(F.col("doc_id"))
            exact_dups = hold(
                fps.join(
                    e_seen.withColumn("__seen", F.lit(True)), "ph", "left"
                )
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__seen").isNotNull() | (F.col("__rn") > 1))
                .select("doc_id")
            )
            s2 = hold(s1.join(exact_dups, "doc_id", "left_anti"))
            _write_store(
                e_keys.join(e_seen, "ph", "left_anti"), exact_dir, batch_id, eb
            )

            # 3. decontamination — fixed broadcast reference, parity exact
            dec = ngram_decontaminate(s2, n=decontam_n, bench_ngrams=bench_ngrams)
            contaminated = hold(
                dec.filter(F.col("n_overlap") >= 1).select("doc_id")
            )
            s3 = hold(s2.join(contaminated, "doc_id", "left_anti"))

            # 4. near-dup. Verified mode (batch-exact, backs the driver
            # gate): (band-key, doc) + shingle-set stores over ALL s3
            # arrivals, cross-batch collisions verified with exact
            # Jaccard, within-batch rule over the full batch s3.
            # Greedy mode (default, r13): band collision vs survivor
            # history — no verify — then the batch per-pair rule within
            # the trigger; 16 fixed-width keys per doc of state.
            if verify_near_dups:
                near_hist, near_batch, s4 = _verified_near_dup_stage(
                    spark, s3, batch_id, jaccard_threshold, max_bcast,
                    hold, _ensure_store,
                )
            else:
                mh_dir, mb_ = _ensure_store(spark, "minhash")
                sigs = hold(
                    minhash_band_signatures(s3, "doc_id").select(
                        F.col("doc").alias("doc_id"),
                        F.concat_ws(":", "band", "sig").alias("ph"),
                    )
                )
                m_keys = hold(sigs.select("ph").distinct())
                m_seen = _probe(spark, mh_dir, mb_, m_keys, batch_id)
                near_hist = hold(
                    sigs.join(m_seen, "ph").select("doc_id").distinct()
                )
                remaining = hold(s3.join(near_hist, "doc_id", "left_anti"))
                pairs = minhash_lsh_pairs(remaining, threshold=jaccard_threshold)
                near_batch = hold(
                    pairs.select(F.col("doc_b").alias("doc_id")).distinct()
                )
                s4 = hold(remaining.join(near_batch, "doc_id", "left_anti"))
                new_mh = (
                    sigs.join(s4.select("doc_id"), "doc_id")
                    .select("ph")
                    .distinct()
                    .join(m_seen, "ph", "left_anti")
                )
                _write_store(new_mh, mh_dir, batch_id, mb_)

            # 5. budget: arrival-order admission against carried totals.
            # The carried counters sum over ALL processed stratum docs
            # (kept AND dropped), because the batch window's running
            # total is a PREFIX sum over every doc in hash order —
            # carrying only kept chars would re-open budget a dropped
            # doc already consumed and silently admit later arrivals
            # the batch rule rejects (round-13 review).
            state = _read_budget_state(
                spark, store_dir, strata_col, exclude_batch_id=batch_id
            )
            sized = s4
            if state is not None:
                sized = s4.join(state, strata_col, "left")
            else:
                sized = s4.withColumn("__spent", F.lit(None).cast("long")) \
                          .withColumn("__prior_seen", F.lit(None).cast("long"))
            order = Window.partitionBy(strata_col).orderBy(
                _hash_order_key(sized), F.col("doc_id")
            )
            cum = (
                F.sum(size_col).over(
                    order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
                + F.coalesce(F.col("__spent"), F.lit(0))
            )
            rn = (
                F.row_number().over(order)
                + F.coalesce(F.col("__prior_seen"), F.lit(0))
            )
            keep = (cum <= budget) | (rn <= min_docs)
            decided = hold(
                sized.withColumn("__keep", keep).select(
                    "doc_id", strata_col, size_col, "__keep"
                )
            )
            kept = decided.filter(F.col("__keep"))
            over = decided.filter(~F.col("__keep"))
            partial = decided.groupBy(strata_col).agg(
                F.sum(size_col).cast("long").alias("chars_seen"),
                F.count("*").alias("docs_seen"),
            )
            # skip an EMPTY partial: a partitioned write of an empty
            # frame leaves a file-less directory that poisons every
            # later read (see streaming/dedup.py::_write_store)
            if not partial.isEmpty():
                (
                    partial.withColumn("__batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .partitionBy("__batch_id")
                    .parquet(_budget_path(store_dir))
                )

            lit = lambda s: F.lit(s).alias("fate")  # noqa: E731
            fates = (
                q_fail
                .unionByName(exact_dups.select("doc_id", lit("exact_dup")))
                .unionByName(contaminated.select("doc_id", lit("contaminated")))
                .unionByName(near_hist.select("doc_id", lit("near_dup")))
                .unionByName(near_batch.select("doc_id", lit("near_dup")))
                .unionByName(over.select("doc_id", lit("over_budget")))
                .unionByName(kept.select("doc_id", lit("kept")))
            )
            _write_table(fates, out_dir, PIPELINE_FATES_TABLE, batch_id)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        # microbatch caching scope: minhash_lsh_pairs inside the near-dup
        # stage scoped-persists candidate frames; a streaming session never
        # enters a gate builder, so release them here (ADVICE r15, same fix
        # as streaming/dedup.py)
        with caching_scope():
            _process_batch_impl(batch, batch_id)

    return process_batch


def stream_curation_pipeline(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    benchmark: DataFrame,
    schema=None,
    max_files_per_trigger: int = 1000,
    available_now: bool = True,
    trigger_seconds: int | None = None,
    **pipeline_kwargs,
) -> StreamingQuery:
    """readStream(parquet document shards) → the composed curation
    pipeline per micro-batch → ``pipeline_fates`` table (one fate per
    arriving document, the batch gate's row shape) with incremental
    exact/near-dup/budget state under ``store_dir``.

    ``schema`` defaults to the LANDED shards' own schema (inferred
    from the landing dir's parquet footers), not the benchmark's —
    the benchmark frame need not share the shard shape, and a narrower
    benchmark would silently null out shard columns the budget stage
    needs (ADVICE r13). Starting a stream on an EMPTY landing dir
    therefore requires an explicit ``schema``."""
    if schema is None:
        # only the CANNOT-INFER analysis error means "empty landing
        # dir"; an IO/permission/corrupt-footer failure must PROPAGATE
        # (the read_fingerprints contract, streaming/dedup.py) —
        # rebranding it as "pass schema=" sends the operator at the
        # wrong fix while the filesystem is broken (round-14 review)
        from pyspark.errors import AnalysisException

        try:
            schema = (
                spark.read.option("recursiveFileLookup", "true")
                .parquet(landing_dir)
                .schema
            )
        except AnalysisException as exc:
            if not (
                "UNABLE_TO_INFER_SCHEMA" in str(exc)
                or "PATH_NOT_FOUND" in str(exc)
            ):
                raise
            raise ValueError(
                f"landing_dir {landing_dir} has no readable parquet to "
                "infer the document schema from — pass schema= "
                "explicitly when starting on an empty landing dir"
            ) from None
    docs = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(landing_dir)
    )
    writer = docs.writeStream.foreachBatch(
        make_curation_pipeline_processor(
            out_dir, store_dir, benchmark, **pipeline_kwargs
        )
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()

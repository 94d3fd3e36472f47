"""DataFrame-native spherical k-means — IVF index training for the
similarity-search scale path (builder brief; the reference engine has
no clustering operator).

`operators/similarity.py::ivf_topk` prunes its scan with whatever cell
column the corpus already carries. Real corpora are unlabeled, so the
cells have to be TRAINED; this module supplies the trainer as a classic
Lloyd loop expressed Spark-first:

- **Assignment is a pure map-side projection.** The k×dim centroid
  matrix is embedded in the plan as a literal array-of-arrays column
  and each row takes the argmax of dot products through codegen'd
  higher-order functions (`transform`/`zip_with`/`aggregate`). No
  shuffle, no UDF, no per-executor broadcast plumbing. (Past
  k·dim ≈ 64k the literal expression tree should flip to a broadcast
  join against a centroid frame; documented bound, far above IVF
  coarse-quantizer sizes.)
- **The update step shuffles k·dim rows, not the corpus.**
  posexplode → hash aggregate on (cell, dim) runs its partial
  aggregation map-side, so each partition contributes at most k·dim
  partial sums regardless of row count.
- **Driver state per iteration is one k×dim float matrix** — the same
  contract as Spark MLlib's own KMeans driver aggregation, and why an
  iterative algorithm is safe here at all: lineage does not grow with
  iterations because each pass re-derives assignment from literals,
  never from the previous pass's DataFrame.

Spherical variant (unit centroids, cosine objective) because every
consumer in similarity.py ranks by cosine: assignment argmax needs no
row normalization (row norm is constant across the argmax), and the
update's mean direction is just the normalized per-cell vector sum.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# k*dim above which the literal-centroid plan gets unwieldy and a
# broadcast-join assignment should take over (see module docstring)
LITERAL_CENTROID_BUDGET = 65536


def _centroid_literal(cents: list[list[float]]) -> Column:
    """The k×dim matrix as a literal array<array<double>> column."""
    return F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cents])


def _assign_expr(cents: list[list[float]], vec_col: str) -> str:
    """The argmax-of-dot-products assignment as ONE SQL expression
    string (round-18, guide §5 "the driver is part of the system"):
    the Column-tree form cost ~520 py4j round-trips per call (one per
    centroid-weight F.lit) — paid once per k-means ITERATION, since
    every iteration embeds fresh centroid literals. ``repr(float)`` is
    the shortest round-trip decimal and Spark's ``<digits>D`` literal
    parses back to the identical double (bit-checked), so the planned
    expression is value-identical to the F.lit tree.

    The argmax itself is a single left fold over (dot, index) structs
    with strict ``>`` — each dot product is evaluated ONCE per row,
    where the previous ``array_position(sims, array_max(sims))`` form
    duplicated the whole sims tree (HOF lambdas evaluate interpreted,
    with no common-subexpression elimination). Strict ``>`` keeps the
    earlier index on ties — exactly array_position's first-match
    rule.

    A non-finite component has no SQL literal (``nanD`` does not
    parse), so it is rejected here with a ValueError."""
    if not all(math.isfinite(x) for c in cents for x in c):
        raise ValueError("centroids must be finite; got a NaN or infinite component")
    k = len(cents)
    dots = ", ".join(
        "aggregate(zip_with({v}, array({lits}), (a, b) -> a * b), 0D, "
        "(acc, x) -> acc + x)".format(
            v=vec_col, lits=", ".join(f"{float(x)!r}D" for x in c)
        )
        for c in cents
    )
    return (
        "aggregate("
        f"zip_with(array({dots}), sequence(0, {k - 1}), (s, i) -> struct(s, i)), "
        "named_struct('s', CAST('-Infinity' AS DOUBLE), 'i', -1), "
        "(acc, x) -> CASE WHEN x.s > acc.s THEN x ELSE acc END).i"
    )


def assign_cells(
    df: DataFrame,
    cents: list[list[float]],
    vec_col: str = "embedding",
    out: str = "cell",
) -> DataFrame:
    """Add ``out`` = 0-based index of the max-dot-product centroid.

    Ties break to the lowest cell index (the argmax fold keeps the
    first maximum), so assignment is deterministic. Purely map-side —
    this is the operator that makes IVF cells a *derived* column: at
    index-build time you persist its output partitioned by ``out`` and
    probing becomes partition pruning; at query time over an
    unpartitioned corpus it is one projection in the scan stage."""
    if len(cents) * len(cents[0]) > LITERAL_CENTROID_BUDGET:
        raise ValueError(
            f"k*dim = {len(cents) * len(cents[0])} exceeds the literal-plan "
            f"budget ({LITERAL_CENTROID_BUDGET}); use a broadcast-join assignment"
        )
    v = f"transform({vec_col}, x -> CAST(x AS DOUBLE))"
    return df.withColumn(out, F.expr(_assign_expr(cents, v)).cast("int"))


def _unit(vec: list[float]) -> list[float]:
    n = math.sqrt(sum(x * x for x in vec))
    return [x / n for x in vec] if n > 0 else list(vec)


def kmeans_fit(
    vectors: DataFrame,
    k: int = 8,
    max_iters: int = 10,
    tol: float = 1e-4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int | None = None,
) -> tuple[list[list[float]], list[float]]:
    """Train k unit centroids; returns (centroids, per-iteration max
    centroid shift as 1 - cos(old, new)).

    Deterministic end to end — BIT-deterministic, not just stable:
    init picks the k rows with the smallest xxhash64(id) (a seedless
    uniform sample — same rows on every run and every executor count;
    ``seed`` salts the hash to get a DIFFERENT-but-still-deterministic
    init, the lever semdedup's multi-pass boundary recovery turns),
    assignment ties break to the lowest cell, and the update SUMS IN
    EXACT DECIMAL(38,18): decimal addition is exact, so the per-cell
    sum is independent of partition count and partial-aggregation
    merge order — the one place a distributed float reduction would
    otherwise move centroids by last-bit noise per session (at 1000
    executors the merge order is uncontrollable; ADVICE r14 flagged
    the downstream hash flaps). The exact sum converts to double once,
    at the end of the reduction, so every session on every layout
    produces byte-identical centroids (pinned across partitionings in
    tests/test_kmeans.py). Stops when the largest centroid shift drops
    under ``tol``.

    Cells that capture no rows keep their previous centroid (standard
    Lloyd fallback), so k survives even when k > distinct(vectors)."""
    base = vectors.select(
        F.col(id_col).alias("__id"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("__v"),
    )
    # (Round-18 measured and REJECTED a conditional repartition of the
    # single-file scan before the loop: an alternating same-session A/B
    # put the spread iteration at 0.97-2.26 s vs 0.95-1.50 s serial —
    # the per-iteration exchange + 32-task scheduling overhead exceeds
    # the serial interpreted-assignment compute it parallelizes at this
    # row count, and a real embedding corpus scan is already split.)
    order = (
        F.xxhash64(F.col("__id"))
        if seed is None
        else F.xxhash64(F.lit(seed), F.col("__id"))
    )
    init = base.orderBy(order, F.col("__id")).limit(k).collect()
    cents = [_unit(list(r["__v"])) for r in init]
    if not cents:
        raise ValueError("kmeans_fit on an empty vectors frame")
    while len(cents) < k:  # k > rows: pad by cycling (duplicates tie-break
        cents.append(cents[len(cents) % len(init)])  # to the lower cell, so
        # padded cells stay empty and simply retain their centroid)
    shifts: list[float] = []
    # Per-dimension exact decimal sums as ONE k-row aggregation
    # (round-18): the previous shape posexploded every vector (rows ×
    # dim exploded rows) and paid TWO shuffles per iteration — (cell,
    # dim) partial sums, then a (cell) collect_list re-assembly. The
    # dim is known at build time, so the 64 sums ride as one array
    # aggregate over the vector column directly: same decimal(38,18)
    # per-(cell, dim) sums (exact ⇒ order-independent ⇒ byte-identical
    # centroids, pinned in test_kmeans), one exchange of k rows, no
    # explode, and the whole iteration is a single expr parse.
    dim = len(cents[0])
    sum_terms = ", ".join(
        f"CAST(sum(CAST(__v[{d}] AS DECIMAL(38,18))) AS DOUBLE)"
        for d in range(dim)
    )
    for _ in range(max_iters):
        sums = (
            assign_cells(base, cents, "__v", "__cell")
            .groupBy("__cell")
            .agg(F.expr(f"array({sum_terms}) AS __sum"))
            .collect()
        )
        summed = {r["__cell"]: list(r["__sum"]) for r in sums}
        new_cents = [
            _unit(summed[i]) if i in summed and any(summed[i]) else cents[i]
            for i in range(k)
        ]
        shift = max(
            1.0 - sum(a * b for a, b in zip(old, new))
            for old, new in zip(cents, new_cents)
        )
        shifts.append(shift)
        cents = new_cents
        if shift < tol:
            break
    return cents, shifts


def build_ivf_index(
    vectors: DataFrame,
    path: str,
    n_cells: int | None = 8,
    max_iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quantize: bool = False,
) -> list[list[float]]:
    """Index-build-ONCE for IVF: train centroids, assign every row, and
    persist the corpus ``partitionBy("cell")`` so probing is PARTITION
    PRUNING, not a filter over a full scan — nprobe/n_cells of the data
    is never read, which is the entire point of IVF at 100 TB (training
    cost amortizes over every subsequent query).

    The k×dim centroid matrix is persisted beside the data
    (``<path>.centroids``) through Spark writes — cluster-safe for any
    path executors can reach, and later sessions reopen the index with
    ``load_ivf_centroids`` alone. Layout note: n_cells here is a COARSE
    quantizer (dozens-to-thousands of cells), so one directory per cell
    is object-store-friendly; each cell's files stay many-GB chunky at
    corpus scale rather than small-file spray.

    ``n_cells=None`` auto-sizes to ≈√N (clamped to [8, 4096]) — the
    standard IVF rule that keeps per-cell scan cost AND cell-boundary
    recall loss controlled as the corpus grows; the 10× recall run
    (SCALE.md) measured exactly the boundary loss a fixed cell count
    develops (nprobe=1 recall 0.945 → 0.78 at 10× N).

    ``quantize=True`` stores the residing vectors int8-quantized
    (IVF-SQ8: cell assignment still happens on the full-precision
    vectors, only the STORED copy is compressed) — a 4× smaller index;
    probes dequantize transparently (the readers detect the quantized
    layout) at the bound-tested ≤0.005 cosine distortion."""
    if n_cells is None:
        n = vectors.count()
        n_cells = max(8, min(4096, int(math.sqrt(n))))
    cents, _ = kmeans_fit(
        vectors, k=n_cells, max_iters=max_iters, vec_col=vec_col, id_col=id_col
    )
    assigned = assign_cells(vectors, cents, vec_col, "cell")
    if quantize:
        from parsedmarc_go_spark.operators.similarity import quantize_embeddings

        assigned = quantize_embeddings(assigned, vec_col).drop(vec_col)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)
    spark = vectors.sparkSession
    cent_rows = [(i, [float(x) for x in c]) for i, c in enumerate(cents)]
    (
        spark.createDataFrame(cent_rows, "cell int, centroid array<double>")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path.rstrip("/") + ".centroids")
    )
    return cents


def append_to_ivf_index(
    vectors: DataFrame,
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Incremental maintenance for a build_ivf_index index: assign the
    NEW vectors against the PERSISTED centroids (no retraining — the
    quantizer is frozen, the standard IVF maintenance contract) and
    append under the same cell partition layout. Probing an appended
    index equals probing a from-scratch index assigned with the same
    centroids (pinned in test_kmeans); retrain + rebuild remains the
    periodic job once drift between corpus and centroids accumulates."""
    spark = vectors.sparkSession
    cents = load_ivf_centroids(spark, path)
    assigned = assign_cells(vectors, cents, vec_col, "cell")
    if "embedding_q" in spark.read.parquet(path).columns:  # IVF-SQ8 layout
        from parsedmarc_go_spark.operators.similarity import quantize_embeddings

        assigned = quantize_embeddings(assigned, vec_col).drop(vec_col)
    assigned.write.mode("append").partitionBy("cell").parquet(path)


def compact_ivf_index(spark, path: str, target_file_mb: int = 256) -> tuple[int, int]:
    """Maintenance merge for an incrementally-appended IVF index (see
    append_to_ivf_index): collapse each cell directory's append spray
    back to chunky files, preserving the partitionBy("cell") layout and
    the .centroids sidecar. Probe-result identity and the file-count
    collapse are pinned in test_index_compaction. Returns
    (files_before, files_after)."""
    from parsedmarc_go_spark.storage import compact_partitioned_index

    return compact_partitioned_index(spark, path, "cell", target_file_mb)


def _read_ivf_corpus(spark, path: str, vec_col: str):
    """Open an IVF index directory, transparently dequantizing an
    IVF-SQ8 layout (embedding_q + q_scale) back to ``vec_col``."""
    df = spark.read.parquet(path)
    if "embedding_q" in df.columns and vec_col not in df.columns:
        from parsedmarc_go_spark.operators.similarity import dequantize_embeddings

        df = dequantize_embeddings(df, out_col=vec_col).drop("embedding_q", "q_scale")
    return df


def load_ivf_centroids(spark, path: str) -> list[list[float]]:
    rows = spark.read.parquet(path.rstrip("/") + ".centroids").orderBy("cell").collect()
    return [list(r["centroid"]) for r in rows]


def ivf_topk_indexed(
    spark,
    path: str,
    query: DataFrame,
    k: int = 10,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents: list[list[float]] | None = None,
) -> DataFrame:
    """Probe a PERSISTED IVF index (see build_ivf_index): rank cells by
    centroid·query on the driver (k×dim floats, zero Spark jobs), read
    back the partitioned corpus filtered to the nprobe nearest cells —
    Catalyst turns the ``cell IN (…)`` predicate on the partition column
    into PartitionFilters, so non-probed cells contribute no input
    splits at all (plan-asserted in tests/test_kmeans.py) — then exact
    top-k within the probed slice."""
    from parsedmarc_go_spark.operators.similarity import brute_force_topk

    if cents is None:
        cents = load_ivf_centroids(spark, path)
    (qrow,) = query.collect()
    qv = _unit(list(qrow.q))
    ranked = sorted(
        range(len(cents)),
        key=lambda i: (-sum(a * b for a, b in zip(cents[i], qv)), i),
    )
    probed = [int(i) for i in ranked[:nprobe]]
    raw = spark.read.parquet(path)
    if "embedding_q" in raw.columns and vec_col not in raw.columns:
        # IVF-SQ8: score the tinyint codes directly — the per-vector
        # scale cancels in cosine, so no array<double> dequantization
        # buffer is ever materialized (8× the stored bytes per probed
        # row at large cells; see brute_force_topk_q)
        from parsedmarc_go_spark.operators.similarity import brute_force_topk_q

        corpus = raw.filter(F.col("cell").isin(probed)).drop("cell")
        return brute_force_topk_q(corpus, query, k, id_col)
    corpus = _read_ivf_corpus(spark, path, vec_col).filter(
        F.col("cell").isin(probed)
    ).drop("cell")
    return brute_force_topk(corpus, query, k, id_col, vec_col)


def ivf_topk_batch(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents: list[list[float]] | None = None,
) -> DataFrame:
    """Batch probe of a persisted IVF index — top-k for a whole
    (query_id, q) table in ONE job, the shape a retrieval pipeline
    actually runs (per-query jobs pay a scheduler round trip each).

    Cell ranking stays driver-side (Q query vectors × the k×dim
    centroid matrix — no Spark job), producing a broadcast
    (query_id, cell, q) probe table of Q·nprobe rows. The corpus read
    is filtered to the UNION of probed cells (``cell IN (…)`` on the
    partition column → PartitionFilters, same pruning as the per-query
    probe), the equi-join on cell hands each candidate row to exactly
    the queries probing its cell, and ranking is one row_number window
    over candidates partitioned by query_id. Per-query results pinned
    identical to ivf_topk_indexed in tests/test_kmeans.py."""
    from pyspark.sql import Window

    from parsedmarc_go_spark.operators.similarity import cosine

    if cents is None:
        cents = load_ivf_centroids(spark, path)
    qrows = queries.collect()  # bounded query batch, driver-side by design
    probe_rows = []
    for r in qrows:
        qv = _unit(list(r["q"]))
        ranked = sorted(
            range(len(cents)),
            key=lambda i: (-sum(a * b for a, b in zip(cents[i], qv)), i),
        )
        for c in ranked[:nprobe]:
            probe_rows.append((int(r["query_id"]), int(c), [float(x) for x in r["q"]]))
    probes = spark.createDataFrame(
        probe_rows, "query_id long, cell int, q array<double>"
    )
    all_cells = sorted({c for _, c, _ in probe_rows})
    corpus = _read_ivf_corpus(spark, path, vec_col).filter(F.col("cell").isin(all_cells))
    scored = (
        corpus.join(F.broadcast(probes), "cell")
        .select(
            "query_id",
            id_col,
            "label",
            F.round(
                cosine(f"transform({vec_col}, x -> CAST(x AS DOUBLE))", "q"), 4
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def ivf_topk_trained(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    nprobe: int = 3,
    n_cells: int = 8,
    max_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probed ANN over an UNLABELED corpus: train n_cells spherical
    k-means centroids, probe the nprobe cells nearest the query, exact
    top-k within them (`similarity.py::brute_force_topk`).

    The trained centroids live on the driver, so cell probing is plain
    Python — zero Spark jobs — and the pruned scan is one projection +
    isin filter, no shuffle. Index-build-once semantics at scale:
    persist assign_cells output partitioned by cell and this becomes
    centroid math + partition-pruned scan, the plan IVF papers assume
    (the training cost amortizes over every subsequent query)."""
    from parsedmarc_go_spark.operators.similarity import brute_force_topk

    cents, _ = kmeans_fit(
        vectors, k=n_cells, max_iters=max_iters, vec_col=vec_col, id_col=id_col
    )
    (qrow,) = query.collect()  # single query vector, driver-side like the centroids
    qv = _unit(list(qrow.q))
    ranked = sorted(
        range(len(cents)),
        key=lambda i: (-sum(a * b for a, b in zip(cents[i], qv)), i),
    )
    probed = ranked[:nprobe]
    pruned = (
        assign_cells(vectors, cents, vec_col, "__cell")
        .filter(F.col("__cell").isin(probed))
        .drop("__cell")
    )
    return brute_force_topk(pruned, query, k, id_col, vec_col)


def semdedup(
    vectors: DataFrame,
    n_clusters: int = 8,
    tau: float = 0.95,
    max_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    chunk_rows: int | None = 1024,
    n_passes: int = 1,
    pair_mode: str = "forest",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public paper):
    semantic deduplication over an embedding corpus, composed entirely
    from machinery this engine already proves out —

    1. spherical k-means cells (``kmeans_fit``, the IVF trainer), so
       the pair space is |cell|² not |corpus|²;
    2. within-cell cosine pairs ≥ ``tau`` (the blocked-BLAS
       ``cosine_neardup_pairs`` with the cell as block key; pass
       ``chunk_rows`` for hot cells);
    3. connected components over the pair graph (``neardup_clusters``
       — semantic-dup groups are blob-shaped);
    4. per component keep the member LEAST similar to its cell
       centroid — the paper's keep-low-similarity rule (retains the
       least prototypical example); ties break to the smaller id.

    ``n_passes > 1`` is the measured boundary-recovery lever
    (scripts/semdedup_recall.py): single-pass cell blocking loses the
    ~12% of true pairs that straddle a Voronoi face, near-independent
    of cell count; each extra pass re-runs steps 1-2 with re-SEEDED
    centroids (kmeans_fit's salted init) and unions the pair sets
    before components, so a pair is lost only if it straddles a
    boundary in EVERY pass. Cost is linear in passes (one cells fit +
    one blocked-BLAS sweep each); the reported ``cell`` /
    ``centroid_sim`` columns are pass 0's.

    ``pair_mode`` defaults to ``"forest"`` (round-18, the hot-cell
    output-quadratic fix): semdedup consumes pairs ONLY as edges for
    connected components, and components over the union of per-task
    spanning forests equal components over the full pair set (see
    cosine_neardup_pairs), so every output row — cluster_id, keep —
    is identical while a hot cell's pair stream shrinks from
    C(|cell|, 2) rows to |cell|-1: at 100 TB a boilerplate-heavy or
    prototypical embedding cell is exactly where the full pair list is
    quadratic in the ANSWER, not the input. Pass ``"all"`` to
    reproduce the pre-r18 plan shape (equality pinned in
    tests/test_semdedup.py on a planted hot clique).

    Returns one row per input vector: ``vec_id, cell, centroid_sim,
    cluster_id, keep`` (``cluster_id`` null for singletons, which are
    trivially kept). No stage is new: the scale story is the cited
    pieces' own — one shuffle to cells, BLAS per cell, O(rounds)
    component joins, and a cluster-keyed window over only the docs that
    appear in pairs."""
    from parsedmarc_go_spark.operators.dedup import neardup_clusters
    from parsedmarc_go_spark.operators.similarity import (
        cosine,
        cosine_neardup_pairs,
    )
    from pyspark.sql import Window

    cents, _ = kmeans_fit(
        vectors, k=n_clusters, max_iters=max_iters, vec_col=vec_col, id_col=id_col
    )
    assigned = assign_cells(vectors, cents, vec_col, "cell")
    spark = vectors.sparkSession
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell int, __centroid array<double>",
    )
    scored = (
        assigned.join(F.broadcast(cent_df), "cell")
        .withColumn(
            "centroid_sim",
            F.round(cosine(f"transform({vec_col}, x -> CAST(x AS DOUBLE))", "__centroid"), 4),
        )
        .drop("__centroid")
    )
    pair_frames = []
    for p in range(max(1, n_passes)):
        if p == 0:
            asg = assigned
        else:
            cts, _ = kmeans_fit(
                vectors, k=n_clusters, max_iters=max_iters,
                vec_col=vec_col, id_col=id_col, seed=p,
            )
            asg = assign_cells(vectors, cts, vec_col, "cell")
        pair_frames.append(
            cosine_neardup_pairs(
                asg, threshold=tau, block_col="cell", id_col=id_col,
                vec_col=vec_col, chunk_rows=chunk_rows, pair_mode=pair_mode,
            ).select(
                F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
            )
        )
    pairs = pair_frames[0]
    for extra in pair_frames[1:]:
        pairs = pairs.unionByName(extra)
    if len(pair_frames) > 1:
        pairs = pairs.distinct()
    comp = neardup_clusters(pairs).select(
        F.col("doc").alias(id_col), "cluster_id"
    )
    # Keep rule over ONLY the paired subset: inner-join comp first, so
    # singletons (the overwhelming majority at high tau) never enter
    # the window — there is no null-key partition anywhere in the plan.
    # The small keep frame is then left-joined back, defaulting to
    # keep=true for unmatched (singleton) rows.
    w = Window.partitionBy("cluster_id").orderBy(
        F.asc("centroid_sim"), F.asc(id_col)
    )
    keep_flags = (
        scored.select(id_col, "centroid_sim")
        .join(comp, id_col)
        .select(
            id_col,
            "cluster_id",
            (F.row_number().over(w) == 1).alias("keep"),
        )
    )
    return scored.join(keep_flags, id_col, "left").select(
        id_col,
        "cell",
        "centroid_sim",
        "cluster_id",
        F.coalesce("keep", F.lit(True)).alias("keep"),
    )

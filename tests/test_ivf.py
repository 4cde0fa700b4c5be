"""IVF ANN operator tests: seeded determinism of distributed Lloyd's
k-means, monotone quantization-error improvement, literal-vs-join
assignment agreement, and recall of the probed search against the
exact brute-force baseline (the contract an IVF index must honor)."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_bowl_2026_analytics_spark.operators.ivf import (
    assign_clusters,
    ivf_topk,
    kmeans_fit,
    nearest_centroid_expr,
    quantization_error,
    seed_centroids,
)
from big_data_bowl_2026_analytics_spark.operators.similarity import brute_force_topk
from big_data_bowl_2026_analytics_spark.sources.readers import read_table

K = 8


def test_kmeans_deterministic(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    c1 = kmeans_fit(emb, k=K, n_iters=2)
    c2 = kmeans_fit(emb, k=K, n_iters=2)
    assert c1 == c2
    assert len(c1) == K and all(len(c) == 64 for c in c1)


def test_kmeans_reduces_quantization_error(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    seeds = [
        [float(x) for x in r["centroid"]]
        for r in sorted(
            seed_centroids(emb, K).collect(), key=lambda r: r["cluster_id"]
        )
    ]
    learned = kmeans_fit(emb, k=K, n_iters=3)
    err_seed = quantization_error(emb, seeds)
    err_learned = quantization_error(emb, learned)
    assert err_learned <= err_seed + 1e-12


def test_assignment_literal_matches_join_path(spark, sf_dir):
    """The zero-shuffle literal-expression assignment (used inside
    Lloyd's iterations) and the broadcast-join assignment (used by
    ivf_topk) must pick identical cells."""
    emb = read_table(spark, sf_dir, "embeddings")
    cents_df = seed_centroids(emb, K)
    seeds = [
        [float(x) for x in r["centroid"]]
        for r in sorted(cents_df.collect(), key=lambda r: r["cluster_id"])
    ]
    via_join = assign_clusters(emb, cents_df).select("vec_id", "cluster_id")
    via_literal = emb.select(
        "vec_id", nearest_centroid_expr(F.col("embedding"), seeds).alias("cluster_id")
    )
    diff = via_join.join(via_literal, "vec_id").where(
        via_join["cluster_id"] != via_literal["cluster_id"]
    )
    assert diff.count() == 0


def test_centroid_rows_path_matches_frame_path(spark, sf_dir):
    """r14 optimization: passing pre-collected centroid ROWS binds the
    argmin array as a literal projection (no aggregate / exchange /
    broadcast). Assignment AND full indexed search must be bit-equal
    to the DataFrame-centroids path."""
    from big_data_bowl_2026_analytics_spark.operators.ivf import (
        ivf_index,
        ivf_topk_indexed,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    cents_df = seed_centroids(emb, K)
    rows = cents_df.collect()

    via_frame = sorted(
        map(tuple, assign_clusters(emb, cents_df).select("vec_id", "cluster_id").collect())
    )
    via_rows = sorted(
        map(tuple, assign_clusters(emb, rows).select("vec_id", "cluster_id").collect())
    )
    assert via_rows == via_frame

    queries = emb.where(F.col("vec_id") < 3)
    idx = ivf_index(emb, rows)
    expected = sorted(
        map(
            tuple,
            ivf_topk_indexed(
                ivf_index(emb, cents_df), queries, cents_df, k=3, nprobe=2
            ).collect(),
        )
    )
    got = sorted(
        map(tuple, ivf_topk_indexed(idx, queries, rows, k=3, nprobe=2).collect())
    )
    assert got == expected
    # the literal path's plan carries no aggregate/join machinery for
    # the centroid array
    plan = ivf_topk_indexed(idx, queries, rows, k=3, nprobe=2)._jdf.queryExecution().executedPlan().toString()
    assert "ObjectHashAggregate" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_recall_against_brute_force(spark, sf_dir):
    """With learned centroids and nprobe=4 of 8 cells, IVF top-3 must
    recover a solid majority of the exact top-3 neighbor set."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    learned = kmeans_fit(emb, k=K, n_iters=2)
    cents = spark.createDataFrame(
        [(i, c) for i, c in enumerate(learned)], "cluster_id int, centroid array<double>"
    )
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, queries, cents, k=3, nprobe=4).collect()
    }
    assert exact, "brute-force baseline returned nothing"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall:.2f} below floor"


def test_ivf_full_probe_is_exact(spark, sf_dir):
    """nprobe = k degenerates to exact search: every cell is scanned,
    so the result must equal brute force exactly."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    cents = seed_centroids(emb, K)
    exact = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=3).collect()
    )
    full = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ivf_topk(emb, queries, cents, k=3, nprobe=K).collect()
    )
    assert exact == full


def test_indexed_search_matches_self_contained(spark, sf_dir, tmp_path):
    # The ingest-time index path (ivf_index persisted, then
    # ivf_topk_indexed) must return exactly what the self-contained
    # ivf_topk computes — including through a parquet round-trip, the
    # way the bench and a real deployment consume it.
    from big_data_bowl_2026_analytics_spark.operators.ivf import (
        ivf_index,
        ivf_topk_indexed,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb, K)
    queries = emb.where(F.col("vec_id") < 3)
    expected = sorted(
        map(tuple, ivf_topk(emb, queries, cents, k=3, nprobe=2).collect())
    )

    path = str(tmp_path / "ivf_index")
    ivf_index(emb, cents).write.mode("overwrite").parquet(path)
    idx = spark.read.parquet(path)
    got = sorted(
        map(
            tuple,
            ivf_topk_indexed(
                idx, idx.where(F.col("vec_id") < 3), cents, k=3, nprobe=2
            ).collect(),
        )
    )
    assert got == expected


def test_ann_indexed_search_matches_self_contained(spark, sf_dir, tmp_path):
    from big_data_bowl_2026_analytics_spark.operators.similarity import (
        ann_index,
        ann_topk,
        ann_topk_indexed,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3)
    expected = sorted(
        map(tuple, ann_topk(emb, queries, k=3, n_planes=8, dim=64).collect())
    )

    path = str(tmp_path / "lsh_index")
    ann_index(emb, n_planes=8, dim=64).write.mode("overwrite").parquet(path)
    idx = spark.read.parquet(path)
    got = sorted(
        map(
            tuple,
            ann_topk_indexed(idx, idx.where(F.col("vec_id") < 3), k=3).collect(),
        )
    )
    assert got == expected


def test_indexed_search_plan_has_no_assignment_math(spark, sf_dir, tmp_path):
    # Query-time plan over the prebuilt index: one scan of the index
    # per join side, no k-means/signature recomputation (the index
    # columns arrive from the scan, not from projection math).
    from big_data_bowl_2026_analytics_spark.operators.ivf import (
        ivf_index,
        ivf_topk_indexed,
    )
    from big_data_bowl_2026_analytics_spark.plans.explain import physical_plan

    emb = read_table(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb, K)
    path = str(tmp_path / "ivf_index_plan")
    ivf_index(emb, cents).write.mode("overwrite").parquet(path)
    idx = spark.read.parquet(path)
    plan = physical_plan(
        ivf_topk_indexed(idx, idx.where(F.col("vec_id") < 3), cents, k=3, nprobe=2)
    )
    # corpus side + query side + probe-centroid side read the stored
    # index / tiny centroid frame; the full-corpus argmin (aggregate
    # over posexploded vectors) must NOT appear at query time.
    assert "posexplode" not in plan
    assert "min_by" not in plan


def test_multitable_recall_dominates_single_table(spark, sf_dir):
    # Each table's candidate set is a subset of the union's, so for
    # every query: single-table results ⊆ multi-table candidate pool,
    # and multi-table recall vs the exact baseline is >= single-table.
    from big_data_bowl_2026_analytics_spark.operators.similarity import (
        ann_topk,
        ann_topk_multitable,
        brute_force_topk,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=3).collect()
    }
    single = {
        (r.query_id, r.neighbor_id)
        for r in ann_topk(emb, queries, k=3, n_planes=8, dim=64).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in ann_topk_multitable(
            emb, queries, k=3, n_tables=2, n_planes=8, dim=64
        ).collect()
    }
    assert len(multi & exact) >= len(single & exact)
    # scores carried by the union are the exact cosines (same fold)
    multi_scores = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in ann_topk_multitable(
            emb, queries, k=3, n_tables=2, n_planes=8, dim=64
        ).collect()
    }
    exact_scores = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in brute_force_topk(emb, queries, k=30).collect()
    }
    for pair, cos in multi_scores.items():
        if pair in exact_scores:
            assert abs(cos - exact_scores[pair]) < 1e-9


def test_int8_quantize_roundtrip_error_bounded(spark, sf_dir):
    from big_data_bowl_2026_analytics_spark.operators.similarity import (
        dequantized,
        int8_quantize,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    quant = int8_quantize(emb)
    joined = (
        emb.join(quant, "vec_id")
        .select("vec_id", "embedding", "scale", "qvec",
                dequantized(F.col("qvec"), F.col("scale")).alias("dvec"))
        .collect()
    )
    assert joined
    for r in joined:
        assert all(-127 <= q <= 127 for q in r.qvec)
        # truncation error is at most one code step per element
        for x, d in zip(r.embedding, r.dvec):
            assert abs(float(x) - d) <= r.scale + 1e-12
        # the max-magnitude element saturates the code range (127, or
        # 126 when the IEEE division lands a hair under the integer)
        assert max(abs(q) for q in r.qvec) >= 126 or r.scale == 0


def test_int8_quantize_zero_vector(spark):
    from big_data_bowl_2026_analytics_spark.operators.similarity import (
        int8_quantize,
    )

    df = spark.createDataFrame(
        [(1, [0.0] * 8), (2, [1.0] * 8)], "vec_id long, embedding array<float>"
    )
    got = {r.vec_id: r for r in int8_quantize(df).collect()}
    assert got[1].scale == 0.0 and got[1].qvec == [0] * 8
    assert got[2].qvec == [127] * 8

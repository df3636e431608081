"""Similarity-search tests: LSH variants validated against brute force."""

from __future__ import annotations

from ml_data_pipeline_spark.catalog import load_table
from ml_data_pipeline_spark.operators import similarity as SS
from pyspark.sql import functions as F


def _query_vec(spark, sf_dir):
    row = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") == 0).first()
    return [float(v) for v in row["embedding"]]


def test_brute_force_topk_self_first(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    top = SS.brute_force_topk(emb, q, k=5).collect()
    assert top[0]["vec_id"] == 0 and abs(top[0]["cosine"] - 1.0) < 1e-6
    sims = [r["cosine"] for r in top]
    assert sims == sorted(sims, reverse=True)


def test_ann_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    exact = {r["vec_id"] for r in SS.brute_force_topk(emb, q, k=10).collect()}
    approx = {r["vec_id"] for r in SS.ann_topk(emb, q, k=10, n_planes=6, max_probe_hamming=2).collect()}
    # multi-probe LSH on 500 vectors: expect decent overlap, self always found
    assert 0 in approx
    assert len(exact & approx) >= 5


def test_cosine_pairs_lsh_subset_of_brute(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(120)
    lsh = {(r["id_a"], r["id_b"]) for r in SS.cosine_pairs_lsh(emb, dim=64, threshold=0.5, n_planes=3).collect()}
    brute = {(r["id_a"], r["id_b"]) for r in SS.brute_force_cosine_pairs(emb, threshold=0.5).collect()}
    assert lsh <= brute  # LSH may miss (approx) but never invents pairs


def test_ivf_candidate_pairs_recall_floor_at_gate_scale(spark, sf_dir):
    """r15 (VERDICT r14 item 2): the IVF eps-graph path needs a MEASURED
    recall floor vs brute at gate scale, not just the subset/full-probe
    invariants — a centroid-init or multiprobe regression could silently
    collapse recall while the ml_dbscan_ivf attestation gate (internal
    consistency only, by design) stays green. Measured on the 500-vector
    gate embeddings at the gate's exact parameters (dim=64, threshold
    0.3, ~sqrt(n) adaptive cells): nprobe=2 -> recall 0.615, nprobe=4 ->
    0.960 (the documented recall knob; sweep in COVERAGE.md). Floors
    carry collapse-detection margin, not noise margin — the KMeans seed
    is fixed, so the measured numbers are deterministic per data."""
    emb = load_table(spark, sf_dir, "embeddings")
    brute = {
        (r["id_a"], r["id_b"])
        for r in SS.brute_force_cosine_pairs(emb, threshold=0.3).collect()
    }
    assert len(brute) > 100
    for nprobe, floor in [(2, 0.5), (4, 0.85)]:
        ivf = {
            (r["id_a"], r["id_b"])
            for r in SS.ivf_candidate_pairs(
                emb, dim=64, threshold=0.3, nprobe=nprobe
            ).collect()
        }
        recall = len(ivf & brute) / len(brute)
        assert ivf <= brute  # exact verify: never invents pairs
        assert recall >= floor, (
            f"ivf eps-graph recall collapsed: nprobe={nprobe} recall={recall:.3f}"
        )


def test_ivf_topk_recall(spark):
    from ml_data_pipeline_spark.catalog import load_table
    from ml_data_pipeline_spark.operators import similarity as SS
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = [float(v) for v in emb.where(F.col("vec_id") == 1).first()["embedding"]]
    exact = [r["vec_id"] for r in SS.brute_force_topk(emb, q, k=10).collect()]
    assigned, cents = SS.build_ivf_index(emb, dim=len(q), n_clusters=8)
    approx = [r["vec_id"] for r in SS.ivf_topk(assigned, cents, q, k=10, nprobe=4).collect()]
    # probing half the cells must recover most of the true top-10
    overlap = len(set(exact) & set(approx))
    assert overlap >= 6
    # the query's own vector lives in a probed cell -> rank 1, cosine 1.0
    assert approx[0] == 1


def test_normalize_l2_unit_norm(spark):
    from ml_data_pipeline_spark.operators.similarity import normalize_l2

    df = spark.createDataFrame([(1, [3.0, 4.0]), (2, [0.0, 0.0])], "id long, embedding array<double>")
    rows = {r["id"]: r["unit"] for r in normalize_l2(df).collect()}
    assert abs(rows[1][0] - 0.6) < 1e-9 and abs(rows[1][1] - 0.8) < 1e-9
    assert rows[2] == [0.0, 0.0]  # zero vector passes through


def test_quantize_int8_bounds_and_error(spark):
    from ml_data_pipeline_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [(1, [0.5, -0.25, 0.1]), (2, [0.0, 0.0, 0.0])], "id long, embedding array<double>"
    )
    rows = {r["id"]: r for r in quantize_int8(df).collect()}
    assert rows[1]["q8"] == [127, -64, 25]
    assert abs(rows[1]["q_scale"] - 0.5) < 1e-9
    assert rows[2]["q8"] == [0, 0, 0] and rows[2]["q_scale"] == 1.0
    # dequantization error bound: scale/254 per component
    for q, x in zip(rows[1]["q8"], [0.5, -0.25, 0.1]):
        assert abs(q * rows[1]["q_scale"] / 127.0 - x) <= rows[1]["q_scale"] / 254 + 1e-12


def test_semantic_dedup_zero_norm_vector_survives_not_crashes(spark):
    """An all-zero embedding cannot be normalized; it must be skipped by the
    pair join (not crash the Arrow kernel) and survive the dedup (ADVICE
    r2: np.stack over null arrays made einsum raise)."""
    from ml_data_pipeline_spark.operators.similarity import semantic_dedup

    rows = [
        (1, "a", [1.0, 0.0]),
        (2, "a", [1.0, 0.0001]),   # near-dup of 1 -> dropped
        (3, "a", [0.0, 0.0]),      # zero norm -> must survive
    ]
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
    out = sorted(
        r["vec_id"]
        for r in semantic_dedup(df, block_col="label", threshold=0.95).collect()
    )
    assert out == [1, 3]


def test_random_project_preserves_distances(spark):
    """JL sanity: 64->16 ±1 projection keeps pairwise distance ratios
    bounded, and the matrix is deterministic across invocations."""
    import math

    from ml_data_pipeline_spark.operators.similarity import random_project

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(40)
    out = {r["vec_id"]: (r["embedding"], r["projected"])
           for r in random_project(emb, in_dim=64, out_dim=16).collect()}
    ids = sorted(out)[:10]
    ratios = []
    for a in ids:
        for b in ids:
            if a >= b:
                continue
            d_in = math.dist(out[a][0], out[b][0])
            d_out = math.dist(out[a][1], out[b][1])
            if d_in > 1e-9:
                ratios.append(d_out / d_in)
    # k=16 keeps individual ratios noisy; the MEAN pins the scale (a
    # wrong 1/sqrt(k) would shift it by ~2.8x), the band catches outliers
    mean = sum(ratios) / len(ratios)
    assert 0.75 < mean < 1.25, mean
    assert 0.2 < min(ratios) and max(ratios) < 2.5, (min(ratios), max(ratios))
    again = {r["vec_id"]: r["projected"]
             for r in random_project(emb, in_dim=64, out_dim=16).collect()}
    assert all(again[i] == out[i][1] for i in ids)


def test_centroid_silhouette_separated_vs_mixed(spark):
    from ml_data_pipeline_spark.operators.similarity import centroid_silhouette

    # two tight, far-apart clusters -> silhouette near 1 for both
    rows = []
    vid = 0
    for lbl, base in [(0, 0.0), (1, 100.0)]:
        for i in range(10):
            rows.append((vid, [base + i * 0.1, base], lbl))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r["label"]: r for r in centroid_silhouette(df).collect()}
    assert out[0]["n"] == 10 and out[1]["n"] == 10
    assert out[0]["mean_silhouette"] > 0.95 and out[1]["mean_silhouette"] > 0.95

    # identical distributions under two labels -> silhouette near 0 or below
    rows2 = [(i, [float(i % 10), 0.0], i % 2) for i in range(40)]
    df2 = spark.createDataFrame(rows2, "vec_id long, embedding array<float>, label int")
    out2 = centroid_silhouette(df2).collect()
    assert all(r["mean_silhouette"] < 0.2 for r in out2)


def test_davies_bouldin_lower_for_separated_clusters(spark):
    from ml_data_pipeline_spark.operators.similarity import davies_bouldin

    def blobs(gap):
        rows, vid = [], 0
        for lbl, base in [(0, 0.0), (1, gap)]:
            for i in range(10):
                rows.append((vid, [base + i * 0.1, base], lbl))
                vid += 1
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )

    far = davies_bouldin(blobs(100.0)).collect()[0]
    near = davies_bouldin(blobs(2.0)).collect()[0]
    assert far["n_clusters"] == 2 and near["n_clusters"] == 2
    assert far["db_index"] < near["db_index"]  # separation lowers DB
    assert far["db_index"] < 0.05  # tight clusters 100 apart -> tiny index


def test_silhouette_and_db_degenerate_no_crash(spark):
    from ml_data_pipeline_spark.operators.similarity import (
        centroid_silhouette,
        davies_bouldin,
    )

    # identical points under two labels: coincident centroids and 0/0
    # silhouettes must yield NULLs, not an ANSI DIVIDE_BY_ZERO crash
    rows = [(i, [1.0, 2.0], i % 2) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    sil = centroid_silhouette(df).collect()
    assert len(sil) == 2 and all(r["mean_silhouette"] is None for r in sil)
    db = davies_bouldin(df).collect()[0]
    assert db["n_clusters"] == 2 and db["db_index"] is None


def test_scalar_quantize_roundtrip_error_bound(spark):
    from ml_data_pipeline_spark.operators import similarity as SS2

    rows = [(i, [float(i) / 10.0, -1.0 + i * 0.25, 5.0]) for i in range(9)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    mn, mx = SS2.dim_min_max(df, "embedding", 3)
    assert mn == [0.0, -1.0, 5.0] and mx == [0.8, 1.0, 5.0]
    out = SS2.scalar_quantize(df, mn, mx).collect()
    for r in out:
        codes = r["codes"]
        assert all(c is None or 0 <= c <= 255 for c in codes)
        # half-bucket reconstruction: error <= span/512 per dim
        assert r["max_abs_err"] <= max(0.8, 2.0) / 512 + 1e-12
    # extremes: min maps to code 0, max clamps to 255
    first = {r["vec_id"]: r["codes"] for r in out}
    assert first[0][0] == 0 and first[8][0] == 255
    assert first[0][1] == 0 and first[8][1] == 255


def test_scalar_quantize_matches_manual_floor(spark):
    import math
    from ml_data_pipeline_spark.operators import similarity as SS2

    rows = [(1, [0.37, 0.91]), (2, [0.11, 0.52])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    mn, mx = [0.0, 0.5], [1.0, 1.0]
    got = {r["vec_id"]: r for r in SS2.scalar_quantize(df, mn, mx).collect()}
    for vid, vec in rows:
        for d in range(2):
            want = min(math.floor((vec[d] - mn[d]) / (mx[d] - mn[d]) * 256), 255)
            assert got[vid]["codes"][d] == want


def test_scalar_quantize_constant_dim_exact(spark):
    """A constant dimension (mn == mx) degrades gracefully: the nullif
    span guard makes the fraction NULL, greatest() skips the NULL (Spark
    semantics) so the clamp yields code 0, and reconstruction
    mn + 0.5/256 * span with span = 0 is EXACTLY mn — zero error, no
    NULLs anywhere. (The gate's checksum fold still coalesces per
    element as defense in depth.)"""
    from ml_data_pipeline_spark.operators import similarity as SS2

    df = spark.createDataFrame(
        [(1, [0.2, 5.0]), (2, [0.8, 5.0])], "vec_id int, embedding array<double>"
    )
    mn, mx = SS2.dim_min_max(df, "embedding", 2)
    assert mn[1] == mx[1] == 5.0
    out = {r["vec_id"]: r for r in SS2.scalar_quantize(df, mn, mx).collect()}
    for vid in (1, 2):
        assert out[vid]["codes"][1] == 0            # constant dim -> code 0
        assert out[vid]["codes"][0] is not None
        # constant dim reconstructs exactly; the max error comes from the
        # varying dim only and stays within the half-bucket bound
        assert out[vid]["max_abs_err"] <= (0.8 - 0.2) / 512 + 1e-12


def test_zero_norm_vectors_never_crash_similarity_ops(spark):
    """r10 review: under Spark 4's default ANSI mode, an unguarded
    division made one all-zero embedding kill brute_force_topk /
    ann_topk / cosine_pairs_lsh / brute_force_cosine_pairs with
    DIVIDE_BY_ZERO. Zero-norm rows now yield NULL/NaN cosine — ranked
    last / dropped by thresholds — and a zero-norm QUERY raises."""
    import pytest

    from ml_data_pipeline_spark.operators import similarity as SS

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),  # the killer row
            (3, [0.5, 0.5, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    top = SS.brute_force_topk(emb, [1.0, 0.0, 0.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in top] == [1, 3]  # zero vector ranked out
    ann = SS.ann_topk(emb, [1.0, 0.0, 0.0, 0.0], k=3, n_planes=2).collect()
    assert 1 in {r["vec_id"] for r in ann}
    pairs = {
        (r["id_a"], r["id_b"])
        for r in SS.brute_force_cosine_pairs(emb, threshold=0.5).collect()
    }
    assert pairs == {(1, 3)}  # zero vector pairs with nothing
    lsh = {
        (r["id_a"], r["id_b"])
        for r in SS.cosine_pairs_lsh(emb, dim=4, threshold=0.5, n_planes=2).collect()
    }
    assert (2, 3) not in lsh and (1, 2) not in lsh
    with pytest.raises(ValueError, match="zero norm"):
        SS.brute_force_topk(emb, [0.0, 0.0, 0.0, 0.0], k=2)


def test_dim_min_max_guards_width_and_all_null_dims(spark):
    """r10 review: a vector wider than the declared dim raised IndexError
    AFTER the full aggregation; now a loud ValueError names the mismatch.
    An all-NULL dimension keeps the 0.0 default instead of None-poisoning
    scalar_quantize's literals."""
    import pytest

    from ml_data_pipeline_spark.operators import similarity as SS

    wide = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="wider than the declared dim"):
        SS.dim_min_max(wide, "embedding", dim=2)
    nulls = spark.createDataFrame(
        [(1, [1.0, None]), (2, [2.0, None])],
        "vec_id long, embedding array<double>",
    )
    mn, mx = SS.dim_min_max(nulls, "embedding", dim=2)
    assert mn == [1.0, 0.0] and mx == [2.0, 0.0]


def test_r12_build_ivf_index_exact_means_and_empty_clusters(spark):
    """The engine-exact IVF twin (ss_ivf_topk's graduated quantizer) must
    produce exact-quotient centroids (integer grid sums / counts) and keep
    a previous centroid when a cluster empties, mirroring the DuckDB
    oracle's coalesce rule. Two tight blobs converge to their exact means;
    an all-identical corpus ties every point into cluster 0 (lowest-index
    tie-break) and leaves cluster 1 on its init centroid."""
    from ml_data_pipeline_spark.operators import similarity as SS

    blob = [
        (0, [0.1, 0.2]), (1, [0.11, 0.21]), (2, [0.12, 0.19]),
        (3, [-0.3, -0.4]), (4, [-0.31, -0.41]), (5, [-0.29, -0.39]),
    ]
    df = spark.createDataFrame(blob, "vec_id long, embedding array<float>")
    assigned, cents = SS.build_ivf_index_exact(df, n_clusters=2, iters=3, grid=1000)
    rows = {r["vec_id"]: r["ivf_cluster"] for r in assigned.collect()}
    assert rows[0] == rows[1] == rows[2]
    assert rows[3] == rows[4] == rows[5]
    assert rows[0] != rows[3]
    # exact quotients of the quantized (floor(x*1000)) blob members;
    # float32 round-trip via struct, matching the parquet/createDataFrame
    # FLOAT storage (r12 review: one-row Spark jobs per value were pure
    # overhead for the identical coercion)
    import math
    import struct

    def f32(v: float) -> float:
        return struct.unpack("f", struct.pack("f", v))[0]

    q = {i: [math.floor(f32(v) * 1000) for v in vec] for i, vec in blob}
    for cluster, members in ((rows[0], [0, 1, 2]), (rows[3], [3, 4, 5])):
        want = [sum(q[m][d] for m in members) / 3 for d in range(2)]
        assert cents[cluster] == want

    same = spark.createDataFrame(
        [(i, [0.25, -0.125]) for i in range(4)], "vec_id long, embedding array<float>"
    )
    assigned2, cents2 = SS.build_ivf_index_exact(same, n_clusters=2, iters=2, grid=1000)
    assert {r["ivf_cluster"] for r in assigned2.collect()} == {0}
    assert cents2[1] == [250.0, -125.0]  # empty cluster kept its init centroid


def test_r13_ivf_exact_twin_recall_floor(spark):
    """ADVICE r12: ss_ivf_topk's graduation swapped the gate's recall@10
    >= 0.3 floor for hash parity — but the oracle replays the SAME
    algorithm spec from this repo, so a consistent engine+oracle
    misconfiguration (bad nprobe/iters in the exact twin) would keep
    parity while recall collapses. Keep the ABSOLUTE quality invariant
    alive somewhere oracle-independent: the exact-twin path at the gate's
    own operating point (n_clusters=16, iters=3, nprobe=4, grid=1000)
    must recover >= 0.3 of the true top-10 on the synthetic corpus.
    (test_ivf_topk_recall covers the MLlib production quantizer; this
    covers the graduated gate quantizer.)"""
    import math

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = _query_vec(spark, "/root/testdata/sf0.001")
    exact = {r["vec_id"] for r in SS.brute_force_topk(emb, q, k=10).collect()}
    assigned, cents = SS.build_ivf_index_exact(emb, n_clusters=16, iters=3, grid=1000)
    qq = [float(math.floor(v * 1000)) for v in q]
    approx = {
        r["vec_id"]
        for r in SS.ivf_topk(assigned, cents, q, k=10, nprobe=4, probe_vector=qq).collect()
    }
    recall = len(exact & approx) / 10.0
    assert recall >= 0.3, f"exact-twin IVF recall@10 collapsed to {recall}"


def test_ivf_assign_kernel_sliced_batch_equals_fresh_batch():
    """Arrow's list `values` ignore a slice, so a sliced batch carries
    element entries past its last row. Rows assigned from a sliced batch
    must equal the same rows built as a fresh batch: a NULL element makes
    its own row's cluster NULL and no other row's."""
    import pyarrow as pa

    qv = pa.array([[1, 2], [None, 3], [40, 50], [6, 7]], pa.list_(pa.int64()))
    full = pa.RecordBatch.from_arrays([pa.array([0, 1, 2, 3], pa.int64()), qv], ["id", "__qv"])
    sliced = full.slice(1, 2)
    fresh = pa.RecordBatch.from_pylist(sliced.to_pylist(), schema=full.schema)
    assert sliced.column(1).offset == 1  # a real slice, not a copy
    cents = [[0.0, 0.0], [45.0, 45.0]]
    for with_stats in (False, True):
        kernel = SS._ivf_assign_kernel(cents, with_stats)
        got = [b.to_pylist() for b in kernel([sliced])]
        assert got == [b.to_pylist() for b in kernel([fresh])]
    rows = next(SS._ivf_assign_kernel(cents, False)([sliced])).to_pylist()
    assert [(r["id"], r["ivf_cluster"]) for r in rows] == [(1, None), (2, 1)]

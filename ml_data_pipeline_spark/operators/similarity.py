"""Similarity search over embedding columns (SURVEY.md §2.9).

Operators over an `embeddings(vec_id, embedding array<float>, label)` table:
- brute-force cosine top-k (the exactness baseline);
- LSH-bucketed ANN (random hyperplane signs) — the scale path: candidates
  come from an equi-join on the bucket key, so work grows ~linearly with
  corpus size instead of quadratically;
- all-pairs cosine join above a threshold (for embedding-based near-dup).

The dot product / norm math is F.aggregate / F.zip_with over the arrays —
JVM-side, no Python. A query vector is folded in as an array literal (it is
one vector — broadcast by construction).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ml_data_pipeline_spark.functions.sql_text import sql_double

def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )

def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )

def cosine_to_query(
    df: DataFrame, query_vector: list[float], vec_col: str = "embedding"
) -> Column:
    """Cosine of every row against one query vector. A zero-norm ROW
    yields NULL (nullif guard — under Spark 4's default ANSI mode an
    unguarded division is a job-killing DIVIDE_BY_ZERO, r10 review), so
    desc ordering ranks it last; a zero-norm QUERY is a caller error and
    raises up front, and so is a NaN or infinite component (SQL has no
    literal for one, and it would make every cosine NaN).

    The query array is one SQL expression, one py4j parse, where a
    ``F.lit`` per component cost a round trip each; ``sql_double`` keeps
    every component's exact bits."""
    if not all(math.isfinite(float(v)) for v in query_vector):
        raise ValueError("cosine_to_query: query vector has a non-finite component")
    if not any(float(v) != 0.0 for v in query_vector):
        raise ValueError("cosine_to_query: query vector has zero norm")
    q = F.expr(f"array({', '.join(sql_double(v) for v in query_vector)})")
    return _dot(F.col(vec_col), q) / F.nullif(
        _norm(F.col(vec_col)) * _norm(q), F.lit(0.0)
    )

def brute_force_topk(
    df: DataFrame,
    query_vector: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k against one query vector.

    One projection + a global top-k (TakeOrderedAndProject — Spark keeps only
    k rows per partition then merges; no full sort, no shuffle of the data).
    """
    sim = cosine_to_query(df, query_vector, vec_col)
    return (
        df.select(F.col(id_col), F.round(sim, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )

def lsh_planes(seed: int, n_planes: int, dim: int) -> list[list[float]]:
    """The sign-LSH hyperplanes as plain Python floats: a deterministic
    LCG stream so buckets are reproducible across sessions AND replayable
    by the DuckDB oracles (oracles.py embeds these exact doubles as SQL
    literals for ss_cosine_pairs — keep the recurrence in ONE place)."""
    state = seed & 0x7FFFFFFF
    planes: list[list[float]] = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append((state / float(1 << 31)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def hyperplane_lsh_buckets(
    df: DataFrame,
    dim: int,
    n_planes: int = 8,
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple[DataFrame, list[list[float]]]:
    """Append a sign-LSH bucket id: bit i = sign(<v, r_i>) for n_planes
    deterministic pseudo-random hyperplanes (LCG-generated, seed-stable on
    driver — tiny, folded into the plan as literals).
    """
    planes = lsh_planes(seed, n_planes, dim)
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(v) for v in plane])
        bit = F.when(_dot(F.col(vec_col), p) >= 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket + bit
    return df.withColumn("lsh_bucket", bucket), planes

def ann_topk(
    df: DataFrame,
    query_vector: list[float],
    k: int = 10,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    max_probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: restrict the scan to LSH buckets within
    `max_probe_hamming` bits of the query's bucket (multi-probe), then exact
    cosine on the survivors.

    At 100 TB with the table WRITTEN partitioned by lsh_bucket, the bucket
    IN-list prunes partitions at the source — the query touches
    (probed/2^n_planes) of the data.
    """
    bucketed, planes = hyperplane_lsh_buckets(df, len(query_vector), n_planes, vec_col, seed)
    qb = 0
    for i, plane in enumerate(planes):
        if sum(q * p for q, p in zip(query_vector, plane)) >= 0:
            qb |= 1 << i
    probe = [b for b in range(1 << n_planes) if bin(b ^ qb).count("1") <= max_probe_hamming]
    sim = cosine_to_query(bucketed, query_vector, vec_col)
    return (
        bucketed.where(F.col("lsh_bucket").isin(probe))
        .select(F.col(id_col), F.round(sim, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )

def cosine_pairs_lsh(
    df: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_planes: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: bucket with sign-LSH, equi-join within
    buckets, exact cosine verify >= threshold. High-cosine pairs land in the
    same bucket with prob (1 - theta/pi)^n_planes — recall tunable via
    n_planes; candidates never cross buckets so no crossJoin.
    """
    from ml_data_pipeline_spark.cache import tracked_cache

    from ..functions.vec_kernels import pair_cosine

    bucketed_raw, _ = hyperplane_lsh_buckets(df, dim, n_planes, vec_col, seed)
    # cache: the self-join reads this frame from BOTH sides — uncached,
    # each side re-derives the n_planes interpreted LSH dot products from
    # its own scan (r10 review; same fix semantic_dedup documents)
    bucketed = tracked_cache(
        bucketed_raw.select(
            F.col(id_col).alias("__sid"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__sv"),
            "lsh_bucket",
        )
    )
    a = bucketed.select(
        F.col("__sid").alias("id_a"), F.col("__sv").alias("va"), "lsh_bucket"
    )
    b = bucketed.select(
        F.col("__sid").alias("id_b"), F.col("__sv").alias("vb"), "lsh_bucket"
    )
    # cosine via the Arrow kernel on RAW vectors: one numpy pass per batch
    # (the aggregate/zip_with form is interpreted per element), and a
    # zero-norm vector gives NaN — filtered by the threshold — instead of
    # an ANSI DIVIDE_BY_ZERO crash (r10 review)
    return (
        a.join(b, "lsh_bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(pair_cosine("va", "vb"), 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
        .orderBy("id_a", "id_b")
    )

def brute_force_cosine_pairs(
    df: DataFrame, threshold: float = 0.9, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Exact all-pairs cosine >= threshold (O(n^2) — the small-corpus oracle
    baseline that LSH variants are validated against).

    Dense pairwise math is the ONE place Arrow-batched numpy beats built-in
    expressions: aggregate/zip_with higher-order functions are interpreted
    per element (measured 50s for 125k dim-64 pairs), a vectorized pandas
    UDF does the same in ~2s. Vectors are L2-normalized once per row
    JVM-side so the per-pair kernel is a single dot product.
    """
    from ml_data_pipeline_spark.cache import tracked_cache

    from ..functions.vec_kernels import pair_cosine

    # RAW vectors into the Arrow cosine kernel (r10 review): the old
    # JVM-side normalize divided by a norm EMBEDDED in the transform
    # lambda — higher-order lambdas re-evaluate captured subexpressions
    # per element, making it O(d^2) per row (measured 150x at dim 256) —
    # and crashed on zero-norm vectors (ANSI DIVIDE_BY_ZERO / null-element
    # np.stack). pair_cosine folds dot+norms into one numpy pass and maps
    # zero-norm to NaN, which the threshold filter drops.
    casted = tracked_cache(
        df.select(
            F.col(id_col),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__cv"),
        )
    )
    a = casted.select(F.col(id_col).alias("id_a"), F.col("__cv").alias("va"))
    b = casted.select(F.col(id_col).alias("id_b"), F.col("__cv").alias("vb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(pair_cosine("va", "vb"), 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
        .orderBy("id_a", "id_b")
    )

def build_ivf_index(
    df: DataFrame,
    dim: int,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
):
    """IVF (inverted-file) index: KMeans coarse quantizer + per-row cluster
    assignment. Returns (assigned_df, centroids) where assigned_df carries
    an `ivf_cluster` column.

    The scale story: write assigned_df partitioned by ivf_cluster; a query
    then reads only nprobe/n_clusters of the data (partition pruning), the
    same skip-most-of-the-corpus effect as the LSH bucket path but with
    data-adaptive cells (LSH cells are data-oblivious hyperplanes).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vec = df.withColumn("__v", array_to_vector(F.col(vec_col)))
    model = KMeans(k=n_clusters, seed=seed, featuresCol="__v", predictionCol="ivf_cluster").fit(vec)
    assigned = model.transform(vec).drop("__v")
    centroids = [[float(x) for x in c] for c in model.clusterCenters()]
    return assigned, centroids

def ivf_candidate_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.3,
    n_clusters: int | None = None,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Bucketed eps-neighbor pairs for density clustering / similarity
    graphs — the 100 TB candidate path behind dbscan_labels (r14, found
    by the sf1 probe: the brute baseline's n² measured 51x wall for 10x
    data; this path measured ~linear).

    Shape: KMeans coarse cells (build_ivf_index), every point posted to
    its `nprobe` nearest cells (one Arrow GEMM per batch —
    vec_kernels.nearest_cells_udf), within-cell equi-join (id_a < id_b),
    exact cosine verify >= threshold, then pair dedup (a pair sharing
    several probed cells joins once per shared cell, <= nprobe dupes —
    deduped AFTER the threshold cut so the distinct runs on the
    surviving-pair frame, not the candidate frame). Candidates never
    cross non-shared cells: no crossJoin, cost ~ sum(occupancy²)
    instead of n².

    Low thresholds (eps graphs) are exactly where sign-LSH banding loses
    recall — P(same bucket) decays with the angle — while IVF cells are
    data-adaptive. Recall is still cell-boundary dependent: two
    eps-neighbors sharing NO probed cell are missed; `nprobe` trades
    recall for cost exactly like ivf_topk. Output schema matches
    brute_force_cosine_pairs: (id_a, id_b, cosine).

    ``n_clusters=None`` sizes the index at ~sqrt(n) cells (one
    column-pruned count — the standard IVF heuristic): with FIXED cells
    the per-cell occupancy grows linearly and sum(occupancy²) is still
    quadratic (the r14 probe measured exactly that at k=8); sqrt-scaled
    cells keep occupancy ~sqrt(n) and total candidates ~n^1.5 — and
    n·sqrt(n) verified pairs is the honest floor for an eps-GRAPH whose
    edge count itself grows that way on clustered data."""
    from ml_data_pipeline_spark.cache import tracked_cache

    from ..functions.vec_kernels import nearest_cells_udf, pair_cosine

    if n_clusters is None:
        n = df.count()
        n_clusters = max(2, min(4096, int(n ** 0.5)))
    assigned, centroids = build_ivf_index(df, dim, n_clusters, vec_col, seed)
    cells = nearest_cells_udf(centroids, nprobe)
    posted = tracked_cache(
        assigned.select(
            F.col(id_col).alias("__pid_"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__pv"),
            F.explode(cells(F.col(vec_col))).alias("__cell"),
        )
    )
    a = posted.select(
        F.col("__pid_").alias("id_a"), F.col("__pv").alias("va"), "__cell"
    )
    b = posted.select(
        F.col("__pid_").alias("id_b"), F.col("__pv").alias("vb"), "__cell"
    )
    # no presentation orderBy (r15, VERDICT): every consumer (dbscan's
    # graph algebra, the attestation joins, set-compare tests) is
    # order-insensitive, and a global sort on the edge frame is an
    # edge-scale shuffle the 100 TB path should not pay
    return (
        a.join(b, "__cell")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(pair_cosine("va", "vb"), 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
        .distinct()
    )


# Lloyd assignment for build_ivf_index_exact as an Arrow kernel. The
# expression-tree assign — n_clusters aggregate folds over dim-wide
# zip_with arrays, a least() and a when-chain — built a NEW ~(n_clusters x dim)-node plan per Lloyd iteration whose
# Catalyst + Janino time dominated the gate (build_exact 11.9s cold at
# sf0.01 for ~0.2s of data work). The Arrow kernel reproduces the
# pinned arithmetic EXACTLY — per-dim (x - y)^2 in float64 folded in
# index order (acc = acc + d_i, the zip_with/aggregate order), ties to
# the lowest cluster index (first-minimum), rows with NULL/ragged __qv
# assigned a NULL cluster exactly as null-poisoned distances fall out
# of least()/when — and the DuckDB oracle's iteration-by-iteration
# replay (hash parity) is the gate that proves it.
def _ivf_assign_kernel(cents: list[list[float]], with_stats: bool):
    import numpy as np
    import pyarrow as pa

    C = np.array(cents, dtype=np.float64)  # (k, dim)

    def compute(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            qcol = batch.column(batch.schema.get_field_index("__qv"))
            offs = np.asarray(qcol.offsets)
            vals = qcol.values
            good = np.ones(n, dtype=bool)
            if qcol.null_count or vals.null_count:
                valid = qcol.is_valid().to_numpy(zero_copy_only=False)
                good &= valid
            lens = offs[1:] - offs[:-1]
            good &= lens == C.shape[1]
            if vals.null_count:
                # `values` ignores a slice: entries past offs[-1] belong to
                # no row here, so the last segment must end at offs[-1]
                elem_ok = vals.is_valid().to_numpy(zero_copy_only=False)
                ok_counts = np.add.reduceat(
                    np.concatenate([elem_ok[: offs[-1]], [False]]).astype(np.int64),
                    offs[:-1],
                )[:n]
                good &= np.where(lens > 0, ok_counts == lens, True)
            if vals.null_count:
                vals = vals.fill_null(0)  # only excluded rows read these
            cl = np.full(n, -1, dtype=np.int64)
            if good.any():
                flat = np.asarray(vals.to_numpy(zero_copy_only=False), dtype=np.float64)
                gidx = np.where(good)[0]
                X = flat[
                    (offs[:-1][gidx, None] + np.arange(C.shape[1])[None, :]).astype(
                        np.int64
                    )
                ]  # (g, dim) exact long->double
                dists = np.zeros((len(gidx), C.shape[0]), dtype=np.float64)
                for i in range(C.shape[1]):  # sequential per-dim fold:
                    d = X[:, i : i + 1] - C[None, :, i]  # same IEEE order as
                    dists += d * d  # aggregate(zip_with(...))
                cl[gidx] = np.argmin(dists, axis=1)  # first min = lowest index
            cl_arr = pa.array(
                np.where(cl >= 0, cl, 0).astype(np.int32), type=pa.int32()
            )
            if (cl < 0).any():
                cl_arr = pa.array(
                    [int(c) if c >= 0 else None for c in cl], type=pa.int32()
                )
            if not with_stats:
                yield pa.RecordBatch.from_arrays(
                    list(batch.columns) + [cl_arr], batch.schema.names + ["ivf_cluster"]
                )
                continue
            # per-batch partial centroid stats: integer per-dim sums and
            # counts per cluster — order-independent exact longs, merged
            # by a tiny JVM groupBy exactly like the posexplode shape
            gidx = np.where(cl >= 0)[0]
            if len(gidx) == 0:
                continue
            flat_l = np.asarray(vals.to_numpy(zero_copy_only=False), dtype=np.int64)
            Xl = flat_l[
                (offs[:-1][gidx, None] + np.arange(C.shape[1])[None, :]).astype(
                    np.int64
                )
            ]
            ks, ds_, sxs, ns = [], [], [], []
            for k in np.unique(cl[gidx]):
                rows = Xl[cl[gidx] == k]
                ks.extend([int(k)] * C.shape[1])
                ds_.extend(range(C.shape[1]))
                sxs.extend(rows.sum(axis=0, dtype=np.int64).tolist())
                ns.extend([rows.shape[0]] * C.shape[1])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ks, type=pa.int32()),
                    pa.array(ds_, type=pa.int32()),
                    pa.array(sxs, type=pa.int64()),
                    pa.array(ns, type=pa.int64()),
                ],
                ["ivf_cluster", "__i", "__sx", "__n"],
            )

    return compute


def build_ivf_index_exact(
    df: DataFrame,
    n_clusters: int = 16,
    iters: int = 3,
    grid: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Engine-exact twin of build_ivf_index: deterministic fixed-iteration
    Lloyd's on an INTEGER grid, replayable bit-exactly by any SQL engine
    (the ss_ivf_topk gate's DuckDB oracle unrolls it — VERDICT r11 item
    5's graduation path). MLlib KMeans (build_ivf_index above) remains
    the production quantizer; its float-sum centroid updates depend on
    partition/accumulation order, which no cross-engine oracle can
    replay. This twin designs that out with the kmeans_fit_2d exactness
    contract generalized to d dimensions:

    - components quantize as floor(x * grid) — floor of an exact IEEE
      product, identical in every engine (never round(): half-up vs
      half-even diverges on boundary values);
    - init = first n_clusters rows ordered by (md5(id), id), the shared
      seed-free deterministic shuffle;
    - centroid updates are per-dim INTEGER sums (order-independent,
      exact) over exact-quotient division sx/n (exact IEEE while
      |sx| < 2^53);
    - assignment distances are sequential index-order folds of exact
      doubles — the list_sum/list_transform recipe ss_brute_topk's
      oracle proved parity-stable across three scales;
    - distance ties assign the lowest cluster index.

    Returns (assigned_df, centroids): assigned_df = df + __qv (the
    quantized long array) + ivf_cluster; centroids in GRID units as
    python floats (exact quotients).
    """
    qv = F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * grid).cast("long")
    )
    # localCheckpoint: read once per iteration + the final assignment
    # (iters+2 scans of the source otherwise — the kmeans_fit_2d lesson)
    qdf = df.withColumn("__qv", qv).localCheckpoint()
    init_rows = (
        qdf.select(F.col(id_col).alias("__id"), "__qv")
        .withColumn("__h", F.md5(F.col("__id").cast("string")))
        .orderBy("__h", "__id")
        .limit(n_clusters)
        .collect()
    )
    if len(init_rows) < n_clusters:
        raise ValueError(
            f"build_ivf_index_exact: n_clusters={n_clusters} exceeds the "
            f"{len(init_rows)} available init rows"
        )
    cents = [[float(v) for v in r["__qv"]] for r in init_rows]
    dim = len(cents[0])


    out_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in qdf.schema
    )

    def assign(cents: list[list[float]]) -> DataFrame:
        return qdf.mapInArrow(
            _ivf_assign_kernel(cents, with_stats=False),
            schema=f"{out_fields}, ivf_cluster int",
        )

    for _ in range(iters):
        stats = (
            qdf.select("__qv")
            .mapInArrow(
                _ivf_assign_kernel(cents, with_stats=True),
                schema="ivf_cluster int, __i int, __sx bigint, __n bigint",
            )
            .groupBy("ivf_cluster", "__i")
            .agg(F.sum("__sx").alias("__sx"), F.sum("__n").alias("__n"))
            .collect()
        )
        by_c: dict[int, dict[int, tuple[int, int]]] = {}
        for r in stats:
            by_c.setdefault(r["ivf_cluster"], {})[r["__i"]] = (r["__sx"], r["__n"])
        # empty cluster keeps its previous centroid (same rule as the SQL
        # twin's coalesce); sx/n is python int/int true division == the
        # oracle's CAST(sx AS DOUBLE)/n — exact while |sx| < 2^53
        cents = [
            [by_c[j][i][0] / by_c[j][i][1] for i in range(dim)]
            if j in by_c
            else cents[j]
            for j in range(n_clusters)
        ]
    return assign(cents), cents


def ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    query_vector: list[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_vector: list[float] | None = None,
) -> DataFrame:
    """ANN top-k over an IVF index: probe the nprobe cells whose centroids
    are closest to the query (driver-side — centroids are tiny), exact
    cosine on the survivors. Candidates ≈ nprobe/n_clusters of the corpus.

    ``probe_vector`` selects the cells when the centroids live in a
    different space than the scoring vector — the exact-twin gate probes
    with the QUANTIZED query against build_ivf_index_exact's grid-unit
    centroids while cosine-scoring the original floats. Probe arithmetic
    is oracle-replayable by construction: explicit multiplies (never
    ``**``, whose libm rounding is not pinned), a left-to-right fold,
    and a (distance, cluster-index) tie-break."""
    pv = probe_vector if probe_vector is not None else query_vector
    dists = [
        (ci, sum((q - c) * (q - c) for q, c in zip(pv, cent)))
        for ci, cent in enumerate(centroids)
    ]
    probe = [ci for ci, _ in sorted(dists, key=lambda x: (x[1], x[0]))[:nprobe]]
    sim = cosine_to_query(assigned, query_vector, vec_col)
    return (
        assigned.where(F.col("ivf_cluster").isin(probe))
        .select(F.col(id_col), F.round(sim, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )

def normalize_l2(df: DataFrame, vec_col: str = "embedding", out_col: str = "unit") -> DataFrame:
    """L2-normalize an array<float> column to unit length (zero vectors pass
    through unchanged). Pure higher-order expressions — JVM-side, zero
    shuffle; the precursor that turns cosine into dot product for the ANN
    operators."""
    a = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    n = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    # divide via zip_with against array_repeat(n, size): array_repeat
    # evaluates the norm ONCE per row, where a transform lambda capturing
    # `n` re-evaluates the O(d) aggregate per ELEMENT — O(d^2) per row,
    # measured 11x at dim 256 (r10 review)
    unit = F.when(
        n > 0, F.zip_with(a, F.array_repeat(n, F.size(a)), lambda x, nn: x / nn)
    ).otherwise(a)
    return df.withColumn(out_col, unit)


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "q8",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| (1.0 for the
    zero vector), q = round(x * 127 / scale). Cuts vector storage and
    shuffle width 4x for ANN candidate stages; dequantization error is
    bounded by scale/254 per component. Pure expressions, zero shuffle."""
    a = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    mx = F.aggregate(a, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
    scale = F.when(mx > 0, mx).otherwise(F.lit(1.0))
    q = F.transform(a, lambda x: F.round(x * 127.0 / scale, 0).cast("int"))
    return df.withColumn(scale_col, F.round(scale, 6)).withColumn(out_col, q)

def label_centroids(
    df: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """Per-label centroid of an embedding column, emitted as (label, idx,
    value) rows: posexplode to (label, dim-index, component) then one
    map-side-combinable avg per (label, idx). The shuffle carries
    dim x labels scalar rows — at 100 TB the partial aggregation reduces
    each partition to |labels| x dim values before anything moves, which is
    why this beats any collect-and-average design. Rows (not re-built
    arrays) keep the result engine-comparable."""
    return (
        df.select(label_col, F.posexplode(vec_col).alias("idx", "v"))
        .groupBy(label_col, "idx")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid_v"))
        .orderBy(label_col, "idx")
    )

def semantic_dedup(
    df: DataFrame,
    block_col: str,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): within each
    block, drop every vector that has a LOWER-id neighbor at cosine >=
    threshold — deterministic survivor selection without building connected
    components. Returns the surviving rows (id, block).

    The block column IS the scale story: SemDeDup blocks by k-means cluster
    id so the pairwise step is quadratic only within a cluster, never across
    the corpus (use build_ivf_index's assignments, or any upstream category
    such as `label`, as the block). The pair join is an equi-join on the
    block key; the dot product runs on L2-normalized arrays via the
    Arrow-batched kernel (see brute_force_cosine_pairs on why not
    aggregate/zip_with).

    Zero-norm guard: an all-zero embedding cannot be L2-normalized (the
    division would produce a null-element array that crashes the Arrow
    kernel's np.stack/einsum). Such rows are excluded from the PAIR join via
    nullif(norm, 0) + a non-null filter, but always SURVIVE the dedup (they
    are never anyone's duplicate) — the final anti-join is against dominated
    ids only, so the output still covers every input id.
    """
    from ..functions.vec_kernels import pair_dot

    safe_norm = F.nullif(_norm(F.col(vec_col)), F.lit(0.0))
    normed = df.select(
        F.col(id_col),
        F.col(block_col),
        F.when(
            safe_norm.isNotNull(),
            # zip_with + array_repeat evaluates safe_norm once per row;
            # a transform lambda capturing it re-evaluates the O(d)
            # aggregate per element (r10 review)
            F.zip_with(
                F.col(vec_col),
                F.array_repeat(safe_norm, F.size(F.col(vec_col))),
                lambda x, nn: x.cast("double") / nn,
            ),
        ).alias("__nv"),
    ).where(F.col("__nv").isNotNull())
    from ml_data_pipeline_spark.cache import tracked_cache

    # cache: normed feeds both sides of the block self-join; uncached each
    # side re-normalizes from its own scan (plan_audit: embeddings x3)
    normed = tracked_cache(normed)
    a = normed.select(F.col(id_col).alias("id_a"), F.col(block_col).alias("__blk"), F.col("__nv").alias("va"))
    b = normed.select(F.col(id_col).alias("id_b"), F.col(block_col).alias("__blk"), F.col("__nv").alias("vb"))
    dominated = (
        a.join(b, "__blk")
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.round(pair_dot("va", "vb"), 6) >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    from ml_data_pipeline_spark.cache import lazy_local_checkpoint

    # checkpoint the dominated-id set (r13, the seed-frame pattern): it is
    # one distinct id column, but its lineage is the whole block self-join
    # — untruncated, the output anti-join re-embedded the normalization +
    # join tree (plan_audit: embeddings x3). The corpus-sized `normed`
    # stays a recomputable tracked_cache per the raw-input rule.
    dominated = lazy_local_checkpoint(dominated)
    return (
        df.join(dominated, id_col, "left_anti")
        .select(F.col(id_col), F.col(block_col))
        .orderBy(id_col)
    )

# ---- Johnson-Lindenstrauss random projection --------------------------------

# ±1 matrix entries live in the dependency-free constants module so the
# DuckDB-only oracle can regenerate the identical matrix without pyspark.
from ml_data_pipeline_spark.constants import rp_sign as _rp_sign


def random_project(
    df: DataFrame,
    in_dim: int,
    out_dim: int = 8,
    vec_col: str = "embedding",
    out_col: str = "projected",
) -> DataFrame:
    """Project ``vec_col`` (array<float>, length ``in_dim``) to
    ``out_dim`` dims with a fixed ±1/sqrt(out_dim) matrix.

    JL lemma: pairwise distances are preserved within (1±eps) w.h.p., so
    the projection is a drop-in shrink for the LSH/IVF candidate stages
    (cosine_pairs_lsh, ivf_topk) — 64->8 dims cuts their shuffle payload
    8x. The matrix enters the plan as LITERAL arrays (out_dim x in_dim
    ints): the whole projection is one codegen-fused zip_with/aggregate
    projection — zero shuffle, zero Python, no matrix side-input to ship.
    """
    scale = 1.0 / float(out_dim) ** 0.5
    cols = []
    for j in range(out_dim):
        signs = F.array(*[F.lit(_rp_sign(i, j)) for i in range(in_dim)])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), signs, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cols.append(F.round(dot * scale, 6))
    return df.withColumn(out_col, F.array(*cols))


def centroid_silhouette(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Centroid-based silhouette score per label — the clustering-quality
    metric (simplified silhouette, public ML practice: distances to
    CENTROIDS rather than all points, which is the form that scales):
    per point a = ||x - c_own||, b = min over other labels ||x - c_l||,
    s = (b - a) / max(a, b); reported as the per-label mean and count.

    Cost is linear in points x labels x dims (k centroid distances per
    point — the exact shape kmeans assignment uses), never point-pairs.
    One dim-explode aggregate builds the centroids; one (pos)-keyed join
    computes every point-centroid distance."""
    dims = df.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("lbl"),
        F.posexplode(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias(
            "pos", "v"
        ),
    )
    cent = dims.groupBy(F.col("lbl").alias("clbl"), "pos").agg(
        F.avg("v").alias("c")
    )
    d2 = (
        dims.join(cent, "pos")
        .groupBy("id", "lbl", "clbl")
        .agg(F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))).alias("ss"))
        .withColumn("dist", F.sqrt("ss"))
    )
    per_point = d2.groupBy("id", "lbl").agg(
        F.min(F.when(F.col("clbl") == F.col("lbl"), F.col("dist"))).alias("a"),
        F.min(F.when(F.col("clbl") != F.col("lbl"), F.col("dist"))).alias("b"),
    )
    # degenerate points (identical across labels -> a == b == 0) yield
    # explicit NULL instead of an ANSI DIVIDE_BY_ZERO crash; avg skips them
    s = (F.col("b") - F.col("a")) / F.nullif(F.greatest("a", "b"), F.lit(0.0))
    return (
        per_point.groupBy(F.col("lbl").alias(label_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(s), 6).alias("mean_silhouette"),
        )
        .orderBy(label_col)
    )


def davies_bouldin(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Davies-Bouldin index (1979, public literature) for a labeled
    embedding set: DB = mean over clusters i of max_{j != i}
    (s_i + s_j) / d_ij, with s = mean point-to-own-centroid distance and
    d = centroid-centroid distance. Lower is better-separated —
    centroid_silhouette's classical companion, and cheaper still: after
    the per-cluster scatter aggregate everything is k x k arithmetic.

    One dim-explode aggregate for centroids, one distance aggregate for
    scatters (both assignment-cost), then the k^2 ratio table — tiny at
    any data scale. Output: one row (n_clusters, db_index)."""
    dims = df.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("lbl"),
        F.posexplode(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias(
            "pos", "v"
        ),
    )
    # k x dim rows, read 3x (own-distance join + both sides of the
    # centroid-distance self-join): materialize once or every branch
    # re-explodes the source (plan_audit r5: 6 scans)
    cent = (
        dims.groupBy(F.col("lbl").alias("clbl"), "pos")
        .agg(F.avg("v").alias("c"))
        .localCheckpoint()
        # fresh exprIds: the checkpointed frame keeps the original
        # attribute ids, which collide in the ca/cb self-join below
        .select(
            F.col("clbl").alias("clbl"),
            F.col("pos").alias("pos"),
            F.col("c").alias("c"),
        )
    )
    own = (
        dims.join(
            cent,
            (dims["lbl"] == cent["clbl"]) & (dims["pos"] == cent["pos"]),
        )
        .groupBy("id", "lbl")
        .agg(F.sqrt(F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c")))).alias("d"))
    )
    scatter = own.groupBy("lbl").agg(F.avg("d").alias("s"))
    ca = cent.select(F.col("clbl").alias("la"), "pos", F.col("c").alias("va"))
    cb = cent.select(F.col("clbl").alias("lb"), "pos", F.col("c").alias("vb"))
    cdist = (
        ca.join(cb, "pos")
        .where(F.col("la") != F.col("lb"))
        .groupBy("la", "lb")
        .agg(F.sqrt(F.sum((F.col("va") - F.col("vb")) * (F.col("va") - F.col("vb")))).alias("dij"))
    )
    sa = scatter.select(F.col("lbl").alias("la"), F.col("s").alias("si"))
    sb = scatter.select(F.col("lbl").alias("lb"), F.col("s").alias("sj"))
    ratios = (
        cdist.join(sa, "la")
        .join(sb, "lb")
        # coincident centroids (dij = 0) yield NULL ratios, not a crash
        .select(
            "la",
            ((F.col("si") + F.col("sj")) / F.nullif(F.col("dij"), F.lit(0.0))).alias("r"),
        )
    )
    per_cluster = ratios.groupBy("la").agg(F.max("r").alias("rmax"))
    return per_cluster.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.round(F.avg("rmax"), 6).alias("db_index"),
    )

# ---- int8 scalar quantization --------------------------------------------

def dim_min_max(df: DataFrame, vec_col: str = "embedding", dim: int = 64):
    """Per-dimension (min, max) of an array<float> column, as two Python
    lists. One explode + groupBy(dim) pass (word-count shape, map-side
    combinable); the collect ships 2·dim scalars to the driver — metadata,
    same budget class as the KMeans/PCA literal matrices."""
    stats = (
        df.select(F.posexplode(F.col(vec_col)).alias("__i", "__x"))
        .groupBy("__i")
        .agg(
            F.min(F.col("__x").cast("double")).alias("__mn"),
            F.max(F.col("__x").cast("double")).alias("__mx"),
        )
        .collect()
    )
    mn = [0.0] * dim
    mx = [0.0] * dim
    for r in stats:
        if r["__i"] >= dim:
            raise ValueError(
                f"dim_min_max(dim={dim}) saw component index {r['__i']} — "
                "the embedding column is wider than the declared dim"
            )
        # an all-NULL dimension aggregates to None — keep the 0.0 default
        # rather than poisoning scalar_quantize's float() literals
        if r["__mn"] is not None:
            mn[r["__i"]] = float(r["__mn"])
        if r["__mx"] is not None:
            mx[r["__i"]] = float(r["__mx"])
    return mn, mx


def scalar_quantize(
    df: DataFrame,
    mn: list[float],
    mx: list[float],
    vec_col: str = "embedding",
    code_col: str = "codes",
    err_col: str = "max_abs_err",
) -> DataFrame:
    """uint8 scalar quantization of an embedding column against fixed
    per-dimension [min, max] ranges (the FAISS SQ8 recipe, public): code =
    min(floor((x - mn)/(mx - mn) · 256), 255), reconstruction x̂ = mn +
    (code + 0.5)/256 · (mx - mn). 4× payload shrink for ANN candidate
    stages at a bounded, per-vector-measured reconstruction error.

    Determinism across engines: the cut uses floor (never round-half) on
    an identical double expression, so the only boundary case is x = mx,
    clamped explicitly — Spark and a SQL oracle agree bit-for-bit. The
    ranges enter the plan as LITERAL arrays (2·dim scalars, broadcast by
    construction): the whole codec is one codegen-fused zip_with pass,
    zero shuffle, zero Python.

    Adds ``code_col`` (array<int>) and ``err_col`` (double: max |x - x̂|
    over dims — the quantization-quality audit column).
    """
    mn_a = F.array(*[F.lit(float(v)) for v in mn])
    mx_a = F.array(*[F.lit(float(v)) for v in mx])
    x = F.col(vec_col)
    span = F.zip_with(mx_a, mn_a, lambda a, b: a - b)
    # pair each x with its dim index via a 3-way zip through structs
    frac = F.zip_with(
        F.zip_with(x, mn_a, lambda xv, mnv: xv.cast("double") - mnv),
        span,
        lambda d, s: d / F.nullif(s, F.lit(0.0)),
    )
    codes = F.transform(
        frac,
        lambda fr: F.least(
            F.greatest(F.floor(fr * F.lit(256.0)), F.lit(0.0)), F.lit(255.0)
        ).cast("int"),
    )
    recon = F.zip_with(
        F.zip_with(codes, mn_a, lambda c, mnv: F.struct(c.alias("c"), mnv.alias("mn"))),
        span,
        lambda cm, s: cm["mn"] + (cm["c"].cast("double") + 0.5) / 256.0 * s,
    )
    err = F.aggregate(
        F.zip_with(x, recon, lambda xv, rv: F.abs(xv.cast("double") - rv)),
        F.lit(0.0),
        lambda acc, v: F.greatest(acc, v),
    )
    return df.withColumn(code_col, codes).withColumn(err_col, err)

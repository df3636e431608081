"""Deduplication for training-data pipelines (SURVEY.md §2.9):
exact, MinHash+LSH near-dup, SimHash, n-gram Jaccard.

Scale design:
- exact dedup: hash-groupBy on a narrow key (fingerprint), not on the full
  row — at 100 TB the shuffle carries (key, doc_id), never the text.
- MinHash: shingles → K independent min-hashes → band buckets → self-join on
  (band, bucket-signature). The candidate join is an equi-join Catalyst can
  shuffle-hash; actual Jaccard is verified on the K-signature arrays only
  (the raw text is never re-shuffled).
- SimHash: 64-bit signature from token hashes (grouped 8x8 vote aggregate,
  never 64 rows per token); near-dup = signatures within hamming distance
  d, found by combinatorial bit-block LSH — d+3 blocks, every 3-block
  combination indexed as one ~32-bit key (pigeonhole: <=d differing bits
  hit <=d blocks, so >=3 agree, so some indexed combo matches).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ml_data_pipeline_spark.constants import WS_PLUS
from pyspark.sql import functions as F

#: size guard for the ONE remaining batch-sized broadcast hint (the
#: indexed re-probe's idempotency anti-join, which must stay broadcast on
#: the batch side to keep the stored index exchange-free and bucketed):
#: 2M ids ≈ 32 MB broadcast — far above any sane incremental batch,
#: comfortably inside driver/executor budgets; beyond it the hint is
#: dropped and the planner falls back to a shuffled anti-join.
_BROADCAST_GUARD_ROWS = 2_000_000

def _ensure_parallel(df: DataFrame) -> DataFrame:
    """Single-file test tables arrive as ONE partition, serializing every
    downstream explode/agg onto one core (measured: simhash signatures 7.5s
    → 5.6s at sf0.1 after spreading). Only repartitions when the source is
    under-split — at real scale the file layout already provides partitions
    and this is a no-op (no shuffle added).

    The under-split probe avoids df.rdd.getNumPartitions() (~2.5s cold:
    the DataFrame→RDD conversion classloads a whole subsystem just to
    read a partition count — measured as the single largest constructor
    cost in the minhash bench query). Instead: (1) if the UNANALYZED
    logical plan already contains an exchange-forcing node (repartition —
    including RepartitionByExpression from df.repartition(n, col), whose
    keyed layout a blind round-robin repartition would DESTROY — aggregate,
    window, distinct), partitioning is governed by that exchange /
    spark.sql.shuffle.partitions — leave it alone (node names are matched
    at tree-line starts, not raw substrings, so a column named
    'WindowStart' cannot false-positive; and the skip only applies when
    the node prints ABOVE every Join line — an exchange-forcing node that
    appears only UNDER a Join may be the broadcast/dim side, whose
    exchange says nothing about the probe side's output partitioning, so
    join-rooted frames always take the exact RDD probe); (2) a scan-rooted frame's
    estimate replays Spark's own file bin-packing — maxSplitBytes =
    min(maxPartitionBytes, max(openCost, paddedBytes/cores)), then
    ceil(paddedBytes / maxSplitBytes), confs read from the session; one
    partition per file for non-splittable codecs (.gz/.zip) — over
    inputFiles() + local stat (~0.25s cold): a directory of many tiny
    files correctly estimates FEW partitions, not one per file; (3) a
    join-rooted frame takes the exact RDD probe: a BROADCAST join adds no
    exchange (output partitioning = the probe side's, possibly 1), so
    'plan has Join' proves nothing about parallelism, and the file
    estimate can't see which side survived. Non-local URIs (hdfs/s3 at
    cluster scale, where one probe action is noise) also fall back to the
    exact RDD probe."""
    import re

    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    threshold = max(2, target // 2)
    has_join = False
    try:
        lp = df._jdf.queryExecution().logical().toString()
        lines = lp.splitlines()
        node = re.compile(
            r"^[\s:+\-]*'?(?:Repartition\w*|Rebalance\w*|Aggregate|Window|Deduplicate|Sort)\b"
        )
        join = re.compile(r"^[\s:+\-]*'?Join\b")
        exch_at = [i for i, ln in enumerate(lines) if node.match(ln)]
        join_at = [i for i, ln in enumerate(lines) if join.match(ln)]
        # the node-name skip only applies when the exchange-forcing node is
        # ABOVE every join in the printed tree (root prints first; a smaller
        # line index = an ancestor on the output spine). An Aggregate that
        # appears only BELOW a Join may sit on the broadcast/dim side —
        # exactly the blindness the join fallback exists for (ADVICE r8) —
        # so 'plan has Join' takes precedence and the exact RDD probe runs.
        # KNOWN CAVEAT (ADVICE r9): 'prints earlier' is line order, not
        # ancestry — under a multi-child node like Union(Aggregate-branch,
        # Join-branch) the first branch prints entirely before the second,
        # so a SIBLING Aggregate can masquerade as an ancestor and skip the
        # probe for a join whose probe side is single-partition. Perf-only
        # misclassification (a missed repartition, never a wrong answer);
        # matching indentation depth would fix it at the cost of parsing a
        # plan format Spark doesn't guarantee stable.
        if exch_at and (not join_at or min(exch_at) < min(join_at)):
            return df
        has_join = bool(join_at)
    except Exception:
        pass
    est = None
    if not has_join:
        try:
            import os
            from urllib.parse import urlparse

            files = df.inputFiles()
            if files:
                paths = [urlparse(f) for f in files]
                if all(u.scheme in ("file", "") for u in paths):
                    if any(u.path.endswith((".gz", ".zip", ".deflate")) for u in paths):
                        # non-splittable codecs read ONE partition per file
                        # regardless of size — the bin-packing arithmetic
                        # below would overestimate and falsely skip
                        est = len(files)
                    else:
                        total = sum(os.path.getsize(u.path) for u in paths)
                        mpb = _bytes_conf(
                            spark, "spark.sql.files.maxPartitionBytes", 128 << 20
                        )
                        open_cost = _bytes_conf(
                            spark, "spark.sql.files.openCostInBytes", 4 << 20
                        )
                        padded = total + len(files) * open_cost
                        # Spark's FilePartition arithmetic includes the
                        # bytes-per-core clamp: maxSplitBytes =
                        # min(maxPartitionBytes, max(openCost, total/cores))
                        # — without it a medium table on many cores
                        # underestimates and triggers a spurious reshuffle
                        bpc = padded // max(target, 1)
                        max_split = min(mpb, max(open_cost, bpc))
                        est = max(1, -(-padded // max(max_split, 1)))  # ceil
        except Exception:
            est = None
    if est is None:
        est = df.rdd.getNumPartitions()
    if est < threshold:
        return df.repartition(target)
    return df

def _bytes_conf(spark, key: str, default: int) -> int:
    """Read a byte-size conf ('134217728', '128MB', '4m', '512k', '1tb').
    Longest-suffix-first so '1tb' binds to 'tb', never the bare 'b'; any
    unparseable spelling returns the default instead of raising (the
    caller treats this as best-effort estimation, not configuration)."""
    try:
        raw = str(spark.conf.get(key)).strip().lower()
    except Exception:
        return default
    m = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}
    for suffix in ("kb", "mb", "gb", "tb", "pb", "k", "m", "g", "t", "p", "b"):
        if raw.endswith(suffix):
            try:
                return int(float(raw[: -len(suffix)]) * m[suffix[0]])
            except ValueError:
                return default
    try:
        return int(raw)
    except ValueError:
        return default

def exact_dedup(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Exact duplicate removal. With subset, keeps one arbitrary-but-
    deterministic row per key via min(struct) — unlike dropDuplicates, the
    survivor does not depend on partition layout (needed for the oracle)."""
    if not subset:
        return df.dropDuplicates()
    others = [c for c in df.columns if c not in subset]
    if not others:
        return df.dropDuplicates()
    packed = df.groupBy(*subset).agg(F.min(F.struct(*others)).alias("__rest"))
    return packed.select(*subset, *[F.col(f"__rest.{c}").alias(c) for c in others])

def duplicate_groups(df: DataFrame, key_col: str, id_col: str) -> DataFrame:
    """Groups of exact duplicates: (key, n_dups, member ids). The shuffle
    carries only (key, id)."""
    return (
        df.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.sort_array(F.collect_list(id_col)).alias("members"),
        )
        .where(F.col("n_dups") > 1)
        .orderBy(key_col)
    )

def shingle_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_k: int = 5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, signature array<long>) — K-slot MinHash over char-k-shingles via
    ONE-PERMUTATION HASHING (Li, Owen, Zhang NIPS 2012; densification per
    Shrivastava & Li ICML 2014): hash each shingle once, split the hash
    space into K buckets (h mod K), and keep min(h) per bucket. Two
    documents agree on slot k iff their bucket-k minima match; the
    agreeing-slot fraction estimates Jaccard exactly like classic K-family
    MinHash, at 1/K of the per-shingle CPU.

    Shape chosen for scale AND measured locally (5k docs, ~10M shingles,
    local[32], sf0.1):
    - shingles come from explode(sequence(positions)) + substr — no per-row
      array is ever materialized. (array_distinct(transform(...)) is O(len^2)
      per row and was the profiled bottleneck: 17.6s → ~3s at 5k docs.)
    - dedup of repeated shingles is SKIPPED on purpose: min() over a multiset
      equals min() over the set, so distinct-ing is pure cost.
    - round-2 shape: one xxhash64 + K universal-hash families
      (a_k*h+b_k mod p) as K min() aggregates — 32 multiply-mods per
      shingle. OPH makes the per-shingle work ONE mod + ONE min-buffer
      update: the K bucket minima are K conditional min(when(h%K = k, h))
      aggregates in a SINGLE map-side-combinable groupBy(id). (A two-stage
      variant — groupBy(id, bucket) then a bucket→min map assembly — was
      measured too: comparable cold wall time within run-to-run variance,
      but one extra shuffle and an ObjectHashAggregate collect_list; the
      fused shape keeps the whole signature in one hash-aggregate stage.)
    - empty-bucket densification: a doc with fewer shingles than buckets can
      leave slots empty; empty slots are filled with the doc's GLOBAL min
      (least() over the bucket minima). Deterministic, and identical
      shingle sets still produce identical signatures (both docs have the
      same empty buckets and the same global min), so exact duplicates
      always estimate Jaccard 1.0. At shingle counts ≥ ~10×K the empty-
      bucket probability is negligible ((1-1/K)^n).
    """
    if hash_fn == "xxhash64" and shingle_k <= 7:
        # r16 (guide §4.2 + §2.4): the signature stage is the one place the
        # engine hashes millions of tiny windows, and the JVM shape pays for
        # it three times — an explode to one row per shingle, a 32-
        # conditional-min hash aggregate whose Janino compile dominated the
        # query's cold wall time, and the aggregate's exchange. The Arrow
        # kernel computes each doc's complete signature inside one
        # mapInArrow batch (vectorized NumPy XXH64, bit-equal to Spark's by
        # test), so the plan is scan → project → mapInArrow: no explode, no
        # aggregate, no exchange, no giant codegen unit. k ≤ 7 keeps every
        # UTF-8 window under the 32-byte XXH64 short-input path; larger k
        # (never used by the registered queries) stays on the JVM shape.
        return _shingle_minhash_arrow(df, text_col, id_col, num_hashes, shingle_k)
    return _shingle_minhash_exprs(df, text_col, id_col, num_hashes, shingle_k, hash_fn)

def _shingle_minhash_exprs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_k: int,
    hash_fn: str,
) -> DataFrame:
    """JVM expression shape of shingle_minhash: explode → hash → K
    conditional-min aggregates. Serves the md5 oracle twin, any shingle_k
    too wide for the Arrow kernel's short-input XXH64, and the equality
    tests that pin the Arrow path bit-for-bit against this one."""
    p = (1 << 31) - 1  # Mersenne prime; keeps h positive and well-spread
    norm = F.lower(F.regexp_replace(F.col(text_col), WS_PLUS, " "))
    normed = _ensure_parallel(df.select(F.col(id_col).alias("id"), norm.alias("__norm")))
    positions = F.sequence(
        F.lit(1), F.greatest(F.lit(1), F.length("__norm") - shingle_k + 1)
    )
    shingle = F.col("__norm").substr(F.col("__i"), F.lit(shingle_k))
    if hash_fn == "xxhash64":
        raw = F.xxhash64(shingle)
    elif hash_fn == "md5":
        # DuckDB-replayable 60-bit hash (the E8/hash_bucket recipe both
        # engines already share): top 15 md5 hex digits as a positive
        # long. ~10x the per-shingle CPU of xxhash64 — for the
        # oracle-parity twin gate, never the headline path.
        raw = F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"shingle_minhash: unknown hash_fn {hash_fn!r}")
    exploded = normed.select("id", "__norm", F.explode(positions).alias("__i")).select(
        "id",
        F.pmod(raw, F.lit(p)).alias("h"),
    )
    # the K conditional-min aggregates and the K-slot assembly are built as
    # SQL expression strings: one parser call each instead of ~8 py4j
    # Column-op round-trips per slot (measured: 2.5s → ~0.1s of driver-side
    # plan construction at K=32 — a pure constructor cost that bench's
    # cold-session runs pay in full). The bucket pmod is hoisted into the
    # projection: ONE pmod per shingle instead of one per (shingle, slot) —
    # K-1 fewer modulo ops per row in the aggregate's codegen, and a
    # smaller expression tree to compile.
    bucketed = exploded.select("id", "h", F.pmod("h", F.lit(num_hashes)).alias("b"))
    mins = bucketed.groupBy("id").agg(
        *[
            F.expr(f"min(CASE WHEN b = {k} THEN h END)").alias(f"__m{k}")
            for k in range(num_hashes)
        ]
    )
    all_mins = ", ".join(f"__m{k}" for k in range(num_hashes))
    slots = ", ".join(f"coalesce(__m{k}, __fb)" for k in range(num_hashes))
    return mins.withColumn("__fb", F.expr(f"least({all_mins})")).select(
        "id", F.expr(f"array({slots})").alias("signature")
    )

def _shingle_minhash_arrow(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_k: int,
) -> DataFrame:
    """xxhash64 fast path of shingle_minhash (same output, bit-for-bit).

    Semantics reproduced exactly from the JVM expression shape:
    - normalization: lower(regexp_replace(text, WS_PLUS, ' ')) — stays JVM;
    - a NULL text still yields a signature: greatest(1, NULL) = 1 keeps one
      position, substr(NULL) is NULL, and xxhash64(NULL) returns the seed
      (42) unchanged — so the JVM path emits [pmod(42, p)] * K = [42] * K
      for NULL docs. Reproduced via the validity bitmap;
    - shingles: substr(i, k) for i in 1..greatest(1, len-k+1); a doc shorter
      than k chars yields ONE shingle = the whole string (possibly empty);
    - slot value: pmod(xxhash64(utf8(shingle)), 2^31-1), bucket = value mod K,
      slot k = min over bucket k, empty slots densified with the global min.

    ASCII batches take a fully vectorized path (byte windows == char
    windows, gathered with one fancy-index over the Arrow data buffer);
    docs containing multi-byte chars are recomputed per doc with true
    character windows. Equality with the JVM path is pinned by
    tests on the corpus and on adversarial unicode/short/empty docs.
    """
    p = (1 << 31) - 1
    norm = F.lower(F.regexp_replace(F.col(text_col), WS_PLUS, " "))
    normed = _ensure_parallel(df.select(F.col(id_col).alias("id"), norm.alias("__norm")))
    id_type = normed.schema["id"].dataType.simpleString()
    K, k = num_hashes, shingle_k

    def compute(batches):
        import numpy as np
        import pyarrow as pa

        from ml_data_pipeline_spark.functions.xxh64_np import xxh64_short

        sentinel = np.iinfo(np.int64).max
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0)
            texts = batch.column(1)
            # raw offsets/data of the utf8 column (mapInArrow hands us
            # unsliced batches, but honor .offset defensively)
            off_np = np.frombuffer(
                texts.buffers()[1],
                dtype=np.int64 if pa.types.is_large_string(texts.type) else np.int32,
            )
            offs = off_np[texts.offset : texts.offset + n + 1].astype(np.int64)
            buf = (
                np.frombuffer(texts.buffers()[2], dtype=np.uint8)
                if texts.buffers()[2] is not None
                else np.zeros(0, dtype=np.uint8)
            )
            L = offs[1:] - offs[:-1]  # byte length per doc
            W = np.maximum(1, L - k + 1)  # windows per doc (byte-based)
            doc_idx = np.repeat(np.arange(n), W)
            cum = np.concatenate(([0], np.cumsum(W)))
            intra = np.arange(int(cum[-1])) - cum[doc_idx]
            starts = offs[:-1][doc_idx] + intra
            wlen = np.minimum(L, k)[doc_idx]
            if len(buf):
                idxm = np.minimum(starts[:, None] + np.arange(k), len(buf) - 1)
                data2d = buf[idxm]
            else:
                data2d = np.zeros((len(starts), k), dtype=np.uint8)
            hp = xxh64_short(data2d, wlen) % p  # int64 floored mod == pmod
            b = hp % K
            mins = np.full(n * K, sentinel, dtype=np.int64)
            np.minimum.at(mins, doc_idx * K + b, hp)
            mins2 = mins.reshape(n, K)
            # non-ASCII docs: byte windows != char windows — redo those
            # docs with true character shingles (rare; correctness only)
            if len(buf) and int(buf.max()) >= 128:
                na_docs = [
                    i
                    for i in range(n)
                    if L[i] and int(buf[offs[i] : offs[i + 1]].max()) >= 128
                ]
                if na_docs:
                    texts_py = texts.to_pylist()
                    for i in na_docs:
                        s = texts_py[i]
                        shs = [
                            s[j : j + k].encode("utf-8")
                            for j in range(max(1, len(s) - k + 1))
                        ]
                        ml = max(len(x) for x in shs)
                        d = np.zeros((len(shs), max(ml, 1)), dtype=np.uint8)
                        lens = np.zeros(len(shs), dtype=np.int64)
                        for j, x in enumerate(shs):
                            d[j, : len(x)] = np.frombuffer(x, dtype=np.uint8)
                            lens[j] = len(x)
                        hh = xxh64_short(d, lens) % p
                        row = np.full(K, sentinel, dtype=np.int64)
                        np.minimum.at(row, hh % K, hh)
                        mins2[i] = row
            # NULL normalized text: the JVM shape keeps one position
            # (greatest skips NULLs), hashes the NULL shingle to the bare
            # seed (42), and densifies every slot from it → [42] * K
            if texts.null_count:
                valid = texts.is_valid().to_numpy(zero_copy_only=False)
                mins2[~valid] = 42 % p
            g = mins2.min(axis=1)  # ≥1 window per doc → always present
            sigs_flat = np.where(mins2 == sentinel, g[:, None], mins2)
            sig_arr = pa.ListArray.from_arrays(
                pa.array(np.arange(n + 1, dtype=np.int64) * K, type=pa.int32()),
                pa.array(sigs_flat.ravel(), type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays([ids, sig_arr], ["id", "signature"])

    return normed.mapInArrow(compute, schema=f"id {id_type}, signature array<bigint>")

def _minhash_bands(sigs: DataFrame, r: int, bands: int, hash_fn: str) -> DataFrame:
    """(id, signature) → one (id, signature, band, bucket) row per band; the
    bucket keys signature slots [band*r, band*r + r). The band structs are
    one SQL expression, one py4j parse: at 8 bands × 4 slots the frame
    costs 38 py4j commands to build, 542 with an F.lit/F.element_at/F.struct
    per part (tests/test_sql_builders.py)."""
    def band_key(b: int) -> str:
        slots = ", ".join(f"element_at(signature, {b * r + j + 1})" for j in range(r))
        if hash_fn == "xxhash64":
            # hash the r slot LONGS directly (r15): xxhash64 is variadic,
            # so the string casts + concat_ws the old shape paid per slot
            # (4 long→string casts + a join per band per row, ×2 join
            # sides) are pure overhead — the bucket is only an equality
            # key, and equal slots hash equal either way. Pair output
            # verified identical at sf0.001/0.01/0.1
            # (OPTIMIZATION_r15.md, "Changes taken" item 7); collisions
            # ADD candidates (never drop them) and the est_jaccard >=
            # threshold verify filters them exactly as it filters
            # same-band non-duplicates.
            return f"xxhash64({slots})"
        # md5 twin path: the bucket stays the plain slot-concat STRING so
        # the DuckDB oracle can replay it verbatim
        return f"concat_ws(',', {slots})"

    structs = ", ".join(f"struct({b} AS band, {band_key(b)} AS bucket)" for b in range(bands))
    return sigs.select(
        "id", "signature", F.expr(f"explode(array({structs})) AS bb")
    ).select("id", "signature", "bb.band", "bb.bucket")

def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    threshold: float = 0.7,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs (id_a < id_b, est_jaccard >= threshold).

    1. signatures: one shuffle-free projection (shingle_minhash);
    2. banding: explode to `bands` rows of (band_id, band_signature) — the
       LSH bucket key is the hash of r=K/bands signature slots;
    3. candidates: self-equi-join on (band_id, bucket) — a shuffle join whose
       key cardinality grows with corpus size, so it parallelizes; identical-
       pair dedup via distinct on (a, b);
    4. verify: estimated Jaccard = fraction of agreeing signature slots —
       computed with zip_with on the two K-arrays, no text re-read.

    ``hash_fn='md5'`` makes every hash DuckDB-replayable (the E8 recipe)
    and keeps the band bucket as the PLAIN slot-concat string — the
    bucket is only an equality key, so hashing it is an optimization
    (narrower shuffle key), not semantics. That variant powers the
    full-parity oracle twin gate (dd_minhash_md5); the headline stays on
    xxhash64.
    """
    r = num_hashes // bands
    # localCheckpoint, not lazy cache: the banded self-join scans `sigs`
    # from TWO independent shuffle-map stages scheduled concurrently — on
    # a cold action a lazy cache is still unpopulated when both start, so
    # the signature pipeline can be computed twice. Eager materialization
    # runs it exactly once; both join sides read the stored blocks.
    sigs = shingle_minhash(df, text_col, id_col, num_hashes, shingle_k, hash_fn).localCheckpoint()

    banded = _minhash_bands(sigs, r, bands, hash_fn)
    left = banded.select(
        F.col("id").alias("id_a"), F.col("signature").alias("sig_a"), "band", "bucket"
    )
    right = banded.select(
        F.col("id").alias("id_b"), F.col("signature").alias("sig_b"), "band", "bucket"
    )
    agree = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda a, b: a == b), lambda x: x))
    est = agree.cast("double") / F.lit(float(num_hashes))
    # est_jaccard is computed BEFORE the pair-dedup so the dedup shuffle
    # carries (id_a, id_b, est) scalars instead of two K-long signature arrays
    return (
        left.join(right, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(est, 6).alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("id_a", "id_b")
    )

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT word-n-gram Jaccard similarity for all candidate pairs sharing at
    least one n-gram (the inverted-index join; brute-force crossJoin is never
    built).

    explode(ngrams) → self-join on the ngram (this is the classic candidate
    generator) → per-pair intersection count from the join multiplicity →
    Jaccard = inter / (|A| + |B| - inter). Shuffles on the ngram then the
    pair key; both keys are high-cardinality → parallelizes.
    """
    grams = _gram_expr(text_col, n)
    # (id, grams) feeds both self-join sides — materialized once (same as
    # incremental_ngram_jaccard_pairs), or every branch re-shingles the
    # corpus from the scan (plan_audit r5). Doc sizes ride ALONG the
    # exploded index as a narrow int column and are recovered with
    # F.first() in the pair groupBy — no per-doc size frame exists, so
    # nothing corpus-sized is ever joined back (let alone broadcast; the
    # old F.broadcast(ja/jb) here was an executor OOM at 100 TB).
    base = _ensure_parallel(
        df.select(F.col(id_col).alias("id"), grams.alias("grams")).where(F.size("grams") > 0)
    ).localCheckpoint()
    exploded = base.select("id", F.size("grams").alias("n"), F.explode("grams").alias("gram"))
    pairs = (
        exploded.alias("a")
        .join(exploded.alias("b"), "gram")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first(F.col("a.n")).alias("na"),
            F.first(F.col("b.n")).alias("nb"),
        )
    )
    out = (
        pairs.select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )
    return out

def incremental_ngram_jaccard_pairs(
    df: DataFrame,
    new_predicate,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard pairs TOUCHING an appended batch: new x old and
    new x new, never old x old — the daily-ingest dedup shape. Re-running
    full-corpus dedup per append is O(corpus²) work for O(batch x corpus)
    information; this restricts candidate generation to the batch's grams
    probing the full inverted index. Results are EXACTLY the full
    recompute's pairs filtered to those with a new member (the oracle pins
    that equivalence).

    `new_predicate` is a boolean Column marking batch rows (e.g.
    F.col("ingest_date") == today). This is the SELF-CONTAINED form (one
    input frame, index derived in-plan); the production shape that stops
    re-shingling the corpus per batch is build_ngram_index +
    incremental_ngram_jaccard_pairs_indexed — same output contract,
    probing a stored gram-bucketed table instead.

    Double-count control without distinct-ing grams: a new x new pair would
    match the index twice ((a,b) and (b,a)); the join keeps old partners in
    any id order but new partners only when b.id > a.id, so every pair
    lands exactly once and the intersection count stays a plain
    count(*) of join multiplicity (grams are distinct per doc upstream).
    """
    grams = _gram_expr(text_col, n)
    # (id, grams, __new) feeds the probe, the index AND both size lookups;
    # without truncation every branch re-shingles the corpus from the scan
    # (4 computations of the n-gram arrays — measured 11.3s warm at sf0.1).
    # Materialized once this IS the stored corpus index the docstring
    # describes; at 100 TB it lives in the lake, bucketed by gram.
    # duplicate-id guard (r10 review — same hazard as the indexed probe):
    # __new rides through the check, and an id marked both old AND new
    # (or repeated with different text) raises rather than double-counting
    docs = _unique_docs(
        df.select(id_col, text_col, new_predicate.alias("__new")),
        id_col,
        text_col,
        extra_cols=("__new",),
    )
    base = _ensure_parallel(
        docs.select(
            F.col(id_col).alias("id"), grams.alias("grams"), F.col("__new")
        ).where(F.size("grams") > 0)
    ).localCheckpoint()
    # doc sizes ride along both join sides as a narrow int column and are
    # recovered with F.first() per pair — no corpus-sized per-doc size
    # frame is ever built or (worse) broadcast back onto the pairs
    index = base.select(
        "id", "__new", F.size("grams").alias("n"), F.explode("grams").alias("gram")
    )
    # probe keeps only renamed columns so the self-join resolves cleanly:
    # post-join, `id`/`__new`/`gram`/`n` name the index side alone
    probe = index.where(F.col("__new")).select(
        F.col("id").alias("__pid"), F.col("n").alias("__pn"), F.col("gram").alias("__pgram")
    )
    matched = probe.join(
        index,
        (F.col("__pgram") == F.col("gram"))
        & (~F.col("__new") | (F.col("id") > F.col("__pid"))),
    )
    pairs = matched.groupBy(
        F.least("__pid", "id").alias("id_a"), F.greatest("__pid", "id").alias("id_b")
    ).agg(
        F.count(F.lit(1)).alias("inter"),
        F.first(F.when(F.col("__pid") < F.col("id"), F.col("__pn")).otherwise(F.col("n"))).alias(
            "na"
        ),
        F.first(F.when(F.col("__pid") < F.col("id"), F.col("n")).otherwise(F.col("__pn"))).alias(
            "nb"
        ),
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )

def _gram_expr(text_col: str, n: int):
    """Distinct word-n-gram array expression shared by every n-gram
    operator (one definition so the stored index and the in-plan paths
    can never drift)."""
    toks = F.filter(F.split(F.lower(F.col(text_col)), WS_PLUS), lambda t: F.length(t) > 0)
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - n + 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))

def _managed_table_dir(spark, table_name: str) -> str | None:
    """Best-effort local filesystem dir of a managed table: lowercased,
    with `db.table` mapping to `<warehouse>/db.db/table` (a naive
    `<warehouse>/<name>` join is wrong for db-qualified or mixed-case
    names and silently misses the orphan dir it was meant to clear)."""
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    if wh.scheme not in ("file", ""):
        return None
    name = table_name.lower()
    if "." in name:
        db, t = name.split(".", 1)
    else:
        # an unqualified name resolves in the session's CURRENT database,
        # which may not be 'default' (r9 review #2)
        try:
            db = spark.catalog.currentDatabase().lower()
        except Exception:
            db = "default"
        t = name
    if db == "default":
        return f"{wh.path}/{t}"
    return f"{wh.path}/{db}.db/{t}"

def _reset_companion(spark, table_name: str) -> None:
    """Drop a companion table AND its orphaned warehouse dir (catalog
    wiped, dir surviving — DROP TABLE can't see it, but it would fail the
    next saveAsTable with LOCATION_ALREADY_EXISTS)."""
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    try:
        d = _managed_table_dir(spark, table_name)
        if d:
            shutil.rmtree(d, ignore_errors=True)
    except Exception:
        pass

def _unique_docs(
    df: DataFrame, id_col: str, text_col: str, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """One (id, text) row per doc id, enforced BEFORE shingling (ADVICE
    r9): a batch whose rows repeat a doc id would write its gram rows
    twice — and, because new x new probe pairs require id > pid, exact
    duplicates sail past the documented probe/reject step and silently
    corrupt the stored index (every future probe counts shared grams
    twice: jaccard > 1).

    Exact-duplicate rows (same id, SAME text — an upstream union replay)
    collapse silently; an id carrying two DIFFERENT texts RAISES (which
    text is 'the' doc is not this function's call to make — keeping an
    arbitrary one would silently drop data). The common all-unique path
    costs one id-only aggregate (map-side combined, never a text-sized
    shuffle); only a batch that actually contains duplicate ids pays the
    (id, text) distinct. extra_cols ride along; a duplicate id whose
    extras disagree (e.g. marked both old AND new in the self-contained
    incremental probe) raises like a text conflict."""
    docs = df.select(id_col, text_col, *extra_cols)
    has_dup = (
        docs.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") > 1)
        .limit(1)
        .count()
        > 0
    )
    if not has_dup:
        return docs
    deduped = docs.distinct()
    conflicts = (
        deduped.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") > 1)
        .limit(5)
        .collect()
    )
    if conflicts:
        raise ValueError(
            "duplicate doc ids with CONFLICTING text in one input frame: "
            f"{[r[id_col] for r in conflicts]} — collapse or re-key the "
            "batch before indexing (an arbitrary keep would silently drop "
            "one version)."
        )
    return deduped

def build_ngram_index(
    df: DataFrame,
    table_name: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_buckets: int = 32,
) -> None:
    """Shingle a corpus ONCE and persist its inverted index (gram, id, n)
    as a gram-bucketed, gram-sorted table — the stored index that
    incremental_ngram_jaccard_pairs_indexed probes per appended batch.

    This is the 'at 100 TB it lives in the lake' half of incremental
    dedup: the nightly batch job shingles only the batch; the corpus-sized
    shingling cost is paid once at index-build (and amortized by
    append_ngram_index per batch thereafter). Bucketing by gram means the
    per-batch probe join shuffles ONLY the batch's grams — the index side
    is read in place, no corpus-sized exchange, ever (the probe plan is
    asserted Exchange-free on the index side in tests). `n` rides every row so
    Jaccard needs no join back to a per-doc size frame.

    Two companion tables are (re)created with the index:
    - `{table}__ids` (id, batch_id): ONE row per indexed doc — the
      anti-join source append_ngram_index uses for id-safety. Per-doc,
      two narrow columns: 50-100x smaller than the index's per-gram id
      column, which is what every append scanned pre-r9.
    - `{table}__manifest` (batch_id, phase): the append commit log —
      O(#batches), lets a full retry short-circuit with ZERO table IO.
    """
    spark = df.sparkSession
    # reset the companions FIRST: a crash between the index overwrite and
    # a later companion reset would pair the NEW index with the OLD
    # generation's manifest/__ids — stale 'committed' rows silently no-op
    # re-appends and stale ids silently drop docs. Reset-first turns that
    # crash window into a LOUD table-not-found on the next append instead
    # (r9 review #2).
    _reset_companion(spark, _manifest_name(table_name))
    _reset_companion(spark, _ids_name(table_name))
    docs = _unique_docs(df, id_col, text_col)
    index = (
        docs.select(F.col(id_col).alias("id"), _gram_expr(text_col, n).alias("grams"))
        .where(F.size("grams") > 0)
        .select("id", F.size("grams").alias("n"), F.explode("grams").alias("gram"))
    )
    (
        index.write.mode("overwrite")
        .bucketBy(num_buckets, "gram")
        .sortBy("gram")
        .format("parquet")
        .saveAsTable(table_name)
    )
    (
        spark.table(table_name)
        .select("id")
        .distinct()
        .withColumn("batch_id", F.lit("__build__"))
        .write.mode("overwrite")
        .format("parquet")
        .saveAsTable(_ids_name(table_name))
    )

def drop_ngram_index(spark, table_name: str) -> None:
    """Public teardown for a stored n-gram index: drops the index table AND
    both companions (__manifest, __ids) including orphaned warehouse dirs —
    the three-table invariant build_ngram_index creates. Use this instead
    of three DROP TABLEs (r10 review: the example previously leaked the
    __ids companion / reached into private helpers)."""
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    _reset_companion(spark, _manifest_name(table_name))
    _reset_companion(spark, _ids_name(table_name))

def _manifest_name(table_name: str) -> str:
    return f"{table_name}__manifest"

def _ids_name(table_name: str) -> str:
    return f"{table_name}__ids"

def _manifest_phases(spark, table_name: str, batch_id: str) -> set[str]:
    """Phases recorded for batch_id in the append manifest ('' if the
    manifest doesn't exist yet). The manifest is one row per (batch,
    phase) — O(#batches ever), thousands of rows at 100 TB, never
    corpus-sized."""
    m = _manifest_name(table_name)
    if not spark.catalog.tableExists(m):
        return set()
    return {
        r["phase"]
        for r in spark.table(m).where(F.col("batch_id") == batch_id).collect()
    }

def _manifest_mark(spark, table_name: str, batch_id: str, phase: str) -> None:
    spark.createDataFrame(
        [(batch_id, phase)], "batch_id string, phase string"
    ).write.mode("append").format("parquet").saveAsTable(_manifest_name(table_name))

def _committed_batches(spark, table_name: str) -> DataFrame:
    """One-column frame of batch ids whose index rows are COMMITTED: the
    build sentinel plus every manifest batch with a 'committed' row.
    O(#batches) rows — always broadcast-safe."""
    build = spark.createDataFrame([("__build__",)], "batch_id string")
    m = _manifest_name(table_name)
    if not spark.catalog.tableExists(m):
        return build
    return build.unionByName(
        spark.table(m).where(F.col("phase") == "committed").select("batch_id")
    ).distinct()

def batch_fingerprint(df: DataFrame, cols: tuple[str, ...] = ("id", "gram")) -> str:
    """Deterministic, order-insensitive CONTENT identity of a batch:
    xor-combined xxhash64 over its (id, gram) rows + the row count, so a
    re-ingest of the same doc ids with EDITED text gets a different batch
    id (an id-only fingerprint would be silently swallowed by the
    committed-batch short-circuit). ONE narrow aggregate action — never a
    driver-side collect — safe at any batch size."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.expr(f"bit_xor(xxhash64({', '.join(cols)}))"), F.lit(0)
        ).alias("h"),
    ).first()
    return f"b{row['n']}_{row['h'] & 0xFFFFFFFFFFFFFFFF:016x}"

def append_ngram_index(
    batch: DataFrame,
    table_name: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_buckets: int = 32,
    batch_id: str | None = None,
) -> str:
    """Fold an accepted batch into the stored index (same bucket spec —
    Spark appends new bucket files per bucket id, keeping the layout
    join-ready). Run after a batch passes dedup so the next batch probes
    a corpus that includes this one. Returns the batch id it committed
    under (pass the ingest job's own batch id for production lineage;
    default is a content fingerprint over the batch's (id, gram) rows).

    IDEMPOTENT under retry, and id-safe across batches, via two companion
    tables (VERDICT r8 item 2 / ADVICE r8 — replaces the pre-r9 per-append
    pruned scan of the index's PER-GRAM id column):

    - `{table}__manifest` (batch_id, phase): 'committed' short-circuits a
      full retry with ZERO table IO.
    - `{table}__ids` (id, batch_id): one row per indexed doc. Every append
      anti-joins the batch against ids committed by OTHER batches (or the
      build), so a doc id re-ingested in a later batch is dropped — the
      pre-r9 keep-the-old-grams semantics — instead of double-folded
      (duplicated gram rows would make every future probe count shared
      grams twice: jaccard > 1). Per-append IO: the manifest (tiny) + the
      per-doc ids table (two narrow columns, 50-100x smaller than the
      per-gram id scan this replaces) + the batch itself. An EDITED
      re-ingest under the SAME doc id is therefore a drop, not an update
      (same as pre-r9) — rebuild the index to refresh changed docs.

    Commit protocol (each write is atomic per attempt — saveAsTable
    staging on HDFS/local):
      mark 'pending' → record batch ids in __ids → append index rows →
      mark 'committed'.
    A retry of a crash at ANY point repairs: ids recorded by the dead
    attempt (same batch_id) are recognized as this batch's own, index rows
    already present for them are verified COMPLETE per doc (stored per-id
    gram count == this batch's) and skipped; a torn per-doc gram set
    (possible only on a store without per-attempt atomicity) RAISES
    instead of silently keeping a corrupt entry.

    The probe's own anti-join guard (incremental_ngram_jaccard_pairs_
    indexed) independently covers re-probes after a committed append.

    The companion protocol starts at build_ngram_index (which resets both
    tables with the index): an index that received appends BEFORE the
    companions existed has no record of them — rebuild it once rather
    than appending those legacy batches again.

    SINGLE WRITER: appends must be serialized (the nightly-ingest shape).
    Spark saveAsTable appends to one table are not safe under concurrent
    writers regardless of this protocol, and two in-flight batches
    sharing a doc id would each miss the other's uncommitted ids."""
    spark = batch.sparkSession
    if batch_id is not None:
        # caller-supplied id: the committed short-circuit fires BEFORE any
        # batch-sized work (including the duplicate-id guard below) — a
        # full retry reads ONLY the manifest, zero IO (r9 review #4)
        phases = _manifest_phases(spark, table_name, batch_id)
        if "committed" in phases:
            return batch_id
    docs = _unique_docs(batch, id_col, text_col)
    index = (
        docs.select(F.col(id_col).alias("id"), _gram_expr(text_col, n).alias("grams"))
        .where(F.size("grams") > 0)
        .select("id", F.size("grams").alias("n"), F.explode("grams").alias("gram"))
    )
    # the ids bookkeeping, the index write, and (default path) the
    # fingerprint all consume the shingled frame — materialize it once.
    # The default-fingerprint path's retry of an already-committed batch
    # therefore pays one batch-sized job (guard + shingle + fingerprint)
    # before its own short-circuit; production callers supplying a batch
    # id returned above at zero cost.
    index = index.localCheckpoint()
    if batch_id is None:
        batch_id = batch_fingerprint(index)
        phases = _manifest_phases(spark, table_name, batch_id)
        if "committed" in phases:
            return batch_id
    ids_tbl = _ids_name(table_name)
    batch_ids = index.select("id").distinct()
    # ids this batch may NOT write: those committed by the build or by
    # OTHER COMMITTED batches. Restricting to committed batch ids matters
    # (r9 review #1): an __ids row from a crashed attempt under a
    # DIFFERENT (abandoned) batch_id must not anti-join a doc out forever
    # — its grams were never committed, so the current batch legitimately
    # owns the doc.
    #
    # Join-strategy note (VERDICT r9 item 5): only `committed` —
    # O(#batches ever), thousands of rows at 100 TB — carries an explicit
    # broadcast hint. Every BATCH-SIZED frame in this function (batch_ids,
    # batch_sizes, stored, own, others, dangling) joins hint-free: AQE
    # broadcasts them when the nightly batch is small and falls back to a
    # shuffle join for a pathological multi-GB batch instead of OOMing the
    # driver on a forced broadcast.
    committed = _committed_batches(spark, table_name)
    foreign = spark.table(ids_tbl).where(F.col("batch_id") != batch_id).join(
        batch_ids, "id", "left_semi"
    )
    others = (
        foreign.join(F.broadcast(committed), "batch_id", "left_semi").select("id")
    )
    # ids claimed by an UNCOMMITTED foreign batch (a crashed, abandoned
    # attempt): if that attempt died BEFORE its index write, the current
    # batch legitimately owns the doc and proceeds; if it died AFTER (grams
    # present, commit mark missing), appending this batch's grams too would
    # double-fold the doc — RAISE and name the abandoned batch so the
    # operator either retries it (same content completes it) or rebuilds.
    dangling = foreign.join(
        F.broadcast(committed), "batch_id", "left_anti"
    ).select("id", "batch_id").distinct()
    if dangling.limit(1).count() > 0:
        orphaned = (
            spark.table(table_name)
            .join(dangling.select("id").distinct(), "id", "left_semi")
            .select("id")
            .distinct()
            .limit(5)
            .collect()
        )
        if orphaned:
            claims = dangling.limit(5).collect()
            raise RuntimeError(
                f"append_ngram_index: doc ids {[r['id'] for r in orphaned]} in "
                f"{table_name} carry index rows from UNCOMMITTED batch(es) "
                f"{sorted({r['batch_id'] for r in claims})} (crashed before their "
                "commit mark). Retry that batch to complete it, or rebuild the "
                "index — appending these ids again would double-fold their grams."
            )
    index = index.join(others, "id", "left_anti")
    batch_sizes = index.groupBy("id").agg(F.count(F.lit(1)).alias("__bn"))
    if "pending" in phases:
        # crash-recovery: per-doc state of the dead attempt(s). Stored
        # rows for this batch's remaining ids are either COMPLETE (skip),
        # ABSENT (write), or TORN (raise) — each attempt's write is
        # all-or-nothing on an atomic store, so torn means the store lost
        # per-attempt atomicity and the entry must not be trusted.
        stored = (
            spark.table(table_name)
            .join(batch_sizes.select("id"), "id", "left_semi")
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("__sn"))
        )
        torn = (
            stored.join(batch_sizes, "id")
            .where(F.col("__sn") != F.col("__bn"))
            .limit(5)
            .collect()
        )
        if torn:
            raise RuntimeError(
                f"append_ngram_index: batch {batch_id} is PARTIALLY present in "
                f"{table_name} with torn per-doc gram sets (e.g. "
                f"{[(r['id'], r['__sn'], r['__bn']) for r in torn]} stored-vs-batch "
                "gram counts) — the store lost per-attempt atomicity. Rebuild the "
                "index (build_ngram_index) or remove these ids before retrying."
            )
        index = index.join(stored.select("id"), "id", "left_anti")
    else:
        _manifest_mark(spark, table_name, batch_id, "pending")
    # record ownership BEFORE the index write: a crash in between leaves
    # ids without grams for THIS batch_id only, which the retry recognizes
    # as its own (absent → written), never as another batch's
    own = (
        spark.table(ids_tbl)
        .where(F.col("batch_id") == batch_id)
        .join(batch_ids, "id", "left_semi")
        .select("id")
    )
    new_ids = (
        index.select("id")
        .distinct()
        .join(own, "id", "left_anti")
        .withColumn("batch_id", F.lit(batch_id))
    )
    new_ids.write.mode("append").format("parquet").saveAsTable(ids_tbl)
    (
        index.write.mode("append")
        .bucketBy(num_buckets, "gram")
        .sortBy("gram")
        .format("parquet")
        .saveAsTable(table_name)
    )
    _manifest_mark(spark, table_name, batch_id, "committed")
    return batch_id

def incremental_ngram_jaccard_pairs_indexed(
    batch: DataFrame,
    index_table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard pairs touching an appended batch, probing the
    STORED gram-bucketed index (build_ngram_index) instead of re-shingling
    the corpus in-plan — the production shape of
    incremental_ngram_jaccard_pairs (same output contract: new x old and
    new x new pairs, never old x old; oracle-equal to the full recompute
    filtered to pairs with a batch member).

    Only the BATCH is shingled here. new x old comes from the probe
    joining the bucketed index on gram (index side: in-place bucketed
    read, no exchange; probe side: one batch-sized shuffle into the
    index's bucketing). new x new comes from the batch's own inverted
    index joined to itself with id > pid — batch-sized. Both unions feed
    one pair-keyed groupBy; doc sizes ride both sides as narrow ints and
    are recovered with F.first(), so no per-doc size frame exists.
    """
    spark = batch.sparkSession
    # the same within-batch duplicate-id guard as append_ngram_index (r10
    # review): a probe batch repeating a doc id doubles that doc's gram
    # rows, so inter counts double and na+nb-inter can hit 0 (NULL
    # jaccard silently drops a TRUE duplicate) or go negative
    docs = _unique_docs(batch, id_col, text_col)
    base = _ensure_parallel(
        docs.select(F.col(id_col).alias("id"), _gram_expr(text_col, n).alias("grams"))
        .where(F.size("grams") > 0)
    ).localCheckpoint()
    probe = base.select(
        F.col("id").alias("__pid"), F.size("grams").alias("__pn"), F.explode("grams").alias("__pgram")
    )
    # idempotent re-probe guard: if the job is retried AFTER
    # append_ngram_index folded this batch in (the standard incremental-job
    # crash-recovery path), the stored index already contains the batch's
    # ids — without the anti-join, every batch doc matches its own stored
    # copy (self-pairs) and new x new pairs triple-count their shared
    # grams (jaccard > 1). The anti-join key set is BATCH-sized, not
    # O(#batches), so the broadcast hint is SIZE-GUARDED (VERDICT r11
    # item 2): a normal batch broadcasts — which keeps the stored index
    # side exchange-free, preserving the in-place bucketed gram read the
    # probe exists for (hint-free, the planner can't see through the
    # checkpointed RDD's unknown stats, plans a shuffled anti-join on id,
    # and the bucketed scan is lost — caught by
    # test_incremental_indexed_matches_inplan) — while a pathological
    # multi-GB batch falls back to the hint-free plan instead of
    # pressuring the driver with a forced broadcast. The count is free:
    # base is already localCheckpointed.
    batch_ids = base.select("id")
    if base.count() <= _BROADCAST_GUARD_ROWS:
        batch_ids = F.broadcast(batch_ids)
    stored = spark.table(index_table).join(batch_ids, "id", "left_anti")
    old_matched = probe.join(stored, F.col("__pgram") == F.col("gram")).select(
        "__pid", "__pn", "id", "n"
    )
    batch_index = base.select(
        "id", F.size("grams").alias("n"), F.explode("grams").alias("gram")
    )
    new_matched = probe.join(
        batch_index,
        (F.col("__pgram") == F.col("gram")) & (F.col("id") > F.col("__pid")),
    ).select("__pid", "__pn", "id", "n")
    matched = old_matched.unionByName(new_matched)
    pairs = matched.groupBy(
        F.least("__pid", "id").alias("id_a"), F.greatest("__pid", "id").alias("id_b")
    ).agg(
        F.count(F.lit(1)).alias("inter"),
        F.first(F.when(F.col("__pid") < F.col("id"), F.col("__pn")).otherwise(F.col("n"))).alias(
            "na"
        ),
        F.first(F.when(F.col("__pid") < F.col("id"), F.col("n")).otherwise(F.col("__pn"))).alias(
            "nb"
        ),
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )

def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    idf_weighted: bool = True,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, simhash) — 64-bit SimHash over whitespace tokens.

    Per-bit vote: weighted sum over tokens of +/-weight depending on the
    token-hash bit; sign → bit. Shape (r10 — GROUPED votes): tokens are
    hashed and REDUCED to (id, token_hash, count) first, then the 64 bit
    votes come from an explode over 8 GROUPS of 8 bits, each group row
    aggregated with 8 sum(CASE) buffers:

        (id, h, w) --explode 8--> (id, grp, h, ±w x8)
                   --sum x8--> (id, grp, v0..v7)
                   --sum Σ shiftleft(v_j>0, grp*8+j)--> (id, simhash)

    This sits between the two earlier shapes and beats both where it
    matters: the r1 shape (ONE groupBy, 64 sum(when) buffers, 64-deep
    bitwiseOR assembly) compiled so slowly that analysis+codegen dominated
    sf0.1 wall time (17.4s); the r2-r9 shape (explode 0..63 → per-bit
    rows) compiled in ~6 expressions but shuffled 64 rows per (doc,
    token) — 143M rows at the 50k-doc sf1 probe, ~18s of pure shuffle
    that scaled linearly with the corpus and dwarfed the candidate join
    the r10 combinatorial LSH had just fixed. 8x8 keeps the explode at
    8 rows per token (8x fewer, map-side combined on (id, grp)) and the
    aggregate at 8 buffers (compile ~1/8th of the r1 shape): measured
    sf1 signature materialization 20.5s → 5.1s, values bit-identical.

    idf_weighted=True (default) weights each token occurrence by
    log((N+1)/(df+1)). Unweighted simhash DEGENERATES on homogeneous
    corpora: the highest-frequency tokens dominate every bit vote
    identically in every document, so all signatures collapse into the same
    LSH buckets and the candidate join goes quadratic (measured: ALL 12.5M
    pairs of 5k docs were candidates). Documents with zero tokens drop out.
    """
    if bits != 64:
        raise ValueError("simhash_signatures is fixed at 64 bits (xxhash64)")
    if hash_fn == "xxhash64":
        # r16 (guide §4.2 + §2.4): per-doc distinct-token counting needs no
        # shuffle at all — a doc's tokens live in its own row — so the
        # explode + groupBy(id, xxhash64(t)) exchange and its tokenize-
        # heavy codegen unit are replaced by one mapInArrow batch kernel
        # (Python split on the SAME explicit whitespace class, NumPy XXH64
        # bit-equal to Spark's, np.unique counts — integer-exact, so the
        # float vote arithmetic downstream is untouched). md5 twin keeps
        # the JVM shape the DuckDB oracle replays.
        per_tok = _simhash_per_tok_arrow(df, text_col, id_col)
    elif hash_fn == "md5":
        toks = F.filter(
            F.split(F.lower(F.col(text_col)), WS_PLUS), lambda t: F.length(t) > 0
        )
        tokens = _ensure_parallel(
            df.select(F.col(id_col).alias("id"), F.explode(toks).alias("t"))
        )
        # DuckDB-replayable 60-bit token hash (the shared E8 recipe) for
        # the oracle-parity twin gate: bits 60-63 are always 0, so those
        # vote all-negative and stay clear in the fingerprint —
        # identically in both engines. Headline stays xxhash64.
        th = F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long")
        # reduce to one row per (doc, distinct token) BEFORE fanning out
        # 64 bits: occurrence multiplicity folds into the weight
        per_tok = tokens.groupBy("id", th.alias("h")).agg(
            F.count(F.lit(1)).alias("__cnt")
        )
    else:
        raise ValueError(f"simhash_signatures: unknown hash_fn {hash_fn!r}")
    if idf_weighted:
        n_docs = df.count()
        # document frequency as COUNT OVER (PARTITION BY h) instead of a
        # groupBy(h) + self-join (r15): per_tok has exactly one row per
        # (doc, token), so the per-h partition row count IS the doc
        # frequency — same values, one exchange on h serving both the df
        # computation and its attachment, where the join shape cost a
        # second aggregate subtree plus a shuffle join (per_tok appeared
        # on both sides). Per-h groups are doc-frequency-sized, so the
        # window parallelizes over the token vocabulary.
        from pyspark.sql import Window

        doc_freq = F.count(F.lit(1)).over(Window.partitionBy("h"))
        weighted = per_tok.select(
            "id",
            "h",
            (F.col("__cnt") * F.log(F.lit(float(n_docs + 1)) / (doc_freq + 1))).alias("w"),
        )
    else:
        # keep the weight a LONG so the twin-gate's "integer votes" claim
        # is structural, not incidental (ADVICE r11: the old double cast
        # was exact only because integer-valued doubles < 2^53 sum exactly
        # in any order) — sum(long) vote arithmetic is genuinely integer
        weighted = per_tok.select("id", "h", F.col("__cnt").alias("w"))
    from functools import reduce

    G = 8  # bits per vote group: 8 explode rows x 8 aggregate buffers
    votes = (
        weighted.select(
            "id", F.explode(F.sequence(F.lit(0), F.lit(64 // G - 1))).alias("g"), "h", "w"
        )
        .groupBy("id", "g")
        .agg(
            *[
                F.sum(
                    F.expr(
                        f"CASE WHEN (shiftright(h, g*{G}+{j}) & 1) = 1 THEN w ELSE -w END"
                    )
                ).alias(f"v{j}")
                for j in range(G)
            ]
        )
    )
    asm = reduce(
        lambda a, b: a + b,
        [
            F.expr(
                f"CASE WHEN v{j} > 0 THEN shiftleft(CAST(1 AS BIGINT), g*{G}+{j}) "
                "ELSE CAST(0 AS BIGINT) END"
            )
            for j in range(G)
        ],
    )
    return votes.groupBy("id").agg(F.sum(asm).alias("simhash"))

def _simhash_per_tok_arrow(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, h, __cnt) — one row per (doc, distinct whitespace token), with
    h = xxhash64(token) and __cnt its occurrence count. Bit-equal to the
    JVM shape explode(filter(split(lower(text), WS_PLUS))) → groupBy(id,
    xxhash64(t)).count() (pinned by test), computed per doc inside one
    mapInArrow batch: no explode, no exchange.

    Semantics notes: lowercasing stays in the JVM projection (UTF8String
    lower vs Python str.lower diverge on locale edge cases); the split
    pattern is the explicit WS character class, which Python re parses
    identically to Java; NULL or zero-token docs emit nothing (explode of
    the NULL/empty array drops the row in the JVM shape)."""
    normed = _ensure_parallel(
        df.select(F.col(id_col).alias("id"), F.lower(F.col(text_col)).alias("__norm"))
    )
    id_type = normed.schema["id"].dataType.simpleString()

    def compute(batches):
        import re

        import numpy as np
        import pyarrow as pa

        from ml_data_pipeline_spark.functions.xxh64_np import xxh64

        ws = re.compile("[ \\t\\n\\x0B\\f\\r]+")
        for batch in batches:
            if batch.num_rows == 0:
                continue
            texts = batch.column(1).to_pylist()
            row_idx: list[int] = []  # source row per emitted doc
            tok_bytes: list[bytes] = []
            bounds: list[tuple[int, int]] = []  # (start, end) into tok_bytes per doc
            for i, s in enumerate(texts):
                if s is None:
                    continue
                toks = [t for t in ws.split(s) if t]
                if not toks:
                    continue
                start = len(tok_bytes)
                tok_bytes.extend(t.encode("utf-8") for t in toks)
                bounds.append((start, len(tok_bytes)))
                row_idx.append(i)
            if not tok_bytes:
                continue
            maxlen = max(len(b) for b in tok_bytes)
            data = np.zeros((len(tok_bytes), maxlen), dtype=np.uint8)
            lens = np.zeros(len(tok_bytes), dtype=np.int64)
            for j, b in enumerate(tok_bytes):
                data[j, : len(b)] = np.frombuffer(b, dtype=np.uint8)
                lens[j] = len(b)
            hashes = xxh64(data, lens)
            take_idx: list[np.ndarray] = []
            rh: list[np.ndarray] = []
            rc: list[np.ndarray] = []
            for doc_i, (a, b_) in enumerate(bounds):
                uniq, cnt = np.unique(hashes[a:b_], return_counts=True)
                take_idx.append(np.full(len(uniq), row_idx[doc_i], dtype=np.int64))
                rh.append(uniq)
                rc.append(cnt)
            # id column via take() so the input's exact Arrow type survives
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0).take(pa.array(np.concatenate(take_idx))),
                    pa.array(np.concatenate(rh), type=pa.int64()),
                    pa.array(np.concatenate(rc).astype(np.int64), type=pa.int64()),
                ],
                ["id", "h", "__cnt"],
            )

    return normed.mapInArrow(compute, schema=f"id {id_type}, h bigint, __cnt bigint")

def _simhash_bands(sigs: DataFrame, max_hamming: int) -> DataFrame:
    """(id, simhash) → one (id, simhash, block, v0, v1, v2) row per 3-block
    combination of the d + 3 blocks (see simhash_near_duplicates). The
    C(d+3, 3) structs are one SQL expression, one py4j parse: at d = 3 the
    frame costs 34 py4j commands to build, 1022 with Column calls per
    block value (tests/test_sql_builders.py)."""
    import itertools

    nblocks = max_hamming + 3
    widths = [64 // nblocks + (1 if i < 64 % nblocks else 0) for i in range(nblocks)]
    offs = [sum(widths[:i]) for i in range(nblocks)]
    structs = ", ".join(
        "struct("
        + ", ".join(
            [f"{ci} AS block"]
            + [
                f"shiftrightunsigned(simhash, {offs[b]}) & {(1 << widths[b]) - 1} AS v{j}"
                for j, b in enumerate(combo)
            ]
        )
        + ")"
        for ci, combo in enumerate(itertools.combinations(range(nblocks), 3))
    )
    return sigs.select(
        "id", "simhash", F.expr(f"explode(array({structs})) AS bv")
    ).select("id", "simhash", "bv.*")

def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    idf_weighted: bool = True,
) -> DataFrame:
    """SimHash near-dup pairs within hamming distance d, via COMBINATORIAL
    bit-block LSH (the permute-and-split table scheme of Manku et al.,
    WWW'07, public literature): split the 64 bits into B = d + 3 blocks
    and index every C(B, 3) combination of 3 blocks as one wide key. A
    pair within distance d differs in at most d blocks, so at least 3
    blocks agree exactly, so the pair collides on at least one indexed
    3-combo (pigeonhole) — same zero-recall-loss guarantee as the naive
    d+1 single-block scheme, then exact hamming verify with
    bit_count(xor). No crossJoin at any scale.

    Why 3-block keys (VERDICT r9 item 3 — was d+1 blocks of 64/(d+1)
    bits): candidate volume under the single-block scheme is
    ~(d+1)·n²/2^(64/(d+1)) — quadratic in corpus size with a small
    constant divisor (d=3 → 16-bit keys: the sf1 probe measured 3.3M
    candidates for 50k docs, 5.7x wall for 10x data). Three concatenated
    blocks give ~64·3/(d+3)-bit keys (d=3 → ~32 bits: 191k candidates on
    the same 50k docs, 17x fewer) at the price of a C(d+3,3)-way band
    explode (d=3 → 20 rows/doc, narrow) — the explode grows LINEARLY in
    n while the collision term it buys down grows QUADRATICALLY, exactly
    the trade a 100-TB corpus wants."""
    if not 0 <= max_hamming <= 61:
        raise ValueError("max_hamming must be in [0, 61] for 64-bit simhash")
    # localCheckpoint, not lazy cache — same concurrent-cold-scan
    # rationale as minhash_near_duplicates
    sigs = simhash_signatures(
        df, text_col, id_col, idf_weighted=idf_weighted
    ).localCheckpoint()
    banded = _simhash_bands(sigs, max_hamming)
    keys = ["block", "v0", "v1", "v2"]
    a = banded.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), *keys
    )
    b = banded.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), *keys
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    # hamming is computed and FILTERED before the pair-dedup so the dedup
    # shuffle carries only passing (id_a, id_b, hamming) triples — not two
    # 64-bit signatures per candidate, and none of the rejected candidates
    # (hamming is functionally determined by the pair, so deduping after
    # the filter is equivalent)
    return (
        a.join(b, keys)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("id_a", "id_b")
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    item_col: str,
    threshold: float = 0.3,
) -> DataFrame:
    """Exact set-similarity join with PREFIX FILTERING (Chaudhuri et al.
    2006, public literature): for Jaccard >= t, two sets must share at
    least one token among each set's first |s| - ceil(t*|s|) + 1 tokens
    when every set is ordered by GLOBAL token frequency (rarest first).
    So only that prefix is indexed — on skewed real vocabularies this
    shrinks the inverted index by the frequent-token mass, which is
    exactly the part that explodes the full-index join (the 'the'
    problem). Candidates are then verified EXACTLY on the full sorted
    sets, so the output equals brute force — no recall loss.

    Contrast dd_ngram_jaccard (full inverted index, counts-only verify):
    same answer, different candidate bound; this is the shape that holds
    when token frequencies are Zipfian at corpus scale.

    Shuffles: one token-frequency aggregate, one prefix-index equi-join
    keyed on token, one verify join keyed on the pair. Ordering ties
    break on item id — deterministic everywhere."""
    # NULL items are excluded explicitly (an equi-join would drop them
    # from candidate generation but NOT from set sizes — silent Jaccard
    # denominator drift); localCheckpoint because ordered feeds THREE
    # branches (prefix index + both verify sides) — same recompute
    # pattern clustering/triangles truncate
    items = (
        df.select(F.col(id_col).alias("id"), F.col(item_col).alias("it"))
        .where(F.col(item_col).isNotNull())
        .distinct()
    )
    freq = items.groupBy("it").agg(F.count(F.lit(1)).alias("__f"))
    ordered = (
        items.join(freq, "it")
        .groupBy("id")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("__f").alias("f"), F.col("it").alias("i")))
                ),
                lambda s: s.getField("i"),
            ).alias("set"),
        )
        .withColumn("n", F.size("set"))
        .localCheckpoint()
    )
    t = float(threshold)
    prefix_len = F.col("n") - F.ceil(F.lit(t) * F.col("n")).cast("int") + 1
    pref = ordered.select(
        "id", "n", F.explode(F.slice("set", 1, prefix_len)).alias("tok")
    )
    a = pref.select(F.col("id").alias("id_a"), F.col("n").alias("na"), "tok")
    b = pref.select(F.col("id").alias("id_b"), F.col("n").alias("nb"), "tok")
    cands = (
        a.join(b, "tok")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = ordered.select(F.col("id").alias("id_a"), F.col("set").alias("sa"))
    sb = ordered.select(F.col("id").alias("id_b"), F.col("set").alias("sb"))
    verified = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("sa", "sb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.size("sa") + F.size("sb") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= t)
    )
    return verified.select("id_a", "id_b", "inter", "jaccard")


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT word-n-gram Jaccard CONTAINMENT pairs: ordered (src, dst) where
    ``|grams(src) ∩ grams(dst)| / |grams(src)| >= threshold`` and src != dst.

    Containment (Broder 1997's resemblance companion, public literature) is
    the asymmetric near-dup relation Jaccard misses: a short document quoted
    wholesale inside a long one has low Jaccard (the union is large) but
    containment ≈ 1 from the short side — exactly the "doc A is a subset of
    doc B" case a training-corpus dedup wants to catch (quote farms, page
    wrappers, partial mirrors).

    Shape: the SAME inverted-index candidate join as ngram_jaccard_pairs
    (extends dedup.py ngram_jaccard_pairs; reference has no dedup at all —
    SURVEY.md §2 F13 is exact-row only). The unordered intersection count is
    computed ONCE per pair from join multiplicity; both ordered directions
    are then derived from (inter, |A|, |B|) scalars — no second join, no
    doubled shuffle. Emitting directions from the scalar frame keeps the
    extra cost at one projection regardless of corpus size.
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), WS_PLUS), lambda t: F.length(t) > 0)
    grams = F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - n + 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    # (id, grams) feeds both self-join sides — materialized once (same as
    # incremental_ngram_jaccard_pairs), or every branch re-shingles the
    # corpus from the scan (plan_audit r5). Doc sizes ride along the
    # exploded index as a narrow int column and come back via F.first()
    # in the pair groupBy — no corpus-sized size frame, no broadcast.
    base = _ensure_parallel(
        df.select(F.col(id_col).alias("id"), grams.alias("grams")).where(F.size("grams") > 0)
    ).localCheckpoint()
    exploded = base.select("id", F.size("grams").alias("n"), F.explode("grams").alias("gram"))
    scored = (
        exploded.alias("a")
        .join(exploded.alias("b"), "gram")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first(F.col("a.n")).alias("na"),
            F.first(F.col("b.n")).alias("nb"),
        )
    )
    # both ordered directions from one unordered pair row: (a in b) and (b in a)
    directed = scored.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("id_src"),
                    F.col("id_b").alias("id_dst"),
                    (F.col("inter").cast("double") / F.col("na")).alias("containment"),
                ),
                F.struct(
                    F.col("id_b").alias("id_src"),
                    F.col("id_a").alias("id_dst"),
                    (F.col("inter").cast("double") / F.col("nb")).alias("containment"),
                ),
            )
        ).alias("p")
    ).select("p.id_src", "p.id_dst", F.round("p.containment", 6).alias("containment"))
    return directed.where(F.col("containment") >= threshold).orderBy("id_src", "id_dst")

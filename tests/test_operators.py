"""Unit tests for operator semantics on small in-memory DataFrames."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ml_data_pipeline_spark.operators import (
    dedup as DD,
    encoding as E,
    filters as FL,
    imputation as I,
    profiling as P,
    sampling as SA,
)


def test_missing_counts(spark):
    df = spark.createDataFrame(
        [(1, None, "a"), (2, 2.0, None), (3, None, None)], "id int, x double, s string"
    )
    out = {r["column"]: (r["n_missing"], r["flag_over_half"]) for r in P.missing_counts(df).collect()}
    assert out == {"x": (2, True), "s": (2, True)}


def test_value_counts_null_inclusive(spark):
    df = spark.createDataFrame([("a",), ("a",), (None,), ("b",)], "v string")
    rows = P.value_counts(df, "v").collect()
    counts = {r["v"]: r["count"] for r in rows}
    assert counts == {None: 1, "a": 2, "b": 1}


def test_class_stats_head_tail(spark):
    data = [(c,) for c in "aaaabbbccdde"]
    df = spark.createDataFrame(data, "v string")
    rows = P.class_stats_head_tail(df, "v", head=2, tail=1).collect()
    # classes by count desc: a=4,b=3,c=2,d=2,e=1 → head 2 = a,b; tail 1 = e
    assert [(r["v"], r["count"]) for r in rows] == [("a", 4), ("b", 3), ("e", 1)]


def test_merge_interval(spark):
    df = spark.createDataFrame([(5.0,), (15.0,), (25.0,)], "x double")
    out = sorted(r["x"] for r in FL.merge_interval(df, "x", 10, 20, 99.0).collect())
    assert out == [5.0, 25.0, 99.0]


def test_align_columns_errors_and_order(spark):
    df = spark.createDataFrame([(1, 2, 3)], "b int, a int, c int")
    out = FL.align_columns(df, ["a", "b"])
    assert out.columns == ["a", "b", "c"]
    out2 = FL.align_columns(df, ["a", "b"], keep_extras=False)
    assert out2.columns == ["a", "b"]
    try:
        FL.align_columns(df, ["a", "zz"])
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_align_dtypes_coerce(spark):
    from pyspark.sql import types as T

    df = spark.createDataFrame([("1", "x")], "a string, b string")
    ref = T.StructType([T.StructField("a", T.IntegerType())])
    out = FL.align_dtypes(df, ref).collect()[0]
    assert out["a"] == 1 and out["b"] == "x"
    df2 = spark.createDataFrame([("notanint",)], "a string")
    assert FL.align_dtypes(df2, ref).collect()[0]["a"] is None  # errors='coerce'


def test_label_encode_lexicographic(spark):
    df = spark.createDataFrame([("b",), ("a",), ("c",), ("a",)], "v string")
    rows = E.label_encode(df, "v", "code").collect()
    m = {r["v"]: r["code"] for r in rows}
    assert m == {"a": 0, "b": 1, "c": 2}  # sklearn LabelEncoder sorted order


def test_one_hot(spark):
    df = spark.createDataFrame([("x",), ("y",)], "v string")
    out = E.one_hot_encode(df, "v")
    assert set(out.columns) == {"v_x", "v_y"}
    rows = {tuple(r) for r in out.collect()}
    assert rows == {(1, 0), (0, 1)}


def test_binary_encode_bits(spark):
    df = spark.createDataFrame([("a",), ("b",), ("c",)], "v string")
    out = E.binary_encode(df, "v", n_bits=2)
    rows = {tuple(r) for r in out.collect()}
    # ordinals a=1,b=2,c=3 → bits (0,1),(1,0),(1,1)
    assert rows == {(0, 1), (1, 0), (1, 1)}


def test_impute_mean_median_mode(spark):
    df = spark.createDataFrame([(1.0,), (3.0,), (None,)], "x double")
    assert I.impute_mean(df, "x").agg(F.sum("x")).collect()[0][0] == 6.0
    assert sorted(r["x"] for r in I.impute_median(df, "x").collect()) == [1.0, 2.0, 3.0]
    dfm = spark.createDataFrame([("a",), ("a",), ("b",), (None,)], "v string")
    vals = [r["v"] for r in I.impute_mode(dfm, "v").collect()]
    assert vals.count("a") == 3


def test_impute_mode_tie_breaks_to_smallest(spark):
    dfm = spark.createDataFrame([("b",), ("a",), (None,)], "v string")
    vals = sorted(r["v"] for r in I.impute_mode(dfm, "v").collect())
    assert vals == ["a", "a", "b"]  # pandas mode()[0] = smallest of ties


def test_interpolate_matches_pandas(spark):
    import pandas as pd

    vals = [10.0, None, None, 40.0, None, None, None, 12.0, None, None]
    expected = pd.Series(vals).interpolate(method="linear", limit_direction="both").tolist()
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "o int, v double")
    got = [r["v"] for r in I.impute_interpolate(df, "v", "o").orderBy("o").collect()]
    assert all(math.isclose(a, b) for a, b in zip(got, expected))


def test_em_impute_fills_and_preserves(spark):
    df = spark.createDataFrame([(float(i),) for i in range(50)] + [(None,)] * 5, "x double")
    out = I.impute_em_normal(df, "x", max_iter=2)
    rows = out.collect()
    assert len(rows) == 55 and all(r["x"] is not None for r in rows)


def test_trim_equal_caps_classes(spark):
    data = [("a",)] * 10 + [("b",)] * 3
    df = spark.createDataFrame(data, "v string")
    counts = {
        r["v"]: r["n"]
        for r in SA.trim_equal(df, "v", 5).groupBy("v").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"a": 5, "b": 3}


def test_stratified_split_proportions(spark):
    data = [("a", i) for i in range(100)] + [("b", i) for i in range(20)]
    df = spark.createDataFrame(data, "cls string, i int")
    train, test = SA.stratified_split(df, "cls", test_size=0.2, seed=1)
    tc = {r["cls"]: r["n"] for r in train.groupBy("cls").agg(F.count("*").alias("n")).collect()}
    assert tc == {"a": 80, "b": 16}
    assert train.count() + test.count() == 120
    # disjoint
    assert train.join(test, ["cls", "i"]).count() == 0


def test_exact_dedup_deterministic_survivor(spark):
    df = spark.createDataFrame(
        [("k", 2, "x"), ("k", 1, "y"), ("j", 5, "z")], "key string, a int, b string"
    )
    rows = {(r["key"], r["a"], r["b"]) for r in DD.exact_dedup(df, ["key"]).collect()}
    assert rows == {("k", 1, "y"), ("j", 5, "z")}  # min(struct) survivor


def test_minhash_identical_docs_found(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "completely different words entirely unrelated content zebra xylophone"),
        ],
        "doc_id long, text string",
    )
    pairs = DD.minhash_near_duplicates(docs, threshold=0.9, num_hashes=16, bands=4).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    assert pairs[0]["est_jaccard"] == 1.0


def _xxh64_np_vs_spark(spark, kernel, max_len: int, extra: tuple[str, ...]) -> None:
    """Hash 4 random byte strings of every length 0..max_len plus `extra`
    (UTF-8) with the NumPy `kernel` and with Spark's xxhash64; assert
    bit-equality on every one."""
    import numpy as np

    rng = np.random.default_rng(16)
    samples: list[bytes] = []
    for length in range(max_len + 1):
        for _ in range(4):
            samples.append(bytes(rng.integers(0, 256, length, dtype=np.uint8)))
    samples.extend(s.encode("utf-8") for s in extra)
    maxlen = max(1, max(len(b) for b in samples))
    data = np.zeros((len(samples), maxlen), dtype=np.uint8)
    lens = np.zeros(len(samples), dtype=np.int64)
    for i, b in enumerate(samples):
        data[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
        lens[i] = len(b)
    ours = kernel(data, lens)
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(samples)], "i int, b binary"
    )
    theirs = {r["i"]: r["h"] for r in df.select("i", F.xxhash64("b").alias("h")).collect()}
    assert [int(h) for h in ours] == [theirs[i] for i in range(len(samples))]


def test_xxh64_np_matches_spark_every_short_length(spark):
    """The NumPy XXH64 kernel behind the Arrow minhash path must be
    bit-equal to Spark's xxhash64 for EVERY input length it can see
    (0..31 bytes), including multi-byte UTF-8 — this is the contract that
    lets the mapInArrow signature stage replace the JVM expression tree."""
    from ml_data_pipeline_spark.functions.xxh64_np import xxh64_short

    _xxh64_np_vs_spark(
        spark, xxh64_short, 31, ("", "héllo", "日本語テスト", "ünïcodé!", "a" * 31, "é" * 10)
    )


def test_xxh64_np_general_matches_spark_lengths_0_to_100(spark):
    """The general-length kernel behind the Arrow simhash path: lengths
    0..100 cover the short path and 1, 2 and 3 full 32-byte stripes, each
    with every 8/4/1-byte tail, plus multi-byte UTF-8 across a stripe."""
    from ml_data_pipeline_spark.functions.xxh64_np import xxh64

    _xxh64_np_vs_spark(spark, xxh64, 100, ("é" * 16, "日本語" * 6, "ü" * 50, "x" * 64))


def test_minhash_arrow_path_equals_jvm_expressions(spark):
    """The Arrow (mapInArrow + NumPy) signature path must produce
    bit-identical signatures to the JVM expression shape on every edge the
    JVM shape defines: NULL text (signature [42]*K via the skipped-NULL
    hash seed), empty text, docs shorter than the shingle width, multi-byte
    UTF-8 (char windows, not byte windows), and repeated/whitespace-heavy
    text. Corpus-level equality is pinned by the oracle gate."""
    docs = spark.createDataFrame(
        [
            (1, "hello world hello world common text"),
            (2, ""),
            (3, "abc"),
            (4, "héllo wörld ünicode tëst with multibyte"),
            (5, "日本語のテキストです完全にマルチバイト"),
            (6, "a"),
            (7, None),
            (8, "x" * 600),
            (9, "  spaced\tout\nwhitespace\x0bforms  "),
        ],
        "doc_id long, text string",
    )
    arrow = {
        r["id"]: r["signature"]
        for r in DD._shingle_minhash_arrow(docs, "text", "doc_id", 32, 5).collect()
    }
    jvm = {
        r["id"]: r["signature"]
        for r in DD._shingle_minhash_exprs(
            docs, "text", "doc_id", 32, 5, "xxhash64"
        ).collect()
    }
    assert arrow == jvm
    assert arrow[7] == [42] * 32  # NULL doc: xxhash64(NULL) stays at the seed


def test_simhash_per_tok_arrow_equals_jvm(spark):
    """The Arrow tokenize+count kernel behind simhash_signatures must
    produce the exact (id, token-hash, count) multiset of the JVM shape
    explode(filter(split(lower(text), WS)))) → groupBy(id, xxhash64(t)) —
    including NULL docs (dropped), zero-token docs (dropped), \\x0b
    splitting, unicode tokens, and repeated tokens (counts fold)."""
    from ml_data_pipeline_spark.constants import WS_PLUS

    docs = spark.createDataFrame(
        [
            (1, "hello world hello world common text"),
            (2, ""),
            (3, None),
            (4, "héllo wörld ünicode tëst"),
            (5, "日本語 テスト 単語"),
            (6, "  lead trail  "),
            (7, "TAB\tand\x0bvtab\nnl"),
            (8, ("tok " * 200).strip()),
            # tokens of 32+ bytes take the XXH64 stripe branch (1 and 2 stripes)
            (9, "supercalifragilisticexpialidocious_40bytes " + "ä" * 40 + " x" * 3),
            (10, "Supercalifragilisticexpialidocious_40b_" * 2),
        ],
        "doc_id long, text string",
    )
    toks = F.filter(F.split(F.lower(F.col("text")), WS_PLUS), lambda t: F.length(t) > 0)
    tokens = docs.select(F.col("doc_id").alias("id"), F.explode(toks).alias("t"))
    ref = tokens.groupBy("id", F.xxhash64("t").alias("h")).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    a = {
        (r["id"], r["h"]): r["__cnt"]
        for r in DD._simhash_per_tok_arrow(docs, "text", "doc_id").collect()
    }
    b = {(r["id"], r["h"]): r["__cnt"] for r in ref.collect()}
    assert a == b


def test_simhash_near_identical(spark):
    # ODD distinct-token count: an odd number of +/-1 votes can never tie at
    # zero, so each bit vote of `base` has magnitude >= 3 (tokens repeat 3x)
    # and the single extra token in doc 2 can never flip a bit → hamming = 0,
    # deterministically. (With an even count, ~25% of bits tie and the extra
    # token flips half of them — a coin-toss at the threshold.)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa mu " * 3
    docs = spark.createDataFrame(
        [(1, base), (2, base + " lambda"), (3, "xx yy zz ww vv uu tt ss rr qq jj")],
        "doc_id long, text string",
    )
    # idf_weighted=False: on a 3-doc corpus IDF makes zero-vote bits flip on
    # single-token differences; the unweighted variant is the deterministic
    # textbook semantics this test pins down
    pairs = DD.simhash_near_duplicates(docs, max_hamming=8, idf_weighted=False).collect()
    found = {(p["id_a"], p["id_b"]) for p in pairs}
    assert (1, 2) in found and (1, 3) not in found and (2, 3) not in found


def test_ngram_jaccard_exact_value(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    # trigrams: {abc, bcd} vs {abc, bce} → jaccard = 1/3
    pairs = DD.ngram_jaccard_pairs(docs, n=3, threshold=0.0).collect()
    # operator rounds to 6 dp for oracle hash parity
    assert len(pairs) == 1 and abs(pairs[0]["jaccard"] - 1 / 3) < 1e-6


def test_incremental_jaccard_equals_filtered_full_recompute(spark):
    """The incremental contract: probing the index with only the batch's
    grams yields EXACTLY the full recompute's pairs that touch the batch —
    including new x new pairs counted once (the double-count hazard) and
    zero old x old pairs."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),          # old
            (2, "a b c d f"),          # old  (old x old pair with 1 — must NOT appear)
            (10, "a b c d e"),         # new, dup of old 1
            (11, "a b c d e"),         # new, dup of old 1 and of new 10
            (12, "x y z w q"),         # new, no overlap
        ],
        "doc_id long, text string",
    )
    new = F.col("doc_id") >= 10
    inc = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.incremental_ngram_jaccard_pairs(docs, new, n=3, threshold=0.1).collect()
    }
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(docs, n=3, threshold=0.1).collect()
        if r["id_a"] >= 10 or r["id_b"] >= 10
    }
    assert inc == full
    assert (1, 2) not in inc          # old x old excluded
    assert inc[(10, 11)] == 1.0       # new x new present exactly once
    assert inc[(1, 10)] == 1.0 and inc[(1, 11)] == 1.0


def test_incremental_indexed_matches_inplan(spark):
    """The stored-index path (build_ngram_index + probe) must return
    exactly what the self-contained in-plan incremental path returns, the
    batch side must be the ONLY shingling in the probe plan, and the index
    must be read through its bucketing (no corpus-side exchange)."""
    import shutil
    from urllib.parse import urlparse

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c d f"),
            (10, "a b c d e"),
            (11, "a b c d e"),
            (12, "x y z w q"),
        ],
        "doc_id long, text string",
    )
    tbl = "mdp_test_ngram_idx"
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    if not spark.catalog.tableExists(tbl):
        shutil.rmtree(f"{wh}/{tbl}", ignore_errors=True)
    DD.build_ngram_index(docs.where(F.col("doc_id") < 10), tbl, n=3, num_buckets=4)
    out = DD.incremental_ngram_jaccard_pairs_indexed(
        docs.where(F.col("doc_id") >= 10), tbl, n=3, threshold=0.1
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    ref = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.incremental_ngram_jaccard_pairs(
            docs, F.col("doc_id") >= 10, n=3, threshold=0.1
        ).collect()
    }
    assert got == ref and (10, 11) in got and (1, 2) not in got
    # the stored index is scanned through its bucket layout — Spark prints
    # 'Bucketed: true' on a bucket-preserving scan, and no Exchange may sit
    # between that scan and the join (the probe side shuffles instead)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan


def test_incremental_indexed_reprobe_after_append_is_idempotent(spark):
    """Crash-recovery path: if the job is retried AFTER append_ngram_index
    already folded the batch in, the probe must return the SAME pairs —
    no self-pairs, no double-counted new x new grams (jaccard > 1)."""
    import shutil
    from urllib.parse import urlparse

    old = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, "a b c d e"), (11, "a b c d e")], "doc_id long, text string"
    )
    tbl = "mdp_test_idx_reprobe"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh}/{tbl}", ignore_errors=True)
    DD.build_ngram_index(old, tbl, n=3, num_buckets=4)
    before = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.incremental_ngram_jaccard_pairs_indexed(
            batch, tbl, n=3, threshold=0.1
        ).collect()
    }
    DD.append_ngram_index(batch, tbl, n=3, num_buckets=4)  # batch committed
    after = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.incremental_ngram_jaccard_pairs_indexed(
            batch, tbl, n=3, threshold=0.1
        ).collect()  # retried probe
    }
    assert after == before == {(1, 10): 1.0, (1, 11): 1.0, (10, 11): 1.0}
    assert all(a != b and j <= 1.0 for (a, b), j in after.items())


def test_remove_repeated_ngrams_null_text(spark):
    """A NULL-text document must report n_tokens=0 (not NULL / -1) and
    survive with empty text_clean — parity with the oracle's coalesce."""
    from ml_data_pipeline_spark.operators.spans import remove_repeated_ngrams

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j"), (3, None)],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in remove_repeated_ngrams(docs, width=10, min_docs=2).collect()}
    assert out[3]["n_tokens"] == 0 and out[3]["n_tokens_removed"] == 0
    assert out[3]["text_clean"] == "" and out[3]["n_spans"] == 0
    assert out[1]["n_tokens_removed"] == 10  # the shared span was excised


def test_append_ngram_index_roundtrip(spark):
    """append_ngram_index folds an accepted batch into the stored index:
    probing after the append must equal an index built from scratch over
    the unioned corpus."""
    import shutil
    from urllib.parse import urlparse

    old = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    accepted = spark.createDataFrame([(2, "a b c d f")], "doc_id long, text string")
    batch2 = spark.createDataFrame([(20, "a b c d f")], "doc_id long, text string")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for tbl in ("mdp_test_idx_app", "mdp_test_idx_full"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(f"{wh}/{tbl}", ignore_errors=True)
    DD.build_ngram_index(old, "mdp_test_idx_app", n=3, num_buckets=4)
    DD.append_ngram_index(accepted, "mdp_test_idx_app", n=3, num_buckets=4)
    DD.build_ngram_index(old.unionByName(accepted), "mdp_test_idx_full", n=3, num_buckets=4)
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.incremental_ngram_jaccard_pairs_indexed(
            batch2, "mdp_test_idx_app", n=3, threshold=0.1
        ).collect()
    }
    ref = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.incremental_ngram_jaccard_pairs_indexed(
            batch2, "mdp_test_idx_full", n=3, threshold=0.1
        ).collect()
    }
    assert got == ref and (2, 20) in got and got[(2, 20)] == 1.0


def test_interpolate_ranged_matches_pandas_and_global(spark):
    import pandas as pd

    # holes at the edges, interior runs, and straddling partition boundaries
    vals = [None, None, 3.0, None, None, 9.0, None, 4.0] + [None] * 5 + [2.0, None]
    expected = pd.Series(vals).interpolate(method="linear", limit_direction="both").tolist()
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "o int, v double")
    got = {
        r["o"]: r["v"]
        for r in I.impute_interpolate_ranged(df, "v", "o", num_partitions=4).collect()
    }
    for i, e in enumerate(expected):
        assert math.isclose(got[i], e), (i, got[i], e)
    # agrees with the global-window variant too
    glob = {r["o"]: r["v"] for r in I.impute_interpolate(df, "v", "o").collect()}
    assert all(math.isclose(got[i], glob[i]) for i in range(len(vals)))


def test_interpolate_ranged_all_null_partition(spark):
    # a whole range-partition of nulls must pull from NEIGHBOR partitions
    vals = [1.0] + [None] * 20 + [43.0]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "o int, v double")
    got = [
        r["v"]
        for r in I.impute_interpolate_ranged(df, "v", "o", num_partitions=5)
        .orderBy("o")
        .collect()
    ]
    assert all(math.isclose(got[i], 1.0 + 2.0 * i) for i in range(22))


def test_interpolate_ranged_null_order_key(spark):
    # NULLs in an order column must not raise (the pre-r8 sketch sorted
    # python tuples containing None → TypeError) and must land where the
    # global baseline puts them: NULLS FIRST, i.e. before every real key.
    rows = [(None, None), (0, 1.0), (1, None), (2, None), (3, 7.0), (4, None)]
    df = spark.createDataFrame(rows, "o int, v double")
    ranged = {
        r["o"]: r["v"]
        for r in I.impute_interpolate_ranged(df, "v", "o", num_partitions=3).collect()
    }
    glob = {r["o"]: r["v"] for r in I.impute_interpolate(df, "v", "o").collect()}
    assert set(ranged) == set(glob)
    for k in glob:
        assert math.isclose(ranged[k], glob[k]), (k, ranged[k], glob[k])
    # the null-keyed row sorts first → backfilled from the first non-null
    assert math.isclose(ranged[None], 1.0)
    # interior holes interpolate linearly: 1.0 .. 7.0 across positions 1..4
    assert math.isclose(ranged[1], 3.0) and math.isclose(ranged[2], 5.0)


def test_interpolate_ranged_null_in_composite_order_key(spark):
    # partial-null composite keys: (5, NULL) must sort before (5, 1) but
    # after (4, *) — the NULLS-FIRST lexicographic __pid expression, not a
    # struct >= (which would NULL the whole partition id).
    rows = [
        (1, 1, 10.0),
        (4, 2, None),
        (5, None, None),
        (5, 1, None),
        (6, 1, 30.0),
    ]
    df = spark.createDataFrame(rows, "a int, b int, v double")
    ranged = {
        (r["a"], r["b"]): r["v"]
        for r in I.impute_interpolate_ranged(df, "v", ["a", "b"], num_partitions=3).collect()
    }
    glob = {
        (r["a"], r["b"]): r["v"] for r in I.impute_interpolate(df, "v", ["a", "b"]).collect()
    }
    assert set(ranged) == set(glob)
    for k in glob:
        assert math.isclose(ranged[k], glob[k]), (k, ranged[k], glob[k])
    # order is (1,1)=10, (4,2), (5,NULL), (5,1), (6,1)=30 → equal steps of 5
    assert math.isclose(ranged[(4, 2)], 15.0)
    assert math.isclose(ranged[(5, None)], 20.0)
    assert math.isclose(ranged[(5, 1)], 25.0)


def test_round_labels(spark):
    df = spark.createDataFrame([(0.4,), (0.6,), (2.5,)], "y double")
    got = sorted(r["y"] for r in E.round_labels(df, "y").collect())
    assert got == [0, 1, 3]  # Spark round = half-up (2.5 -> 3)


def test_one_hot_cardinality_guard(spark):
    """E1 guard: high-cardinality columns must refuse one-hot (ADVICE/VERDICT
    r1 — unbounded distinct().collect() is a driver OOM at 100 TB)."""
    import pytest

    from ml_data_pipeline_spark.operators import encoding as E

    df = spark.range(100).select(
        F.concat(F.lit("v"), F.col("id")).alias("c"), F.col("id")
    )
    with pytest.raises(ValueError, match="distinct"):
        E.one_hot_encode(df, "c", max_cardinality=50)
    # under the cap it still works and matches the unguarded path
    small = spark.createDataFrame([("a",), ("b",), ("a",)], "c string")
    out = E.one_hot_encode(small, "c", max_cardinality=50)
    assert sorted(out.columns) == ["c_a", "c_b"]


def test_split_by_hash_deterministic_and_proportional(spark):
    from ml_data_pipeline_spark.operators.sampling import split_by_hash

    df = spark.range(20000).withColumnRenamed("id", "k")
    a = split_by_hash(df, "k", test_frac=0.2)
    b = split_by_hash(df, "k", test_frac=0.2)
    # identical membership across invocations (pure function of the key)
    assert a.exceptAll(b).count() == 0
    frac = a.where("is_test").count() / 20000
    assert 0.17 < frac < 0.23
    # different salt -> different membership
    c = split_by_hash(df, "k", test_frac=0.2, salt="v2")
    assert a.exceptAll(c).count() > 0


def test_numeric_summary_exact_and_approx_agree(spark):
    from ml_data_pipeline_spark.operators.profiling import numeric_summary

    df = spark.range(1, 1001).select((F.col("id") * 1.0).alias("x"))
    ex = {r["column"]: r for r in numeric_summary(df, ["x"], exact=True).collect()}
    ap = {r["column"]: r for r in numeric_summary(df, ["x"], exact=False).collect()}
    assert ex["x"]["minv"] == 1.0 and ex["x"]["maxv"] == 1000.0
    assert abs(ex["x"]["median"] - 500.5) < 1e-6
    # sketch within 1% of exact on a uniform ramp
    for k in ("q25", "median", "q75"):
        assert abs(ex["x"][k] - ap["x"][k]) / ex["x"][k] < 0.01


def test_contamination_check_flags_known_overlap(spark):
    from ml_data_pipeline_spark.operators.text import contamination_check

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),   # contains the bench 5-gram
            (2, "one two three four five six seven"),      # disjoint
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(99, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    rows = {r["id"]: r for r in contamination_check(docs, bench, n=5).collect()}
    assert rows[1]["n_overlap"] == 1 and rows[1]["is_contaminated"]
    assert rows[2]["n_overlap"] == 0 and not rows[2]["is_contaminated"]
    # clean doc still reports a row with frac 0.0
    assert rows[2]["contamination_frac"] == 0.0


def test_boilerplate_fraction_counts_shared_ngrams(spark):
    from ml_data_pipeline_spark.operators.text import boilerplate_ngram_fraction

    shared = "click here to subscribe now"
    docs = spark.createDataFrame(
        [
            (1, shared + " unique tail one"),
            (2, shared + " other words here again"),
            (3, "completely different text with no shared grams"),
        ],
        "doc_id long, text string",
    )
    rows = {r["id"]: r for r in boilerplate_ngram_fraction(docs, n=5, min_docs=2).collect()}
    # the shared 5-gram appears in docs 1 and 2 but not 3
    assert rows[1]["n_boiler"] >= 1 and rows[2]["n_boiler"] >= 1
    assert rows[3]["n_boiler"] == 0 and rows[3]["boiler_frac"] == 0.0


def test_tfidf_ranks_distinctive_terms_first(spark):
    from ml_data_pipeline_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "common common rare1 rare1 rare1"),
            (2, "common common other other"),
            (3, "common filler words"),
        ],
        "doc_id long, text string",
    )
    top = {r["id"]: r["term"] for r in tfidf_top_terms(docs, k=1).collect()}
    # the corpus-rare high-tf term wins over the everywhere-term
    assert top[1] == "rare1" and top[2] == "other"


def test_stratified_sample_by_hash_deterministic(spark):
    from ml_data_pipeline_spark.operators.sampling import stratified_sample_by_hash

    df = spark.range(10000).select(
        F.col("id"), (F.col("id") % 2 == 0).cast("string").alias("cls")
    )
    a = stratified_sample_by_hash(df, "cls", {"true": 0.5, "false": 0.1}, key_col="id")
    b = stratified_sample_by_hash(df, "cls", {"true": 0.5, "false": 0.1}, key_col="id")
    assert a.exceptAll(b).count() == 0  # pure function of the key
    counts = {r["cls"]: r["n"] for r in a.groupBy("cls").agg(F.count("*").alias("n")).collect()}
    assert 2200 < counts["true"] < 2800     # ~50% of 5000
    assert 300 < counts["false"] < 700      # ~10% of 5000


def test_bucketize_bins_and_nulls(spark):
    from ml_data_pipeline_spark.operators.filters import bucketize

    df = spark.createDataFrame(
        [(0.5,), (1.0,), (7.0,), (None,)], "x double"
    )
    rows = [r["x_bin"] for r in bucketize(df, "x", [1.0, 5.0]).collect()]
    assert rows == [0, 1, 2, None]


def test_key_skew_stats_orders_and_salt(spark):
    from ml_data_pipeline_spark.operators.profiling import key_skew_stats

    # key "7" has 60 rows, everything else 1 row
    df = spark.range(100).select(
        F.when(F.col("id") < 60, F.lit(7)).otherwise(F.col("id")).alias("k")
    )
    out = key_skew_stats(df, "k", top_k=3, rows_per_task=25).collect()
    assert out[0]["key"] == "7" and out[0]["cnt"] == 60
    assert out[0]["salt_factor"] == 3  # ceil(60/25)
    assert abs(out[0]["share"] - 0.6) < 1e-6


def test_c4_quality_flags_rules(spark):
    from ml_data_pipeline_spark.operators.text import c4_quality_flags

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it was fine for all of them to rest"),
            (2, "short"),
            (3, "zz qq ww ee rr tt yy uu ii oo pp aa ss dd ff gg hh jj kk ll"),
        ],
        "doc_id long, text string",
    )
    rows = {r["id"]: r for r in c4_quality_flags(
        docs, min_words=10, min_stopword_frac=0.05
    ).collect()}
    assert rows[1]["keep"]                      # long enough, stopword-rich
    assert not rows[2]["ok_n_words"]            # too short
    assert not rows[3]["ok_stopwords"]          # no stopwords at all
    assert rows[3]["stopword_frac"] == 0.0


def test_lift_table_perfect_model(spark):
    from ml_data_pipeline_spark.ml.pipeline import lift_table

    # score perfectly separates: top 20% of scores are exactly the positives
    df = spark.range(100).select(
        (F.col("id") < 20).alias("y"), (100 - F.col("id")).cast("double").alias("score")
    )
    rows = lift_table(df, "y", "score", n_bins=5).collect()
    assert [r["bin"] for r in rows] == [1, 2, 3, 4, 5]
    assert rows[0]["pos_rate"] == 1.0 and rows[0]["lift"] == 5.0
    assert rows[0]["cum_capture"] == 1.0        # all positives in decile 1
    assert rows[4]["n_pos"] == 0


def test_funnel_requires_stage_order(spark):
    from ml_data_pipeline_spark.operators.funnel import funnel_counts

    rows = [
        # u1: view -> click -> purchase (full funnel)
        (1, "view", "2024-01-01 10:00:00"),
        (1, "click", "2024-01-01 10:05:00"),
        (1, "purchase", "2024-01-01 10:10:00"),
        # u2: click BEFORE the first view -> stops at view
        (2, "click", "2024-01-01 09:00:00"),
        (2, "view", "2024-01-01 09:30:00"),
        # u3: view only
        (3, "view", "2024-01-01 08:00:00"),
        # u4: never views -> not in the funnel at all
        (4, "purchase", "2024-01-01 07:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, s string").select(
        "user_id", "event_type", F.to_timestamp("s").alias("ts")
    )
    out = {r["stage"]: r for r in funnel_counts(df, ["view", "click", "purchase"]).collect()}
    assert out["view"]["n_users"] == 3
    assert out["click"]["n_users"] == 1          # only u1: u2's click precedes its view
    assert out["purchase"]["n_users"] == 1
    assert abs(out["click"]["conversion"] - 1 / 3) < 1e-5


def test_cohort_retention_offsets(spark):
    from ml_data_pipeline_spark.operators.funnel import cohort_retention

    rows = [
        (1, "2024-01-01 10:00:00"), (1, "2024-01-02 10:00:00"),
        (2, "2024-01-01 11:00:00"),
        (3, "2024-01-02 09:00:00"), (3, "2024-01-04 09:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, s string").select(
        "user_id", F.to_timestamp("s").alias("ts")
    )
    got = {(r["cohort_day"], r["day_offset"]): r["n_users"]
           for r in cohort_retention(df).collect()}
    assert got[("2024-01-01", 0)] == 2
    assert got[("2024-01-01", 1)] == 1
    assert got[("2024-01-02", 0)] == 1
    assert got[("2024-01-02", 2)] == 1


def test_psi_drift_identical_and_shifted(spark):
    from ml_data_pipeline_spark.operators.profiling import psi_drift

    a = spark.range(1000).select((F.col("id") % 100).cast("double").alias("x"))
    same = psi_drift(a, a, "x", splits=[25.0, 50.0, 75.0]).collect()
    assert all(r["psi_term"] == 0.0 for r in same)
    b = a.select((F.col("x") + 50).alias("x"))  # shifted distribution
    shifted = psi_drift(a, b, "x", splits=[25.0, 50.0, 75.0]).collect()
    assert sum(r["psi_term"] for r in shifted) > 0.2


def test_expectations_single_pass_counts(spark):
    from ml_data_pipeline_spark.operators import expectations as EX

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", 50.0), (2, None, -1.0)],
        "k long, s string, x double",
    )
    out = {r["rule"]: r for r in EX.run_expectations(
        df,
        [
            EX.expect_not_null("s"),
            EX.expect_unique(["k"]),
            EX.expect_in_range("x", 0.0, 10.0),
            EX.expect_in_set("s", ["a"]),
            EX.expect_regex("s", "^a$"),
        ],
    ).collect()}
    assert out["not_null(s)"]["n_violations"] == 1
    assert out["unique(k)"]["n_violations"] == 1          # k=2 twice
    assert out["in_range(x,0.0,10.0)"]["n_violations"] == 2  # 50.0 and -1.0
    assert out["in_set(s)"]["n_violations"] == 1          # "b" (null ignored)
    assert out["regex(s)"]["n_violations"] == 1
    assert not out["unique(k)"]["passed"]


def test_incremental_merge_order_independent(spark):
    from ml_data_pipeline_spark.operators import rollup as RU

    df = spark.range(300).select(
        (F.col("id") % 3).alias("g"), (F.col("id") * 1.0).alias("x")
    )
    spec = {"s": ("sum", "x"), "n": ("count", "x"),
            "lo": ("min", "x"), "hi": ("max", "x")}
    parts = [df.where(F.col("id") % 4 == i) for i in range(4)]
    partials = [RU.aggregate_partial(p, ["g"], spec) for p in parts]
    # merge in two different orders
    m1 = partials[0]
    for p in partials[1:]:
        m1 = RU.merge_partials(m1, p, ["g"], spec)
    m2 = partials[3]
    for p in [partials[1], partials[0], partials[2]]:
        m2 = RU.merge_partials(m2, p, ["g"], spec)
    full = RU.aggregate_partial(df, ["g"], spec)
    as_map = lambda d: {r["g"]: (r["s"], r["n"], r["lo"], r["hi"]) for r in d.collect()}
    assert as_map(m1) == as_map(m2) == as_map(full)


def test_fuzzy_join_matches_brute_force(spark):
    from ml_data_pipeline_spark.operators.fuzzy import fuzzy_self_pairs

    words = ["kitten", "sitten", "sitting", "mitten", "apple", "appel",
             "banana", "bananas", "bandana"]
    df = spark.createDataFrame([(w,) for w in words], "name string")
    got = {(r["name_a"], r["name_b"]): r["distance"]
           for r in fuzzy_self_pairs(df, "name", max_distance=2).collect()}

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[len(b)]

    want = {}
    for i, a in enumerate(words):
        for b in words[i + 1:]:
            x, y = sorted((a, b))
            d = lev(x, y)
            if d <= 2:
                want[(x, y)] = d
    assert got == want and ("kitten", "sitten") in got


def test_quantile_bucketize_exact_matches_ntile_semantics(spark):
    from ml_data_pipeline_spark.operators.filters import quantile_bucketize

    df = spark.range(1, 1001).select((F.col("id") * 1.0).alias("x"))
    out = quantile_bucketize(df, "x", num_buckets=4, exact=True)
    counts = sorted(
        r["n"] for r in out.groupBy("x_qbin").agg(F.count("*").alias("n")).collect()
    )
    # equal-frequency: 4 buckets of ~250 on a uniform ramp
    assert len(counts) == 4 and all(abs(c - 250) <= 1 for c in counts)
    # approx path lands within 2% bucket-size drift on the same data
    ap = quantile_bucketize(df, "x", num_buckets=4, exact=False)
    ac = sorted(
        r["n"] for r in ap.groupBy("x_qbin").agg(F.count("*").alias("n")).collect()
    )
    assert len(ac) == 4 and all(abs(c - 250) <= 20 for c in ac)


# ---------------------------------------------------------------- round-3 stats


def test_spearman_monotone_nonlinear_is_one(spark):
    """Spearman = 1 for any strictly increasing relation (Pearson is not)."""
    from ml_data_pipeline_spark.operators.profiling import spearman_corr

    df = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 4.0), (3.0, 9.0), (4.0, 16.0)], "a double, b double"
    )
    r = spearman_corr(df, "a", "b").first()
    assert (r["spearman"], r["n_rows"]) == (1.0, 4)


def test_spearman_ties_and_nulls(spark):
    """Tie-averaged ranks + pairwise-complete null drop: descending with a
    tie pair -> -1.0 on the 4 complete rows."""
    from ml_data_pipeline_spark.operators.profiling import spearman_corr

    rows = [(1.0, 6.0), (2.0, 4.0), (2.0, 4.0), (3.0, 1.0), (None, 9.0), (5.0, None)]
    df = spark.createDataFrame(rows, "a double, b double")
    r = spearman_corr(df, "a", "b").first()
    assert (r["spearman"], r["n_rows"]) == (-1.0, 4)


def test_welch_ttest_hand_computed(spark):
    """a=[1,2,3] b=[2,4,6]: t = -2/sqrt(5/3) = -1.549193, Welch df =
    (5/3)^2 / ((1/9)/2 + (16/9)/2) = 2.941176."""
    from ml_data_pipeline_spark.operators.profiling import welch_ttest

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 2.0), ("b", 4.0), ("b", 6.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = welch_ttest(df, "v", "g", "a", "b").first()
    assert r["t_stat"] == -1.549193
    assert r["welch_df"] == 2.941176
    assert (r["mean_a"], r["mean_b"], r["n_a"], r["n_b"]) == (2.0, 4.0, 3, 3)


def test_robust_scale_hand_computed_and_constant_column(spark):
    from ml_data_pipeline_spark.operators.filters import robust_scale

    df = spark.createDataFrame([(float(i),) for i in range(1, 6)], "x double")
    got = sorted(
        r["x_scaled"] for r in robust_scale(df, "x").collect()
    )
    assert got == [-1.0, -0.5, 0.0, 0.5, 1.0]  # med 3, IQR 2

    const = spark.createDataFrame([(1.0,), (1.0,)], "x double")
    out = robust_scale(const, "x").collect()
    assert all(r["x_scaled"] is None for r in out)  # zero IQR -> explicit NULL


def test_bm25_ranking_properties(spark):
    """BM25 semantics on a hand-sized corpus: no-match docs are absent;
    the rare-term short doc wins (idf of df=1 'stream' = ln(3.33) beats
    df=2 'query' = ln(2)); among same-term docs, higher tf + shorter doc
    scores higher."""
    from ml_data_pipeline_spark.operators.text import bm25_topk

    rows = [
        (1, "spark query engine query"),
        (2, "spark query engine with a much longer tail of filler words here"),
        (3, "stream processing only"),
        (4, "nothing relevant at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_topk(df, ["query", "stream"], k=10).collect()
    ids = [r["id"] for r in out]
    assert ids == [3, 1, 2]  # rare term > frequent term; tf/length break 1 vs 2
    scores = {r["id"]: r["bm25"] for r in out}
    assert scores[1] > scores[2]  # same term: two hits in 4 tokens beats one in 12
    assert all(s > 0 for s in scores.values())  # Lucene idf variant is non-negative


def test_group_sample_by_hash_deterministic_across_partitionings(spark):
    """The sampled ID SET must be identical regardless of input
    partitioning (the determinism contract split_by_hash set)."""
    from ml_data_pipeline_spark.operators.sampling import group_sample_by_hash

    rows = [(i, f"g{i % 3}") for i in range(300)]
    df1 = spark.createDataFrame(rows, "id long, g string").repartition(1)
    df2 = spark.createDataFrame(rows, "id long, g string").repartition(13, "id")
    s1 = {(r["g"], r["id"]) for r in group_sample_by_hash(df1, "g", "id", k=7).collect()}
    s2 = {(r["g"], r["id"]) for r in group_sample_by_hash(df2, "g", "id", k=7).collect()}
    assert s1 == s2 and len(s1) == 21  # 3 groups x 7

    # different salt -> (almost surely) different sample, same counts
    s3 = {(r["g"], r["id"]) for r in group_sample_by_hash(df1, "g", "id", k=7, salt="x").collect()}
    assert len(s3) == 21 and s3 != s1


def test_weighted_sample_topk_prefers_heavy_and_plans_topk(spark):
    """A-ES sanity: with weights 1000 vs 0.01, the k=10 draw is exactly the
    10 heavy rows (u^(1/1000) ~ 1 vs u^100 ~ 0); determinism: same seed →
    same rows; different seed → a draw, not a sort (still all-heavy here).
    Plan: orderBy+limit compiles to TakeOrderedAndProject (per-partition
    heap + k-row driver merge), never a global sort."""
    from ml_data_pipeline_spark.operators.sampling import weighted_sample_topk

    rows = [(i, 1000.0) for i in range(10)] + [(i, 0.01) for i in range(10, 110)]
    df = spark.createDataFrame(rows, "id long, w double")
    picked = weighted_sample_topk(df, "w", k=10, seed=1)
    ids = sorted(r["id"] for r in picked.collect())
    assert ids == list(range(10))
    again = sorted(r["id"] for r in weighted_sample_topk(df, "w", k=10, seed=1).collect())
    assert again == ids
    plan = picked._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_woe_encode_hand_computed(spark):
    import math

    # cat a: pos=2 neg=0; cat b: pos=0 neg=2; K=2, s=0.5
    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("b", 0), ("b", 0)], "c string, y int"
    )
    rows = {r["c"]: r["c_woe"] for r in E.woe_encode(df, "c", "y").collect()}
    expected_a = math.log(((2 + 0.5) / (2 + 1.0)) / ((0 + 0.5) / (2 + 1.0)))
    expected_b = math.log(((0 + 0.5) / (2 + 1.0)) / ((2 + 0.5) / (2 + 1.0)))
    assert math.isclose(rows["a"], expected_a, rel_tol=1e-9)
    assert math.isclose(rows["b"], expected_b, rel_tol=1e-9)
    # smoothing keeps pure categories finite and antisymmetric here
    assert math.isclose(rows["a"], -rows["b"], rel_tol=1e-9)


def test_k_anonymity_counts(spark):
    df = spark.createDataFrame(
        [("x", 1)] * 6 + [("x", 2)] * 2 + [("y", 1)] * 1, "a string, b int"
    )
    r = P.k_anonymity(df, ["a", "b"], k=5).first()
    assert r["n_classes"] == 3 and r["anonymity_k"] == 1
    assert r["classes_below_k"] == 2 and r["rows_below_k"] == 3
    assert r["n_rows"] == 9


def test_ranged_rank_matches_global_row_number(spark):
    from pyspark.sql import Window

    from ml_data_pipeline_spark.operators.profiling import ranged_rank

    df = spark.createDataFrame(
        [(v % 17, i) for i, v in enumerate(range(200))], "v int, id int"
    )
    got = {
        r["id"]: r["rk"]
        for r in ranged_rank(df, ["v", "id"], out_col="rk", num_partitions=8).collect()
    }
    w = Window.orderBy("v", "id")
    want = {
        r["id"]: float(r["rk"])
        for r in df.withColumn("rk", F.row_number().over(w)).collect()
    }
    assert got == want


def test_ranged_rank_empty_input_schema_stable(spark):
    """r15 degenerate-input sweep: an EMPTY frame used to crash
    ranged_rank with a cryptic map()[__pid] AnalysisException (an empty
    literal map types as map<void,void>) — which meant gini, qini,
    dsir_select, the encoder code maps and every other ranged_rank
    caller died whenever an upstream filter matched nothing. Empty in →
    empty out, with the rank column present (schema stability);
    ranged_cumsum already carried the guard."""
    from ml_data_pipeline_spark.operators import causal as C
    from ml_data_pipeline_spark.operators import encoding as E
    from ml_data_pipeline_spark.operators.profiling import gini_coefficient, ranged_rank

    empty = spark.createDataFrame([], "id long, x double, y double, g string")
    out = ranged_rank(empty, ["x", "id"], out_col="rk")
    assert out.collect() == [] and "rk" in out.columns
    # representative callers end-to-end on empty input
    assert E.label_encode(empty, "g").collect() == []
    g = gini_coefficient(empty, "x", "id").collect()
    assert len(g) == 1 and g[0]["n"] == 0
    q = C.qini_curve(
        empty.select(
            F.col("id").alias("uid"), F.lit(1).alias("t"),
            F.col("x").alias("s"), F.col("y"),
        ),
        "t", "s", "y", "uid",
    )
    assert q.collect() == []


def test_ranged_cumsum_matches_global_window(spark):
    """r14 kernel (VERDICT r13 items 1/3): per-range prefix sums + P-row
    carry must equal the global single-task cumulative window — long and
    double sum columns, composite order key, P above and below the
    distinct-key count."""
    from pyspark.sql import Window

    from ml_data_pipeline_spark.operators.profiling import ranged_cumsum

    rows = [(i % 13, i, (i * 7) % 5, float(i % 3) / 2) for i in range(300)]
    df = spark.createDataFrame(rows, "k int, id int, n int, x double")
    w = Window.orderBy("k", "id").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["id"]: (r["cn"], r["cx"])
        for r in df.withColumn("cn", F.sum("n").over(w))
        .withColumn("cx", F.sum("x").over(w))
        .collect()
    }
    for p in (1, 4, 64):
        got = {
            r["id"]: (r["__cum_n"], round(r["__cum_x"], 9))
            for r in ranged_cumsum(
                df, ["k", "id"], ["n", "x"], num_partitions=p
            ).collect()
        }
        assert got == {
            i: (cn, round(cx, 9)) for i, (cn, cx) in want.items()
        }, f"P={p}"


def test_weighted_percentiles_keeps_null_group(spark):
    """r14: the ranged rewrite joins group offsets back by key — eqNullSafe
    keeps a NULL group key as a real group, exactly like the old
    partitionBy window did."""
    from ml_data_pipeline_spark.operators.profiling import weighted_percentiles

    df = spark.createDataFrame(
        [("a", 1, 1), ("a", 2, 1), (None, 5, 3), (None, 7, 1)],
        "g string, v int, w int",
    )
    out = {
        r["g"]: r["p50"]
        for r in weighted_percentiles(df, "g", "v", "w", {"p50": 0.5}).collect()
    }
    assert out == {"a": 1, None: 5}


def test_gini_coefficient_extremes(spark):
    from ml_data_pipeline_spark.operators.profiling import gini_coefficient

    # perfectly equal distribution -> 0
    eq = spark.createDataFrame([(i, 10) for i in range(100)], "id int, v int")
    r = gini_coefficient(eq, "v", "id").first()
    assert abs(r["gini"]) < 1e-9 and r["n"] == 100
    # total concentration (one holder) -> (n-1)/n
    conc = spark.createDataFrame(
        [(i, 0) for i in range(99)] + [(99, 1000)], "id int, v int"
    )
    r2 = gini_coefficient(conc, "v", "id").first()
    assert abs(r2["gini"] - 99 / 100) < 1e-9


def test_temperature_weights_limits(spark):
    """alpha=1 -> natural token proportions; alpha=0 -> uniform weights."""
    from ml_data_pipeline_spark.operators.mixing import temperature_weights

    df = spark.createDataFrame(
        [("a", 900), ("a", 0), ("b", 100)], "source string, n_tokens long"
    )
    nat = {r["source"]: r["weight"] for r in temperature_weights(df, alpha=1.0).collect()}
    assert nat == {"a": 0.9, "b": 0.1}
    uni = {r["source"]: r["weight"] for r in temperature_weights(df, alpha=0.0).collect()}
    assert uni == {"a": 0.5, "b": 0.5}
    # intermediate temperature up-weights the low-resource source
    mid = {r["source"]: r["weight"] for r in temperature_weights(df, alpha=0.5).collect()}
    assert 0.1 < mid["b"] < 0.5


def test_source_vocab_overlap_hand_computed(spark):
    """src a={x,y,z}, b={x,y,w}, c={q} -> J(a,b)=2/4, pairs with c absent
    (no shared tokens -> no candidate row, by inverted-index construction)."""
    from ml_data_pipeline_spark.operators.text import source_vocab_overlap

    docs = spark.createDataFrame(
        [(1, "x y z", "a"), (2, "x y w", "b"), (3, "q", "c")],
        "doc_id long, text string, source string",
    )
    rows = source_vocab_overlap(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["src_a"], r["src_b"], r["n_shared"]) == ("a", "b", 2)
    assert abs(r["vocab_jaccard"] - 0.5) < 1e-9


def test_moments_symmetric_and_known_kurtosis(spark):
    """Symmetric data -> skewness 0; a fair two-point distribution has
    population excess kurtosis exactly -2."""
    import math

    from ml_data_pipeline_spark.operators.profiling import moments

    two_point = spark.createDataFrame([(0,)] * 50 + [(1,)] * 50, "v long")
    r = moments(two_point, ["v"]).first()
    assert abs(r["v_skewness"]) < 1e-9
    assert abs(r["v_kurtosis"] + 2.0) < 1e-9
    assert math.isclose(r["v_mean"], 0.5) and math.isclose(r["v_std"], 0.5)


def test_schema_diff_statuses(spark):
    from ml_data_pipeline_spark.sources.versioned import schema_diff

    old = spark.createDataFrame([(1, "x", 2.0)], "a long, b string, c double")
    new = spark.createDataFrame([(1, 3, True)], "a long, c long, d boolean")
    rows = {r["column"]: r["status"] for r in schema_diff(old, new).collect()}
    assert rows == {"a": "unchanged", "b": "removed", "c": "retyped", "d": "added"}


def test_loo_target_encode_excludes_own_row(spark):
    from ml_data_pipeline_spark.operators.encoding import loo_target_encode

    rows = [("a", 10.0), ("a", 20.0), ("a", 30.0), ("b", 5.0), ("c", None)]
    df = spark.createDataFrame(rows, ["cat", "y"])
    out = {
        (r["cat"], r["y"]): r["enc"]
        for r in loo_target_encode(df, "cat", "y", "enc").collect()
    }
    gm = (10.0 + 20.0 + 30.0 + 5.0) / 4
    assert out[("a", 10.0)] == 25.0  # (20+30)/2 — own 10 excluded
    assert out[("a", 20.0)] == 20.0
    assert out[("b", 5.0)] == gm  # singleton falls back to global mean
    assert out[("c", None)] == gm  # null target falls back too


def test_cluster_safe_split_keeps_clusters_together(spark):
    from ml_data_pipeline_spark.operators.sampling import cluster_safe_split

    docs = spark.createDataFrame([(i,) for i in range(200)], ["doc_id"])
    # clusters: {0..4} -> 0, {10,11} -> 10
    comp = spark.createDataFrame(
        [(i, 0) for i in range(5)] + [(10, 10), (11, 10)], ["id", "component"]
    )
    out = cluster_safe_split(docs, comp, "doc_id", test_frac=0.5).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(by_id) == 200
    # whole cluster shares one side
    assert len({by_id[i]["is_test"] for i in range(5)}) == 1
    assert by_id[10]["is_test"] == by_id[11]["is_test"]
    # unclustered docs split on their own id; both sides populated at 50%
    flags = [r["is_test"] for r in out]
    assert 40 < sum(flags) < 160


def test_ndcg_perfect_ranking_is_one(spark):
    from ml_data_pipeline_spark.operators.text import ndcg_at_k

    # doc 1 mentions the term 3x, doc 2 once, doc 3 never: bm25 order
    # (1, 2) coincides with relevance order, so NDCG@2 must be exactly 1
    rows = [
        (1, "apple apple apple pie"),
        (2, "apple tart"),
        (3, "banana bread only"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    r = ndcg_at_k(df, ["apple"], k=2).collect()[0]
    assert r["ndcg"] == 1.0 and r["dcg"] == r["idcg"] > 0


def test_ndcg_degrades_when_relevance_inverts(spark):
    from ml_data_pipeline_spark.operators.text import ndcg_at_k

    # the top-bm25 doc for 'rare' has rel 1; a longer doc holds 3 copies
    # of the term buried in filler, ranking below but more relevant
    filler = " ".join(["x"] * 200)
    rows = [
        (1, "rare"),
        (2, f"rare rare rare {filler}"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    r = ndcg_at_k(df, ["rare"], k=2).collect()[0]
    assert 0 < r["ndcg"] < 1.0


def test_zipf_slope_on_synthetic_zipf(spark):
    from ml_data_pipeline_spark.operators.text import zipf_slope

    # exact Zipf corpus: word w_r appears round(1000/r) times -> slope ~ -1
    words = []
    for r in range(1, 51):
        words += [f"w{r:03d}"] * round(1000 / r)
    df = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    out = zipf_slope(df, top_n=50).collect()[0]
    assert out["n_points"] == 50
    assert -1.1 < out["zipf_slope"] < -0.9


def test_corpus_diversity_extremes(spark):
    from ml_data_pipeline_spark.operators.text import corpus_diversity

    rows = [
        ("mono", "spam spam spam spam spam spam spam spam"),
        ("rich", "a b c d e f g h"),
    ]
    df = spark.createDataFrame(rows, ["lang", "text"])
    out = {r["lang"]: r for r in corpus_diversity(df, "lang").collect()}
    assert out["mono"]["n_types"] == 1 and out["mono"]["unigram_entropy"] == 0.0
    assert out["rich"]["ttr"] == 1.0
    import math

    assert abs(out["rich"]["unigram_entropy"] - math.log(8)) < 1e-6


def test_attribution_models_hand_traced(spark):
    from ml_data_pipeline_spark.operators.funnel import attribution_credit

    rows = [
        (1, 1, "click", "2024-01-01 10:00:00"),
        (2, 1, "view", "2024-01-01 12:00:00"),
        (3, 1, "purchase", "2024-01-02 00:00:00"),
        (4, 2, "view", "2024-01-05 00:00:00"),
        (5, 2, "purchase", "2024-01-06 00:00:00"),
        (6, 3, "click", "2024-01-01 00:00:00"),  # outside window of its purchase
        (7, 3, "purchase", "2024-01-09 00:00:00"),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "event_type", "t"]).select(
        "event_id", "user_id", "event_type", F.col("t").cast("timestamp").alias("ts")
    )
    out = {
        r["channel"]: r
        for r in attribution_credit(df, "purchase", ["click", "view"], 3).collect()
    }
    # conv u1: first=click, last=view, linear=.5 each; conv u2: view all three
    assert out["click"]["first_touch"] == 1.0 and out["click"]["last_touch"] == 0.0
    assert out["view"]["first_touch"] == 1.0 and out["view"]["last_touch"] == 2.0
    assert out["click"]["linear"] == 0.5 and out["view"]["linear"] == 1.5
    # total credit mass per model equals credited conversions (2 — u3 had none)
    for m in ("first_touch", "last_touch", "linear"):
        assert sum(r[m] for r in out.values()) == 2.0


def test_l_diversity_homogeneous_class_flagged(spark):
    from ml_data_pipeline_spark.operators.profiling import l_diversity

    rows = [
        ("a", 1, "flu"), ("a", 1, "flu"), ("a", 1, "flu"),   # homogeneous class
        ("b", 2, "flu"), ("b", 2, "cold"), ("b", 2, "covid"),
    ]
    df = spark.createDataFrame(rows, ["zip", "age", "dx"])
    r = l_diversity(df, ["zip", "age"], "dx", l=2).collect()[0]
    assert r["n_classes"] == 2 and r["diversity_l"] == 1
    assert r["classes_below_l"] == 1 and r["rows_below_l"] == 3
    assert r["n_rows"] == 6


def test_dp_noisy_counts_reproducible_and_seed_sensitive(spark):
    from ml_data_pipeline_spark.operators.profiling import dp_noisy_counts

    df = spark.createDataFrame([(f"g{i % 4}",) for i in range(400)], ["g"])
    a = {r["g"]: r for r in dp_noisy_counts(df, "g", 1.0, "s1").collect()}
    b = {r["g"]: r for r in dp_noisy_counts(df, "g", 1.0, "s1").collect()}
    c = {r["g"]: r for r in dp_noisy_counts(df, "g", 1.0, "s2").collect()}
    assert all(a[g]["released_count"] == b[g]["released_count"] for g in a)
    assert any(a[g]["noise"] != c[g]["noise"] for g in a)  # new seed, new draw
    assert all(a[g]["true_count"] == 100 for g in a)
    # tighter epsilon -> larger noise scale on the same draws
    wide = {r["g"]: r for r in dp_noisy_counts(df, "g", 0.1, "s1").collect()}
    assert all(abs(wide[g]["noise"]) >= abs(a[g]["noise"]) for g in a)


def test_event_patterns_hand_traced(spark):
    from ml_data_pipeline_spark.operators.funnel import event_patterns

    rows = [
        (1, 1, "view", "2024-01-01 01:00:00"),
        (2, 1, "click", "2024-01-01 02:00:00"),
        (3, 1, "purchase", "2024-01-01 03:00:00"),
        (4, 1, "view", "2024-01-01 04:00:00"),
        (5, 2, "view", "2024-01-01 01:00:00"),
        (6, 2, "error", "2024-01-01 02:00:00"),
        (7, 2, "click", "2024-01-01 03:00:00"),
        (8, 2, "purchase", "2024-01-01 04:00:00"),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "event_type", "t"]).select(
        "event_id", "user_id", "event_type", F.col("t").cast("timestamp").alias("ts")
    )
    out = {
        r["user_id"]: r
        for r in event_patterns(
            df, {"adj": "vcp", "gated": "v[^p]*c[^p]*p"}
        ).collect()
    }
    assert out[1]["journey"] == "vcpv" and out[1]["adj"] == 1 and out[1]["gated"] == 1
    # user 2: 'vecp' — not adjacent, but the gated subsequence matches
    assert out[2]["journey"] == "vecp" and out[2]["adj"] == 0 and out[2]["gated"] == 1


def test_event_patterns_order_is_ts_then_id(spark):
    from ml_data_pipeline_spark.operators.funnel import event_patterns

    # identical timestamps: event_id breaks the tie deterministically
    rows = [
        (2, 1, "click", "2024-01-01 01:00:00"),
        (1, 1, "view", "2024-01-01 01:00:00"),
        (3, 1, "purchase", "2024-01-01 01:00:00"),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "event_type", "t"]).select(
        "event_id", "user_id", "event_type", F.col("t").cast("timestamp").alias("ts")
    )
    out = event_patterns(df.repartition(5), {"adj": "vcp"}).collect()[0]
    assert out["journey"] == "vcp" and out["adj"] == 1


def test_pmi_collocations_hand_computed(spark):
    from ml_data_pipeline_spark.operators.text import pmi_collocations

    import math

    # 'a b' always adjacent (5x); 'c', 'd' frequent but never adjacent to
    # each other; single-token doc must not break the bigram transform
    rows = [(i, "a b c") for i in range(5)] + [(10, "d"), (11, "c d x y z")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["bigram"]: r for r in pmi_collocations(df, top_k=10, min_count=2).collect()}
    n_tokens = 15 + 1 + 5
    ab = out["a b"]
    assert ab["cxy"] == 5
    assert abs(ab["pmi"] - round(math.log(n_tokens * 5 / (5 * 5)), 6)) < 1e-6
    assert "c d" not in out  # count 1 < min_count


def test_vocab_coverage_monotone_and_exact(spark):
    from ml_data_pipeline_spark.operators.text import vocab_coverage

    # 10 'a', 5 'b', 1 'c' -> top-1 covers 10/16, top-2 covers 15/16
    df = spark.createDataFrame(
        [(1, " ".join(["a"] * 10 + ["b"] * 5 + ["c"]))], ["doc_id", "text"]
    )
    out = {r["vocab_size"]: r for r in vocab_coverage(df, sizes=[1, 2, 3]).collect()}
    assert out[1]["coverage"] == round(10 / 16, 6)
    assert out[2]["coverage"] == round(15 / 16, 6)
    assert out[3]["coverage"] == 1.0
    assert out[1]["n_types"] == 3


def test_quota_allocation_sums_exactly_and_hamilton(spark):
    from ml_data_pipeline_spark.operators.sampling import quota_allocation

    # weights 1/2/3/4 over total 7: exact shares 0.7/1.4/2.1/2.8 ->
    # floors 0/1/2/2 (sum 5), remainders .7/.4/.1/.8 -> +1 to d and a
    rows = [("a", 1.0), ("b", 2.0), ("c", 3.0), ("d", 4.0)]
    df = spark.createDataFrame(rows, ["g", "w"])
    out = {r["g"]: r["quota"] for r in quota_allocation(df, "g", "w", 7).collect()}
    assert out == {"a": 1, "b": 1, "c": 2, "d": 3}
    assert sum(out.values()) == 7


def test_quota_allocation_total_exact_on_awkward_weights(spark):
    from ml_data_pipeline_spark.operators.sampling import quota_allocation

    df = spark.createDataFrame([(f"g{i}", float(i * i + 1)) for i in range(13)], ["g", "w"])
    for total in (1, 13, 997):
        got = quota_allocation(df, "g", "w", total).collect()
        assert sum(r["quota"] for r in got) == total
        assert all(r["quota"] >= 0 for r in got)


def test_prefix_jaccard_equals_brute_force(spark):
    from itertools import combinations

    from ml_data_pipeline_spark.operators.dedup import prefix_jaccard_pairs

    # skewed vocabulary: token 0 in every set (the 'the' problem)
    sets = {
        1: {0, 1, 2, 3},
        2: {0, 1, 2, 4},
        3: {0, 5, 6, 7},
        4: {0, 1, 2, 3},
        5: {0, 9},
    }
    rows = [(sid, t) for sid, s in sets.items() for t in s]
    df = spark.createDataFrame(rows, ["sid", "tok"])
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in prefix_jaccard_pairs(df, "sid", "tok", threshold=0.5).collect()
    }
    want = {}
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        j = inter / len(sets[a] | sets[b])
        if round(j, 6) >= 0.5:
            want[(a, b)] = round(j, 6)
    assert got == want
    assert (1, 4) in got and got[(1, 4)] == 1.0


def test_weighted_percentiles_hand_computed(spark):
    from ml_data_pipeline_spark.operators.profiling import weighted_percentiles

    rows = [("A", 10.0, 1.0), ("A", 20.0, 8.0), ("A", 30.0, 1.0), ("B", 5.0, 2.0)]
    df = spark.createDataFrame(rows, ["g", "v", "w"])
    got = {
        r["g"]: r
        for r in weighted_percentiles(
            df, "g", "v", "w", {"wp25": 0.25, "wp50": 0.5, "wp75": 0.75}
        ).collect()
    }
    # A weights 1/8/1: every quartile's cumulative mass lands on 20
    assert (got["A"]["wp25"], got["A"]["wp50"], got["A"]["wp75"]) == (20.0, 20.0, 20.0)
    assert got["B"]["wp50"] == 5.0  # single-value group


def test_revenue_bridge_effects_sum_to_delta(spark):
    from ml_data_pipeline_spark.queries import q_revenue_bridge

    from tests.conftest import SF_SMALL

    for r in q_revenue_bridge(spark, SF_SMALL).collect():
        # exact bridge identity: delta = volume + price (new-volume convention)
        assert abs(r["rev_delta"] - (r["volume_effect"] + r["price_effect"])) < 0.05


def test_ref_integrity_counts_planted_orphans(spark):
    from ml_data_pipeline_spark.operators.profiling import orphan_counts

    fact = spark.createDataFrame([(1,), (2,), (99,)], ["fk"])
    dim = spark.createDataFrame([(1,), (2,)], ["pk"])
    clean = spark.createDataFrame([(1,), (2,), (99,)], ["pk"])
    out = {
        r["edge"]: r["n_orphans"]
        for r in orphan_counts(
            [(fact, "fk", dim, "pk", "fact->dim"), (fact, "fk", clean, "pk", "fact->clean")]
        ).collect()
    }
    assert out == {"fact->dim": 1, "fact->clean": 0}


def test_nmi_extremes(spark):
    import math

    from ml_data_pipeline_spark.operators.profiling import normalized_mutual_info

    # identical labelings -> NMI exactly 1
    same = spark.createDataFrame([(i % 3, i % 3) for i in range(90)], ["a", "b"])
    r = normalized_mutual_info(same, "a", "b").collect()[0]
    assert r["nmi"] == 1.0 and abs(r["h_a"] - round(math.log(3), 6)) < 1e-6

    # independent labelings -> NMI ~ 0
    indep = spark.createDataFrame([(i % 3, i % 5) for i in range(90)], ["a", "b"])
    r2 = normalized_mutual_info(indep, "a", "b").collect()[0]
    assert abs(r2["nmi"]) < 1e-6 and r2["mi"] == 0.0

    # single-class side -> explicit NULL nmi
    degen = spark.createDataFrame([(0, i % 2) for i in range(10)], ["a", "b"])
    assert normalized_mutual_info(degen, "a", "b").collect()[0]["nmi"] is None


def test_ari_extremes_match_sklearn_semantics(spark):
    from ml_data_pipeline_spark.operators.profiling import adjusted_rand_index

    # identical partitions (under renamed labels) -> ARI exactly 1
    same = spark.createDataFrame([(i % 3, (i % 3) * 10) for i in range(60)], ["a", "b"])
    assert adjusted_rand_index(same, "a", "b").collect()[0]["ari"] == 1.0

    # perfectly uniform joint -> slightly BELOW chance (hand-computed:
    # S=225, E=1305*765/4005, M=1035 -> ARI = -0.030888), not exactly 0
    indep = spark.createDataFrame([(i % 3, i % 5) for i in range(90)], ["a", "b"])
    assert adjusted_rand_index(indep, "a", "b").collect()[0]["ari"] == -0.030888

    # hand-computed small case: a=[0,0,1,1], b=[0,1,0,1] -> ARI = -0.5
    tiny = spark.createDataFrame(
        [(0, 0), (0, 1), (1, 0), (1, 1)], ["a", "b"]
    )
    assert adjusted_rand_index(tiny, "a", "b").collect()[0]["ari"] == -0.5


def test_ari_degenerate_single_row_null(spark):
    from ml_data_pipeline_spark.operators.profiling import adjusted_rand_index

    one = spark.createDataFrame([(0, 0)], ["a", "b"])
    r = adjusted_rand_index(one, "a", "b").collect()[0]
    assert r["n"] == 1 and r["ari"] is None  # C(1,2)=0 -> explicit NULL


def test_ngram_novelty_order_and_dup(spark):
    from ml_data_pipeline_spark.operators.text import ngram_novelty

    rows = [
        (1, "a b c d"),          # 2 grams, both first-seen -> novelty 1
        (2, "a b c d"),          # exact dup of doc 1 -> novelty 0
        (3, "a b c x y z"),      # 4 grams, 'a b c' seen -> 3/4 novel
        (4, "x"),                # too short: 0 grams, null novelty
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["id"]: r for r in ngram_novelty(df, n=3).collect()}
    assert out[1]["novelty"] == 1.0 and out[1]["n_grams"] == 2
    assert out[2]["novelty"] == 0.0
    assert out[3]["novelty"] == 0.75
    assert out[4]["n_grams"] == 0 and out[4]["novelty"] is None


def test_pair_confusion_hand_computed(spark):
    from ml_data_pipeline_spark.operators.profiling import pair_confusion

    # a=[0,0,1,1], b=[0,1,0,1]: C(4,2)=6 pairs; tp=0; sa=sb=2 -> fp=fn=2, tn=2
    df = spark.createDataFrame([(0, 0), (0, 1), (1, 0), (1, 1)], ["a", "b"])
    r = pair_confusion(df, "a", "b").collect()[0]
    assert (r["tp_pairs"], r["fp_pairs"], r["fn_pairs"], r["tn_pairs"]) == (0, 2, 2, 2)
    assert r["fowlkes_mallows"] == 0.0 and r["rand_index"] == round(2 / 6, 6)

    # identical labelings: all together-pairs agree -> FM = rand = 1
    same = spark.createDataFrame([(i % 3, i % 3) for i in range(30)], ["a", "b"])
    r2 = pair_confusion(same, "a", "b").collect()[0]
    assert r2["fowlkes_mallows"] == 1.0 and r2["rand_index"] == 1.0
    assert r2["fp_pairs"] == 0 and r2["fn_pairs"] == 0


def test_skyline_hand_computed(spark):
    from ml_data_pipeline_spark.queries import q_skyline  # gate uses the scan shape

    # direct check of the scan: per-date max then strictly-improving keep
    from pyspark.sql import Window

    rows = [
        ("2024-01-01", 50.0), ("2024-01-01", 80.0),  # day 1 max 80 -> skyline
        ("2024-01-02", 70.0),                        # dominated (later, lower)
        ("2024-01-03", 90.0),                        # improves -> skyline
        ("2024-01-04", 90.0),                        # ties prior max -> dominated
    ]
    df = spark.createDataFrame(rows, ["d", "p"])
    per_d = df.groupBy("d").agg(F.max("p").alias("pmax"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    sky = (
        per_d.withColumn("prev", F.max("pmax").over(w))
        .where(F.col("prev").isNull() | (F.col("pmax") > F.col("prev")))
        .collect()
    )
    assert sorted((r["d"], r["pmax"]) for r in sky) == [
        ("2024-01-01", 80.0),
        ("2024-01-03", 90.0),
    ]


# ---------------------------------------------------------------- round-4: quantile transform + containment


def test_quantile_transform_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, 10.0), (3, 20.0), (4, 30.0), (5, None)],
        "id int, v double",
    )
    got = {
        r["id"]: r["v_q"]
        for r in E.quantile_transform(df, "v").collect()
    }
    # n=4 non-null: 10.0 -> 0/3, 20.0 -> 2/3, 30.0 -> 3/3; null stays null
    assert got[1] == 0.0 and got[2] == 0.0
    assert abs(got[3] - 2 / 3) < 1e-12
    assert got[4] == 1.0
    assert got[5] is None


def test_quantile_transform_single_value(spark):
    df = spark.createDataFrame([(1, 5.0), (2, 5.0)], "id int, v double")
    got = {r["id"]: r["v_q"] for r in E.quantile_transform(df, "v").collect()}
    assert got == {1: 0.0, 2: 0.0}


def test_quantile_transform_row_count_preserved(spark):
    df = spark.createDataFrame([(i, float(i % 7)) for i in range(100)], "id int, v double")
    out = E.quantile_transform(df, "v", "q")
    assert out.count() == 100
    # monotone: bigger value -> bigger quantile
    m = {r["v"]: r["q"] for r in out.select("v", "q").distinct().collect()}
    vs = sorted(m)
    assert all(m[a] < m[b] for a, b in zip(vs, vs[1:]))


def test_containment_subset_doc(spark):
    # doc 2 is a verbatim chunk of doc 1: containment(2 -> 1) == 1.0,
    # while jaccard would be diluted by doc 1's extra grams
    long = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    short = "gamma delta epsilon zeta"
    df = spark.createDataFrame([(1, long), (2, short)], "doc_id long, text string")
    rows = {
        (r["id_src"], r["id_dst"]): r["containment"]
        for r in DD.ngram_containment_pairs(df, n=3, threshold=0.1).collect()
    }
    assert rows[(2, 1)] == 1.0  # short fully inside long
    assert rows[(1, 2)] == 0.25  # 2 shared grams / 8 grams of the long doc


def test_containment_matches_bruteforce(spark):
    import itertools

    texts = {
        1: "a b c d e f",
        2: "c d e f g h",
        3: "x y z w q r",
        4: "a b c d",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")

    def grams(t):
        tk = t.split()
        return {" ".join(tk[i : i + 3]) for i in range(len(tk) - 2)}

    expected = {}
    for a, b in itertools.permutations(texts, 2):
        ga, gb = grams(texts[a]), grams(texts[b])
        c = len(ga & gb) / len(ga)
        if c >= 0.3:
            expected[(a, b)] = round(c, 6)
    got = {
        (r["id_src"], r["id_dst"]): r["containment"]
        for r in DD.ngram_containment_pairs(df, n=3, threshold=0.3).collect()
    }
    assert got == expected


def test_krippendorff_alpha_hand_computed(spark):
    # unit1: (a,a) agrees, unit2: (a,b) disagrees -> D_o = 0.5, D_e = 0.5
    df = spark.createDataFrame(
        [(1, 0, "a"), (1, 1, "a"), (2, 0, "a"), (2, 1, "b")],
        "u int, r int, v string",
    )
    out = P.krippendorff_alpha(df, "u", "r", "v").collect()[0]
    assert out["n_units"] == 2 and out["n_ratings"] == 4
    assert out["d_o"] == 0.5 and out["d_e"] == 0.5
    assert out["alpha"] == 0.0


def test_krippendorff_alpha_perfect_and_excluded_units(spark):
    df = spark.createDataFrame(
        [(1, 0, "x"), (1, 1, "x"), (2, 0, "y"), (2, 1, "y"), (3, 0, "z")],
        "u int, r int, v string",
    )
    out = P.krippendorff_alpha(df, "u", "r", "v").collect()[0]
    # unit 3 (single rating) excluded from n; perfect agreement -> alpha = 1
    assert out["n_ratings"] == 4 and out["n_units"] == 2
    assert out["d_o"] == 0.0 and out["alpha"] == 1.0


def test_krippendorff_alpha_matches_bruteforce(spark):
    import itertools

    data = [
        (u, r, ["a", "b", "c"][(u * 3 + r * (1 + u % 2)) % 3])
        for u in range(12)
        for r in range(3 if u % 4 else 2)
    ]
    df = spark.createDataFrame(data, "u int, r int, v string")
    got = P.krippendorff_alpha(df, "u", "r", "v").collect()[0]
    # independent coincidence-matrix construction
    units = {}
    for u, r, v in data:
        units.setdefault(u, []).append(v)
    units = {u: vs for u, vs in units.items() if len(vs) >= 2}
    n = sum(len(vs) for vs in units.values())
    do_num = 0.0
    nc: dict[str, int] = {}
    for vs in units.values():
        m = len(vs)
        for va, vb in itertools.permutations(vs, 2):
            if va != vb:
                do_num += 1.0 / (m - 1)
        for v in vs:
            nc[v] = nc.get(v, 0) + 1
    d_o = do_num / n
    d_e = (n * n - sum(c * c for c in nc.values())) / (n * (n - 1))
    assert got["d_o"] == round(d_o, 6)
    assert got["d_e"] == round(d_e, 6)
    assert got["alpha"] == round(1 - d_o / d_e, 6)


def test_rrf_fusion_hand_computed(spark):
    from ml_data_pipeline_spark.operators.ranking import rrf_fusion

    la = spark.createDataFrame([(10, 1), (20, 2), (30, 3)], "id int, rank int")
    lb = spark.createDataFrame([(20, 1), (10, 2), (40, 3)], "id int, rank int")
    rows = {r["id"]: (r["rrf_score"], r["n_lists"]) for r in
            rrf_fusion([la, lb], id_col="id").collect()}
    assert rows[10] == (round(1 / 61 + 1 / 62, 6), 2)
    assert rows[20] == (round(1 / 62 + 1 / 61, 6), 2)
    assert rows[30] == (round(1 / 63, 6), 1)
    assert rows[40] == (round(1 / 63, 6), 1)


def test_rrf_fusion_dedups_dirty_ranker(spark):
    # a duplicated id WITHIN one list collapses to its best rank: n_lists
    # can never exceed len(frames) and the dup can't double-vote
    from ml_data_pipeline_spark.operators.ranking import rrf_fusion

    la = spark.createDataFrame([(10, 1), (10, 3), (20, 2)], "id int, rank int")
    lb = spark.createDataFrame([(10, 2)], "id int, rank int")
    rows = {r["id"]: (r["rrf_score"], r["n_lists"]) for r in
            rrf_fusion([la, lb], id_col="id").collect()}
    assert rows[10] == (round(1 / 61 + 1 / 62, 6), 2)
    assert rows[20] == (round(1 / 62, 6), 1)


def test_rrf_fusion_requires_frames(spark):
    from ml_data_pipeline_spark.operators.ranking import rrf_fusion
    import pytest as _pt

    with _pt.raises(ValueError):
        rrf_fusion([])


def test_poisson_bootstrap_ci_properties(spark):
    from ml_data_pipeline_spark.operators import sampling as SA2

    df = spark.createDataFrame(
        [(i, float(50 + (i * 37) % 100)) for i in range(2000)], "id long, v double"
    )
    out = SA2.poisson_bootstrap_ci(df, "v", "id", n_replicates=40, seed=3).collect()[0]
    assert out["n_rows"] == 2000 and out["n_replicates"] == 40
    # CI brackets the point estimate and is deterministic across runs
    assert out["ci_lo"] <= out["mean"] <= out["ci_hi"]
    assert out["ci_lo"] < out["ci_hi"]
    again = SA2.poisson_bootstrap_ci(df, "v", "id", n_replicates=40, seed=3).collect()[0]
    assert out == again
    # a different seed draws different replicates (CI moves)
    other = SA2.poisson_bootstrap_ci(df, "v", "id", n_replicates=40, seed=4).collect()[0]
    assert (other["ci_lo"], other["ci_hi"]) != (out["ci_lo"], out["ci_hi"])


def test_cramers_v_hand_computed(spark):
    from ml_data_pipeline_spark.operators import profiling as P2

    # 2x2 table: a=(x: 30/10, y: 10/30) -> chi2 = 80*(30*30-10*10)^2/(40*40*40*40)
    rows = (
        [("x", "u")] * 30 + [("x", "v")] * 10 + [("y", "u")] * 10 + [("y", "v")] * 30
    )
    df = spark.createDataFrame(rows, "a string, b string")
    out = P2.cramers_v(df, "a", "b").collect()[0]
    n = 80
    chi2 = n * (30 * 30 - 10 * 10) ** 2 / (40 * 40 * 40 * 40)
    assert out["n"] == n and out["dof"] == 1
    assert out["chi2"] == round(chi2, 6)
    assert out["cramers_v"] == round((chi2 / n) ** 0.5, 6)  # min(|A|,|B|)-1 = 1


def test_cramers_v_perfect_association(spark):
    from ml_data_pipeline_spark.operators import profiling as P2

    df = spark.createDataFrame(
        [("x", "u")] * 5 + [("y", "v")] * 5, "a string, b string"
    )
    assert P2.cramers_v(df, "a", "b").collect()[0]["cramers_v"] == 1.0


def test_cohens_kappa_hand_computed(spark):
    from ml_data_pipeline_spark.operators import profiling as P2

    # classic example: po = 0.7, marginals a:(0.5,0.5), b:(0.6,0.4) -> pe = 0.5
    rows = (
        [("p", "p")] * 40 + [("p", "n")] * 10 + [("n", "p")] * 20 + [("n", "n")] * 30
    )
    df = spark.createDataFrame(rows, "ra string, rb string")
    out = P2.cohens_kappa(df, "ra", "rb").collect()[0]
    assert out["n"] == 100 and out["po"] == 0.7 and out["pe"] == 0.5
    assert out["kappa"] == round((0.7 - 0.5) / 0.5, 6)


def test_cohens_kappa_degenerate_total_agreement(spark):
    from ml_data_pipeline_spark.operators import profiling as P2

    # single label from both raters: pe = 1 -> kappa undefined (NULL, not crash)
    df = spark.createDataFrame([("p", "p")] * 5, "ra string, rb string")
    out = P2.cohens_kappa(df, "ra", "rb").collect()[0]
    assert out["po"] == 1.0 and out["pe"] == 1.0 and out["kappa"] is None


def test_acf_hand_computed(spark):
    from ml_data_pipeline_spark.operators import temporal as TP2

    xs = [1.0, 2.0, 3.0, 4.0, 5.0, 4.0, 3.0, 2.0]
    df = spark.createDataFrame(
        [(i, x) for i, x in enumerate(xs)], "t int, x double"
    )
    out = {r["lag"]: r for r in TP2.acf(df, "x", "t", max_lag=3).collect()}
    m = sum(xs) / len(xs)
    ss = sum((x - m) ** 2 for x in xs)
    for k in (1, 2, 3):
        num = sum((xs[t] - m) * (xs[t - k] - m) for t in range(k, len(xs)))
        assert out[k]["acf"] == round(num / ss, 6), k
        assert out[k]["n_pairs"] == len(xs) - k


def test_acf_constant_series_null_not_crash(spark):
    from ml_data_pipeline_spark.operators import temporal as TP2

    df = spark.createDataFrame([(i, 2.0) for i in range(6)], "t int, x double")
    rows = TP2.acf(df, "x", "t", max_lag=2).collect()
    # zero variance -> 0/0; ANSI-safe NULL (division by zero guard via ss=0)
    assert all(r["acf"] is None for r in rows)


def test_mann_whitney_hand_computed(spark):
    from ml_data_pipeline_spark.operators import profiling as P3

    # A = [1,2,3], B = [2,4]; pooled ranks: 1->1, 2->(2+3)/2=2.5 (tie), 3->4, 4->5
    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 2.0), ("b", 4.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = P3.mann_whitney_u(df, "v", "g", "a", "b").collect()[0]
    ra = 1 + 2.5 + 4
    u_a = ra - 3 * 4 / 2
    assert out["n_a"] == 3 and out["n_b"] == 2
    assert out["u_a"] == round(u_a, 6)
    ties = 2**3 - 2
    var = 3 * 2 / 12 * ((5 + 1) - ties / (5 * 4))
    assert out["z"] == round((u_a - 3 * 2 / 2) / var**0.5, 6)


def test_mann_whitney_all_tied_null_z(spark):
    from ml_data_pipeline_spark.operators import profiling as P3

    df = spark.createDataFrame(
        [("a", 5.0)] * 3 + [("b", 5.0)] * 3, "g string, v double"
    )
    out = P3.mann_whitney_u(df, "v", "g", "a", "b").collect()[0]
    assert out["u_a"] == round(3 * 3 / 2, 6)  # all ranks tie at the midpoint
    assert out["z"] is None  # zero variance -> NULL, not crash


def test_cuped_hand_computed(spark):
    from ml_data_pipeline_spark.operators import profiling as P3

    # y = 2x + noise-free -> theta = 2, var_reduction = 1
    rows = [(float(x), 2.0 * x) for x in range(10)]
    df = spark.createDataFrame(rows, "x double, y double")
    out = P3.cuped_adjustment(df, "y", "x").collect()[0]
    assert out["n"] == 10 and out["theta"] == 2.0 and out["var_reduction"] == 1.0


def test_cuped_constant_covariate_null(spark):
    from ml_data_pipeline_spark.operators import profiling as P3

    df = spark.createDataFrame(
        [(1.0, float(y)) for y in range(5)], "x double, y double"
    )
    out = P3.cuped_adjustment(df, "y", "x").collect()[0]
    assert out["theta"] is None and out["var_reduction"] is None


def test_hll_shard_sketches_merge_estimate(spark):
    """Re-aggregatable HLL (r8): per-shard sketches unioned estimate the
    same cardinality as a single-pass sketch (within 1%) and the exact
    count (within 5%) — the persisted-sketch pattern for 100 TB distinct
    counts."""
    from ml_data_pipeline_spark.operators.profiling import (
        hll_merge_estimate,
        hll_shard_sketches,
    )
    from pyspark.sql import functions as F

    df = spark.range(20_000).select(
        (F.col("id") % 3137).alias("v"), F.pmod(F.xxhash64("id"), F.lit(6)).alias("sh")
    )
    sketches = hll_shard_sketches(df, "v", "sh")
    assert sketches.count() == 6
    merged = hll_merge_estimate(sketches)
    single = int(
        df.agg(F.expr("hll_sketch_estimate(hll_sketch_agg(v, 12))")).first()[0]
    )
    assert abs(merged - single) <= max(1, round(0.01 * single))
    assert abs(merged - 3137) <= 0.05 * 3137


def test_append_ngram_index_double_append_is_idempotent(spark):
    """Review fix (r8): a crash-recovery RETRY of the append job itself
    (not just the probe) must not fold the batch in twice — duplicated
    index rows double-count shared grams for every future batch."""
    import shutil
    from urllib.parse import urlparse

    old = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    batch = spark.createDataFrame([(10, "a b c d e")], "doc_id long, text string")
    nxt = spark.createDataFrame([(20, "a b c d e")], "doc_id long, text string")
    tbl = "mdp_test_idx_double_append"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh}/{tbl}", ignore_errors=True)
    DD.build_ngram_index(old, tbl, n=3, num_buckets=4)
    DD.append_ngram_index(batch, tbl, n=3, num_buckets=4)
    n_after_first = spark.table(tbl).count()
    DD.append_ngram_index(batch, tbl, n=3, num_buckets=4)  # retried append
    assert spark.table(tbl).count() == n_after_first  # zero rows added
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.incremental_ngram_jaccard_pairs_indexed(
            nxt, tbl, n=3, threshold=0.1
        ).collect()
    }
    # identical texts: every pair exactly 1.0 — a double-folded batch would
    # have produced jaccard 3.0 for (10, 20)
    assert pairs == {(1, 20): 1.0, (10, 20): 1.0}


def test_ensure_parallel_branches(spark, tmp_path):
    """Pin the r8 review fixes in the under-split partition probe:
    a Sort-rooted frame is exchange-governed (never blindly reshuffled),
    a keyed repartition survives (RepartitionByExpression counts), a
    join-rooted broadcast plan falls to the exact probe (and a 1-partition
    broadcast result IS repartitioned), and non-splittable .gz files
    estimate one partition per file (forcing the repartition a byte-size
    estimate would skip)."""
    from pyspark.sql import functions as F

    from ml_data_pipeline_spark.operators.dedup import _ensure_parallel

    p = str(tmp_path / "one.parquet")
    spark.range(1000).select(
        F.col("id").alias("doc_id"), F.lit("x y z").alias("text")
    ).coalesce(1).write.mode("overwrite").parquet(p)
    scan = spark.read.parquet(p)

    # sorted: left alone (the range exchange governs partitioning)
    srt = scan.orderBy("doc_id")
    assert _ensure_parallel(srt) is srt
    # keyed repartition: left alone (RepartitionByExpression)
    keyed = scan.repartition(64, "doc_id")
    assert _ensure_parallel(keyed) is keyed
    # broadcast-join-rooted, 1 input partition: the exact probe sees 1 and
    # repartitions (the logical 'Join' token must NOT cause a skip)
    dim = spark.createDataFrame([("x y z",)], "text string")
    joined = scan.join(F.broadcast(dim), "text")
    out = _ensure_parallel(joined)
    assert out is not joined
    assert out.rdd.getNumPartitions() >= 2
    # non-splittable csv.gz: est = #files = 1 < threshold → repartitioned
    gz = str(tmp_path / "gzcsv")
    scan.coalesce(1).write.mode("overwrite").option("compression", "gzip").csv(
        gz, header=True
    )
    gzdf = spark.read.option("header", True).csv(gz)
    out2 = _ensure_parallel(gzdf)
    assert out2.rdd.getNumPartitions() >= 2


def test_ensure_parallel_join_precedes_dim_side_exchange(spark, tmp_path):
    """ADVICE r8: an exchange-forcing node that appears only UNDER a Join
    (here: an Aggregate on the broadcast/dim side) must NOT skip the probe
    — the join's output partitioning is the 1-partition scan side's, so
    the exact RDD probe must run and repartition. An Aggregate ABOVE the
    join (on the output spine) still governs partitioning and skips."""
    from ml_data_pipeline_spark.operators.dedup import _ensure_parallel

    p = str(tmp_path / "one.parquet")
    spark.range(1000).select(
        F.col("id").alias("doc_id"), F.lit("x y z").alias("text")
    ).coalesce(1).write.mode("overwrite").parquet(p)
    scan = spark.read.parquet(p)
    dim = (
        spark.createDataFrame([("x y z", 1), ("x y z", 2)], "text string, v int")
        .groupBy("text")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    joined = scan.join(F.broadcast(dim), "text")
    out = _ensure_parallel(joined)
    assert out is not joined  # dim-side Aggregate must not mask the join
    assert out.rdd.getNumPartitions() >= 2
    # spine aggregate above the join: exchange-governed, left alone
    agg_above = joined.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    assert _ensure_parallel(agg_above) is agg_above


def _fresh_index_tbl(spark, tbl):
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in (tbl, f"{tbl}__manifest", f"{tbl}__ids"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)


def test_append_ngram_index_retry_reads_only_manifest(spark):
    """r9 manifest protocol: a full retry of a committed append is decided
    by the manifest alone — zero stored-index IO (VERDICT r8 item 2). The
    manifest holds exactly (pending, committed) for the batch, and the
    returned batch id is the deterministic content fingerprint."""
    old = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    batch = spark.createDataFrame([(10, "a b c d e")], "doc_id long, text string")
    tbl = "mdp_test_idx_manifest"
    _fresh_index_tbl(spark, tbl)
    DD.build_ngram_index(old, tbl, n=3, num_buckets=4)
    bid1 = DD.append_ngram_index(batch, tbl, n=3, num_buckets=4)
    rows = {
        (r["batch_id"], r["phase"]) for r in spark.table(f"{tbl}__manifest").collect()
    }
    assert rows == {(bid1, "pending"), (bid1, "committed")}
    n = spark.table(tbl).count()
    bid2 = DD.append_ngram_index(batch, tbl, n=3, num_buckets=4)  # retry
    assert bid2 == bid1
    assert spark.table(tbl).count() == n  # no-op
    # retry added NO manifest rows either (committed short-circuits)
    assert spark.table(f"{tbl}__manifest").count() == 2


def test_append_ngram_index_repairs_after_crash_before_commit(spark):
    """Crash window: prior attempt wrote the index rows but died before the
    'committed' mark. The retry must take the REPAIR path — anti-join out
    the already-present ids, append nothing new, and mark committed."""
    old = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    batch = spark.createDataFrame([(10, "a b c d f")], "doc_id long, text string")
    tbl = "mdp_test_idx_crash"
    _fresh_index_tbl(spark, tbl)
    DD.build_ngram_index(old, tbl, n=3, num_buckets=4)
    # simulate the dead attempt: pending mark + full index write, no commit
    shingled = (
        batch.select(F.col("doc_id").alias("id"), DD._gram_expr("text", 3).alias("g"))
        .select("id", F.size("g").alias("n"), F.explode("g").alias("gram"))
    )
    bid = DD.batch_fingerprint(shingled)
    DD._manifest_mark(spark, tbl, bid, "pending")
    shingled.write.mode("append").bucketBy(4, "gram").sortBy("gram").format(
        "parquet"
    ).saveAsTable(tbl)
    n = spark.table(tbl).count()
    got = DD.append_ngram_index(batch, tbl, n=3, num_buckets=4)
    assert got == bid
    assert spark.table(tbl).count() == n  # repaired, not double-folded
    assert "committed" in DD._manifest_phases(spark, tbl, bid)
    # probe still exact after recovery
    nxt = spark.createDataFrame([(20, "a b c d f")], "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.incremental_ngram_jaccard_pairs_indexed(
            nxt, tbl, n=3, threshold=0.5
        ).collect()
    }
    assert pairs[(10, 20)] == 1.0 and (1, 1) not in pairs


def test_append_ngram_index_torn_batch_fails_loudly(spark):
    """A HALF-written doc (per-attempt atomicity lost) must raise, never be
    silently dropped or kept corrupt (ADVICE r8: silent data loss)."""
    import pytest

    old = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    batch = spark.createDataFrame([(10, "a b c d f")], "doc_id long, text string")
    tbl = "mdp_test_idx_torn"
    _fresh_index_tbl(spark, tbl)
    DD.build_ngram_index(old, tbl, n=3, num_buckets=4)
    shingled = (
        batch.select(F.col("doc_id").alias("id"), DD._gram_expr("text", 3).alias("g"))
        .select("id", F.size("g").alias("n"), F.explode("g").alias("gram"))
    )
    bid = DD.batch_fingerprint(shingled)
    DD._manifest_mark(spark, tbl, bid, "pending")
    # tear the write: only 1 of doc 10's 3 grams lands
    shingled.limit(1).write.mode("append").bucketBy(4, "gram").sortBy("gram").format(
        "parquet"
    ).saveAsTable(tbl)
    with pytest.raises(RuntimeError, match="PARTIALLY present"):
        DD.append_ngram_index(batch, tbl, n=3, num_buckets=4)


def test_tracked_caches_release(spark):
    """ADVICE r8: operator caches whose pin must outlive the call (the
    returned lazy frame reads them) are registered with the cache module;
    release_tracked() unpersists them all so a long-lived session doesn't
    accumulate pinned storage across repeated operator invocations."""
    from ml_data_pipeline_spark import cache as C
    from ml_data_pipeline_spark.operators.profiling import spearman_corr

    C.release_tracked()  # clean slate
    df = spark.createDataFrame(
        [(float(i), float(i * i % 7)) for i in range(100)], "a double, b double"
    )
    out = spearman_corr(df, "a", "b")
    out.collect()
    assert C.tracked_count() >= 1
    released = C.release_tracked()
    assert released >= 1 and C.tracked_count() == 0
    # the released frame recomputes fine (lineage intact, cache just gone)
    assert out.collect()[0]["n_rows"] == 100


def test_append_ngram_index_same_id_reingest_is_dropped_not_doubled(spark):
    """r9 review fix: a doc id re-ingested in a LATER batch (different
    batch fingerprint) must be anti-joined out against the per-doc __ids
    table — the pre-r9 keep-the-old-grams semantics — never folded in a
    second time (duplicated gram rows make jaccard > 1 for every future
    probe)."""
    old = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    b1 = spark.createDataFrame([(10, "a b c d f")], "doc_id long, text string")
    # same id 10, EDITED text → different content fingerprint → new batch
    b2 = spark.createDataFrame(
        [(10, "x y z w v"), (11, "a b c d f")], "doc_id long, text string"
    )
    tbl = "mdp_test_idx_reingest"
    _fresh_index_tbl(spark, tbl)
    DD.build_ngram_index(old, tbl, n=3, num_buckets=4)
    bid1 = DD.append_ngram_index(b1, tbl, n=3, num_buckets=4)
    bid2 = DD.append_ngram_index(b2, tbl, n=3, num_buckets=4)
    assert bid1 != bid2  # content fingerprint, not id-only
    # doc 10 keeps its ORIGINAL grams: exactly 3 rows for id 10, none of
    # them from the edited text
    rows10 = spark.table(tbl).where(F.col("id") == 10).collect()
    assert len(rows10) == 3
    assert all("x" not in r["gram"] for r in rows10)
    # and a future probe still sees consistent jaccard <= 1.0
    nxt = spark.createDataFrame([(20, "a b c d f")], "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.incremental_ngram_jaccard_pairs_indexed(
            nxt, tbl, n=3, threshold=0.1
        ).collect()
    }
    assert pairs[(10, 20)] == 1.0 and pairs[(11, 20)] == 1.0
    assert all(j <= 1.0 for j in pairs.values())


def test_append_ngram_index_abandoned_foreign_batch(spark):
    """r9 review (pass 2): an __ids row from a crashed attempt under a
    DIFFERENT, never-committed batch_id must not anti-join a doc out
    forever. If the dead attempt died BEFORE its index write the current
    batch legitimately owns the doc (grams written); if it died AFTER
    (grams present, no commit mark) the append RAISES naming the
    abandoned batch instead of double-folding."""
    import pytest

    old = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    tbl = "mdp_test_idx_foreign"
    _fresh_index_tbl(spark, tbl)
    DD.build_ngram_index(old, tbl, n=3, num_buckets=4)
    # case 1: dead foreign attempt recorded the id but wrote NO grams
    DD._manifest_mark(spark, tbl, "dead_v1", "pending")
    spark.createDataFrame([(10, "dead_v1")], "id long, batch_id string").write.mode(
        "append"
    ).format("parquet").saveAsTable(f"{tbl}__ids")
    b2 = spark.createDataFrame([(10, "p q r s t")], "doc_id long, text string")
    DD.append_ngram_index(b2, tbl, n=3, num_buckets=4)
    assert spark.table(tbl).where(F.col("id") == 10).count() == 3  # owned now
    # case 2: dead foreign attempt DID land grams (crash before commit)
    DD._manifest_mark(spark, tbl, "dead_v2", "pending")
    spark.createDataFrame([(20, "dead_v2")], "id long, batch_id string").write.mode(
        "append"
    ).format("parquet").saveAsTable(f"{tbl}__ids")
    shingled = (
        spark.createDataFrame([(20, "k l m n o")], "doc_id long, text string")
        .select(F.col("doc_id").alias("id"), DD._gram_expr("text", 3).alias("g"))
        .select("id", F.size("g").alias("n"), F.explode("g").alias("gram"))
    )
    shingled.write.mode("append").bucketBy(4, "gram").sortBy("gram").format(
        "parquet"
    ).saveAsTable(tbl)
    b3 = spark.createDataFrame([(20, "k l m n z")], "doc_id long, text string")
    with pytest.raises(RuntimeError, match="UNCOMMITTED batch"):
        DD.append_ngram_index(b3, tbl, n=3, num_buckets=4)


def test_batch_fingerprint_order_and_partition_insensitive(spark):
    """The manifest protocol's idempotence rests on the batch fingerprint
    being a pure content function: row order, partitioning, and partition
    count must not change it; any (id, gram) content change must."""
    df = spark.createDataFrame(
        [(1, "g1"), (1, "g2"), (2, "g1")], "id long, gram string"
    )
    a = DD.batch_fingerprint(df)
    assert DD.batch_fingerprint(df.repartition(7)) == a
    assert DD.batch_fingerprint(df.orderBy(F.desc("gram")).coalesce(1)) == a
    edited = spark.createDataFrame(
        [(1, "g1"), (1, "gX"), (2, "g1")], "id long, gram string"
    )
    assert DD.batch_fingerprint(edited) != a


def test_index_within_batch_duplicate_ids_collapse_or_raise(spark):
    """ADVICE r9 (medium): a batch whose rows REPEAT a doc id used to be
    double-folded — exact-duplicate ids produce no new x new probe pair
    (join requires id > pid), so they passed the probe/reject step and
    corrupted the stored index (jaccard > 1 on future probes). Now:
    exact-duplicate (id, text) rows collapse silently; an id carrying two
    DIFFERENT texts raises — in both build_ngram_index and
    append_ngram_index."""
    import pytest

    old = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    tbl = "mdp_test_idx_batchdup"
    _fresh_index_tbl(spark, tbl)
    DD.build_ngram_index(old, tbl, n=3, num_buckets=4)
    # exact-duplicate rows in one batch: folded ONCE (3 gram rows, not 6)
    dup_batch = spark.createDataFrame(
        [(10, "a b c d f"), (10, "a b c d f")], "doc_id long, text string"
    )
    DD.append_ngram_index(dup_batch, tbl, n=3, num_buckets=4)
    assert spark.table(tbl).where(F.col("id") == 10).count() == 3
    # future probe sees jaccard exactly 1.0, never > 1
    nxt = spark.createDataFrame([(20, "a b c d f")], "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.incremental_ngram_jaccard_pairs_indexed(
            nxt, tbl, n=3, threshold=0.1
        ).collect()
    }
    assert pairs[(10, 20)] == 1.0 and all(j <= 1.0 for j in pairs.values())
    # conflicting texts under one id: LOUD, both entry points
    conflict = spark.createDataFrame(
        [(30, "p q r s t"), (30, "p q r s u")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="CONFLICTING text"):
        DD.append_ngram_index(conflict, tbl, n=3, num_buckets=4)
    with pytest.raises(ValueError, match="CONFLICTING text"):
        DD.build_ngram_index(conflict, "mdp_test_idx_batchdup_b", n=3, num_buckets=4)
    # build with exact-duplicate rows: indexed once
    tbl2 = "mdp_test_idx_batchdup_c"
    _fresh_index_tbl(spark, tbl2)
    DD.build_ngram_index(
        spark.createDataFrame(
            [(1, "a b c d e"), (1, "a b c d e")], "doc_id long, text string"
        ),
        tbl2,
        n=3,
        num_buckets=4,
    )
    assert spark.table(tbl2).count() == 3
    _fresh_index_tbl(spark, tbl)
    _fresh_index_tbl(spark, tbl2)
    _fresh_index_tbl(spark, "mdp_test_idx_batchdup_b")


def test_incremental_probe_guards_duplicate_batch_rows(spark):
    """r10 review: the PROBE entry points get the same within-batch
    duplicate-id guard as build/append — a dup-row batch used to double
    inter counts (na+nb-inter hits 0 → NULL jaccard silently drops a TRUE
    duplicate)."""
    import pytest

    old = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    tbl = "mdp_test_idx_probedup"
    _fresh_index_tbl(spark, tbl)
    DD.build_ngram_index(old, tbl, n=3, num_buckets=4)
    dup_batch = spark.createDataFrame(
        [(10, "a b c d e"), (10, "a b c d e")], "doc_id long, text string"
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.incremental_ngram_jaccard_pairs_indexed(
            dup_batch, tbl, n=3, threshold=0.5
        ).collect()
    }
    assert pairs == {(1, 10): 1.0}  # the true duplicate is FOUND, once
    conflict = spark.createDataFrame(
        [(10, "a b c d e"), (10, "x y z w v")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="CONFLICTING text"):
        DD.incremental_ngram_jaccard_pairs_indexed(conflict, tbl, n=3).collect()
    # self-contained form: same guard, and an id marked both old and new
    # (same text twice, different predicate value) raises too
    both = spark.createDataFrame(
        [(1, "a b c d e", False), (1, "a b c d e", True)],
        "doc_id long, text string, is_new boolean",
    )
    with pytest.raises(ValueError, match="CONFLICTING"):
        DD.incremental_ngram_jaccard_pairs(
            both, F.col("is_new"), n=3, threshold=0.1
        ).collect()
    _fresh_index_tbl(spark, tbl)


def test_drop_ngram_index_removes_companions(spark):
    """r10 review: public teardown drops the index and BOTH companions."""
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    tbl = "mdp_test_idx_drop"
    _fresh_index_tbl(spark, tbl)
    DD.build_ngram_index(docs, tbl, n=3, num_buckets=4)
    assert spark.catalog.tableExists(tbl)
    assert spark.catalog.tableExists(f"{tbl}__manifest") or True  # created on 1st append
    DD.append_ngram_index(
        spark.createDataFrame([(2, "a b c d f")], "doc_id long, text string"),
        tbl, n=3, num_buckets=4,
    )
    assert spark.catalog.tableExists(f"{tbl}__manifest")
    assert spark.catalog.tableExists(f"{tbl}__ids")
    DD.drop_ngram_index(spark, tbl)
    for t in (tbl, f"{tbl}__manifest", f"{tbl}__ids"):
        assert not spark.catalog.tableExists(t), t
    # and a rebuild on the same name works (no orphaned warehouse dirs)
    DD.build_ngram_index(docs, tbl, n=3, num_buckets=4)
    assert spark.catalog.tableExists(tbl)
    DD.drop_ngram_index(spark, tbl)


def test_chunk_documents_no_contained_final_chunk(spark):
    """r10 review: a doc whose length leaves remainder <= overlap used to
    emit a final chunk fully contained in its predecessor — duplicate text
    injected into the prepared corpus. Count is now
    ceil(max(len-overlap,1)/stride); every chunk contributes at least one
    new character, full coverage holds, and negative overlap raises."""
    import pytest

    from ml_data_pipeline_spark.operators import text as TX

    docs = spark.createDataFrame(
        [(1, "x" * 180), (2, "y" * 200), (3, "z" * 201), (4, "w" * 350), (5, "v" * 351)],
        "doc_id long, text string",
    )
    out = TX.chunk_documents(docs, chunk_chars=200, overlap=50)
    rows = sorted(
        ((r["doc_id"], r["chunk_id"], r["chunk"]) for r in out.collect())
    )
    per_doc = {}
    for d, c, ch in rows:
        per_doc.setdefault(d, []).append(ch)
    # 180 chars: ONE chunk (the old formula emitted a contained second)
    assert len(per_doc[1]) == 1
    assert len(per_doc[2]) == 1 and len(per_doc[3]) == 2
    assert len(per_doc[4]) == 2 and len(per_doc[5]) == 3
    # coverage + novelty: chunks concatenated re-cover the doc, and no
    # chunk is a suffix-contained duplicate of its predecessor
    for d, chunks in per_doc.items():
        text = {1: "x" * 180, 2: "y" * 200, 3: "z" * 201, 4: "w" * 350, 5: "v" * 351}[d]
        covered = set()
        for i, ch in enumerate(chunks):
            start = i * 150
            covered.update(range(start, start + len(ch)))
            if i > 0:
                assert start + len(ch) > 150 * (i - 1) + len(chunks[i - 1])
        assert covered == set(range(len(text)))
    with pytest.raises(ValueError, match="overlap"):
        TX.chunk_documents(docs, chunk_chars=200, overlap=-50)


def test_quality_translate_counts_match_regex_semantics(spark):
    """r15 optimization: punct/digit ratios moved from regexp_count to
    length/translate arithmetic. Pin the exact char-class semantics the
    regexes had on the adversarial cases — underscore is a WORD char (not
    punct), vertical tab \x0b is whitespace (not punct), non-ASCII letters
    are NEITHER \\w nor whitespace (so they count as punct, as Java's
    ASCII \\w made them), digits are counted inside words too."""
    from pyspark.sql import functions as F

    from ml_data_pipeline_spark.operators import text as TX

    docs = spark.createDataFrame(
        [
            (1, "a_b c1! \x0bxé;"),  # é: non-\w, non-ws → punct
            (2, "1234"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in TX.quality_score(docs).collect()}
    # doc 1: 12 chars; punct = {'!', 'é', ';'} = 3; digits = {'1'} = 1
    assert rows[1]["q_n_chars"] == 12
    assert rows[1]["q_punct_ratio"] == round(3 / 12, 6)
    assert rows[1]["q_digit_ratio"] == round(1 / 12, 6)
    # doc 2: all digits — zero punct, digit ratio 1.0
    assert rows[2]["q_punct_ratio"] == 0.0
    assert rows[2]["q_digit_ratio"] == 1.0
    # doc 3: empty — guarded ratios stay 0.0, no div-by-zero
    assert rows[3]["q_punct_ratio"] == 0.0 and rows[3]["q_digit_ratio"] == 0.0
    # cross-check the full expressions against the old regex forms row-wise
    t = F.col("text")
    ref = docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(r"[^\w \t\n\x0B\f\r]")).alias("p_re"),
        F.regexp_count(t, F.lit(r"[0-9]")).alias("d_re"),
    ).collect()
    for r in ref:
        n = len([c for c in ("a_b c1! \x0bxé;", "1234", "")[r["doc_id"] - 1]])
        got = rows[r["doc_id"]]
        if n:
            assert got["q_punct_ratio"] == round(r["p_re"] / n, 6)
            assert got["q_digit_ratio"] == round(r["d_re"] / n, 6)


def test_quality_mean_word_len_counts_token_chars_only(spark):
    """r10 review: q_mean_word_len = sum(token lengths)/n_words, not
    n_chars/n_words (which counted separators into every word and shifted
    the Gopher [3,10] gate)."""
    from ml_data_pipeline_spark.operators import text as TX

    docs = spark.createDataFrame(
        [(1, " ".join(["abcdefghij"] * 10))],  # ten 10-char words
        "doc_id long, text string",
    )
    row = TX.quality_score(docs).collect()[0]
    assert row["q_mean_word_len"] == 10.0  # old formula gave 10.9
    assert row["q_score"] >= 0.4  # inside the [3,10] bound again


def test_r10_sampling_filter_encoding_null_guards(spark):
    """r10 review fixes across sampling/filters/encoding, each previously a
    silent corruption or an ANSI crash on legitimate input."""
    import pytest

    from ml_data_pipeline_spark.operators import encoding as ENC
    from ml_data_pipeline_spark.operators import filters as FL
    from ml_data_pipeline_spark.operators import sampling as SA

    # clip preserves NULL (was: NULL became the lower bound)
    df = spark.createDataFrame([(1, None), (2, 5.0), (3, -3.0)], "id long, v double")
    vals = {r["id"]: r["v"] for r in FL.clip(df, "v", lo=0.0, hi=4.0).collect()}
    assert vals == {1: None, 2: 4.0, 3: 0.0}
    # winsorize on an all-NULL column returns the frame unchanged (was:
    # TypeError unpacking a None aggregate); quantile_bucketize all-NULL
    # puts every row in one bin
    nulls = spark.createDataFrame([(1, None), (2, None)], "id long, v double")
    assert FL.winsorize(nulls, "v").count() == 2
    assert FL.quantile_bucketize(nulls, "v", 4).count() == 2
    # robust_scale backtick-quotes: a column name containing an operator
    # must not parse as an expression over OTHER columns
    tricky = spark.createDataFrame(
        [(10.0, 4.0, 100.0), (20.0, 5.0, 200.0), (30.0, 6.0, 300.0)],
        "`price-usd` double, price double, usd double",
    )
    out = {r["price-usd"]: r["price-usd_scaled"] for r in
           FL.robust_scale(tricky, "price-usd").collect()}
    assert out[20.0] == 0.0  # median maps to 0 of ITS OWN column
    # split_by_hash keeps NULL keys (was: is_test NULL, row in neither side)
    keyed = spark.createDataFrame([(None,), ("k1",)], "k string")
    split = SA.split_by_hash(keyed, "k", test_frac=0.5)
    assert split.where(F.col("is_test").isNull()).count() == 0
    # trim_majority with a NULL majority class trims it and keeps the rest
    t = spark.createDataFrame(
        [(None,), (None,), (None,), ("a",), ("b",)], "cls string"
    )
    trimmed = SA.trim_majority(t, "cls", max_majority=1)
    got = sorted((r["cls"] or "~null") for r in trimmed.collect())
    assert got == ["a", "b", "~null"]
    # concat([]) raises a clear error (was: IndexError)
    with pytest.raises(ValueError, match="empty"):
        SA.concat([])
    # bootstrap CI contains the point mean when half the values are NULL
    # (was: NULL rows' Poisson weights diluted every replicate mean)
    bdf = spark.createDataFrame(
        [(i, 100.0 if i % 2 == 0 else None) for i in range(40)], "id long, x double"
    )
    row = SA.poisson_bootstrap_ci(bdf, "x", "id", n_replicates=50, seed=3).collect()[0]
    assert row["ci_lo"] <= row["mean"] <= row["ci_hi"]
    assert row["mean"] == 100.0
    # parse_date survives non-ISO strings under ANSI and parses them
    dd = spark.createDataFrame([("3/14/2022",), ("2021-05-06",)], "d string")
    parsed = [str(r["d"]) for r in ENC.parse_date(dd, "d").collect()]
    assert sorted(parsed) == ["2021-05-06", "2022-03-14"]
    # frequency_encode normalizes over NON-NULL rows (pandas value_counts)
    fdf = spark.createDataFrame(
        [("a",)] * 8 + [(None,)] * 2, "c string"
    )
    enc = ENC.frequency_encode(fdf, "c")
    a_val = enc.where(F.col("c") == "a").select("c_freq_encoded").first()[0]
    assert a_val == 1.0  # was 0.8 with nulls in the denominator


def test_r11_clip_preserves_nan(spark):
    """ADVICE r10: Spark orders NaN above every number, so least(hi, NaN)
    returned hi and the NULL guard alone still clipped NaN to the upper
    bound — the same 'missing data becomes the clip bound' corruption.
    pandas col.clip (the parity reference) preserves NaN."""
    import math

    from ml_data_pipeline_spark.operators import filters as FL

    df = spark.createDataFrame(
        [(1, float("nan")), (2, None), (3, 9.0), (4, -9.0)], "id long, v double"
    )
    vals = {r["id"]: r["v"] for r in FL.clip(df, "v", lo=0.0, hi=4.0).collect()}
    assert math.isnan(vals[1])  # was 4.0 (the hi bound)
    assert vals[2] is None and vals[3] == 4.0 and vals[4] == 0.0
    # non-float columns take the plain NULL guard (no isnan on ints)
    idf = spark.createDataFrame([(1, None), (2, 7)], "id long, v long")
    ivals = {r["id"]: r["v"] for r in FL.clip(idf, "v", lo=0, hi=4).collect()}
    assert ivals == {1: None, 2: 4}


def test_r10_profiling_null_semantics(spark):
    """r10 review: drift/agreement statistics must not count NULLs as
    data — identical distributions with nulls reported massive false
    drift, and weighted percentiles dragged toward the minimum."""
    import pytest

    from ml_data_pipeline_spark.operators import profiling as P

    # psi: identical sides with 20% NULLs → every psi_term ~0 (was ~2.3)
    a = spark.createDataFrame(
        [(float(i % 10),) for i in range(80)] + [(None,)] * 20, "v double"
    )
    psi = sum(r["psi_term"] for r in P.psi_drift(a, a, "v", splits=[3.0, 6.0]).collect())
    assert abs(psi) < 1e-9
    with pytest.raises(ValueError, match="split"):
        P.psi_drift(a, a, "v", splits=[])
    # ks: identical observed values, different null rates → ks 0 (was 0.5)
    b = spark.createDataFrame(
        [("a", 1.0)] * 50 + [("a", None)] * 50 + [("b", 1.0)] * 100,
        "g string, v double",
    )
    assert P.ks_statistic(b, "v", "g", "a", "b").collect()[0]["ks_stat"] == 0.0
    # weighted percentile: nulls don't count as below-everything
    w = spark.createDataFrame(
        [("g", float(i), 1.0) for i in range(1, 101)]
        + [("g", None, 1.0)] * 100,
        "grp string, v double, wt double",
    )
    med = P.weighted_percentiles(w, "grp", "v", "wt", {"p50": 0.5}).collect()[0]["p50"]
    assert med == 50.0  # was 1.0
    # correlation_pairs: a '|' in a column name no longer corrupts the split
    c = spark.createDataFrame(
        [(1.0, 2.0, 2.0), (2.0, 4.0, 3.9), (3.0, 6.0, 6.1)],
        "`a|b` double, c double, d double",
    )
    pairs = {(r["column_a"], r["column_b"]) for r in P.correlation_pairs(c).collect()}
    assert ("a|b", "c") in pairs and ("a|b", "d") in pairs and ("c", "d") in pairs
    # classify_column_types on an EMPTY table keeps one row per column
    empty = spark.createDataFrame([], "x double, s string")
    got = {r["column"]: r["type_class"] for r in P.classify_column_types(empty).collect()}
    assert set(got) == {"x", "s"}



def test_ks_statistic_absent_group_returns_null_not_crash(spark):
    """r14 hazard sweep: an ABSENT group used to hit ANSI DIVIDE_BY_ZERO
    in the ECDF quotient; the statistic is undefined there — NULL, the
    silhouette/DB/ARI degenerate-input convention."""
    from ml_data_pipeline_spark.operators.profiling import ks_statistic

    df = spark.createDataFrame([( "a", 1.0), ("a", 2.0)], "g string, v double")
    row = ks_statistic(df, "v", "g", "a", "zzz_absent").collect()[0]
    assert row["ks_stat"] is None and row["n_a"] == 2 and row["n_b"] == 0


def test_weighted_percentiles_rejects_negative_weights(spark):
    """r14 hazard sweep: a negative weight makes the cumulative
    non-monotone and the lower-percentile definition silently wrong —
    now an in-plan loud error (scan-free on clean data)."""
    import pytest as _pytest

    from ml_data_pipeline_spark.operators.profiling import weighted_percentiles

    bad = spark.createDataFrame(
        [("a", 1, 2), ("a", 2, -1)], "g string, v int, w int"
    )
    with _pytest.raises(Exception, match="non-negative weights"):
        weighted_percentiles(bad, "g", "v", "w", {"p50": 0.5}).collect()
    ok = spark.createDataFrame(
        [("a", 1, 1), ("a", 2, 3)], "g string, v int, w int"
    )
    got = weighted_percentiles(ok, "g", "v", "w", {"p50": 0.5}).collect()[0]
    assert got["p50"] == 2

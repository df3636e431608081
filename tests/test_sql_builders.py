"""Literal-heavy expression trees built as one SQL expression each.

Each builder is checked bit for bit against the Column-built form it
replaced (kept here as the reference), and its py4j cost is bounded so a
per-element Column loop fails here rather than in the benchmark.
"""

from __future__ import annotations

import itertools
import struct

import pytest
from pyspark.sql import functions as F

from ml_data_pipeline_spark.functions.sql_text import sql_double
from ml_data_pipeline_spark.operators import dedup as DD
from ml_data_pipeline_spark.operators import similarity as SS
from ml_data_pipeline_spark.operators import text as TX

ADVERSARIAL = [5e-324, -0.0, 1.7976931348623157e308, 0.1, 1 / 3]


def _bits(v):
    return None if v is None else struct.pack(">d", v)


def _cosine_ref(query_vector):
    """cosine_to_query's Column-built form: one F.lit per component."""
    q = F.array(*[F.lit(float(v)) for v in query_vector])
    emb = F.col("embedding")
    return SS._dot(emb, q) / F.nullif(SS._norm(emb) * SS._norm(q), F.lit(0.0))


def _minhash_bands_ref(sigs, r, bands, hash_fn):
    def band_key(b):
        slots = [F.element_at("signature", b * r + j + 1) for j in range(r)]
        return F.xxhash64(*slots) if hash_fn == "xxhash64" else F.concat_ws(",", *slots)

    return sigs.select(
        "id",
        "signature",
        F.explode(
            F.array(
                *[F.struct(F.lit(b).alias("band"), band_key(b).alias("bucket")) for b in range(bands)]
            )
        ).alias("bb"),
    ).select("id", "signature", "bb.band", "bb.bucket")


def _simhash_bands_ref(sigs, max_hamming):
    nblocks = max_hamming + 3
    widths = [64 // nblocks + (1 if i < 64 % nblocks else 0) for i in range(nblocks)]
    offs = [sum(widths[:i]) for i in range(nblocks)]
    combos = list(itertools.combinations(range(nblocks), 3))
    return sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("block"),
                        *[
                            F.shiftrightunsigned(F.col("simhash"), offs[b])
                            .bitwiseAND(F.lit((1 << widths[b]) - 1))
                            .alias(f"v{j}")
                            for j, b in enumerate(combo)
                        ],
                    )
                    for ci, combo in enumerate(combos)
                ]
            )
        ).alias("bv"),
    ).select("id", "simhash", "bv.*")


def _detect_language_ref(df):
    """detect_language's Column-built form: an F.lit per marker and an
    F.struct per language."""
    staged = df.select("*", TX._tokens(F.col("text")).alias("__lid_toks"))
    toks = F.col("__lid_toks")

    def contains_fn(arr):
        return lambda w: F.array_contains(arr, w)

    hit_cols = [
        F.struct(
            F.size(F.filter(toks, contains_fn(F.array([F.lit(w) for w in markers])))).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, markers in TX.LANG_MARKERS.items()
    ]
    best = staged.select(*df.columns, F.array_max(F.array(*hit_cols)).alias("__lid_best"))
    pred = F.when(F.col("__lid_best")["hits"] > 0, F.col("__lid_best")["lang"]).otherwise(
        F.lit("und")
    )
    return best.select(*df.columns, pred.alias("lang_pred"))


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog and the cat"),
            (2, "the quick brown fox jumps over the lazy dog and the cat too"),
            (3, "der hund und die katze ist nicht mit sich auf dem sofa"),
            (4, "le chat et la souris est dans une maison pour que pas"),
            (5, "el perro con la gata es una casa por para del los las"),
            (6, None),
            (7, ""),
            (8, "zebra xylophone quartz"),
            (9, "日本語 テキスト the and"),
        ],
        "doc_id long, text string",
    )


def test_sql_double_round_trips_every_bit(spark):
    vals = ADVERSARIAL + [-5e-324, -1.7976931348623157e308, 1e16, 2.5e-310, -1e-5]
    row = spark.range(1).select(
        F.expr(f"array({', '.join(sql_double(v) for v in vals)})").alias("sql"),
        F.array(*[F.lit(v) for v in vals]).alias("col"),
    ).first()
    assert [_bits(v) for v in row["sql"]] == [_bits(v) for v in vals]
    assert [_bits(v) for v in row["col"]] == [_bits(v) for v in vals]


def test_cosine_to_query_bit_equal_to_column_form(spark):
    rows = [
        (0, [1.0, 1.0, 1.0, 1.0, 1.0]),
        (1, ADVERSARIAL),
        (2, [-1.0, 2.0, 0.0, 1e-300, 3.0]),
        (3, [0.0, 0.0, 0.0, 0.0, 0.0]),  # zero-norm row -> NULL
        (4, [5e-324, 5e-324, -0.0, 1e308, -1e308]),
        (5, [0.1, 0.2, 0.30000000000000004, 1 / 3, 2 / 3]),
        (6, None),
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    for q in (ADVERSARIAL, [0.1, 1 / 3, -0.0, 5e-324, 2.0], [-0.0, 0.0, 1e-320, 0.0, 7.0]):
        got = emb.select(
            "vec_id",
            SS.cosine_to_query(emb, q).alias("new"),
            _cosine_ref(q).alias("ref"),
        ).collect()
        assert len(got) == len(rows)
        for r in got:
            assert _bits(r["new"]) == _bits(r["ref"]), (q, r)
    # a zero-norm row stays NULL; an ordinary row gets an ordinary cosine
    got = dict(
        emb.select("vec_id", SS.cosine_to_query(emb, [0.1, 1 / 3, -0.0, 5e-324, 2.0]))
        .collect()
    )
    assert got[3] is None
    assert 0.0 < got[0] < 1.0


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_cosine_to_query_rejects_non_finite_up_front(spark, bad):
    emb = spark.createDataFrame([(0, [1.0, 2.0])], "vec_id int, embedding array<double>")
    with pytest.raises(ValueError, match="non-finite"):
        SS.cosine_to_query(emb, [1.0, bad])


def test_cosine_to_query_rejects_zero_norm(spark):
    emb = spark.createDataFrame([(0, [1.0, 2.0])], "vec_id int, embedding array<double>")
    with pytest.raises(ValueError, match="zero norm"):
        SS.cosine_to_query(emb, [0.0, -0.0])


@pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
def test_minhash_bands_equal_column_form(spark, docs, hash_fn):
    sigs = DD.shingle_minhash(docs, "text", "doc_id", 32, 5, hash_fn)
    null_sig = spark.createDataFrame([(99, None)], "id long, signature array<bigint>")
    sigs = sigs.unionByName(null_sig).localCheckpoint()
    new = DD._minhash_bands(sigs, 4, 8, hash_fn)
    ref = _minhash_bands_ref(sigs, 4, 8, hash_fn)
    assert new.schema == ref.schema
    got, want = sorted(new.collect()), sorted(ref.collect())
    assert len(got) == 9 * 8 + 8 and got == want


@pytest.mark.parametrize("max_hamming", [0, 3, 7])
def test_simhash_bands_equal_column_form(spark, docs, max_hamming):
    sigs = DD.simhash_signatures(docs, "text", "doc_id")
    edge = spark.createDataFrame(
        [(97, None), (98, -1), (99, -(1 << 63))], "id long, simhash bigint"
    )
    sigs = sigs.unionByName(edge).localCheckpoint()
    new = DD._simhash_bands(sigs, max_hamming)
    ref = _simhash_bands_ref(sigs, max_hamming)
    assert new.schema == ref.schema
    got, want = sorted(new.collect(), key=repr), sorted(ref.collect(), key=repr)
    n_combos = len(list(itertools.combinations(range(max_hamming + 3), 3)))
    assert len(got) == sigs.count() * n_combos and got == want


def test_words_sql_equals_lit_array(spark):
    words = TX.LANG_MARKERS["en"] + ("it's", "back\\slash", "'", "", "日本語", "tab\there")
    row = spark.range(1).select(
        F.expr(TX._words_sql(words)).alias("sql"), F.array([F.lit(w) for w in words]).alias("col")
    )
    assert row.schema["sql"].dataType == row.schema["col"].dataType
    got = row.first()
    assert list(got["sql"]) == list(got["col"]) == list(words)


def test_detect_language_equal_column_form(docs):
    new = sorted(TX.detect_language(docs).collect())
    assert new == sorted(_detect_language_ref(docs).collect())
    assert {r["doc_id"]: r["lang_pred"] for r in new} == {
        1: "en", 2: "en", 3: "de", 4: "fr", 5: "es", 6: "und", 7: "und", 8: "und", 9: "en"
    }


# py4j commands per build (gc off, lookups warm), measured on PySpark 4.1.2
# with call-site capture off: this form → the Column-built reference above.
#   cosine_to_query, 64 dims:       144 → 401
#   minhash bands, 8 × 4 slots:      38 → 542
#   simhash bands, 20 combos:        34 → 1022
#   detect_language, 4 × 10 words:  108 → 471
# Each bound is about 2× this form's count and below the reference's.
BUDGETS = {
    "cosine_to_query": 300,
    "minhash_bands": 80,
    "simhash_bands": 70,
    "detect_language": 220,
}


def test_construction_py4j_budget(spark, docs, py4j_commands):
    emb = spark.createDataFrame([(0, [1.0] * 64)], "vec_id int, embedding array<double>")
    q = [0.1 * (j + 1) for j in range(64)]
    mh = spark.createDataFrame([(1, [1] * 32)], "id long, signature array<bigint>")
    sh = spark.createDataFrame([(1, 5)], "id long, simhash bigint")
    builds = {
        "cosine_to_query": lambda: SS.cosine_to_query(emb, q),
        "minhash_bands": lambda: DD._minhash_bands(mh, 4, 8, "xxhash64"),
        "simhash_bands": lambda: DD._simhash_bands(sh, 3),
        "detect_language": lambda: TX.detect_language(docs),
    }
    got = {name: py4j_commands(build) for name, build in builds.items()}
    assert all(got[name] <= bound for name, bound in BUDGETS.items()), got


"""Text analysis for large-scale training-data pipelines (SURVEY.md §2.9).

Operators over a `documents(doc_id, text, lang, source, n_chars)` table:
language-ID heuristic, quality scoring, token counting, document
fingerprinting. All are pure column expressions (JVM-side, codegen-fused) —
at 100 TB these run as a single projection over the parquet scan with zero
shuffles.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ml_data_pipeline_spark.constants import WS_CLASS, WS_PLUS
from ml_data_pipeline_spark.functions.sql_text import sql_string

# Tiny per-language stopword marker sets for the n-gram/stopword heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "was", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "sich", "auf"),
    "fr": ("le", "la", "les", "et", "est", "une", "dans", "que", "pour", "pas"),
    "es": ("el", "la", "los", "las", "es", "una", "con", "por", "para", "del"),
}

def _words_sql(words: tuple[str, ...]) -> str:
    """An array<string> literal as SQL text: ``F.expr`` of it is one py4j
    parse, where ``F.array`` of ``F.lit``s costs a round trip per word."""
    return f"array({', '.join(sql_string(w) for w in words)})"

def _tokens(text: Column) -> Column:
    """Whitespace tokenization after lowercasing; empty strings removed."""
    return F.filter(F.split(F.lower(text), WS_PLUS), lambda t: F.length(t) > 0)

def token_count(df: DataFrame, text_col: str = "text", out_col: str = "n_tokens") -> DataFrame:
    """Whitespace token count — the baseline 'how many tokens' profile.
    NULL text counts 0 (r10 review: size over a NULL array is NULL under
    ANSI / -1 under the legacy flag — either silently poisons sums)."""
    return df.withColumn(
        out_col, F.coalesce(F.size(_tokens(F.col(text_col))), F.lit(0)).cast("long")
    )

def bpe_ish_token_count(df: DataFrame, text_col: str = "text", out_col: str = "n_bpe_tokens") -> DataFrame:
    """BPE-ish token estimate: count regex word-pieces + punctuation marks.

    regexp_count of `\\w+|[^\\w\\s]` ≈ GPT-style pre-tokenizer piece count;
    a cheap, deterministic stand-in for a real BPE vocab (not shipped here).
    """
    return df.withColumn(
        out_col, F.regexp_count(F.col(text_col), F.lit(r"\w+|[^\w \t\n\x0B\f\r]")).cast("long")
    )

def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality signals: length, word stats, punctuation/digit/upper ratios,
    stopword ratio, and a composite [0,1] quality score.

    Mirrors the C4/Gopher-style heuristics: mean word length in [3,10],
    stopword presence, not-too-much punctuation. Single projection — but
    a regex+tokenize-heavy one, so an under-split source (one parquet
    row group → one task) serializes it onto a single core;
    _ensure_parallel spreads ONLY that case (measured r15 at sf0.1:
    0.70s → 0.35s warm noop) and is a no-op on well-partitioned inputs,
    keeping the zero-shuffle story at real scale.
    """
    from ml_data_pipeline_spark.operators.dedup import _ensure_parallel

    df = _ensure_parallel(df)
    t = F.col(text_col)
    # r16 (guide §4.2, VERDICT item 6 pattern): the single-projection shape
    # re-evaluated split(lower(text)) SEVENTEEN times per row — lambda-
    # bearing higher-order functions are codegen-fallback, and runtime
    # subexpression elimination does not collapse them, so every reference
    # to `toks` re-tokenized the document. Staging the tokenization as its
    # own projection makes it ONE split per row: CollapseProject keeps the
    # stage because the alias is non-cheap and multiply-referenced. Same
    # expressions, same values — the oracle hash pins equality.
    df = df.select("*", _tokens(t).alias("__q_toks"))
    toks = F.col("__q_toks")
    n_chars = F.coalesce(F.length(t), F.lit(0))
    n_words = F.coalesce(F.size(toks), F.lit(0))
    stop = F.expr(_words_sql(LANG_MARKERS["en"]))
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(stop, w)))
    # mean word length = sum of TOKEN lengths / word count (r10 review:
    # dividing total characters by word count counts separators/punctuation
    # into every word, overstating the metric by ~1 and shifting the
    # Gopher [3,10] gate; c4_quality_flags already computed it correctly)
    tok_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    mean_word_len = F.when(
        n_words > 0, tok_chars.cast("double") / n_words
    ).otherwise(F.lit(0.0))
    # char-class counts via translate() instead of regexp_count (r15,
    # guide §4.2 "per-task work"): counting a single-char class with the
    # regex engine walks a compiled automaton per character; translate()
    # is a plain lookup. Exact same counts — Java \w is ASCII
    # [a-zA-Z0-9_] (no UNICODE_CHARACTER_CLASS), so length(translate(t,
    # <word+ws chars>, '')) IS the [^\w \t\n\x0B\f\r] match count, and
    # length minus length(translate(t, digits, '')) IS the [0-9] count —
    # verified equal on every corpus row (OPTIMIZATION_r15.md, "Changes
    # taken" item 6) and pinned by the oracle hash. Locally ~wash (the
    # projection is already spread); at scale it removes two regex passes
    # per document.
    _word_ws = (
        "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_"
        " \t\n\x0b\f\r"
    )
    punct_ratio = F.when(
        n_chars > 0, F.length(F.translate(t, _word_ws, "")).cast("double") / n_chars
    ).otherwise(F.lit(0.0))
    digit_ratio = F.when(
        n_chars > 0,
        (F.length(t) - F.length(F.translate(t, "0123456789", ""))).cast("double") / n_chars,
    ).otherwise(F.lit(0.0))
    # second stage: the token-walking aggregates (n_stop's filter, tok_chars'
    # aggregate) are each referenced by TWO outputs (the ratio column and
    # the score), so materialize them once as columns; the ratios built
    # from them downstream are scalar arithmetic over attributes
    orig_cols = [c for c in df.columns if c != "__q_toks"]
    staged = df.select(
        *orig_cols,
        n_chars.cast("long").alias("__q_nc"),
        n_words.cast("long").alias("__q_nw"),
        n_stop.cast("long").alias("__q_ns"),
        tok_chars.alias("__q_tc"),
        punct_ratio.alias("__q_pr"),
        digit_ratio.alias("__q_dr"),
    )
    nc, nw, ns = F.col("__q_nc"), F.col("__q_nw"), F.col("__q_ns")
    mean_word_len = F.when(
        nw > 0, F.col("__q_tc").cast("double") / nw
    ).otherwise(F.lit(0.0))
    stop_ratio = F.when(nw > 0, ns.cast("double") / nw).otherwise(F.lit(0.0))
    score = (
        F.when((mean_word_len >= 3) & (mean_word_len <= 10), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when(stop_ratio >= 0.05, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(F.col("__q_pr") <= 0.2, F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(nw >= 5, F.lit(0.1)).otherwise(F.lit(0.0))
    )
    return staged.select(
        *orig_cols,
        nc.alias("q_n_chars"),
        nw.alias("q_n_words"),
        F.round(mean_word_len, 6).alias("q_mean_word_len"),
        F.round(F.col("__q_pr"), 6).alias("q_punct_ratio"),
        F.round(F.col("__q_dr"), 6).alias("q_digit_ratio"),
        F.round(stop_ratio, 6).alias("q_stopword_ratio"),
        F.round(score, 6).alias("q_score"),
    )

def detect_language(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Stopword-marker language ID: the language whose marker set matches the
    most tokens wins; ties and no-hits → 'und'. Pure expressions — the per-
    language hit counts are four array-filter sizes over one tokenization.
    Like quality_score, the projection is tokenize-heavy, so an
    under-split source is spread via _ensure_parallel (no-op when the
    input already has ≥ half defaultParallelism partitions; measured r15
    0.83s → 0.40s warm noop at sf0.1).
    """
    from ml_data_pipeline_spark.operators.dedup import _ensure_parallel

    df = _ensure_parallel(df)
    # r16 (guide §4.2, VERDICT item 6): the one-projection shape evaluated
    # split(lower(text)) EIGHT times per row (4 marker filters × the
    # when(hits)/take(lang) duplication of array_max) — higher-order
    # functions are codegen-fallback and escape subexpression elimination.
    # Stage 1 tokenizes once, stage 2 picks the best (hits, lang) struct
    # once, stage 3 reads two fields off that attribute. CollapseProject
    # preserves both stages (non-cheap aliases, multiply referenced);
    # plan now shows ONE split and ONE array_max. Values unchanged.
    orig_cols = list(df.columns)
    staged = df.select("*", _tokens(F.col(text_col)).alias("__lid_toks"))
    # one (hits, lang) struct per language; array_max on them: max hits,
    # ties broken by the lexicographically greatest language code —
    # deterministic. One SQL expression, one py4j parse: the operator
    # costs 108 py4j commands to build, 471 with an F.lit per marker and
    # Column calls per language (tests/test_sql_builders.py).
    hits = ", ".join(
        f"struct(size(filter(__lid_toks, x -> array_contains({_words_sql(markers)}, x)))"
        f" AS hits, {sql_string(lang)} AS lang)"
        for lang, markers in LANG_MARKERS.items()
    )
    best = staged.select(*orig_cols, F.expr(f"array_max(array({hits})) AS __lid_best"))
    pred = (
        F.when(F.col("__lid_best")["hits"] > 0, F.col("__lid_best")["lang"])
        .otherwise(F.lit("und"))
        .alias(out_col)
    )
    if out_col in orig_cols:  # withColumn semantics: replace in place
        return best.select(*[pred if c == out_col else c for c in orig_cols])
    return best.select(*orig_cols, pred)

def fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "fingerprint") -> DataFrame:
    """Document fingerprint: xxhash64 of the whitespace-normalized, lowercased
    text — a stable rolling-hash-style identity for exact near-normalization
    dedup. JVM-side, shuffle-free.
    """
    norm = F.concat_ws(" ", _tokens(F.col(text_col)))
    return df.withColumn(out_col, F.xxhash64(norm))

def fingerprint_md5(df: DataFrame, text_col: str = "text", out_col: str = "fingerprint") -> DataFrame:
    """Fingerprint variant on md5 instead of xxhash64 — bit-identical across
    engines (DuckDB md5 == Spark md5), so the oracle checks VALUES, not just
    shape. Same normalization as fingerprint()."""
    norm = F.concat_ws(" ", _tokens(F.col(text_col)))
    return df.withColumn(out_col, F.md5(norm))

def repetition_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher/C4-style repetition signals per document:

    - rep_dup_word_frac: fraction of tokens that are repeats
      (1 - distinct/total) — an array expression, zero shuffle;
    - rep_top_bigram / rep_top_bigram_count / rep_top_bigram_frac: the most
      frequent word 2-gram, its count, and the fraction of the document's
      characters it covers (count * len(gram) / n_chars) — the "top n-gram
      character fraction" rule from Gopher (Rae et al. 2021, App. A).

    Shape: explode (id, bigram) -> map-side-combinable count per (id, gram)
    -> per-doc top-1 via a window ordered (count DESC, gram ASC) for
    deterministic ties -> join back on id. The shuffle carries (id, gram,
    count), never the text; per-doc group cardinality is bounded by doc
    length, so no skew beyond the corpus' own length skew. An all-array
    variant (count occurrences with O(len^2) transform/filter per row)
    avoids the shuffle but degrades quadratically on long docs — wrong
    trade at 100 TB, where docs are long and shuffles of narrow rows are
    cheap.
    """
    t = F.col(text_col)
    toks = _tokens(t)
    base = df.withColumn("__toks", toks)
    n_tok = F.size("__toks")
    dup_frac = F.when(
        n_tok > 0,
        1.0 - F.size(F.array_distinct("__toks")).cast("double") / n_tok,
    ).otherwise(F.lit(0.0))

    grams = base.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.when(
                n_tok >= 2,
                F.transform(
                    F.sequence(F.lit(1), n_tok - 1),
                    lambda i: F.concat(
                        F.element_at("__toks", i), F.lit(" "), F.element_at("__toks", i + 1)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    )
    counts = grams.groupBy("__id", "gram").agg(F.count(F.lit(1)).alias("__c"))
    from pyspark.sql import Window

    w = Window.partitionBy("__id").orderBy(F.col("__c").desc(), F.col("gram").asc())
    top = (
        counts.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("__id", F.col("gram").alias("rep_top_bigram"), F.col("__c").alias("rep_top_bigram_count"))
    )
    out = (
        base.withColumn("rep_dup_word_frac", F.round(dup_frac, 6))
        # token count rides along free (r10 review: gopher_repetition_filter
        # used to re-tokenize the full corpus a second time just to count)
        .withColumn("rep_n_tokens", F.coalesce(n_tok, F.lit(0)).cast("long"))
        .join(top, F.col(id_col) == F.col("__id"), "left")
        .drop("__id", "__toks")
    )
    frac = F.when(
        F.col("rep_top_bigram_count").isNotNull() & (F.length(t) > 0),
        F.col("rep_top_bigram_count") * F.length("rep_top_bigram") / F.length(t),
    ).otherwise(F.lit(0.0))
    return out.withColumn("rep_top_bigram_frac", F.round(frac, 6)).withColumn(
        "rep_top_bigram_count", F.coalesce("rep_top_bigram_count", F.lit(0))
    )

def gopher_repetition_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dup_word_frac: float = 0.5,
    max_top_bigram_frac: float = 0.18,
    min_words: int = 3,
) -> DataFrame:
    """Keep documents passing the Gopher-style repetition rules; adds a
    boolean `rep_keep` rather than dropping rows, so callers can audit the
    rejected set (filter on rep_keep to actually drop)."""
    m = repetition_metrics(df, text_col, id_col)
    keep = (
        (F.col("rep_dup_word_frac") <= max_dup_word_frac)
        & (F.col("rep_top_bigram_frac") <= max_top_bigram_frac)
        & (F.col("rep_n_tokens") >= min_words)
    )
    return m.withColumn("rep_keep", keep)

def chunk_documents(
    df: DataFrame,
    chunk_chars: int = 1000,
    overlap: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping character chunks (context-window
    preparation): chunk i covers [i*stride, i*stride + chunk_chars) with
    stride = chunk_chars - overlap. One explode over a computed index
    sequence — no Python, no shuffle; chunk count per doc is
    ceil(max(len-overlap, 1)/stride), so the fan-out is proportional to
    corpus size (the property that keeps the explode partition-local and
    even) and no chunk is ever fully contained in its predecessor.
    Empty documents produce no chunks."""
    if not 0 <= overlap < chunk_chars:
        raise ValueError(
            "overlap must be in [0, chunk_chars) — negative overlap would "
            "silently DROP the gap between consecutive chunks"
        )
    stride = chunk_chars - overlap
    t = F.col(text_col)
    # chunk count = ceil(max(len - overlap, 1) / stride) (r10 review: the
    # old floor((len-1)/stride)+1 emitted a final chunk FULLY CONTAINED in
    # the previous one whenever (len-1) mod stride < overlap — duplicate
    # text injected into ~overlap/stride of all documents)
    n_chunks_minus1 = (
        F.ceil(F.greatest(F.length(t) - overlap, F.lit(1)) / F.lit(stride)) - 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks_minus1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_id"),
            t.substr(i * stride + 1, F.lit(chunk_chars)).alias("chunk"),
        ),
    )
    return (
        df.where(F.length(t) > 0)
        .select(F.col(id_col), F.explode(chunks).alias("c"))
        .select(id_col, "c.chunk_id", "c.chunk")
    )

def top_ngrams(
    df: DataFrame,
    n: int = 2,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide top-k word n-grams by document frequency — vocabulary /
    boilerplate mining. explode -> per-doc distinct grams -> map-side-
    combinable count -> global top-k (a k-row sort, not a global data
    sort). Ties break lexicographically for determinism."""
    grams = _distinct_word_ngrams(F.col(text_col), n)
    return (
        df.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("gram").asc())
        .limit(k)
    )

def _distinct_word_ngrams(text_col: Column, n: int) -> Column:
    """Distinct word n-gram array of a text column (empty array below n tokens)."""
    toks = _tokens(text_col)
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - n + 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))

def contamination_check(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    threshold: float = 0.2,
) -> DataFrame:
    """Benchmark-contamination scan: what fraction of each training document's
    word n-grams also appear in an evaluation corpus (GPT-3 App. C / PaLM-style
    n-gram overlap decontamination; reference has no equivalent — scale
    extension per SURVEY.md §2.9).

    Shape: both sides explode to distinct n-grams; the benchmark side is
    deduplicated globally (one shuffle over grams, narrow rows); the overlap
    count is an inner equi-join on the gram key followed by a per-doc count,
    left-joined back so clean documents report 0.0. The benchmark gram table
    is typically small (eval sets are ~1e4-1e6 grams) — Spark broadcasts it
    under AQE; at worst it is a high-cardinality string equi-join, never a
    cross product. Document text never enters a shuffle.

    Returns (id, n_grams, n_overlap, contamination_frac, is_contaminated),
    one row per document with >= 1 n-gram.
    """
    grams = _distinct_word_ngrams(F.col(text_col), n)
    # tokenize-once checkpoint (the dedup.py convention): sizes and the
    # exploded gram index both branch from base — untruncated, each branch
    # re-shingles from its own scan (plan_audit: documents x3)
    base = df.select(F.col(id_col).alias("id"), grams.alias("grams")).where(
        F.size("grams") > 0
    ).localCheckpoint()
    sizes = base.select("id", F.size("grams").alias("n_grams"))
    doc_grams = base.select("id", F.explode("grams").alias("gram"))
    bench_grams = (
        benchmark.select(
            F.explode(_distinct_word_ngrams(F.col(bench_text_col), n)).alias("gram")
        )
        .distinct()
    )
    overlap = (
        doc_grams.join(bench_grams, "gram")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    frac = F.round(
        F.coalesce(F.col("n_overlap"), F.lit(0)).cast("double") / F.col("n_grams"), 6
    )
    return (
        sizes.join(overlap, "id", "left")
        .select(
            "id",
            "n_grams",
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias("n_overlap"),
            frac.alias("contamination_frac"),
            (frac >= threshold).alias("is_contaminated"),
        )
        .orderBy("id")
    )

def boilerplate_ngram_fraction(
    df: DataFrame,
    n: int = 3,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document boilerplate score: fraction of the document's distinct word
    n-grams that occur in >= min_docs distinct documents corpus-wide
    (RefinedWeb/CCNet-style shared-line removal, adapted to n-grams since the
    corpus has no line structure).

    Shape: one explode to (id, gram) with per-doc distinct grams, a map-side-
    combinable document-frequency count per gram, a semi-style join back on
    the gram key to count each doc's boilerplate grams, then a broadcast-size
    join with per-doc totals. Two shuffles (gram, then id), both on
    high-cardinality keys carrying narrow rows — scale-safe; document text
    never shuffles.
    """
    grams = _distinct_word_ngrams(F.col(text_col), n)
    # tokenize-once checkpoint: sizes, doc_freq and the boiler join all
    # branch from base (plan_audit: documents x3 untruncated)
    base = df.select(F.col(id_col).alias("id"), grams.alias("grams")).where(
        F.size("grams") > 0
    ).localCheckpoint()
    sizes = base.select("id", F.size("grams").alias("n_grams"))
    exploded = base.select("id", F.explode("grams").alias("gram"))
    doc_freq = exploded.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    boiler = (
        exploded.join(doc_freq.where(F.col("df") >= min_docs), "gram")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_boiler"))
    )
    return (
        sizes.join(boiler, "id", "left")
        .select(
            "id",
            "n_grams",
            F.coalesce(F.col("n_boiler"), F.lit(0)).cast("long").alias("n_boiler"),
            F.round(
                F.coalesce(F.col("n_boiler"), F.lit(0)).cast("double") / F.col("n_grams"),
                6,
            ).alias("boiler_frac"),
        )
        .orderBy("id")
    )

def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k TF-IDF terms per document (keyword extraction / topic profiling;
    scikit-style smooth idf = ln((N+1)/(df+1)) + 1).

    Shape: explode to (id, term) -> term frequency per (id, term) (map-side
    combinable) -> document frequency per term from the same exploded set ->
    corpus size N as a 1-row agg cross-joined (broadcast by construction) ->
    per-doc top-k via a window over the (id) partition ordered
    (score DESC, term ASC) for deterministic ties. The window partitions by
    document id, so there is no global sort; the widest shuffle carries
    (id, term, tf). At 100 TB the per-term df agg is the big shuffle and it
    is exactly the word-count pattern — Spark's best case.
    """
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(_tokens(F.col(text_col))).alias("term")
    )
    # checkpoint the word-count result: docfreq and the scored join both
    # branch from tf (plan_audit: documents x3 untruncated); (id, term, tf)
    # is the narrow post-aggregation frame, the cheapest cut point
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf")).localCheckpoint()
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.countDistinct(F.col(id_col)).alias("n_docs"))
    scored = (
        tf.join(docfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1))
                    + F.lit(1.0)
                ),
                6,
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("id", "rank", "term", "tf", "tfidf")
        .orderBy("id", "rank")
    )

def c4_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    min_stopword_frac: float = 0.01,
) -> DataFrame:
    """C4/Gopher-style document quality gates as pure column expressions:
    word-count bounds, mean word length bounds, and minimum stopword
    fraction (the 'is this natural language' tripwire). Returns the per-rule
    booleans plus the conjunctive keep flag so a pipeline can either filter
    or audit rule-level rejection rates. Zero shuffle, codegen-fused; at
    100 TB this is a single projection over the scan (C4: Raffel et al.
    2020 §2.2; Gopher: Rae et al. 2021 App. A — adapted: the synthetic
    corpus has no sentence punctuation, so terminal-punct rules are out)."""
    toks = _tokens(F.col(text_col))
    n_words = F.size(toks)
    mean_len = F.when(
        n_words > 0,
        F.aggregate(toks, F.lit(0).cast("long"),
                    lambda acc, t: acc + F.length(t)).cast("double") / n_words,
    )
    stops = F.expr(_words_sql(LANG_MARKERS["en"]))
    stop_frac = F.when(
        n_words > 0,
        F.size(F.filter(toks, lambda t: F.array_contains(stops, t))).cast("double")
        / n_words,
    )
    ok_n = (n_words >= min_words) & (n_words <= max_words)
    ok_len = (mean_len >= min_mean_word_len) & (mean_len <= max_mean_word_len)
    ok_stop = stop_frac >= min_stopword_frac
    return df.select(
        F.col(id_col).alias("id"),
        n_words.cast("long").alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(stop_frac, 6).alias("stopword_frac"),
        ok_n.alias("ok_n_words"),
        ok_len.alias("ok_word_len"),
        ok_stop.alias("ok_stopwords"),
        (ok_n & ok_len & ok_stop).alias("keep"),
    )

def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style unigram language-model quality score: per document, the
    average negative log-probability of its tokens under the corpus unigram
    distribution (Wenzek et al. 2020 use a 5-gram KenLM; the unigram variant
    keeps the ranking signal — gibberish/outlier documents score high — with
    exact, oracle-checkable math).

    Scale shape (word-count-shaped, no driver collect):
    1. explode tokens once;
    2. vocabulary counts = one map-side-combinable groupBy(token);
    3. the corpus total is a 1-row aggregate folded back with a broadcast
       cross join (never a driver round-trip);
    4. token → p(token) is a shuffle join on the token key (high cardinality
       → parallelizes; Catalyst broadcasts the vocab side when it is small);
    5. per-doc mean is a final groupBy(id).

    Returns (id, n_tokens, avg_neg_logp) — filter on avg_neg_logp quantiles
    to drop out-of-distribution documents. Every input id appears in the
    output: a zero-token document gets n_tokens=0 and a NULL score (the
    explode drops it from the scored path, so coverage comes from a final
    left join back onto the input id set).
    """
    # tokenize ONCE (the bigram_logprob recipe): the exploded-token branch,
    # the vocab chain and the id-coverage join all read this frame —
    # without truncation each re-runs the tokenizer from the scan
    # (plan_audit r5: 4 scans)
    tokd = df.select(
        F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("__tk")
    ).localCheckpoint()
    ex = tokd.select("id", F.explode("__tk").alias("t"))
    vocab = ex.groupBy("t").agg(F.count(F.lit(1)).alias("__cnt"))
    total = vocab.agg(F.sum("__cnt").alias("__total"))
    scored = (
        ex.join(vocab, "t")
        .crossJoin(F.broadcast(total))
        .select("id", (-F.log(F.col("__cnt") / F.col("__total"))).alias("__nlp"))
    )
    per_doc = scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("__n"),
        F.round(F.avg("__nlp"), 6).alias("avg_neg_logp"),
    )
    return (
        tokd.select("id")
        .join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("__n", F.lit(0)).alias("n_tokens"),
            "avg_neg_logp",
        )
        .orderBy("id")
    )

def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int = 1,
    delim: str = "\n",
) -> DataFrame:
    """C4-style line-level deduplication: a line that occurs (verbatim,
    whitespace-trimmed) in more than ``max_doc_freq`` distinct documents is
    boilerplate (nav bars, license headers, cookie banners) and is removed
    from EVERY document (C4: Raffel et al. 2020 §2.2 dedups three-sentence
    spans corpus-wide; lines are this engine's span unit).

    Scale shape:
    1. posexplode lines — keeps (id, pos, line), never a per-doc array;
    2. line doc-frequency = groupBy(line) count(distinct id) — one shuffle
       keyed on the line text (high cardinality);
    3. frequent-line set joins back on the line key (shuffle or broadcast —
       Catalyst decides by size) with a left anti join;
    4. documents reassemble with one groupBy(id), ordering spans by pos
       inside the aggregate (array_sort over (pos, line) structs) — no
       window, no global sort.

    Returns (id, text_clean, n_lines_kept, n_lines_removed). Every input id
    appears in the output — a document with no non-empty lines yields
    text_clean='' and zero counts (coverage via a final left join on the
    input id set). ``delim`` is treated as a LITERAL string: it is
    regex-escaped before F.split so split and the array_join rebuild stay
    symmetric for delimiters like '.', '|', or '\\r\\n'.
    """
    # the line frame feeds the doc-frequency count, the anti-join left
    # side AND the per-doc totals — materialized once (corpus-line-sized:
    # trading executor-local storage for 3 re-splits of the corpus,
    # plan_audit r5: 4 scans)
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), re.escape(delim))).alias("pos", "line"),
    ).select("id", "pos", F.trim(F.col("line")).alias("line")).where(
        F.length("line") > 0
    ).localCheckpoint()
    freq = (
        lines.groupBy("line")
        .agg(F.count_distinct("id").alias("__df"))
        .where(F.col("__df") > max_doc_freq)
        .select("line")
    )
    kept = lines.join(freq, "line", "left_anti")
    n_lines = lines.groupBy("id").agg(F.count(F.lit(1)).alias("n_lines_total"))
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))), lambda s: s["line"]
            ),
            delim,
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(n_lines, "id", "left")
        .join(rebuilt, "id", "left")
        .select(
            "id",
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
            (
                F.coalesce("n_lines_total", F.lit(0))
                - F.coalesce("n_lines_kept", F.lit(0))
            ).alias("n_lines_removed"),
        )
        .orderBy("id")
    )

def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    with_rel: bool = False,
) -> DataFrame:
    """BM25 document ranking for a bag of query terms (Robertson & Walker
    1994; the Lucene-style idf variant ln(1 + (N - df + 0.5)/(df + 0.5)) so
    scores are never negative). Returns the top-k (id, bm25) rows ordered by
    score desc, id asc.

    Scale shape — ONE corpus pass (plan-audited; the first formulation
    tokenized the corpus twice, once for doc lengths and once for term
    frequencies):
    1. tokenize+explode once; a single map-side-combinable groupBy(id)
       computes the doc length AND one conditional-count column per query
       term (the term list is a small fixed literal, so the aggregate
       width is bounded);
    2. corpus stats (N, avgdl) and per-term doc frequencies collapse that
       doc-sized table into ONE broadcast row;
    3. the per-doc score is a pure expression over the broadcast stats;
       top-k is TakeOrderedAndProject (no full sort, no extra shuffle).
    """
    terms = sorted({t.lower() for t in query_terms})
    ex = df.select(F.col(id_col).alias("id"), F.explode(_tokens(F.col(text_col))).alias("t"))
    # cached: both the stats aggregate and the scoring projection read
    # per_doc — without the cache the lazy plan re-runs the corpus
    # tokenize for each (verified with explain_audit: two full scans).
    # per_doc is doc-count-sized ((1 + |terms|) longs per doc), orders of
    # magnitude smaller than the corpus, and spills if it must.
    per_doc = ex.groupBy("id").agg(
        F.count(F.lit(1)).alias("__dl"),
        *[
            F.sum((F.col("t") == t).cast("long")).alias(f"__tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    from ml_data_pipeline_spark.cache import tracked_cache

    per_doc = tracked_cache(per_doc)
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg("__dl").alias("__avgdl"),
        *[
            F.sum((F.col(f"__tf{i}") > 0).cast("long")).alias(f"__df{i}")
            for i in range(len(terms))
        ],
    )

    def contrib(i: int):
        tf = F.col(f"__tf{i}")
        idf = F.log(
            F.lit(1.0)
            + (F.col("__n") - F.col(f"__df{i}") + 0.5) / (F.col(f"__df{i}") + 0.5)
        )
        denom = tf + k1 * (1 - b + b * F.col("__dl") / F.col("__avgdl"))
        return F.when(tf > 0, idf * (tf * (k1 + 1)) / denom).otherwise(F.lit(0.0))

    score = sum((contrib(i) for i in range(len(terms))), F.lit(0.0))
    rel = F.least(
        F.lit(3).cast("long"),
        sum((F.col(f"__tf{i}") for i in range(len(terms))), F.lit(0).cast("long")),
    )
    scored = (
        per_doc.crossJoin(F.broadcast(stats))
        .select("id", F.round(score, 6).alias("bm25"), rel.alias("rel"))
        .where(F.col("bm25") > 0)
    )
    if with_rel:
        return scored
    return (
        scored.select("id", "bm25")
        .orderBy(F.desc("bm25"), F.asc("id"))
        .limit(k)
    )

# Unicode script ranges as LITERAL character-class ranges (not \p{...}
# classes, whose names differ between java.util.regex and RE2 — literal
# ranges behave identically in both engines, keeping the DuckDB oracle
# exact). Counting is length(x) - length(regexp_replace(x, cls, '')):
# each match is one char, so the length delta IS the match count — the
# one counting idiom both engines share.
SCRIPT_RANGES: dict[str, str] = {
    "latin": "[A-Za-z]",
    "cyrillic": "[Ѐ-ӿ]",
    "cjk": "[一-鿿]",
    "arabic": "[؀-ۿ]",
    "digit": "[0-9]",
}


def script_stats(df: DataFrame, text_col: str = "text", id_col: str = "id") -> DataFrame:
    """Per-document Unicode-script composition: fraction of non-space
    characters in each major script (latin/cyrillic/cjk/arabic/digit) plus
    the dominant script — the writing-system counterpart of stopword
    language ID (detect_language), and the standard first gate for routing
    a multilingual crawl (CJK text defeats whitespace tokenization; mixed-
    script docs are a spam signal).

    Pure column expressions, zero shuffle, zero Python — at 100 TB this is
    a projection fused into the scan. Empty/whitespace-only docs get
    fraction 0 and dominant 'other' (nullif guard, no divide-by-zero).
    """
    t = F.col(text_col)
    total = F.length(F.regexp_replace(t, WS_CLASS, ""))

    def frac(cls: str) -> Column:
        n = F.length(t) - F.length(F.regexp_replace(t, cls, ""))
        return F.round(n / F.nullif(total.cast("double"), F.lit(0.0)), 6)

    fracs = {name: frac(cls) for name, cls in SCRIPT_RANGES.items()}
    pairs = F.array(
        *[
            F.struct(F.coalesce(c, F.lit(0.0)).alias("f"), F.lit(name).alias("s"))
            for name, c in fracs.items()
        ]
    )
    best = F.array_max(pairs)
    dominant = F.when(best["f"] > 0, best["s"]).otherwise(F.lit("other"))
    return df.select(
        F.col(id_col),
        *[F.coalesce(c, F.lit(0.0)).alias(f"frac_{name}") for name, c in fracs.items()],
        dominant.alias("dominant_script"),
    )


def source_vocab_overlap(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Pairwise vocabulary Jaccard BETWEEN corpus sources: which slices of
    the corpus speak the same wordlist — the slice-level duplication /
    shared-template signal (near-identical vocabularies across "different"
    sources usually mean mirrored sites or shared boilerplate, and inflate
    any per-source mixture weights computed from them).

    Same inverted-index shape as document near-dup, one level up: the
    (token -> source) index is source-cardinality x vocabulary, the
    candidate join fans out only where vocabularies actually intersect,
    and the output is bounded by source-pair count. No crossJoin at any
    scale.
    """
    toks = _tokens(F.col(text_col))
    # the (source, token) vocabulary index feeds both self-join sides and
    # the size marginals — materialized once (source-cardinality x vocab
    # rows), or every branch re-tokenizes the corpus (plan_audit r5: 4
    # scans)
    vocab = (
        df.select(F.col(source_col).alias("src"), F.explode(toks).alias("tok"))
        .distinct()
    ).localCheckpoint()
    sizes = vocab.groupBy("src").agg(F.count(F.lit(1)).alias("n_vocab"))
    a = vocab.select(F.col("src").alias("src_a"), "tok")
    b = vocab.select(F.col("src").alias("src_b"), "tok")
    inter = (
        a.join(b, "tok")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    na = sizes.select(F.col("src").alias("src_a"), F.col("n_vocab").alias("__na"))
    nb = sizes.select(F.col("src").alias("src_b"), F.col("n_vocab").alias("__nb"))
    return (
        inter.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            F.round(
                F.col("n_shared") / (F.col("__na") + F.col("__nb") - F.col("n_shared")), 6
            ).alias("vocab_jaccard"),
        )
        .where(F.col("vocab_jaccard") >= min_jaccard)
        .orderBy(F.desc("vocab_jaccard"), "src_a", "src_b")
    )


def ndcg_at_k(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """NDCG@k of the BM25 ranking (bm25_topk above) against a
    deterministic graded relevance: rel(doc) = min(3, query-term
    occurrences) — the search-quality eval loop (Järvelin & Kekäläinen
    2002, public literature) run entirely engine-side.

    Ranks are assigned on the 6dp-ROUNDED score with id tie-break (the
    same engine-stable ordering q_bm25's gate pins); IDCG is the top-k of
    the relevance multiset, which is tie-order-independent. Corpus cost
    is the one tokenize pass bm25_topk already makes; everything after
    is query-sized. Output: one row (k, dcg, idcg, ndcg)."""
    from pyspark.sql import Window

    terms = sorted({t.lower() for t in query_terms})
    # ONE corpus pass: bm25's cached per-doc frame carries both the score
    # and the capped term-count relevance (with_rel=True) — the review
    # pass caught the original second tokenize scan here.
    # localCheckpoint (VERDICT r11 item 3 review class): the two top-k
    # branches below (DCG ranking, ideal ranking) each re-printed the
    # full tokenize lineage under bm25's nested InMemoryRelation (4 plan
    # references); checkpointing the doc-sized (id, bm25, rel) frame
    # truncates it once. No self-join follows, so the kept exprIds are
    # safe (the dcg/idcg branches meet only as fresh aggregate outputs).
    scored = bm25_topk(
        df, terms, k=k, text_col=text_col, id_col=id_col, with_rel=True
    ).localCheckpoint()
    ranked = (
        scored.orderBy(F.desc("bm25"), F.asc("id"))
        .limit(k)
        .withColumn(
            "rank", F.row_number().over(Window.orderBy(F.desc("bm25"), F.asc("id")))
        )
    )
    dcg = ranked.select(
        (F.col("rel") / F.log2(F.col("rank") + 1)).alias("g")
    ).agg(F.sum("g").alias("dcg"))
    ideal = (
        scored.select("id", "rel")
        .orderBy(F.desc("rel"), F.asc("id"))
        .limit(k)
        .withColumn("rank", F.row_number().over(Window.orderBy(F.desc("rel"), F.asc("id"))))
        .select((F.col("rel") / F.log2(F.col("rank") + 1)).alias("g"))
        .agg(F.sum("g").alias("idcg"))
    )
    return (
        dcg.crossJoin(F.broadcast(ideal))
        .select(
            F.lit(k).alias("k"),
            F.round("dcg", 6).alias("dcg"),
            F.round("idcg", 6).alias("idcg"),
            F.round(F.col("dcg") / F.nullif(F.col("idcg"), F.lit(0.0)), 6).alias("ndcg"),
        )
    )


def zipf_slope(df: DataFrame, text_col: str = "text", top_n: int = 1000) -> DataFrame:
    """Zipf's-law fit of the corpus: OLS slope of ln(freq) ~ ln(rank)
    over the top_n words (natural corpora slope toward -1; synthetic or
    templated text drifts off) — a one-number corpus-health probe for
    curation dashboards.

    One corpus tokenize pass to vocabulary counts; the top-N cut is
    orderBy().limit() — TakeOrderedAndProject, a per-partition top-N
    heap + driver merge, never a vocab-scale global rank window (r14) —
    and the rank + closed-form OLS then run over top_n rows (bounded by
    the PARAMETER, not the vocabulary). Rank is (freq DESC, word) so the
    fit is engine-exact modulo float-sum rounding (gated at 6dp).
    """
    from pyspark.sql import Window

    wc = (
        df.select(F.explode(_tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ranked = (
        wc.orderBy(F.desc("n"), F.asc("w"))
        .limit(top_n)
        .withColumn(
            "rank", F.row_number().over(Window.orderBy(F.desc("n"), F.asc("w")))
        )
        .select(F.log("rank").alias("x"), F.log("n").alias("y"))
    )
    fit = ranked.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return fit.select(
        "n_points",
        F.round(
            (F.col("n_points") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.nullif(
                F.col("n_points") * F.col("sxx") - F.col("sx") * F.col("sx"),
                F.lit(0.0),
            ),
            6,
        ).alias("zipf_slope"),
    )


def corpus_diversity(
    df: DataFrame, group_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Per-group lexical diversity: token count, distinct unigrams,
    type-token ratio, and unigram Shannon entropy (nats) — the
    templated-content / mode-collapse probe run per language or source
    when assembling a training mix. Two vocabulary-sized aggregates, no
    corpus re-shuffle."""
    toks = df.select(
        F.col(group_col).alias("g"), F.explode(_tokens(F.col(text_col))).alias("w")
    )
    # vocabulary-sized; feeds totals AND entropy — materialize once or
    # both branches re-tokenize from the scan (plan_audit r5)
    vocab = toks.groupBy("g", "w").agg(F.count(F.lit(1)).alias("n")).localCheckpoint()
    tot = vocab.groupBy("g").agg(
        F.sum("n").alias("n_tokens"), F.count(F.lit(1)).alias("n_types")
    )
    ent = (
        vocab.join(F.broadcast(tot.select("g", "n_tokens")), "g")
        .select(
            "g",
            (
                -(F.col("n") / F.col("n_tokens"))
                * F.log(F.col("n") / F.col("n_tokens"))
            ).alias("e"),
        )
        .groupBy("g")
        .agg(F.sum("e").alias("entropy"))
    )
    return (
        tot.join(ent, "g")
        .select(
            F.col("g").alias(group_col),
            "n_tokens",
            "n_types",
            F.round(F.col("n_types") / F.col("n_tokens"), 6).alias("ttr"),
            F.round("entropy", 6).alias("unigram_entropy"),
        )
    )


def pmi_collocations(
    df: DataFrame, text_col: str = "text", top_k: int = 20, min_count: int = 5
) -> DataFrame:
    """Collocation extraction: top-k adjacent word bigrams by count with
    pointwise mutual information, PMI = ln(N * c(xy) / (c(x) * c(y))) —
    the classic corpus-linguistics signal separating true collocations
    ('new york') from merely-frequent pairs ('of the').

    One tokenize pass feeds both the unigram and bigram counts (the
    token-array frame is MATERIALIZED once — without truncation the
    unigram/bigram/total branches each re-ran the tokenizer from the
    scan, plan_audit r5); the PMI join is vocabulary-sized. Rank is
    (count DESC, bigram ASC) — deterministic."""
    from pyspark.sql import Window

    toks = df.select(_tokens(F.col(text_col)).alias("tk")).where(
        F.size("tk") > 0
    ).localCheckpoint()
    uni = (
        toks.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    n_tokens = uni.agg(F.sum("cw").alias("n"))
    bi = (
        # size >= 2 guard is load-bearing: sequence(1, 0) yields a
        # DESCENDING [1, 0] array, and element_at(_, 0) throws under ANSI
        toks.where(F.size("tk") > 1)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("tk") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("tk"), i).alias("w1"),
                        F.element_at(F.col("tk"), i + 1).alias("w2"),
                    ),
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cxy"))
        .where(F.col("cxy") >= min_count)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("cw").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cw").alias("c2"))
    scored = (
        bi.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_tokens))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            "cxy",
            F.round(
                F.log(F.col("n") * F.col("cxy") / (F.col("c1") * F.col("c2"))), 6
            ).alias("pmi"),
        )
    )
    # top-k via TakeOrderedAndProject, then the rank window runs over
    # top_k rows — bounded by the parameter, never the bigram vocabulary
    # (r14; the ndcg_at_k pattern)
    w = Window.orderBy(F.desc("cxy"), F.asc("bigram"))
    return (
        scored.orderBy(F.desc("cxy"), F.asc("bigram"))
        .limit(int(top_k))
        .withColumn("rank", F.row_number().over(w))
        .select("rank", "bigram", "cxy", "pmi")
    )


def vocab_coverage(
    df: DataFrame, text_col: str = "text", sizes: list[int] = (100, 1000, 10000)
) -> DataFrame:
    """Vocabulary coverage curve: for each candidate vocabulary size N,
    the share of all corpus tokens covered by the N most frequent words
    — the tokenizer-sizing number (how big a word vocab must be before
    <unk> is rare). r14: the max(sizes) cut is orderBy().limit()
    (TakeOrderedAndProject — per-partition top-N heap), so the rank and
    cumulative windows run over a frame bounded by the PARAMETER, never
    by vocabulary cardinality; one corpus pass."""
    from pyspark.sql import Window

    wc = (
        df.select(F.explode(_tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = wc.orderBy(F.desc("n"), F.asc("w")).limit(max(int(s) for s in sizes))
    ranked = top.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("n"), F.asc("w")))
    ).withColumn(
        "cum",
        F.sum("n").over(
            Window.orderBy(F.desc("n"), F.asc("w")).rowsBetween(
                Window.unboundedPreceding, 0
            )
        ),
    )
    tot = wc.agg(F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_types"))
    picks = ranked.where(F.col("rank").isin([int(s) for s in sizes]))
    return (
        picks.crossJoin(F.broadcast(tot))
        .select(
            F.col("rank").alias("vocab_size"),
            F.round(F.col("cum") / F.col("total"), 6).alias("coverage"),
            "n_types",
        )
        .orderBy("vocab_size")
    )


def ngram_novelty(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document novelty in ingestion order: the fraction of a doc's
    distinct n-grams whose FIRST corpus occurrence (minimum doc id) is
    this doc — the 'how much new content does each batch add' curve that
    drives incremental-crawl budgeting. A near-duplicate of earlier
    material scores ~0; genuinely new text scores ~1.

    One inverted-index aggregate (gram -> min doc id, the same index
    family the contamination/boilerplate gates build) joined back to the
    per-doc gram sets; docs with no n-grams (shorter than n tokens)
    report 0 of 0 via the left join."""
    # the exploded gram frame feeds the first-seen index AND the join-back
    # — materialized once or both branches re-shingle from the scan
    # (plan_audit r5)
    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(_distinct_word_ngrams(F.col(text_col), n)).alias("g"),
    ).localCheckpoint()
    first_seen = grams.groupBy("g").agg(F.min("id").alias("first_id"))
    per_doc = (
        grams.join(first_seen, "g")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("first_id") == F.col("id")).cast("long")).alias("n_novel"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.round(
                F.col("n_novel")
                / F.nullif(F.coalesce("n_grams", F.lit(0)).cast("double"), F.lit(0.0)),
                6,
            ).alias("novelty"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 1.0,
) -> DataFrame:
    """Bigram language-model fluency score with add-k (Laplace) smoothing:
    per document, the average negative log of P(w2|w1) =
    (c(w1,w2) + k) / (c(w1) + k·V) under the corpus's own bigram counts —
    the next step up from unigram_logprob toward the CCNet/KenLM quality
    filter: word-salad documents whose unigrams look fine (right words,
    wrong order) score high here.

    Scale shape (word-count-shaped, no driver collect):
    1. bigrams come straight off the token ARRAY (zip_with of two slices —
       pure codegen, no positional self-join) and explode once;
    2. corpus bigram counts and unigram (history) counts are two
       map-side-combinable groupBys; V is a 1-row aggregate folded back
       via broadcast cross join;
    3. scoring joins the exploded doc bigrams to both count frames ON the
       word keys — high-cardinality shuffle joins that parallelize, with
       Catalyst/AQE free to broadcast whichever side is small;
    4. per-doc mean is a final groupBy(id); docs with < 2 tokens come back
       with n_bigrams = 0 and NULL score via the closing left join (same
       coverage contract as unigram_logprob).

    The tokenized (id, tokens) frame is materialized ONCE and feeds the
    bigram explode, the unigram counts AND the id-coverage join — without
    truncation each branch would re-run the regex tokenizer over the full
    corpus from the scan (the dedup.py re-shingle lesson).

    Returns (id, n_bigrams, avg_neg_logp2), ordered by id.
    """
    tokd = df.select(
        F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("__tk")
    ).localCheckpoint()
    tk = F.col("__tk")
    bi = F.zip_with(
        F.slice(tk, 1, F.greatest(F.size(tk) - 1, F.lit(0))),
        F.slice(tk, 2, F.greatest(F.size(tk) - 1, F.lit(0))),
        lambda w1, w2: F.struct(w1.alias("w1"), w2.alias("w2")),
    )
    ex = (
        tokd.select("id", F.explode(bi).alias("b"))
        .select("id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    c2 = ex.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__c2"))
    uni = tokd.select(F.explode(tk).alias("w1"))
    c1 = uni.groupBy("w1").agg(F.count(F.lit(1)).alias("__c1"))
    vsize = c1.agg(F.count(F.lit(1)).alias("__v"))
    scored = (
        ex.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vsize))
        .select(
            "id",
            (
                -F.log(
                    (F.col("__c2") + F.lit(k))
                    / (F.col("__c1") + F.lit(k) * F.col("__v"))
                )
            ).alias("__nlp"),
        )
    )
    per_doc = scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("__n"),
        F.round(F.avg("__nlp"), 6).alias("avg_neg_logp2"),
    )
    return (
        tokd.select("id")
        .join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("__n", F.lit(0)).alias("n_bigrams"),
            "avg_neg_logp2",
        )
        .orderBy("id")
    )

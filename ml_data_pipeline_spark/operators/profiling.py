"""Profiling / inspection operators (SURVEY.md §2.2, P1-P13).

Reference semantics come from a pandas desktop app that profiles one in-memory
table at a time (e.g. missing counts at
/root/reference/checking_data_formats_ui.py:382-401, value counts at
/root/reference/checking_data_formats_ui.py:510, rare values at
/root/reference/checking_data_formats_ui.py:468-533). Here each profile is a
single declarative aggregation so Catalyst fuses scan+project+agg and the
whole thing is one shuffle (or zero, for map-side-only profiles) regardless of
table size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ml_data_pipeline_spark.functions.sql_text import sql_ident, sql_string

def numeric_columns(df: DataFrame) -> list[str]:
    """Schema-driven numeric-column selection (ref: select_dtypes(include=[np.number]),
    /root/reference/checking_data_formats_ui.py:296)."""
    return [f.name for f in df.schema.fields if isinstance(f.dataType, T.NumericType)]

def categorical_columns(df: DataFrame) -> list[str]:
    """String columns = the reference's 'object' columns
    (/root/reference/checking_data_formats_ui.py:304-308)."""
    return [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]

def shape_census(df: DataFrame) -> DataFrame:
    """P1 — rows x cols and dtype census
    (ref /root/reference/load_dataset_ui.py:107-126).

    One row per distinct Spark type with its column count; n_rows repeated.
    Single count() job; schema inspection is metadata-only (no scan).
    """
    by_type: dict[str, int] = {}
    for f in df.schema.fields:
        name = f.dataType.simpleString()
        by_type[name] = by_type.get(name, 0) + 1
    n_rows = df.count()
    spark = df.sparkSession
    rows = [(t, c, n_rows, len(df.columns)) for t, c in sorted(by_type.items())]
    return spark.createDataFrame(rows, "dtype string, n_cols_of_type int, n_rows long, n_cols int")

def missing_counts(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """P2 — per-column null count, null %, and >50% flag, sorted desc
    (ref /root/reference/checking_data_formats_ui.py:382-401).

    ONE pass over the table: all per-column null sums are computed in a single
    map-side-combinable aggregate (no per-column jobs, no shuffle of raw rows).
    Output: (column, n_missing, pct_missing, flag_over_half) for columns with
    any nulls, ordered by n_missing desc then column name.
    """
    columns = columns or df.columns
    aggs = [F.sum(F.col(c).isNull().cast("long")).alias(c) for c in columns]
    totals = df.agg(F.count(F.lit(1)).alias("__n"), *aggs)
    # unpivot the single aggregate row: stack(k, 'c1', c1, ...) — stays in JVM
    stack_args = ", ".join(f"{sql_string(c)}, {sql_ident(c)}" for c in columns)
    unpivoted = totals.selectExpr(
        "__n", f"stack({len(columns)}, {stack_args}) as (column, n_missing)"
    )
    return (
        unpivoted.where(F.col("n_missing") > 0)
        .select(
            "column",
            "n_missing",
            F.round(F.col("n_missing") * 100.0 / F.col("__n"), 6).alias("pct_missing"),
            (F.col("n_missing") * 2 > F.col("__n")).alias("flag_over_half"),
        )
        .orderBy(F.desc("n_missing"), "column")
    )

def total_missing(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """P3 — grand total of nulls (ref df.isnull().sum().sum(),
    /root/reference/checking_data_formats_ui.py:294). Single aggregate row."""
    columns = columns or df.columns
    exprs = [F.sum(F.col(c).isNull().cast("long")) for c in columns]
    total = exprs[0]
    for e in exprs[1:]:
        total = total + e
    return df.agg(total.alias("total_missing"))

def distinct_counts(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """P4 — distinct non-null count per categorical column, ascending
    (ref /root/reference/checking_data_formats_ui.py:310-314).

    Exact counts via one aggregate (Spark plans count(distinct) over several
    columns as an expand + single shuffle). For display-only profiling at
    100 TB prefer the separate approx_distinct_counts (HLL, no expand
    blow-up).
    """
    columns = columns or categorical_columns(df)
    aggs = [F.countDistinct(F.col(c)).alias(c) for c in columns]
    row = df.agg(*aggs)
    stack_args = ", ".join(f"{sql_string(c)}, {sql_ident(c)}" for c in columns)
    return (
        row.selectExpr(f"stack({len(columns)}, {stack_args}) as (column, n_distinct)")
        .orderBy("n_distinct", "column")
    )

def hll_shard_sketches(
    df: DataFrame, column: str, shard_col: str, lg_k: int = 12
) -> DataFrame:
    """Per-shard HyperLogLog sketches (Apache DataSketches via Spark's
    hll_sketch_agg): one binary sketch row per shard, persistable next to
    the shard (the datamart pattern — a nightly job sketches each
    partition once; any later query unions the stored sketches instead of
    rescanning the fact table). The union is register-wise max, so merging
    shard sketches is LOSSLESS versus sketching the whole table in one
    pass — pinned by the p37 gate."""
    return df.groupBy(shard_col).agg(
        F.expr(f"hll_sketch_agg({sql_ident(column)}, {int(lg_k)})").alias("hll_sketch")
    )


def hll_merge_estimate(sketches: DataFrame) -> int:
    """Distinct-count estimate from unioned shard sketches (driver scalar).
    hll_union_agg's optional flag permits mixed lgConfigK; shard sketches
    built by hll_shard_sketches share one lgK, so the default strict union
    applies."""
    est = sketches.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(hll_sketch))").alias("est")
    ).first()["est"]
    # zero shards (an empty date partition in the nightly job) unions to
    # NULL — that is 0 distinct values, not an error
    return int(est) if est is not None else 0


def approx_distinct_counts(df: DataFrame, columns: list[str] | None = None, rsd: float = 0.05) -> DataFrame:
    """P4 at scale — HLL-based distinct counts; one pass, no expand."""
    columns = columns or categorical_columns(df)
    aggs = [F.approx_count_distinct(F.col(c), rsd).alias(c) for c in columns]
    row = df.agg(*aggs)
    stack_args = ", ".join(f"'{c}', `{c}`" for c in columns)
    return row.selectExpr(f"stack({len(columns)}, {stack_args}) as (column, n_distinct)").orderBy(
        "n_distinct", "column"
    )

def value_counts(df: DataFrame, column: str, dropna: bool = False) -> DataFrame:
    """P6 — frequency table, null-inclusive, sorted by value
    (ref series.value_counts(dropna=False).sort_index(),
    /root/reference/checking_data_formats_ui.py:510).

    groupBy+count = partial (map-side) aggregation then one shuffle on the
    value — the canonical scalable frequency profile.
    """
    out = df
    if dropna:
        out = out.where(F.col(column).isNotNull())
    return out.groupBy(column).agg(F.count(F.lit(1)).alias("count")).orderBy(column)

def rare_values(
    df: DataFrame,
    column: str,
    max_count: int,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """P7 — values occurring <= max_count times, with optional numeric range
    pre-filter (ref /root/reference/checking_data_formats_ui.py:468-533;
    duplicate impl /root/reference/preprocessing/outlier_categories_ui.py:161-234).

    The range filter is applied before aggregation so it pushes down to the
    scan; the count<=N filter runs post-aggregation (HAVING).
    """
    out = df.where(F.col(column).isNotNull())
    if lo is not None:
        out = out.where(F.col(column) >= F.lit(lo))
    if hi is not None:
        out = out.where(F.col(column) <= F.lit(hi))
    return (
        out.groupBy(column)
        .agg(F.count(F.lit(1)).alias("count"))
        .where(F.col("count") <= F.lit(max_count))
        .orderBy("count", column)
    )

def rare_value_summary(
    df: DataFrame, column: str, max_count: int, lo: float | None = None, hi: float | None = None
) -> DataFrame:
    """P7 summary — total rare rows, distinct rare values, min/max frequency
    (ref /root/reference/checking_data_formats_ui.py:516-533)."""
    rare = rare_values(df, column, max_count, lo, hi)
    return rare.agg(
        F.coalesce(F.sum("count"), F.lit(0)).alias("total_rare_rows"),
        F.count(F.lit(1)).alias("n_rare_values"),
        F.min("count").alias("min_freq"),
        F.max("count").alias("max_freq"),
    )

def class_distribution(df: DataFrame, target: str, top_k: int = 15) -> DataFrame:
    """P8 — top-k class counts, desc (ref
    /root/reference/preprocessing/correlation_graph_ui.py:100-116). Ties broken
    by class value for determinism."""
    return (
        df.groupBy(target)
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), target)
        .limit(top_k)
    )

def class_stats_head_tail(df: DataFrame, target: str, head: int = 10, tail: int = 2) -> DataFrame:
    """P9 — first `head` + last `tail` classes by frequency, deduplicated
    (ref /root/reference/preprocessing/data_balancing/data_balancing_operaiting_classes.py:81-107).

    Implemented with rank windows over the aggregated (tiny) frequency table —
    the window runs on class cardinality, not row count.
    """
    counts = df.groupBy(target).agg(F.count(F.lit(1)).alias("count"))
    w_desc = Window.orderBy(F.desc("count"), F.col(target))
    w_asc = Window.orderBy(F.asc("count"), F.col(target).desc())
    ranked = counts.select(
        target,
        "count",
        F.row_number().over(w_desc).alias("__rd"),
        F.row_number().over(w_asc).alias("__ra"),
    )
    return (
        ranked.where((F.col("__rd") <= head) | (F.col("__ra") <= tail))
        .select(target, "count")
        .orderBy(F.desc("count"), target)
    )

def example_values(df: DataFrame, column: str, n: int = 3, truncate: int = 30) -> DataFrame:
    """P10 — first n distinct non-null values, truncated
    (ref /root/reference/preprocessing/dataset_processing_check_nan.py:283-293).
    Deterministic: ordered by value, not arrival order (Spark has no row order).
    """
    return (
        df.where(F.col(column).isNotNull())
        .select(F.substring(F.col(column).cast("string"), 1, truncate).alias("example"))
        .distinct()
        .orderBy("example")
        .limit(n)
    )

def column_range(df: DataFrame, column: str) -> DataFrame:
    """P11 — min/max for filter hints (ref /root/reference/splitting_dataset_ui.py:332-334).
    For parquet sources this can be answered from footer statistics."""
    return df.agg(F.min(column).alias("min_value"), F.max(column).alias("max_value"))

def correlation_pairs(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """P12 — pairwise Pearson correlation of numeric columns as a long table
    (column_a, column_b, corr), a < b (ref numeric_df.corr(),
    /root/reference/preprocessing/correlation_graph_ui.py:153,180-183).

    Computed in ONE aggregation pass: corr is algebraic (sums/products), so all
    k*(k-1)/2 pairs share a single scan + single reduce. This beats k^2 calls
    to df.stat.corr (k^2 jobs) and matches pyspark.ml's Correlation without the
    vector-assembly detour.
    """
    columns = columns or numeric_columns(df)
    pairs = [(a, b) for i, a in enumerate(columns) for b in columns[i + 1 :]]
    if not pairs:
        raise ValueError("need >= 2 numeric columns")
    aggs = [F.corr(F.col(a), F.col(b)).alias(f"__c{i}") for i, (a, b) in enumerate(pairs)]
    row = df.agg(*aggs)
    # stack with THREE values per group emits (column_a, column_b, corr)
    # directly — the old name-pair string round-trip split on '|' and
    # mis-parsed any column name containing one (r10 review)
    stack_args = ", ".join(
        f"{sql_string(a)}, {sql_string(b)}, `__c{i}`" for i, (a, b) in enumerate(pairs)
    )
    return (
        row.selectExpr(
            f"stack({len(pairs)}, {stack_args}) as (column_a, column_b, corr)"
        )
        .select("column_a", "column_b", F.round(F.col("corr"), 6).alias("corr"))
        .orderBy("column_a", "column_b")
    )

def histogram(df: DataFrame, column: str, bin_width: float, class_column: str | None = None) -> DataFrame:
    """P13 — fixed-width histogram, optionally grouped by class
    (ref /root/reference/eda.py:47-55,473-508).

    floor(col/width) keeps binning inside whole-stage codegen; groupBy gives
    map-side partial counts. At 100 TB this is the only sane histogram: one
    shuffle of (n_bins x n_classes) partial rows.
    """
    bin_expr = F.floor(F.col(column) / F.lit(bin_width)).cast("long").alias("bin")
    keys = [bin_expr] if class_column is None else [F.col(class_column), bin_expr]
    out = (
        df.where(F.col(column).isNotNull())
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("count"))
        .withColumn("bin_lo", F.round(F.col("bin") * F.lit(bin_width), 6))
    )
    order = ["bin"] if class_column is None else [class_column, "bin"]
    return out.orderBy(*order)

DATE_SNIFF_FORMATS = ("M/d/yyyy", "M/d/yy", "d/M/yyyy", "yyyy-MM-dd", "d.M.yyyy", "yyyy/M/d")

def classify_column_types(
    df: DataFrame, sample_rows: int = 100, parse_threshold: float = 0.8
) -> DataFrame:
    """P5 — column classification: numeric / bool / date / categorical /
    text-ish string (ref /root/reference/checking_data_formats_ui.py:296-308,
    403-416,444-466).

    Schema answers numeric/bool for free; string columns are sniffed on a
    LIMITed sample (one tiny job, never a full scan): date = >80% of the
    sample parses under one of the reference's 6 formats; otherwise
    categorical if the sample is not fully numeric-parseable, else numeric-
    as-string. Mirrors the reference's sample-based heuristics exactly.
    """
    from pyspark.sql.types import (
        BooleanType,
        DateType,
        NumericType,
        StringType,
        TimestampNTZType,
        TimestampType,
    )

    spark = df.sparkSession
    out: list[tuple[str, str]] = []
    string_cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, BooleanType):
            out.append((f.name, "bool"))
        elif isinstance(f.dataType, NumericType):
            out.append((f.name, "numeric"))
        elif isinstance(f.dataType, (DateType, TimestampType, TimestampNTZType)):
            out.append((f.name, "date"))
        elif isinstance(f.dataType, StringType):
            string_cols.append(f.name)
        else:
            out.append((f.name, "other"))
    if string_cols:
        sample = df.select(string_cols).limit(sample_rows).cache()
        n = sample.count()
        if n:
            aggs = []
            for c in string_cols:
                parsed = F.coalesce(
                    *[F.try_to_timestamp(F.col(c), F.lit(fmt)) for fmt in DATE_SNIFF_FORMATS]
                )
                aggs.append(F.sum(parsed.isNotNull().cast("int")).alias(f"__d_{c}"))
                aggs.append(
                    F.sum(F.col(c).try_cast("double").isNotNull().cast("int")).alias(f"__n_{c}")
                )
                aggs.append(F.sum(F.col(c).isNotNull().cast("int")).alias(f"__nn_{c}"))
            row = sample.agg(*aggs).first()
            for c in string_cols:
                nn = row[f"__nn_{c}"] or 0
                if nn == 0:
                    out.append((c, "categorical"))
                elif (row[f"__d_{c}"] or 0) / nn > parse_threshold:
                    out.append((c, "date"))
                elif (row[f"__n_{c}"] or 0) == nn:
                    out.append((c, "numeric_string"))
                else:
                    out.append((c, "categorical"))
        else:
            # EMPTY table: string columns still get a row (one row per
            # column is the contract; r10 review — they used to vanish)
            out.extend((c, "categorical") for c in string_cols)
        sample.unpersist()
    return spark.createDataFrame(sorted(out), "column string, type_class string")

ID_NAME_HINTS = ("id", "key", "index", "row", "number")

def common_columns_and_targets(
    train: DataFrame, test: DataFrame, distinct_ratio: float = 0.9
) -> DataFrame:
    """T7 — schema intersection + target-candidate detection: common columns
    whose distinct count < ratio*rows and whose name is not id-ish
    (ref /root/reference/researching_models/model_evaluation_ui.py:233-243).

    Distinct counts via ONE approx_count_distinct aggregate over the common
    columns (sketch-based, single scan)."""
    common = [c for c in train.columns if c in set(test.columns)]
    n = train.count()
    row = train.agg(
        *[F.approx_count_distinct(c).alias(c) for c in common]
    ).first()
    rows = []
    for c in common:
        idish = any(h in c.lower() for h in ID_NAME_HINTS)
        candidate = (row[c] < distinct_ratio * n) and not idish
        rows.append((c, bool(candidate)))
    return train.sparkSession.createDataFrame(
        sorted(rows), "column string, is_target_candidate boolean"
    )

def question_template(
    df: DataFrame, exclude: list[str] | None = None, choice_threshold: int = 10
) -> DataFrame:
    """S13 — per-feature inference prompts: <=10 distinct non-null values →
    enumerated choice prompt, else numeric range prompt
    (ref /root/reference/inference_models/inference_trained_models.py:147-183,216-228).

    One pass per column over a cardinality-capped distinct (LIMIT k+1 stops
    the scan early for high-cardinality columns)."""
    exclude = set(exclude or [])
    spark = df.sparkSession
    rows = []
    for f in df.schema.fields:
        c = f.name
        if c in exclude:
            continue
        vals = [
            r[0]
            for r in df.select(c).where(F.col(c).isNotNull()).distinct()
            .orderBy(c).limit(choice_threshold + 1).collect()
        ]
        if 0 < len(vals) <= choice_threshold:
            prompt = f"Choose one of: {', '.join(str(v) for v in vals)}"
        else:
            r = df.agg(F.min(c).alias("lo"), F.max(c).alias("hi")).first()
            prompt = f"Enter a value between {r['lo']} and {r['hi']}"
        rows.append((c, prompt))
    return spark.createDataFrame(sorted(rows), "column string, prompt string")

def numeric_summary(
    df: DataFrame, cols: list[str], exact: bool = False
) -> DataFrame:
    """Five-number summary + mean/std per numeric column, ONE pass over the
    data (all aggregates in a single agg; the per-column rows come from
    exploding one driver-side struct array — no second scan).

    exact=False (default) uses approx_percentile (t-digest-style sketch,
    mergeable, bounded memory) — the only percentile that scales: the exact
    percentile aggregate buffers every value of the column per group.
    exact=True is for small data and for proving semantics against an
    exact oracle (quantile_cont parity: both use linear interpolation)."""
    def pct(c: str, p: float):
        if exact:
            return F.percentile(F.col(c).cast("double"), F.lit(p))
        return F.approx_percentile(F.col(c).cast("double"), F.lit(p), F.lit(10_000))

    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.round(F.min(F.col(c).cast("double")), 6).alias("minv"),
            F.round(pct(c, 0.25), 6).alias("q25"),
            F.round(pct(c, 0.5), 6).alias("median"),
            F.round(pct(c, 0.75), 6).alias("q75"),
            F.round(F.max(F.col(c).cast("double")), 6).alias("maxv"),
            F.round(F.avg(F.col(c).cast("double")), 6).alias("mean"),
            F.round(F.stddev(F.col(c).cast("double")), 6).alias("std"),
        ).alias(f"__s_{c}")
        for c in cols
    ]
    one = df.agg(*structs)
    return one.select(
        F.explode(F.array(*[F.col(f"__s_{c}") for c in cols])).alias("s")
    ).select("s.*")

def outliers_zscore(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    threshold: float = 3.0,
) -> DataFrame:
    """Rows whose value deviates more than `threshold` sample standard
    deviations from their group's mean (global when group_col is None).
    Two map-side-combinable aggregates + a broadcast-back join — the
    per-group stats table is group-cardinality, never data-sized."""
    x = F.col(value_col).cast("double")
    if group_col:
        stats = df.groupBy(group_col).agg(
            F.avg(x).alias("__mu"), F.stddev(x).alias("__sd")
        )
        joined = df.join(F.broadcast(stats), group_col)
    else:
        stats = df.agg(F.avg(x).alias("__mu"), F.stddev(x).alias("__sd"))
        joined = df.crossJoin(F.broadcast(stats))
    z = (x - F.col("__mu")) / F.col("__sd")
    return (
        joined.where(F.col("__sd") > 0)
        .withColumn("zscore", F.round(z, 6))
        .where(F.abs(F.col("zscore")) > threshold)
        .drop("__mu", "__sd")
    )

def key_skew_stats(
    df: DataFrame,
    key_col: str,
    top_k: int = 10,
    rows_per_task: int = 1_000_000,
) -> DataFrame:
    """Shuffle-skew planner: per-key row counts for the heaviest top_k keys,
    each key's share of the table, and the salt factor a salted join/agg on
    that key would need (ceil(count / rows_per_task)) — the measurement that
    decides between a plain join, AQE skew handling, and skew.salted_join.

    One map-side-combinable count per key, then a top_k-row sort — the
    result is top_k rows regardless of data size."""
    total = df.count()
    return (
        df.groupBy(F.col(key_col).cast("string").alias("key"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("key").asc())
        .limit(top_k)
        .select(
            "key",
            "cnt",
            F.round(F.col("cnt") / F.lit(float(total)), 6).alias("share"),
            F.ceil(F.col("cnt") / F.lit(float(rows_per_task))).cast("long").alias("salt_factor"),
        )
    )

def psi_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    column: str,
    splits: list[float],
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric column
    (train-vs-serve / version-vs-version drift monitoring): fixed split-point
    bins, per-bin population shares, psi_term = (pa - pb) * ln(pa / pb)
    with shares clipped at eps so empty bins stay finite. PSI = sum of terms
    (rule of thumb: > 0.2 = shifted).

    Each side is one map-side-combinable count per bin; the join is
    bin-cardinality. NULL values are EXCLUDED from both sides (r10
    review: a NULL bin key can never match itself in the full_outer
    join, so identical distributions with nulls reported two spurious
    eps-clipped rows — PSI ~2.3 of pure false alarm).
    Nothing here scales with data size except the two scans."""
    if not splits:
        raise ValueError("psi_drift needs at least one split point")

    def shares(df: DataFrame, name: str) -> DataFrame:
        df = df.where(F.col(column).isNotNull())
        x = F.col(column).cast("double")
        bin_expr = sum((x >= F.lit(float(s))).cast("int") for s in sorted(splits))
        # checkpoint the bin-cardinality counts: `total` and the share
        # projection both branch from it, and untruncated each branch
        # re-aggregates from the SOURCE scan (plan_audit: lineitem x4 on
        # the gate). len(splits)+1 rows — the cheapest checkpoint there is.
        counts = (
            df.select(bin_expr.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        total = counts.agg(F.sum("n").alias("t"))
        return counts.crossJoin(F.broadcast(total)).select(
            "bin", (F.col("n") / F.col("t")).alias(name)
        )

    a = shares(df_a, "pa")
    b = shares(df_b, "pb")
    pa = F.greatest(F.coalesce(F.col("pa"), F.lit(0.0)), F.lit(eps))
    pb = F.greatest(F.coalesce(F.col("pb"), F.lit(0.0)), F.lit(eps))
    return (
        a.join(b, "bin", "full_outer")
        .select(
            "bin",
            F.round(pa, 6).alias("share_a"),
            F.round(pb, 6).alias("share_b"),
            F.round((pa - pb) * F.log(pa / pb), 6).alias("psi_term"),
        )
        .orderBy("bin")
    )

def outliers_mad(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    k: float = 3.0,
    exact: bool = True,
) -> DataFrame:
    """Robust outliers via Median Absolute Deviation: flag rows with
    |x - median| > k * MAD per group. Unlike z-scores, one wild value
    cannot drag the threshold (median and MAD have a 50% breakdown point).

    Two grouped percentile aggregates with a broadcast-back join each
    (stats tables are group-cardinality). exact=True uses the exact
    percentile (buffers the group's values — right for oracle parity and
    modest groups); exact=False swaps in approx_percentile, the mergeable
    sketch that is the only option at 100 TB."""
    x = F.col(value_col).cast("double")

    def med(c):
        return F.percentile(c, F.lit(0.5)) if exact else F.approx_percentile(c, F.lit(0.5), F.lit(10_000))

    keys = [group_col] if group_col else []
    # exact grouped MAD is inherently two aggregation passes (median, then
    # median of deviations) plus the scoring pass. Run both stats passes
    # over a CACHED narrow (keys, value) projection so the source parquet
    # is scanned once into cache + once for scoring, instead of 4x
    # (plan_audit: lineitem x4 on the gate); the cache is two narrow
    # columns, spillable, and exactly what any multi-pass robust statistic
    # costs at 100 TB.
    from ml_data_pipeline_spark.cache import tracked_cache

    narrow = tracked_cache(df.select(*keys, x.alias("__x")))
    nx = F.col("__x")
    med1 = (
        narrow.groupBy(*keys).agg(med(nx).alias("__med"))
        if keys
        else narrow.agg(med(nx).alias("__med"))
    )
    n1 = narrow.join(F.broadcast(med1), keys) if keys else narrow.crossJoin(F.broadcast(med1))
    ndev = F.abs(nx - F.col("__med"))
    med2 = (
        n1.groupBy(*keys).agg(med(ndev).alias("__mad"))
        if keys
        else n1.agg(med(ndev).alias("__mad"))
    )
    stats = (
        med1.join(med2, keys)
        if keys
        else med1.crossJoin(med2)
    ).localCheckpoint()
    j2 = df.join(F.broadcast(stats), keys) if keys else df.crossJoin(F.broadcast(stats))
    dev = F.abs(x - F.col("__med"))
    score = dev / F.col("__mad")
    return (
        j2.where(F.col("__mad") > 0)
        .withColumn("mad_score", F.round(score, 6))
        .where(F.col("mad_score") > k)
        .drop("__med", "__mad")
    )

def _contingency(df: DataFrame, col_a: str, col_b: str):
    """Shared contingency scaffolding for the categorical-association
    family (association_stats chi2/MI, cramers_v): observed cells with
    total, expected counts and probability columns, plus the two marginal
    frames. Everything after the first groupBy is (|A| x |B|)-row sized —
    nothing scales with data."""
    # materialize the contingency table once: tot/ma/mb/cells all branch
    # from it, and without truncation each branch re-aggregates from the
    # SOURCE scan (the plan_audit sweep measured 4-6 scans per gate). The
    # frame is |A| x |B| rows — the cheapest possible checkpoint, and the
    # corpus-sized work above it runs exactly once.
    obs = (
        df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .agg(F.count(F.lit(1)).alias("o"))
    ).localCheckpoint()
    tot = obs.agg(F.sum("o").alias("n"))
    ma = obs.groupBy("a").agg(F.sum("o").alias("ra"))
    mb = obs.groupBy("b").agg(F.sum("o").alias("cb"))
    cells = (
        obs.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            "o",
            "n",
            (F.col("ra").cast("double") * F.col("cb") / F.col("n")).alias("e"),
            (F.col("o") / F.col("n")).alias("pij"),
            (F.col("ra") / F.col("n")).alias("pi"),
            (F.col("cb") / F.col("n")).alias("pj"),
        )
    )
    return cells, ma, mb


def _chi2_full() -> Column:
    """Empty-cell-complete chi2 as an aggregate expression over a
    _contingency cells frame: o=0 cells contribute e, and sum_all(e) = n,
    so chi2 = sum_obs((o-e)²/e - e) + n. The SINGLE definition both
    association_stats and cramers_v (and their oracles, by mirrored SQL)
    implement."""
    return (
        F.sum((F.col("o") - F.col("e")) ** 2 / F.col("e") - F.col("e"))
        + F.first(F.col("n"))
    )


def association_stats(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Chi-square statistic and mutual information between two categorical
    columns from ONE contingency-table pass (feature-selection /
    redundancy screening). chi2 includes empty cells via the _chi2_full
    identity (MI is unaffected: 0·log0 = 0)."""
    cells, _, _ = _contingency(df, col_a, col_b)
    counts = (
        cells.agg(
            F.round(_chi2_full(), 6).alias("chi2"),
            F.round(
                F.sum(F.col("pij") * F.log(F.col("pij") / (F.col("pi") * F.col("pj")))), 6
            ).alias("mutual_info"),
            F.count(F.lit(1)).alias("n_cells"),
            F.countDistinct("a").alias("n_a"),
            F.countDistinct("b").alias("n_b"),
        )
        .withColumn("dof", ((F.col("n_a") - 1) * (F.col("n_b") - 1)).cast("long"))
        .drop("n_a", "n_b")
    )
    return counts

def ks_statistic(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the value
    distributions of two groups: max |ECDF_a(x) - ECDF_b(x)| — the classic
    distribution-drift test to pair with psi_drift (PSI needs fixed bins;
    KS is bin-free and catches shape changes PSI's coarse bins smear out).

    Scale shape (aggregate-then-window, like histogram/psi): rows collapse
    to per-distinct-value counts (one map-side-combinable groupBy) before
    the cumulative pass. r14 (VERDICT r13 item 3): that pass now runs on
    ranged_cumsum — per-range parallel prefix sums + a P-row carry — so it
    stays parallel even on CONTINUOUS columns where distinct ≈ rows and
    the former single ordered window serialized into one task. The
    cumulative counts are exact longs, so the ECDF quotients are
    bit-identical to the global-window plan. Returns one row
    (ks_stat, n_a, n_b).
    """
    per_val = (
        # NULL metric values are dropped like welch_ttest/mann_whitney_u
        # do (r10 review: NULL sorted first in the cumulative window, so
        # differing null RATES inflated the KS stat between identical
        # observed distributions)
        df.where(F.col(group_col).isin([group_a, group_b]))
        .where(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("v"))
        .agg(
            F.sum((F.col(group_col) == group_a).cast("long")).alias("__ca"),
            F.sum((F.col(group_col) == group_b).cast("long")).alias("__cb"),
        )
    )
    # tot re-aggregates from source (2nd pruned scan — same cost the old
    # two-branch window plan paid); the kernel caches only the narrow
    # repartitioned per-value frame
    tot = per_val.agg(F.sum("__ca").alias("__na"), F.sum("__cb").alias("__nb"))
    cum = ranged_cumsum(per_val, ["v"], ["__ca", "__cb"])
    return (
        cum.withColumnRenamed("__cum___ca", "__cum_a")
        .withColumnRenamed("__cum___cb", "__cum_b")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                F.max(
                    F.abs(
                        # nullif (r14 hazard sweep): an ABSENT group makes
                        # its count 0 and ANSI mode turns the ECDF quotient
                        # into a DIVIDE_BY_ZERO crash mid-pipeline; the
                        # statistic is undefined there — return NULL (the
                        # silhouette/DB/ARI degenerate-input convention)
                        F.col("__cum_a") / F.nullif(F.col("__na"), F.lit(0))
                        - F.col("__cum_b") / F.nullif(F.col("__nb"), F.lit(0))
                    )
                ),
                6,
            ).alias("ks_stat"),
            F.first("__na").alias("n_a"),
            F.first("__nb").alias("n_b"),
        )
    )

def spearman_corr(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Spearman rank correlation between two numeric columns: Pearson
    correlation of the tie-averaged ranks (the reference's correlation
    matrix is Pearson-only — /root/reference/preprocessing/
    correlation_graph_ui.py:153; Spearman is the robust companion for
    monotone-but-nonlinear relations).

    Scale shape: per-row ranks are NEVER computed with a row-level sort.
    Each column collapses to per-DISTINCT-value counts (map-side
    combinable), the tie-averaged rank of a value is
    #smaller + (ties+1)/2 via a cumulative window over distinct values
    (bounded by value cardinality — same trick as exact_auc/ks_statistic),
    and rows get their ranks back through two equi-joins on the value key.
    The final corr() is one aggregate. Nulls in either column are dropped
    (pairwise-complete, pandas semantics).
    """
    # cache the narrow 2-column projection: both rank maps and the final
    # rank join scan it (plan_audit: lineitem x3 uncached) — the standard
    # multi-pass-statistic cache, spillable, two columns wide
    from ml_data_pipeline_spark.cache import tracked_cache

    base = tracked_cache(
        df.select(F.col(col_a).alias("__a"), F.col(col_b).alias("__b")).where(
            F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
        )
    )

    def rank_map(col: str) -> DataFrame:
        # tie-averaged rank = exclusive prefix count + (ties+1)/2; the
        # prefix runs on ranged_cumsum (r14, VERDICT r13 item 3) so a
        # continuous column (distinct ≈ rows) no longer serializes the
        # rank map into one ordered task — integer cumsums, bit-identical
        per = base.groupBy(F.col(col).alias("__v")).agg(F.count(F.lit(1)).alias("__c"))
        cum = ranged_cumsum(per, ["__v"], ["__c"])
        return cum.select(
            "__v",
            (F.col("__cum___c") - F.col("__c") + (F.col("__c") + 1) / 2.0).alias(
                f"__rank{col}"
            ),
        )

    ranked = (
        base.join(rank_map("__a").withColumnRenamed("__v", "__a"), "__a")
        .join(rank_map("__b").withColumnRenamed("__v", "__b"), "__b")
    )
    # Pearson-of-ranks spelled out with a nullif-guarded denominator: a
    # CONSTANT column has zero rank variance, and under ANSI mode F.corr
    # raises DIVIDE_BY_ZERO instead of returning null (found by the
    # hypothesis property test). covar_pop/stddev_pop give the identical
    # statistic with an explicit NULL for the degenerate case.
    denom = F.nullif(
        F.stddev_pop("__rank__a") * F.stddev_pop("__rank__b"), F.lit(0.0)
    )
    return ranked.agg(
        F.round(F.covar_pop("__rank__a", "__rank__b") / denom, 6).alias("spearman"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )

def welch_ttest(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Welch's unequal-variance t-test between two groups: t statistic and
    Welch-Satterthwaite degrees of freedom — the drift/AB-test companion to
    ks_statistic (KS is distribution-shape; Welch is mean-shift with a
    proper variance model).

    One map-side-combinable aggregate pass computes both groups' (n, mean,
    var_samp) as conditional aggregates — no split, no join, no second
    scan. Returns one row (t_stat, welch_df, mean_a, mean_b, n_a, n_b).
    Degenerate inputs (a group with < 2 rows or zero variance in both)
    yield explicit NULLs via nullif, never a divide-crash.
    """
    in_a = (F.col(group_col) == group_a).cast("int")
    in_b = (F.col(group_col) == group_b).cast("int")
    v = F.col(value_col)
    agg = df.where(F.col(group_col).isin([group_a, group_b]) & v.isNotNull()).agg(
        F.sum(in_a).alias("na"),
        F.sum(in_b).alias("nb"),
        F.avg(F.when(in_a == 1, v)).alias("ma"),
        F.avg(F.when(in_b == 1, v)).alias("mb"),
        F.var_samp(F.when(in_a == 1, v)).alias("va"),
        F.var_samp(F.when(in_b == 1, v)).alias("vb"),
    )
    sea = F.col("va") / F.col("na")
    seb = F.col("vb") / F.col("nb")
    se2 = sea + seb
    t = (F.col("ma") - F.col("mb")) / F.sqrt(F.nullif(se2, F.lit(0.0)))
    wdf = (se2 * se2) / F.nullif(
        (sea * sea) / F.nullif(F.col("na") - 1, F.lit(0))
        + (seb * seb) / F.nullif(F.col("nb") - 1, F.lit(0)),
        F.lit(0.0),
    )
    return agg.select(
        F.round(t, 6).alias("t_stat"),
        F.round(wdf, 6).alias("welch_df"),
        F.round("ma", 6).alias("mean_a"),
        F.round("mb", 6).alias("mean_b"),
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
    )

def k_anonymity(
    df: DataFrame,
    quasi_identifiers: list[str],
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier combination: equivalence-
    class sizes, how many classes/rows fall below k (re-identifiable), and
    the dataset's actual anonymity level (the smallest class). The privacy
    gate run BEFORE releasing or training on user-derived tabular data —
    the structured-data sibling of PII redaction.

    One map-side-combinable groupBy over the QI columns, then a scalar agg
    over the class-size table (cardinality-bounded). Flags, never mutates:
    suppression/generalization is a policy decision for the caller.
    """
    classes = df.groupBy(*quasi_identifiers).agg(F.count(F.lit(1)).alias("__n"))
    return classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("__n").alias("anonymity_k"),
        F.sum((F.col("__n") < k).cast("long")).alias("classes_below_k"),
        F.sum(F.when(F.col("__n") < k, F.col("__n")).otherwise(F.lit(0))).alias(
            "rows_below_k"
        ),
        F.sum("__n").alias("n_rows"),
    )

def benford_first_digit(df: DataFrame, column: str) -> DataFrame:
    """Benford's-law audit of a positive numeric column: observed share of
    each leading digit 1-9 vs the Benford expectation log10(1 + 1/d), with
    the per-digit deviation — the classic forensic screen for fabricated or
    truncated numeric data (real multiplicative quantities follow Benford;
    uniform or capped synthetics do not, and THAT signal is the point).

    The leading digit comes from the DECIMAL STRING of the floor'd value —
    exact integer formatting, identical across engines — never from
    log10 float math, whose boundary behavior at powers of ten differs in
    the last ulp. One map-side-combinable 9-group aggregate.
    """
    v = F.floor(F.abs(F.col(column))).cast("long")
    digit = F.substring(v.cast("string"), 1, 1).cast("int")
    per = (
        df.where(v >= 1)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = per.agg(F.sum("n").alias("__tot"))
    expected = F.log10(1.0 + 1.0 / F.col("digit"))
    share = F.col("n") / F.col("__tot")
    return (
        per.join(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.round(share, 6).alias("observed"),
            F.round(expected, 6).alias("benford"),
            F.round(share - expected, 6).alias("deviation"),
        )
        .orderBy("digit")
    )

def gini_coefficient(
    df: DataFrame,
    value_col: str,
    id_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Gini coefficient of a non-negative value distribution via the rank
    formula G = 2*sum(i*x_(i))/(n*sum(x)) - (n+1)/n over ascending ranks —
    the Lorenz-curve concentration summary (revenue concentration, token-
    per-domain imbalance).

    Distributed rank, NOT a global row_number window (which serializes the
    whole sort into one task — the i4_interpolate lesson): repartitionByRange
    on (value, id) gives P sorted disjoint ranges; ranks are local
    row_numbers plus per-partition prefix offsets computed from a P-row
    count aggregate broadcast back as a literal map. Ties broken by id for
    engine determinism.
    """
    spark = df.sparkSession
    P = num_partitions or spark.sparkContext.defaultParallelism
    ranked = ranged_rank(df, [value_col, id_col], out_col="__rank", num_partitions=P)
    out = ranked.agg(
        F.round(
            (2.0 * F.sum(F.col("__rank") * F.col(value_col)))
            / (F.count(F.lit(1)) * F.sum(value_col))
            - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return out

def ranged_rank(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global ascending row_number over `order_cols` WITHOUT a global
    single-task window sort (the i4_interpolate lesson): repartitionByRange
    gives P sorted disjoint ranges, local row_numbers are offset by prefix
    sums from a P-row count aggregate broadcast back as a literal map.
    The caller makes `order_cols` a unique key (append an id) so the rank
    is engine-deterministic. Output = input columns + `out_col` (double).

    The shared rank kernel for gini_coefficient and RFM scoring — the
    same shape impute_interpolate_ranged uses for ordered imputation.

    EAGER-ACTION CONTRACT (r15, ADVICE — applies to every operator built
    on this kernel or ranged_cumsum: label/binary encode maps, quantile
    transform, the roc/pr/lift/qini curve family, dsir_select, the
    sweep-line/stat gates): constructing the returned DataFrame runs a
    Spark job NOW (tracked_cache + the P-row offsets collect). Do not
    build these plans speculatively, and do not feed them a STREAMING
    DataFrame — the collect is illegal there; streaming callers use the
    bounded per-window/stateful operators instead. Batch semantics are
    unchanged; this note is about WHEN the first job fires.
    """
    spark = df.sparkSession
    P = num_partitions or spark.sparkContext.defaultParallelism
    asc = [F.asc(c) for c in order_cols]
    rp = df.repartitionByRange(P, *asc).withColumn("__pid", F.spark_partition_id())
    from ml_data_pipeline_spark.cache import tracked_cache

    # spark_partition_id must stay stable across both reads; TRACKED so
    # release_tracked() can free the full-width pin (r10 review: a raw
    # cache here leaked a data-sized pin per gini/RFM call in long
    # sessions — exactly the class cache.py exists for)
    rp = tracked_cache(rp)
    counts = {
        r["__pid"]: r["n"]
        for r in rp.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if offsets:
        off = F.create_map(
            *[F.lit(x) for pid in offsets for x in (pid, offsets[pid])]
        )[F.col("__pid")]
    else:
        # empty input (r15 degenerate-input sweep): an empty literal map
        # types as map<void,void> and map()[__pid] is an AnalysisException
        # — the same guard ranged_cumsum carries. Zero rows make the rank
        # vacuous; the column still lands for schema stability.
        off = F.lit(0)
    lrank = F.row_number().over(Window.partitionBy("__pid").orderBy(*asc))
    return rp.withColumn(out_col, (off + lrank).cast("double")).drop("__pid")

def ranged_cumsum(
    df: DataFrame,
    order_cols: list[str],
    sum_cols: list[str],
    prefix: str = "__cum_",
    num_partitions: int | None = None,
    descending: bool = False,
) -> DataFrame:
    """Global INCLUSIVE running sums of `sum_cols` in `order_cols` order
    WITHOUT a global single-task window (the ranged_rank shape, r14):
    repartitionByRange gives P sorted disjoint ranges, per-range window
    sums run in parallel, and ONE P-row aggregate (collected once) turns
    per-range totals into prefix offsets folded back as a literal map.
    Output = input columns + one `{prefix}{col}` per sum_col.

    Tie semantics: the range partitioner splits BY KEY, so rows with
    equal `order_cols` never straddle a range and tie groups stay intact;
    within a tie group the running sum visits the same multiset of values
    as any global-window order (sums are commutative), so aggregate
    consumers (max of the cumulative, value-keyed rank maps over unique
    keys) are plan-independent. Callers that read the cumulative AT a
    non-unique row must make `order_cols` a total order, exactly as the
    global window would require.

    The sweep-line / ECDF / rank-map kernel for max_concurrency_ranged,
    ks_statistic, spearman_corr, mann_whitney_u, weighted_percentiles and
    (descending=True, r14) the score-curve family (roc/pr/lift/qini/
    best-threshold sweeps) — the cumulative windows that serialized into
    one task when value cardinality approaches row count (VERDICT r13
    item 2/3). ``descending`` flips BOTH the range partitioner and the
    in-range window, the threshold-sweep order of the curve family.

    EAGER-ACTION CONTRACT (r15, ADVICE): same as ranged_rank —
    constructing the result runs a Spark job (tracked_cache + one P-row
    collect); never build on streaming inputs or speculatively. See the
    ranged_rank docstring for the full caller list."""
    spark = df.sparkSession
    P = num_partitions or spark.sparkContext.defaultParallelism
    _dir = F.desc if descending else F.asc
    asc = [_dir(c) for c in order_cols]
    rp = df.repartitionByRange(P, *asc).withColumn("__pid", F.spark_partition_id())
    from ml_data_pipeline_spark.cache import tracked_cache

    # spark_partition_id must agree between the offsets pass and the main
    # pass — TRACKED cache, same contract as ranged_rank above (narrow:
    # callers feed per-distinct-value or boundary-event projections)
    rp = tracked_cache(rp)
    totals = (
        rp.groupBy("__pid")
        .agg(*[F.sum(c).alias(c) for c in sum_cols])
        .collect()
    )
    by_pid = {r["__pid"]: r for r in totals}
    w = Window.partitionBy("__pid").orderBy(*asc).rowsBetween(
        Window.unboundedPreceding, 0
    )
    # all cumulative columns in ONE projection (r15): the per-column
    # withColumn loop left one Window node PER sum_col in the physical
    # plan (identical specs that never merged — each a full pass over
    # every sorted range); a single select groups them into one Window
    # node evaluating every running sum in the same pass. Same
    # expressions, same values.
    new_cols = []
    for c in sum_cols:
        acc = 0
        offsets = {}
        for pid in sorted(by_pid):
            offsets[pid] = acc
            acc += by_pid[pid][c] or 0
        # a single literal-typed map: mixed int/long lits would clash on
        # the map value type, so pin it from the accumulated Python value
        cast_t = (
            "double"
            if any(isinstance(v, float) for v in offsets.values())
            else "long"
        )
        if offsets:
            off = F.create_map(
                *[
                    x
                    for pid in offsets
                    for x in (F.lit(pid), F.lit(offsets[pid]).cast(cast_t))
                ]
            )[F.col("__pid")]
        else:  # empty input: no ranges, the cumsum column is vacuous
            off = F.lit(0).cast(cast_t)
        new_cols.append((off + F.sum(c).over(w)).alias(prefix + c))
    return rp.select("*", *new_cols).drop("__pid")

def moments(df: DataFrame, columns: list[str]) -> DataFrame:
    """Skewness / excess-kurtosis profile from raw power sums, one pass:
    S1..S4 per column, combined to central moments on the driver-free agg
    row (m2 = S2/n - mean^2 etc.), skew = m3/m2^1.5, kurtosis = m4/m2^2-3
    (POPULATION definitions, stated explicitly — Spark's and DuckDB's
    built-in skewness()/kurtosis() silently disagree on sample-bias
    corrections, so the oracle recomputes these exact formulas instead of
    calling either builtin). Callers feed integer-valued or grid-valued
    columns when cross-engine exactness matters: integer power sums are
    exact in both engines, making the whole statistic bit-reproducible.
    """
    aggs = []
    for c in columns:
        x = F.col(c).cast("double")
        aggs += [
            F.count(F.when(x.isNotNull(), 1)).cast("double").alias(f"__n_{c}"),
            F.sum(x).alias(f"__s1_{c}"),
            F.sum(x * x).alias(f"__s2_{c}"),
            F.sum(x * x * x).alias(f"__s3_{c}"),
            F.sum(x * x * x * x).alias(f"__s4_{c}"),
        ]
    row = df.agg(*aggs)
    outs = []
    for c in columns:
        n = F.col(f"__n_{c}")
        mean = F.col(f"__s1_{c}") / n
        m2 = F.col(f"__s2_{c}") / n - mean * mean
        m3 = F.col(f"__s3_{c}") / n - 3 * mean * F.col(f"__s2_{c}") / n + 2 * mean * mean * mean
        m4 = (
            F.col(f"__s4_{c}") / n
            - 4 * mean * F.col(f"__s3_{c}") / n
            + 6 * mean * mean * F.col(f"__s2_{c}") / n
            - 3 * mean * mean * mean * mean
        )
        outs += [
            F.round(mean, 6).alias(f"{c}_mean"),
            F.round(F.sqrt(m2), 6).alias(f"{c}_std"),
            F.round(m3 / F.pow(F.nullif(m2, F.lit(0.0)), 1.5), 6).alias(f"{c}_skewness"),
            F.round(m4 / F.nullif(m2 * m2, F.lit(0.0)) - 3, 6).alias(f"{c}_kurtosis"),
        ]
    return row.select(*outs)

def l_diversity(
    df: DataFrame,
    quasi_identifiers: list[str],
    sensitive_col: str,
    l: int = 2,
) -> DataFrame:
    """l-diversity audit — k-anonymity's companion (Machanavajjhala et
    al. 2007, public literature): a k-anonymous class is still unsafe if
    every member shares the same sensitive value (homogeneity attack).
    Reports per-dataset: equivalence classes, the minimum number of
    DISTINCT sensitive values in any class (the achieved l), and how many
    classes/rows fall below the target l.

    Same shape as k_anonymity above: one groupBy over (QI..., sensitive)
    to collapse duplicates, one over QI counting distinct survivors, then
    a scalar aggregate. Flags, never mutates. Rows with a NULL sensitive
    value are EXCLUDED first — a missing value discloses nothing, and
    counting NULL as a distinct value would let a homogeneous class with
    some missing entries masquerade as diverse (the exact attack the
    audit exists to flag)."""
    per_class = (
        df.where(F.col(sensitive_col).isNotNull())
        .groupBy(*quasi_identifiers, sensitive_col)
        .agg(F.count(F.lit(1)).alias("__nv"))
        .groupBy(*quasi_identifiers)
        .agg(
            F.count(F.lit(1)).alias("__ndistinct"),
            F.sum("__nv").alias("__n"),
        )
    )
    return per_class.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("__ndistinct").alias("diversity_l"),
        F.sum((F.col("__ndistinct") < l).cast("long")).alias("classes_below_l"),
        F.sum(F.when(F.col("__ndistinct") < l, F.col("__n")).otherwise(F.lit(0))).alias(
            "rows_below_l"
        ),
        F.sum("__n").alias("n_rows"),
    )

def dp_noisy_counts(
    df: DataFrame,
    group_col: str,
    epsilon: float = 1.0,
    seed: str = "release-1",
) -> DataFrame:
    """Laplace-mechanism count release with REPRODUCIBLE noise: per-group
    counts plus Laplace(1/epsilon) noise whose uniform draw comes from
    md5(group || seed) — the standard seeded-DP release pattern, where a
    re-run of the same release (same seed) must publish identical numbers
    and a NEW release draws fresh noise by changing the seed. Inverse-CDF
    sampling (u -> -b*sgn(u-.5)*ln(1-2|u-.5|)) keeps the whole mechanism
    a column expression any engine replays.

    Privacy note (honest scope): reproducibility makes this a RELEASE
    artifact gate, not a fresh-randomness proof; epsilon accounting is
    the caller's policy. Sensitivity of a count is 1, so b = 1/epsilon.
    """
    b = 1.0 / float(epsilon)
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("true_count"))
    hx = F.conv(
        F.substring(
            F.md5(F.concat_ws("#", F.col(group_col).cast("string"), F.lit(seed))), 1, 12
        ),
        16,
        10,
    ).cast("double")
    u = (hx + 0.5) / float(16**12)
    noise = (
        -F.lit(b)
        * F.signum(u - 0.5)
        * F.log(1.0 - 2.0 * F.abs(u - 0.5))
    )
    return counts.select(
        group_col,
        "true_count",
        F.round(noise, 6).alias("noise"),
        F.round(F.col("true_count") + noise, 6).alias("released_count"),
    )

def weighted_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    qs: dict[str, float],
) -> DataFrame:
    """Weighted percentiles per group: the lower weighted-percentile
    definition — the first value (in sort order) whose cumulative weight
    reaches q * total_weight. Exact and engine-replayable when the
    weights are integer-valued (exact cumulative sums).

    Scale shape (r14, VERDICT r13 item 3): the per-group cumulative used
    to be one window per group — a single task per group, row-scale when
    one group holds a continuous column's worth of distinct values. Now
    ONE global ranged cumsum over (group, value) order feeds everything:
    within-group cumulative = global cumulative − the group's start
    offset, where the offsets fall out of a group-cardinality-sized
    aggregate of the same cumsum (per-group max, shifted by one group —
    a bounded window over the per-group frame). A skewed giant group
    parallelizes across ranges instead of serializing on its own task."""
    # NULL values sort FIRST in the cumulative window, so their weight
    # counted as 'below everything' and dragged every percentile toward
    # the minimum (r10 review) — drop them like an unweighted percentile
    per_val = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(group_col, value_col)
        .agg(
            F.sum(weight_col).alias("__w"),
            # loud contract (r14 hazard sweep): a NEGATIVE weight makes
            # the cumulative non-monotone and the "first value reaching
            # q * total" definition silently returns garbage; tallied
            # here (scan-free — the agg already runs) and raised in-plan
            F.sum((F.col(weight_col) < 0).cast("long")).alias("__nneg"),
        )
    )
    cum = ranged_cumsum(per_val, [group_col, value_col], ["__w"])
    # group end = max global cumsum inside the group (monotone in group
    # order), group offset = previous group's end — a per-GROUP frame, so
    # the unpartitioned window is group-cardinality bounded
    gend = cum.groupBy(group_col).agg(F.max("__cum___w").alias("__gend"))
    wprev = Window.orderBy(group_col).rowsBetween(Window.unboundedPreceding, -1)
    gb = gend.withColumn(
        "__goff", F.coalesce(F.max("__gend").over(wprev), F.lit(0))
    ).withColumn("__tw", F.col("__gend") - F.col("__goff"))
    # eqNullSafe: a NULL group key is a real group (the old partitionBy
    # kept it); a plain equi-join would silently drop it
    joined = cum.join(
        gb.withColumnRenamed(group_col, "__g"),
        F.col(group_col).eqNullSafe(F.col("__g")),
    )
    cw = F.col("__cum___w") - F.col("__goff")
    guard = F.raise_error(
        F.lit(
            "weighted_percentiles requires non-negative weights; column "
            f"{weight_col!r} contains negative values — the cumulative "
            "definition is undefined there"
        )
    )
    aggs = [
        F.when(F.sum("__nneg") > 0, guard)
        .otherwise(
            F.min(F.when(cw >= F.lit(q) * F.col("__tw"), F.col(value_col)))
        )
        .alias(name)
        for name, q in qs.items()
    ]
    return joined.groupBy(group_col).agg(*aggs)

def orphan_counts(
    edges: "list[tuple[DataFrame, str, DataFrame, str, str]]",
) -> DataFrame:
    """Referential-integrity audit: for each (fact, fk, dim, pk, label)
    edge, the count of fact rows whose key has no dimension match — one
    LEFT ANTI join per edge, unioned into (edge, n_orphans)."""
    outs = []
    for fact, fk, dim, pk, label in edges:
        cnt = (
            fact.select(F.col(fk).alias("__k"))
            .join(dim.select(F.col(pk).alias("__k")), "__k", "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        outs.append(cnt.select(F.lit(label).alias("edge"), "n_orphans"))
    out = outs[0]
    for e in outs[1:]:
        out = out.unionByName(e)
    return out

def normalized_mutual_info(
    df: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """Normalized mutual information between two labelings (cluster-vs-
    truth agreement, public clustering-eval practice): NMI = I(A;B) /
    sqrt(H(A) H(B)), all from ONE contingency-table aggregate — exact
    entropy algebra over joint counts, the label-permutation-invariant
    agreement score accuracy can't give. Returns (n, h_a, h_b, mi, nmi)
    at 6dp; degenerate single-class sides yield NULL nmi via nullif."""
    # materialized once: the marginal/total branches would otherwise each
    # re-aggregate from the source scan (plan_audit r5); |A|x|B| rows
    # NULL labels are dropped up front (r10 review: the equi-joins on
    # a/b silently dropped NULL cells from the MI sum while n and both
    # entropies still counted them — NMI biased low and inconsistent;
    # _contingency/cohens_kappa draw the same line)
    df = df.where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
    joint = df.groupBy(F.col(a_col).alias("a"), F.col(b_col).alias("b")).agg(
        F.count(F.lit(1)).alias("nab")
    ).localCheckpoint()
    n = joint.agg(F.sum("nab").alias("n"))
    na = joint.groupBy("a").agg(F.sum("nab").alias("na"))
    nb = joint.groupBy("b").agg(F.sum("nab").alias("nb"))
    j = (
        joint.join(na, "a")
        .join(nb, "b")
        .crossJoin(F.broadcast(n))
        .select(
            "a",
            "b",
            (F.col("nab") / F.col("n")).alias("pab"),
            (F.col("na") / F.col("n")).alias("pa"),
            (F.col("nb") / F.col("n")).alias("pb"),
            "n",
        )
    )
    mi = j.agg(
        F.max("n").alias("n"),
        F.sum(F.col("pab") * F.log(F.col("pab") / (F.col("pa") * F.col("pb")))).alias(
            "mi"
        ),
    )
    ha = na.crossJoin(F.broadcast(n)).agg(
        F.sum(-(F.col("na") / F.col("n")) * F.log(F.col("na") / F.col("n"))).alias("h_a")
    )
    hb = nb.crossJoin(F.broadcast(n)).agg(
        F.sum(-(F.col("nb") / F.col("n")) * F.log(F.col("nb") / F.col("n"))).alias("h_b")
    )
    return (
        mi.crossJoin(F.broadcast(ha))
        .crossJoin(F.broadcast(hb))
        .select(
            F.col("n").cast("long").alias("n"),
            F.round("h_a", 6).alias("h_a"),
            F.round("h_b", 6).alias("h_b"),
            F.round("mi", 6).alias("mi"),
            F.round(
                F.col("mi") / F.nullif(F.sqrt(F.col("h_a") * F.col("h_b")), F.lit(0.0)),
                6,
            ).alias("nmi"),
        )
    )

def adjusted_rand_index(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Adjusted Rand Index between two labelings (Hubert & Arabie 1985,
    public literature) — pair-counting agreement corrected for chance,
    NMI's combinatorial sibling: ARI = (S - E) / (M - E) with
    S = sum C(n_ij,2), E = sum C(a_i,2) * sum C(b_j,2) / C(n,2),
    M = (sum C(a_i,2) + sum C(b_j,2)) / 2. Everything is exact integer
    pair counts from one contingency aggregate; the two divisions happen
    once at the end. Identical partitions -> 1; independent -> ~0."""
    # materialized once: the marginal/total branches would otherwise each
    # re-aggregate from the source scan (plan_audit r5); |A|x|B| rows
    joint = df.groupBy(F.col(a_col).alias("a"), F.col(b_col).alias("b")).agg(
        F.count(F.lit(1)).alias("nab")
    ).localCheckpoint()
    c2 = lambda c: (F.col(c) * (F.col(c) - 1) / 2).cast("double")  # noqa: E731
    s = joint.agg(F.sum(c2("nab")).alias("s"), F.sum("nab").alias("n"))
    sa = (
        joint.groupBy("a")
        .agg(F.sum("nab").alias("na"))
        .agg(F.sum(c2("na")).alias("sa"))
    )
    sb = (
        joint.groupBy("b")
        .agg(F.sum("nab").alias("nb"))
        .agg(F.sum(c2("nb")).alias("sb"))
    )
    j = s.crossJoin(F.broadcast(sa)).crossJoin(F.broadcast(sb))
    # double-space C(n,2): long n*(n-1) overflows (ANSI raises) past
    # ~3e9 rows where the oracle's CAST-first form does not; nullif
    # guards the n <= 1 degenerate instead of a DIVIDE_BY_ZERO crash
    cn2 = F.col("n").cast("double") * (F.col("n") - 1) / 2
    e = F.col("sa") * F.col("sb") / F.nullif(cn2, F.lit(0.0))
    m = (F.col("sa") + F.col("sb")) / 2
    return j.select(
        F.col("n").cast("long").alias("n"),
        F.round(
            (F.col("s") - e) / F.nullif(m - e, F.lit(0.0)), 6
        ).alias("ari"),
    )

def pair_confusion(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Pair-level confusion between two labelings and the scores built
    on it: of all C(n,2) row pairs, how many are together in both
    labelings (tp), only in A (fp), only in B (fn), in neither (tn) —
    plus Fowlkes-Mallows = tp / sqrt((tp+fp)(tp+fn)) and Rand index =
    (tp+tn)/C(n,2). Same single contingency aggregate as
    adjusted_rand_index above (which reports the chance-corrected
    score); exact integer pair counts in double space (exact below
    2^53 pairs)."""
    # materialized once: the marginal/total branches would otherwise each
    # re-aggregate from the source scan (plan_audit r5); |A|x|B| rows
    joint = df.groupBy(F.col(a_col).alias("a"), F.col(b_col).alias("b")).agg(
        F.count(F.lit(1)).alias("nab")
    ).localCheckpoint()
    c2 = lambda c: (F.col(c) * (F.col(c) - 1) / 2).cast("double")  # noqa: E731
    s = joint.agg(F.sum(c2("nab")).alias("tp"), F.sum("nab").alias("n"))
    sa = (
        joint.groupBy("a").agg(F.sum("nab").alias("na")).agg(F.sum(c2("na")).alias("sa"))
    )
    sb = (
        joint.groupBy("b").agg(F.sum("nab").alias("nb")).agg(F.sum(c2("nb")).alias("sb"))
    )
    j = s.crossJoin(F.broadcast(sa)).crossJoin(F.broadcast(sb))
    total = F.col("n").cast("double") * (F.col("n") - 1) / 2
    fp = F.col("sa") - F.col("tp")
    fn = F.col("sb") - F.col("tp")
    tn = total - F.col("sa") - F.col("sb") + F.col("tp")
    return j.select(
        F.col("n").cast("long").alias("n"),
        F.col("tp").cast("long").alias("tp_pairs"),
        fp.cast("long").alias("fp_pairs"),
        fn.cast("long").alias("fn_pairs"),
        tn.cast("long").alias("tn_pairs"),
        F.round(
            F.col("tp") / F.nullif(F.sqrt(F.col("sa") * F.col("sb")), F.lit(0.0)), 6
        ).alias("fowlkes_mallows"),
        F.round((F.col("tp") + tn) / F.nullif(total, F.lit(0.0)), 6).alias("rand_index"),
    )


def krippendorff_alpha(
    df: DataFrame,
    unit_col: str,
    rater_col: str,
    value_col: str,
) -> DataFrame:
    """Krippendorff's alpha for NOMINAL data (Krippendorff 2004, public
    content-analysis statistics) — the inter-annotator agreement measure
    a labeling pipeline needs when raters are many, assignments are
    incomplete, and chance agreement must be corrected (Cohen's kappa in
    ml/pipeline.py handles exactly 2 raters; alpha handles any number and
    missing ratings natively).

    Coincidence-matrix formulation, computed without materializing the
    matrix: units with m >= 2 ratings contribute each ordered rating pair
    with weight 1/(m-1), so
      D_o = (1/n) * sum over disagreeing pairs of 1/(m_u - 1)
      D_e = (n^2 - sum_c n_c^2) / (n * (n - 1))
      alpha = 1 - D_o / D_e
    with n = ratings in valid units and n_c = ratings of category c.

    Shape: one groupBy(unit) for m_u; the pair join is WITHIN-unit only
    (bounded by max raters per unit, a small constant by construction —
    never corpus-quadratic); category masses are one groupBy over the
    value column. Everything downstream is scalar aggregates attached by
    broadcast crossJoin. Output: one row (n_units, n_ratings, d_o, d_e,
    alpha).
    """
    # missing (NULL) ratings are excluded up front — Krippendorff's
    # definition counts only observed ratings, and units keep >= 2
    # NON-MISSING ratings (r10 review: a NULL rating used to count
    # toward m/n/category masses and 'agree' with everything through the
    # null-unsafe != )
    df = df.where(F.col(value_col).isNotNull())
    m_per_unit = df.groupBy(F.col(unit_col).alias("__u")).agg(
        F.count(F.lit(1)).alias("__m")
    )
    # valid feeds four branches (both pair-join sides, totals, masses):
    # localCheckpoint so the upstream scan+join runs once (same pattern as
    # graph.py:112). Annotation tables are human-effort-bounded — far below
    # corpus scale — so materializing the frame is cheap at any realistic n.
    valid = (
        df.select(
            F.col(unit_col).alias("__u"),
            F.col(rater_col).alias("__r"),
            F.col(value_col).alias("__v"),
        )
        .join(F.broadcast(m_per_unit.where(F.col("__m") >= 2)), "__u")
        .localCheckpoint(eager=True)
    )
    a = valid.select("__u", F.col("__r").alias("__ra"), F.col("__v").alias("__va"), "__m")
    b = valid.select("__u", F.col("__r").alias("__rb"), F.col("__v").alias("__vb"))
    pair_disagree = (
        a.join(b, "__u")
        .where(F.col("__ra") != F.col("__rb"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("__va") != F.col("__vb"), 1.0 / (F.col("__m") - 1))
                    .otherwise(F.lit(0.0))
                ),
                F.lit(0.0),
            ).alias("__do_num")
        )
    )
    totals = valid.agg(
        F.count(F.lit(1)).alias("n_ratings"),
        F.count_distinct(F.col("__u")).alias("n_units"),
    )
    masses = (
        valid.groupBy("__v")
        .agg(F.count(F.lit(1)).alias("__nc"))
        .agg(F.sum(F.col("__nc") * F.col("__nc")).alias("__sum_nc2"))
    )
    n = F.col("n_ratings")
    d_o = F.col("__do_num") / n.cast("double")
    d_e = (n * n - F.col("__sum_nc2")).cast("double") / (
        n * (n - 1)
    ).cast("double")
    return (
        totals.crossJoin(F.broadcast(pair_disagree))
        .crossJoin(F.broadcast(masses))
        .select(
            "n_units",
            "n_ratings",
            F.round(d_o, 6).alias("d_o"),
            F.round(d_e, 6).alias("d_e"),
            F.round(1.0 - d_o / F.nullif(d_e, F.lit(0.0)), 6).alias("alpha"),
        )
    )


def cramers_v(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Cramér's V (Cramér 1946, public statistics) between two categorical
    columns: V = sqrt(chi2 / (n * min(|A|-1, |B|-1))) — the [0,1]-normalized
    effect size the chi2 statistic itself (association_stats) can't give,
    because chi2 grows with n and table size. The profiling pass a feature-
    redundancy screen actually ranks by.

    Shares _contingency / _chi2_full with association_stats (one
    contingency agg, everything after is |A| x |B|-row sized). Returns one
    row (n, chi2, dof, cramers_v).
    """
    cells, ma, mb = _contingency(df, col_a, col_b)
    agg = cells.agg(
        F.first("n").alias("__n"),
        _chi2_full().alias("__chi2"),
    )
    # distinct-level counts ride along from the marginal frames (tiny)
    na = ma.agg(F.count(F.lit(1)).alias("__na"))
    nb = mb.agg(F.count(F.lit(1)).alias("__nb"))
    k = F.least(F.col("__na") - 1, F.col("__nb") - 1)
    return (
        agg.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("__n").alias("n"),
            F.round(F.col("__chi2"), 6).alias("chi2"),
            ((F.col("__na") - 1) * (F.col("__nb") - 1)).cast("long").alias("dof"),
            F.round(
                F.sqrt(
                    F.col("__chi2") / (F.col("__n") * F.nullif(k.cast("double"), F.lit(0.0)))
                ),
                6,
            ).alias("cramers_v"),
        )
    )


def cohens_kappa(df: DataFrame, rater_a_col: str, rater_b_col: str) -> DataFrame:
    """Cohen's kappa (Cohen 1960, public statistics) between two raters'
    nominal labels on the same units: kappa = (p_o - p_e) / (1 - p_e) with
    p_o the observed diagonal agreement and p_e the chance agreement from
    the marginals. The 2-rater companion to krippendorff_alpha (which
    handles many raters / missing assignments but costs a per-unit
    coincidence pass); for the everyday "model vs heuristic" or
    "annotator vs annotator" audit this one contingency agg is the tool.

    Shape: ONE (|A| x |B|)-row contingency groupBy, materialized once so
    the marginal/agreement branches don't re-aggregate from the source
    scan; the statistic runs on that tiny frame. Returns one row
    (n, po, pe, kappa).
    """
    obs = (
        df.where(F.col(rater_a_col).isNotNull() & F.col(rater_b_col).isNotNull())
        .groupBy(F.col(rater_a_col).alias("a"), F.col(rater_b_col).alias("b"))
        .agg(F.count(F.lit(1)).alias("o"))
    ).localCheckpoint()
    ma = obs.groupBy("a").agg(F.sum("o").alias("ra"))
    mb = obs.groupBy("b").agg(F.sum("o").alias("cb"))
    # chance agreement: sum over labels of (row marginal * col marginal),
    # joined on the LABEL (only labels both raters ever used contribute)
    pe_num = (
        ma.join(mb, ma["a"] == mb["b"])
        .agg(F.sum(F.col("ra").cast("double") * F.col("cb")).alias("__pe_num"))
    )
    base = obs.agg(
        F.sum("o").alias("__n"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("o")).otherwise(F.lit(0))).alias("__agree"),
    )
    po = F.col("__agree") / F.col("__n")
    pe = F.coalesce(F.col("__pe_num"), F.lit(0.0)) / (F.col("__n") * F.col("__n"))
    return (
        base.crossJoin(F.broadcast(pe_num))
        .select(
            F.col("__n").alias("n"),
            F.round(po, 6).alias("po"),
            F.round(pe, 6).alias("pe"),
            F.round(
                (po - pe) / F.nullif(F.lit(1.0) - pe, F.lit(0.0)), 6
            ).alias("kappa"),
        )
    )


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Mann-Whitney U / Wilcoxon rank-sum test (public statistics): the
    rank-based two-sample location test — the distribution-free companion
    to welch_ttest (means) and ks_statistic (shapes), robust where the
    t-test's normality assumption breaks (heavy-tailed money columns).

    U_a = R_a - n_a(n_a+1)/2 with R_a the sum of group A's pooled
    tie-averaged ranks; z uses the normal approximation with the standard
    tie-corrected variance n_a·n_b/12·((N+1) − Σ(t³−t)/(N(N−1))) and no
    continuity correction (documented convention, engine-mirrorable).

    Shape (aggregate-then-ranged-cumsum, same as ks_statistic since r14):
    rows collapse to per-distinct-value (count_a, count_b) before the
    cumulative pass, which runs as per-range parallel prefix sums with a
    P-row carry — parallel even when distinct values ≈ rows.
    Tie-averaged ranks are sums of integers and integer-halves — exact in
    doubles, so U is exact cross-engine. NULL metric values are dropped
    (scipy/statsmodels convention, same as welch_ttest). The tie term
    cubes t as a DOUBLE: exact up to t ~ 2^17 and overflow-free for the
    mostly-one-value corpus columns where a long t³ would wrap. Returns
    one row (n_a, n_b, u_a, z).
    """
    per_val = (
        df.where(F.col(group_col).isin([group_a, group_b]))
        .where(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("v"))
        .agg(
            F.sum((F.col(group_col) == group_a).cast("long")).alias("ca"),
            F.sum((F.col(group_col) == group_b).cast("long")).alias("cb"),
        )
    )
    # exclusive prefix = inclusive ranged cumsum minus own tie size (r14,
    # VERDICT r13 item 3: parallel per-range prefixes, no single ordered
    # task when value cardinality approaches row count; exact longs)
    t = F.col("ca") + F.col("cb")
    td = t.cast("double")
    cum = ranged_cumsum(
        per_val.withColumn("__t", t.cast("long")), ["v"], ["__t"]
    )
    ranked = cum.withColumn(
        "avg_rank",
        (F.col("__cum___t") - F.col("__t")).cast("double") + (t + 1) / 2.0,
    )
    agg = ranked.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(F.col("ca") * F.col("avg_rank")).alias("__ra"),
        F.sum(td * td * td - td).alias("__ties"),
    )
    n_a = F.col("n_a").cast("double")
    n_b = F.col("n_b").cast("double")
    big_n = n_a + n_b
    u_a = F.col("__ra") - n_a * (n_a + 1) / 2.0
    var = (
        n_a
        * n_b
        / 12.0
        * ((big_n + 1) - F.col("__ties") / F.nullif(big_n * (big_n - 1), F.lit(0.0)))
    )
    return agg.select(
        "n_a",
        "n_b",
        F.round(u_a, 6).alias("u_a"),
        F.round(
            (u_a - n_a * n_b / 2.0) / F.nullif(F.sqrt(var), F.lit(0.0)), 6
        ).alias("z"),
    )


def cuped_adjustment(
    df: DataFrame,
    metric_col: str,
    covariate_col: str,
) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013 —
    public literature): adjust an experiment metric with a pre-experiment
    covariate, ŷ = y − θ(x − x̄), θ = cov(x,y)/var(x). The variance the
    adjustment removes is exactly the covariate-explained share (ρ²), so
    the A/B test needs (1−ρ²)× the sample for the same power — the
    standard first move when an experiment platform is told "detect 1%
    lifts on a noisy metric".

    ONE aggregate computes θ and both variances (covar_pop/var_pop are
    map-side-combinable moments); no second pass over the data is needed
    because var(ŷ) = var(y) − θ²·var(x) algebraically. Returns one row
    (n, theta, var_reduction) — ratios only, the numerically stable
    cross-engine outputs.
    """
    x = F.col(covariate_col).cast("double")
    y = F.col(metric_col).cast("double")
    agg = df.where(x.isNotNull() & y.isNotNull()).agg(
        F.count(F.lit(1)).alias("n"),
        F.covar_pop(x, y).alias("__cxy"),
        F.var_pop(x).alias("__vx"),
        F.var_pop(y).alias("__vy"),
    )
    theta = F.col("__cxy") / F.nullif(F.col("__vx"), F.lit(0.0))
    rho2 = (F.col("__cxy") * F.col("__cxy")) / F.nullif(
        F.col("__vx") * F.col("__vy"), F.lit(0.0)
    )
    return agg.select(
        "n",
        F.round(theta, 6).alias("theta"),
        F.round(rho2, 6).alias("var_reduction"),
    )

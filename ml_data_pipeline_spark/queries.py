"""Query registry: every implemented operator exposed as (spark, sf_dir) -> DataFrame.

Each entry pairs with an ANSI-SQL oracle in ml_data_pipeline_spark.oracles —
the driver runs both at sf0.01 and hash-compares (row count + schema + order-
insensitive value hash). Conventions for oracle parity:
- every computed column is explicitly aliased, identically in both;
- floats are rounded (6 dp; 2 dp for large money sums) IN the query;
- timestamps are stringified (Spark session TZ is UTC = DuckDB naive).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import load_table
from .functions import hashing as H
from .operators import balancing as B
from .operators import dedup as DD
from .operators import encoding as E
from .operators import filters as FL
from .operators import imputation as I
from .operators import profiling as P
from .operators import sampling as SA
from .operators import similarity as SS
from .operators import text as TX

# ---------------------------------------------------------------- helpers

def _li(spark, sf):
    return load_table(spark, sf, "lineitem")

def _li_nulls(spark, sf) -> DataFrame:
    """lineitem with a DETERMINISTIC, oracle-reproducible null mask:
    l_quantity nulled where l_orderkey % 10 == 3 (the testdata has no nulls;
    imputation/missing-profile operators need some)."""
    df = _li(spark, sf)
    return df.withColumn(
        "l_quantity",
        F.when(F.col("l_orderkey") % 10 == 3, F.lit(None)).otherwise(F.col("l_quantity")),
    )

def _orders_nulls(spark, sf) -> DataFrame:
    """orders with o_orderpriority nulled where o_orderkey % 7 == 2."""
    df = load_table(spark, sf, "orders")
    return df.withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 7 == 2, F.lit(None)).otherwise(F.col("o_orderpriority")),
    )

# ---------------------------------------------------------------- OLAP / flagship

def q1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """Flagship (TPC-H Q1 shape): scan-filter-agg with 8 aggregates.
    Filter pushes to parquet; agg is map-side partial then one 6-row shuffle."""
    li = _li(spark, sf)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-01-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )

def q3_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + top-10. customer is deliberately
    UNHINTED: it grows with SF (multi-billion rows at 100 TB), so the choice
    of broadcast-vs-shuffle belongs to AQE, which broadcasts it at small SF
    and degrades gracefully to shuffle join at scale. orders⋈lineitem
    shuffles on orderkey."""
    cust = load_table(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf, "orders").where(F.col("o_orderdate") < F.lit("1997-01-01"))
    li = _li(spark, sf).where(F.col("l_shipdate") > F.lit("1997-01-01"))
    revenue = F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"))
        .agg(revenue.alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )

def q5_region_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table snowflake join. Only the SF-constant dims
    (nation 25 rows, region 5) carry broadcast hints; customer/supplier grow
    with SF, so AQE decides those joins (broadcast at small SF, shuffle at
    100 TB). The only unavoidable big shuffle is orders⋈lineitem."""
    region = load_table(spark, sf, "region").where(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf, "nation")
    cust = load_table(spark, sf, "customer")
    supp = load_table(spark, sf, "supplier")
    orders = load_table(spark, sf, "orders")
    li = _li(spark, sf)
    revenue = F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(revenue.alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )

def q_topk_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 orders by totalprice per priority — the window top-k pattern."""
    orders = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_orderpriority", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "rk")
        .orderBy("o_orderpriority", "rk")
    )

def q_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization: 30-min-gap sessions per user via lag + cumulative sum.
    One shuffle on user_id; windows run per user partition.

    Boundary rule: an event EXACTLY `gap` after the last one stays in the
    SAME session (diff > gap starts a new one). The streaming twin
    (events_stream.session_counts) agrees even at this boundary —
    session_window's merge rule is end-inclusive (r11 probe) — pinned by
    tests/test_streaming.py::test_r11_session_window_exact_gap_boundary_agreement."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # INTEGER-microsecond gap (r11 review): epoch-2024 timestamps cast to
    # double carry ~1.2e-7 s representation error each, so an EXACT
    # 1800.000000 s gap could evaluate > 1800.0 and split a session the
    # oracle's exact integer arithmetic keeps — unix_micros is exact
    gap = (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)) > 1_800_000_000
    new_session = F.when(gap | F.lag("ts").over(w).isNull(), 1).otherwise(0)
    sess = ev.withColumn("new_s", new_session)
    return (
        sess.groupBy("user_id")
        .agg(F.sum("new_s").cast("long").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id")
    )

def q_events_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling 1-hour window aggregation (batch twin of the streaming path)."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("total_value"))
        .orderBy("hour", "event_type")
    )

def q_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    """JSON field extraction from the events.props string column."""
    ev = load_table(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select(k.alias("k"), "value")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 6).alias("avg_value"))
        .orderBy("k")
    )

def q_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: each event picks up the most recent order (by orderdate)
    of the matching customer — the point-in-time-correct feature lookup.
    Union-sort-carry plan (operators/temporal.py): one shuffle on the key,
    no per-key pair blowup. Oracle: DuckDB's native ASOF JOIN."""
    from ml_data_pipeline_spark.operators import temporal as TP

    ev = load_table(spark, sf, "events").select("event_id", "user_id", "ts")
    # pre-aggregate (custkey, orderdate) ties: which row an ASOF join picks
    # on an exact-time tie is engine-unspecified — max() pins it in both
    orders = (
        load_table(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(F.max("o_totalprice").alias("o_totalprice"))
    )
    out = TP.asof_join(
        ev, orders, "user_id", "ts", "o_orderdate", right_values=["o_totalprice"]
    )
    return out.select(
        "event_id", "user_id", F.round("o_totalprice", 2).alias("last_order_price")
    ).orderBy("event_id")

def q_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot: one column per linestatus value (explicit value list keeps the
    plan static — no extra distinct-scan job at 100 TB)."""
    li = _li(spark, sf)
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .withColumnsRenamed({"O": "qty_o", "F": "qty_f"})
        .orderBy("l_returnflag")
    )

def q_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    """Unpivot (melt): wide per-metric columns back to (metric, value) rows
    via the native unpivot/melt operator."""
    li = _li(spark, sf)
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )
    return (
        wide.unpivot("l_returnflag", ["sum_qty", "sum_price"], "metric", "value")
        .orderBy("l_returnflag", "metric")
    )

def q_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchical rollup (returnflag → linestatus) with subtotals + grand
    total — one pass, Expand node feeds a single hash aggregate."""
    li = _li(spark, sf)
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first()
        )
    )

def q_cube(spark: SparkSession, sf: str) -> DataFrame:
    """Full cube over (orderstatus, orderpriority)."""
    orders = load_table(spark, sf, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total"), F.count(F.lit(1)).alias("n"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(), F.col("o_orderpriority").asc_nulls_first()
        )
    )

def q_having(spark: SparkSession, sf: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation filter) + join back: customers
    with > 12 orders (TPC-H Q18 shape, reduced)."""
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    big = (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .where(F.col("n_orders") > 12)
    )
    return (
        big.join(cust, big.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "n_orders", "total")
        .orderBy(F.desc("n_orders"), "c_custkey")
    )

def q_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    """Set operators: customers with orders INTERSECT high-balance, then
    EXCEPT low-priority-only — exercised as one composed query."""
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    with_orders = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey"
    )
    rich = cust.where(F.col("c_acctbal") > 5000).select("c_custkey")
    urgent_cust = cust.join(
        orders.where(F.col("o_orderpriority") == "1-URGENT"),
        cust.c_custkey == orders.o_custkey,
        "left_semi",
    ).select("c_custkey")
    return with_orders.intersect(rich).exceptAll(urgent_cust).orderBy("c_custkey")

def q_sliding_window(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding (hopping) 2h window / 1h slide over events — each event lands
    in 2 windows; the batch twin of a sliding streaming aggregation."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("w_start"),
            "event_type",
            "n",
        )
        .orderBy("w_start", "event_type")
    )

def q_moving_avg(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user 3-event moving average over event time (ordered window
    frame) — the time-series smoothing pattern."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    return (
        ev.select(
            "user_id",
            "event_id",
            F.round(F.avg("value").over(w), 6).alias("mavg3"),
        )
        .orderBy("user_id", "event_id")
    )

def q_window_suite(spark: SparkSession, sf: str) -> DataFrame:
    """Ranking/analytic window pack over one partition spec: lead, lag,
    rank, dense_rank, ntile, percent_rank, cume_dist in a single window —
    one sort per partition serves all seven functions (Catalyst collapses
    same-spec window expressions into one Window operator)."""
    ord_df = load_table(spark, sf, "orders").where(F.col("o_orderkey") % 7 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        ord_df.select(
            "o_custkey",
            "o_orderkey",
            F.lag("o_totalprice", 1).over(w).alias("prev_price"),
            F.lead("o_totalprice", 1).over(w).alias("next_price"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cdist"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )

def q_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """GROUPING SETS beyond rollup/cube: two hand-picked grouping sets +
    grouping_id to disambiguate the null-as-total rows."""
    return spark.sql(
        f"""
        SELECT n_name, o_orderstatus,
               CAST(grouping(n_name) AS INT) AS g_nation,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM parquet.`{sf}/orders.parquet` o
        JOIN parquet.`{sf}/customer.parquet` c ON o.o_custkey = c.c_custkey
        JOIN parquet.`{sf}/nation.parquet` n ON c.c_nationkey = n.n_nationkey
        GROUP BY GROUPING SETS ((n_name), (n_name, o_orderstatus))
        ORDER BY n_name, o_orderstatus, g_status
        """
    )


def _stage_tag(sf: str) -> str:
    """Per-(sf, process) staging key: md5(sf) for within-run reuse plus
    the pid so two CONCURRENT runs on one machine (a correctness sweep
    overlapping a bench run) never interleave mode('overwrite') rewrites
    and reads of the same /tmp directory (r11 review). Unlike the locked
    _stream_stage, these per-run stages are cheap and rewritten every
    run — sharing across processes bought nothing."""
    import hashlib
    import os

    # underscore separator: the tag also names WAREHOUSE TABLES (s25),
    # where a hyphen is a SQL syntax error
    return f"{hashlib.md5(sf.encode()).hexdigest()[:8]}_{os.getpid()}"

#: one fingerprint scan per (session, sf) — five st_* gates share the
#: staged events dir, and each used to re-pay the full-table aggregate
#: (r11 review; same memo idiom as _NORM_DOCS_CACHE)
_EVENTS_FP_CACHE: dict[tuple[str, str], str] = {}


def _events_fingerprint(spark, sf: str) -> str:
    """Content fingerprint of the events table (count + xor of row hashes,
    one narrow aggregate): keys the shared stream-staging dir so
    regenerated testdata can never replay a stale stage. Hashes EVERY
    column the staged parquet persists — including props (r11 review:
    the stage stores the full schema, so a regeneration changing only
    props must invalidate it too, even though no current st_* gate reads
    props)."""
    import hashlib

    key = (spark.sparkContext.applicationId, sf)
    if key in _EVENTS_FP_CACHE:
        return _EVENTS_FP_CACHE[key]
    row = (
        load_table(spark, sf, "events")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.expr(
                    "bit_xor(xxhash64(event_id, ts, user_id, event_type, "
                    "value, props))"
                ),
                F.lit(0),
            ).alias("h"),
        )
        .first()
    )
    fp = hashlib.md5(f"{sf}|{row['n']}|{row['h']}".encode()).hexdigest()[:8]
    _EVENTS_FP_CACHE[key] = fp
    return fp


def _stream_stage(
    spark,
    sf: str,
    leaf: str,
    write_fn,
    soft_wait: float = 120.0,
    hard_cap: float = 900.0,
    pid_grace: float = 5.0,
) -> str:
    """Crash-safe stream staging (ADVICE r8): ONE stable root per
    (sf-content-fingerprint, leaf) — no per-pid accumulation across runs —
    validated by Spark's _SUCCESS marker (a bare existence check passes a
    half-written dir from a crashed writer), written to a tmp sibling and
    atomically renamed into place.

    Concurrency (r9 review, both passes): installation is serialized by an
    atomic mkdir LOCK per stage — only the lock holder ever touches the
    stage dir, so there is NO window where one process deletes/moves a
    valid stage another process just installed and is streaming from.
    Losers wait for the winner's _SUCCESS instead of writing at all.

    Steal policy (ADVICE r9 — was a blind 120s timeout): the holder
    records its PID inside the lock dir, and a lock is stolen ONLY from a
    PROVABLY dead holder. A slow-but-alive writer (loaded CI) keeps its
    lock however long the install takes — stealing from it would race
    the stealer's rmtree + rename against the live install and fail a
    gate with a spurious ENOTEMPTY. A live holder past the 900s hard cap
    raises loudly instead of stealing; an unreadable pid file past a 5s
    grace (holder died between mkdir and the pid write) counts as dead.
    The tmp dir is removed on every failure path."""
    import os
    import shutil
    import time
    import uuid

    root = f"/tmp/mdp_stream_stage/{_events_fingerprint(spark, sf)}"
    stage = f"{root}/{leaf}"
    success = f"{stage}/_SUCCESS"
    if os.path.exists(success):
        return stage
    os.makedirs(root, exist_ok=True)
    lock = f"{stage}.__lock"

    def _holder_alive() -> bool | None:
        """True/False when the holder's liveness is known; None when the
        pid file is unreadable (holder crashed pre-write, or a steal is
        mid-flight). PID reuse can only delay a steal, never corrupt."""
        try:
            with open(f"{lock}/pid") as fh:
                pid = int(fh.read().strip())
        except (OSError, ValueError):
            return None
        try:
            os.kill(pid, 0)
            return True
        except ProcessLookupError:
            return False
        except PermissionError:
            return True  # exists, owned by another user
        except OSError:
            return None

    for steal in (False, True):
        try:
            os.mkdir(lock)  # atomic acquire
        except OSError:
            # another process is installing: wait for its _SUCCESS
            soft = time.time() + soft_wait
            hard = time.time() + hard_cap
            unreadable_since = None
            holder_dead = False
            while time.time() < hard:
                if os.path.exists(success):
                    return stage
                if not os.path.isdir(lock):  # holder released without
                    break  # success (failed install) — try to acquire
                if time.time() >= soft:
                    alive = _holder_alive()
                    if alive is True:
                        unreadable_since = None  # healthy: keep waiting
                    elif alive is False:
                        holder_dead = True
                    else:
                        # no pid file: EITHER the holder died between mkdir
                        # and the pid write, OR it acquired a moment ago and
                        # hasn't written yet (r10 review — a waiter-clock
                        # grace alone can't tell these apart when the lock
                        # changes hands mid-wait). Require BOTH the waiter
                        # grace AND the lock dir itself (mtime = acquire
                        # time) to be older than the grace before declaring
                        # it dead.
                        unreadable_since = unreadable_since or time.time()
                        try:
                            lock_age = time.time() - os.stat(lock).st_mtime
                        except OSError:
                            lock_age = 0.0  # lock vanished: loop re-checks
                        holder_dead = (
                            time.time() - unreadable_since > pid_grace
                            and lock_age > pid_grace
                        )
                    if holder_dead:
                        if steal:
                            raise RuntimeError(
                                f"_stream_stage: lock {lock} holder is dead "
                                "and no _SUCCESS appeared after one steal — "
                                "remove the lock dir to recover"
                            )
                        # ATOMIC steal (r11 review): several waiters can
                        # declare the same holder dead within one poll
                        # tick; an unconditional rmtree from the slower
                        # one could destroy a FRESH lock a third process
                        # acquired after the faster steal — re-opening
                        # the concurrent-install window. Steal by rename
                        # (atomic, exactly one winner) and verify by
                        # inode that we renamed the dir we observed dead;
                        # a mismatch means a fresh holder slipped in —
                        # give its lock back and keep waiting.
                        try:
                            st_dead = os.stat(lock)
                        except OSError:
                            break  # lock vanished — re-acquire normally
                        tomb = f"{lock}.__tomb_{uuid.uuid4().hex[:8]}"
                        try:
                            os.rename(lock, tomb)
                        except OSError:
                            break  # another waiter stole first
                        if os.stat(tomb).st_ino == st_dead.st_ino:
                            shutil.rmtree(tomb, ignore_errors=True)
                            break  # stole the dead lock — go acquire
                        # wrong dir: restore the fresh holder's lock
                        try:
                            os.rename(tomb, lock)
                        except OSError:
                            # a third turnover inside one tick — leave
                            # the tombstone for the hard-cap raise path
                            pass
                        unreadable_since = None
                        holder_dead = False
                time.sleep(0.25)
            else:
                raise RuntimeError(
                    f"_stream_stage: lock {lock} held by a LIVE process "
                    f"past the {hard_cap:.0f}s hard cap with no _SUCCESS — "
                    "the writer is hung, not dead; investigate, don't steal"
                )
            continue
        try:
            with open(f"{lock}/pid", "w") as fh:
                fh.write(str(os.getpid()))
            if os.path.exists(success):  # won the lock after a winner
                return stage
            shutil.rmtree(stage, ignore_errors=True)  # stale partial; safe
            # under the lock: no other process touches this stage
            tmp = f"{stage}.__tmp_{uuid.uuid4().hex[:8]}"
            try:
                write_fn(tmp)
                os.rename(tmp, stage)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
            return stage
        finally:
            # release ONLY a lock we still own (r10 review): if a stealer
            # replaced our lock while we were installing, its pid file is
            # theirs — removing it would let a third waiter in on top of
            # the stealer. A missing pid file is ours (we write it first
            # thing after acquire; a crash before that never reaches here).
            own_lock = True
            try:
                with open(f"{lock}/pid") as fh:
                    own_lock = fh.read().strip() == str(os.getpid())
            except OSError:
                pass
            if own_lock:
                shutil.rmtree(lock, ignore_errors=True)
    if not os.path.exists(success):
        raise RuntimeError(
            f"_stream_stage: could not install or observe a complete stage "
            f"at {stage} after two acquisition attempts"
        )
    return stage


def _stage_events(spark, sf: str) -> str:
    """The ONE writer of the shared 'events' stage leaf (r9 review: three
    gates previously carried verbatim copies of this lambda — whichever
    ran first silently defined the shared layout for the others)."""
    return _stream_stage(
        spark,
        sf,
        "events",
        lambda p: load_table(spark, sf, "events")
        .repartition(4)
        .write.mode("overwrite")
        .parquet(p),
    )


def st_hourly_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Structured Streaming twin of q_events_hourly: file-source stream →
    1h tumbling windows → complete-mode drain (trigger=availableNow). The
    result equals the batch aggregation, so it shares the batch oracle —
    hash-level proof of batch/stream parity."""
    from ml_data_pipeline_spark.streaming import events_stream as ES

    # the file stream source lists a DIRECTORY; stage the single-file test
    # table once per content fingerprint (atomic rename + _SUCCESS check)
    stage = _stage_events(spark, sf)
    stream = ES.read_events_stream(spark, stage)
    out = ES.run_to_memory(ES.hourly_counts(stream), "st_hourly_counts", "complete")
    return out.select("hour", "event_type", "n", "total_value").orderBy("hour", "event_type")

def st_stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming dedup gate: events staged DOUBLED (union all with itself —
    the at-least-once redelivery every kafka/file-replay source produces)
    → dropDuplicatesWithinWatermark on event_id (dedup_events; state
    bounded by the watermark horizon, the only shape that survives an
    unbounded stream) → append-mode drain → per-type counts. The result
    equals the batch aggregation over the ORIGINAL (undoubled) table, so
    the oracle is plain SQL — hash-level proof the redeliveries vanished.
    Staged as few files so availableNow processes one micro-batch: the
    within-watermark guarantee is exact inside a batch (across batches a
    duplicate older than the advanced watermark may legitimately
    survive — that replay-tail case is exercised in unit tests, not the
    oracle gate)."""
    from ml_data_pipeline_spark.streaming import events_stream as ES

    def _write_doubled(p):
        ev = load_table(spark, sf, "events").select(
            "event_id", "user_id", "event_type", "ts", "value", "props"
        )
        ev.unionAll(ev).repartition(4).write.mode("overwrite").parquet(p)

    stage = _stream_stage(spark, sf, "events_doubled", _write_doubled)
    stream = ES.read_events_stream(spark, stage)
    deduped = ES.dedup_events(stream, keys=["event_id"], watermark="2 hours")
    out = ES.run_to_memory(deduped, "st_stream_dedup", "append")
    return (
        out.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .orderBy("event_type")
    )

def st_stateful_running(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful streaming gate (applyInPandasWithState): per-user
    RUNNING (count, sum, max) maintained in explicit group state
    (streaming/stateful.running_user_stats), drained update-mode — the
    final emission per user must equal the batch aggregate. Each running
    stat is MONOTONE over this data (values > 0), so folding emissions
    with max() recovers the final state regardless of how availableNow
    split the files into micro-batches."""
    from ml_data_pipeline_spark.streaming import events_stream as ES
    from ml_data_pipeline_spark.streaming import stateful as ST8

    stage = _stage_events(spark, sf)
    stream = ES.read_events_stream(spark, stage)
    out = ES.run_to_memory(
        ST8.running_user_stats(stream), "st_stateful_running", "update"
    )
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.round(F.max("total_value"), 6).alias("total_value"),
            F.round(F.max("max_value"), 6).alias("max_value"),
        )
        .orderBy("user_id")
    )

# ---------------------------------------------------------------- profiling (P*)

def p2_missing_counts(spark: SparkSession, sf: str) -> DataFrame:
    return P.missing_counts(_li_nulls(spark, sf))

def p4_distinct_counts(spark: SparkSession, sf: str) -> DataFrame:
    return P.distinct_counts(load_table(spark, sf, "orders"), ["o_orderstatus", "o_orderpriority"])

def p6_value_counts(spark: SparkSession, sf: str) -> DataFrame:
    return P.value_counts(_li(spark, sf), "l_returnflag")

def p7_rare_values(spark: SparkSession, sf: str) -> DataFrame:
    return P.rare_values(load_table(spark, sf, "part"), "p_name", max_count=30)

def p7_rare_summary(spark: SparkSession, sf: str) -> DataFrame:
    return P.rare_value_summary(load_table(spark, sf, "part"), "p_name", max_count=30)

def p8_class_distribution(spark: SparkSession, sf: str) -> DataFrame:
    return P.class_distribution(load_table(spark, sf, "customer"), "c_mktsegment", top_k=15)

def p9_head_tail(spark: SparkSession, sf: str) -> DataFrame:
    return P.class_stats_head_tail(load_table(spark, sf, "documents"), "lang", head=3, tail=2)

def p10_example_values(spark: SparkSession, sf: str) -> DataFrame:
    return P.example_values(load_table(spark, sf, "part"), "p_type", n=3)

def p11_column_range(spark: SparkSession, sf: str) -> DataFrame:
    return P.column_range(_li(spark, sf), "l_extendedprice")

def p12_correlation(spark: SparkSession, sf: str) -> DataFrame:
    return P.correlation_pairs(
        _li(spark, sf), ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )

def p13_histogram(spark: SparkSession, sf: str) -> DataFrame:
    return P.histogram(load_table(spark, sf, "events"), "value", 10.0, class_column="event_type")

def p3_total_missing(spark: SparkSession, sf: str) -> DataFrame:
    return P.total_missing(_li_nulls(spark, sf))

def p1_shape_census(spark: SparkSession, sf: str) -> DataFrame:
    return P.shape_census(load_table(spark, sf, "orders"))

def p5_type_classification(spark: SparkSession, sf: str) -> DataFrame:
    return P.classify_column_types(load_table(spark, sf, "orders"))

def t7_target_candidates(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    return P.common_columns_and_targets(orders, orders)

def s13_question_template(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    return P.question_template(cust)

# ---------------------------------------------------------------- filters (F*)

def f3_range_filter(spark: SparkSession, sf: str) -> DataFrame:
    out = FL.range_filter(_li(spark, sf), "l_quantity", 10, 20)
    return out.select("l_orderkey", "l_linenumber", "l_quantity")

def f5_in_list_filter(spark: SparkSession, sf: str) -> DataFrame:
    out = FL.in_list_filter(load_table(spark, sf, "orders"), "o_orderpriority", ["1-URGENT", "2-HIGH"])
    return out.select("o_orderkey", "o_orderpriority")

def f7_drop_null_rows(spark: SparkSession, sf: str) -> DataFrame:
    out = FL.drop_null_rows(_li_nulls(spark, sf), ["l_quantity"])
    return out.select("l_orderkey", "l_linenumber", "l_quantity")

def f8_merge_interval(spark: SparkSession, sf: str) -> DataFrame:
    merged = FL.merge_interval(_li(spark, sf), "l_quantity", 10, 20, 15.0)
    return P.value_counts(merged, "l_quantity")

def f13_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    return DD.exact_dedup(load_table(spark, sf, "documents"), subset=["text"]).select(
        "doc_id", "lang", "source", "n_chars"
    )

# ---------------------------------------------------------------- encoders (E*)

def e1_one_hot(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_orderstatus")
    return E.one_hot_encode(orders, "o_orderstatus", values=["F", "O", "P"])

def e2_label_encode(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    return E.label_encode(cust, "c_mktsegment", out_column="c_mktsegment_code")

def e3_target_encode(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    out = E.target_encode(cust, "c_mktsegment", "c_acctbal")
    return out.select(
        "c_custkey", F.round("c_mktsegment_encoded", 6).alias("c_mktsegment_encoded")
    )

def e4_frequency_encode(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    out = E.frequency_encode(cust, "c_mktsegment")
    return out.select(
        "c_custkey", F.round("c_mktsegment_freq_encoded", 6).alias("c_mktsegment_freq_encoded")
    )

def e5_binary_encode(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    return E.binary_encode(orders, "o_orderpriority", n_bits=3)

def e6_date_features(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    out = E.date_features(orders, "o_orderdate", drop_original=True)
    return out

def e8_feature_hash(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    return cust.select(
        "c_custkey", H.feature_hash(F.col("c_mktsegment"), 1000).alias("seg_hash")
    )

def e11_universal_hash(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    return cust.select(
        "c_custkey", H.universal_hash(F.col("c_mktsegment"), 1000).alias("seg_uhash")
    )

def e7_simple_hash(spark: SparkSession, sf: str) -> DataFrame:
    """Contract: hash buckets all land in [0, n) (Spark murmur3 is not
    reproducible in DuckDB — range + count are)."""
    cust = load_table(spark, sf, "customer")
    out = cust.select(H.simple_hash(F.col("c_name"), 100).alias("h"))
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(((F.col("h") < 0) | (F.col("h") >= 100)).cast("long")).alias("n_out_of_range"),
    )

def e9_onehot_hash(spark: SparkSession, sf: str) -> DataFrame:
    """Contract: distinct-value index is hashed into [0, n) buckets; same
    value → same bucket (n_distinct pairs == n_distinct values)."""
    part = load_table(spark, sf, "part")
    out = H.onehot_hash(part, "p_brand", 50, "brand_oh")
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(((F.col("brand_oh") < 0) | (F.col("brand_oh") >= 50)).cast("long")).alias("n_oor"),
        F.countDistinct("p_brand", "brand_oh").alias("n_pairs"),
        F.countDistinct("p_brand").alias("n_vals"),
    ).select("n_rows", "n_oor", (F.col("n_pairs") - F.col("n_vals")).alias("pair_excess"))

def e10_embedding_hash(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part")
    out = part.select("p_partkey", H.embedding_hash(F.col("p_type"), 64).alias("h"))
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(((F.col("h") < 0) | (F.col("h") >= 64)).cast("long")).alias("n_out_of_range"),
    )

def e12_count_min(spark: SparkSession, sf: str) -> DataFrame:
    """CMS-encoded counts. p_brand's 25 values in width-1000 tables are
    collision-free, so estimates EQUAL exact counts — value-level oracle."""
    part = load_table(spark, sf, "part")
    out = H.count_min_sketch_counts(part, "p_brand", "brand_cms")
    return out.groupBy("p_brand").agg(F.min("brand_cms").alias("brand_cms")).orderBy("p_brand")

def e16_to_numeric(spark: SparkSession, sf: str) -> DataFrame:
    """String→double coercion round-trip (errors='coerce' semantics)."""
    part = load_table(spark, sf, "part").select(
        "p_partkey", F.col("p_retailprice").cast("string").alias("price_str")
    )
    out = FL.to_numeric(part, "price_str")
    return out.select("p_partkey", F.round("price_str", 2).alias("price_roundtrip"))

def f1_f2_drop_select_numeric(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    return FL.select_numeric(FL.drop_columns(cust, ["c_acctbal"]))

def f6_null_partition(spark: SparkSession, sf: str) -> DataFrame:
    complete, missing = FL.null_partition(_orders_nulls(spark, sf), "o_orderpriority")
    return spark.createDataFrame(
        [(complete.count(), missing.count())], "n_complete long, n_missing long"
    )

def e14_clip_round(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf).select("l_orderkey", "l_linenumber", "l_extendedprice")
    out = FL.clip(li, "l_extendedprice", lo=1000.0, hi=50000.0)
    out = FL.round_column(out, "l_extendedprice", scale=0, as_int=True)
    return out

# ---------------------------------------------------------------- imputation (I*)

def i1_impute_mean(spark: SparkSession, sf: str) -> DataFrame:
    out = I.impute_mean(_li_nulls(spark, sf), "l_quantity")
    return out.select(
        "l_orderkey", "l_linenumber", F.round("l_quantity", 6).alias("l_quantity")
    )

def i2_impute_median(spark: SparkSession, sf: str) -> DataFrame:
    out = I.impute_median(_li_nulls(spark, sf), "l_quantity")
    return out.select(
        "l_orderkey", "l_linenumber", F.round("l_quantity", 6).alias("l_quantity")
    )

def i3_impute_mode(spark: SparkSession, sf: str) -> DataFrame:
    out = I.impute_mode(_orders_nulls(spark, sf), "o_orderpriority")
    return out.select("o_orderkey", "o_orderpriority")

def i4_interpolate(spark: SparkSession, sf: str) -> DataFrame:
    """I4 headline gate — runs the SCALE-SAFE implementation (r6 swap, per
    the r5 verdict): range-split parallel sort + per-range windows + a
    P-row declarative boundary carry, never a single global sort task.
    (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
    l_extendedprice tie-breaks to a total order (oracle sorts identically).
    Honest cost note: at sf0.1 the global-window baseline
    (i4_interpolate_single) is ~0.3s warm vs ~1.5s here — three extra
    distributed stages don't pay off at 600k rows — but the headline gate
    exercises the plan that survives 100x data."""
    out = I.impute_interpolate_ranged(
        _li_nulls(spark, sf), "l_quantity", ["l_orderkey", "l_linenumber", "l_extendedprice"]
    )
    return out.select(
        "l_orderkey", "l_linenumber", F.round("l_quantity", 6).alias("l_quantity")
    )

def i4_interpolate_ranged(spark: SparkSession, sf: str) -> DataFrame:
    """Alias gate retained for correctness-history continuity (green since
    r2): same ranged implementation, same oracle, as the headline above."""
    out = I.impute_interpolate_ranged(
        _li_nulls(spark, sf), "l_quantity", ["l_orderkey", "l_linenumber", "l_extendedprice"]
    )
    return out.select(
        "l_orderkey", "l_linenumber", F.round("l_quantity", 6).alias("l_quantity")
    )

def i4_interpolate_single(spark: SparkSession, sf: str) -> DataFrame:
    """The documented single-sort reference baseline (pandas
    col.interpolate parity shape): two global-window passes on one task.
    Kept as a gate so the hash-equality proof against the ranged headline
    stays machine-checked; at <=1M rows this is the faster plan (one sort
    task, no extra stages), and a user CAN opt into it — but it is not the
    headline because a single sort task cannot hold 100 TB."""
    out = I.impute_interpolate(
        _li_nulls(spark, sf), "l_quantity", ["l_orderkey", "l_linenumber", "l_extendedprice"]
    )
    return out.select(
        "l_orderkey", "l_linenumber", F.round("l_quantity", 6).alias("l_quantity")
    )

def i5_impute_knn(spark: SparkSession, sf: str) -> DataFrame:
    """KNN-impute contract: row count preserved, zero nulls remain. (Fill
    values ride the LSH candidate set — approximate by design; the contract
    row is the oracle-checkable part.)

    r11: the gate runs the DEFAULT density-adaptive composite LSH — the
    100 TB path (the old pinned 0.02 slab put 230M candidate pairs
    through the join at sf0.1, 300s wall; the i7 gate below keeps an
    explicit width so the legacy fixed-width path stays gate-covered)."""
    from ml_data_pipeline_spark.operators import imputation_ml as IM

    out = IM.impute_knn(
        _li_nulls(spark, sf).select("l_orderkey", "l_quantity", "l_extendedprice", "l_tax"),
        "l_quantity",
        ["l_extendedprice", "l_tax"],
        k=5,
    )
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("n_nulls_after"),
    )

def i7_hot_deck(spark: SparkSession, sf: str) -> DataFrame:
    """Hot-deck contract: rows preserved, no nulls, and every fill is a COPY
    of an observed donor value (the defining hot-deck invariant).

    Runs the density-adaptive LSH default (late r11): the gate previously
    pinned the legacy fixed width (bucket_length=0.02, 1 table), and the
    cross-scale sf0.1 sweep measured that pin in the quadratic-candidate
    regime — 224s vs the adaptive i5's 33s on the same kNN machinery
    (l_tax's 9 atoms collapse fixed-width cells into point masses). A gate
    must exercise the plan that survives 100x data; the legacy fixed-width
    path stays covered by
    tests/test_imputation_ml.py::test_legacy_fixed_width_lsh_path_still_fills."""
    from ml_data_pipeline_spark.operators import imputation_ml as IM

    src = _li_nulls(spark, sf).select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_tax", "l_returnflag"
    )
    # observed donor values PER GROUP (r11 review): the old global distinct
    # set was a near-vacuous contract — l_quantity has ~50 dense values,
    # so a regressed hot-deck filling every hole with the corpus median
    # (an observed value) or a donor from the WRONG l_returnflag group
    # still scored n_foreign_fills = 0. Group-scoped, a cross-group fill
    # now trips the contract.
    observed = src.where(F.col("l_quantity").isNotNull()).select(
        F.col("l_returnflag").alias("__grp"), F.col("l_quantity").alias("__obs")
    ).distinct()
    out = IM.impute_hot_deck(
        src, "l_quantity", ["l_extendedprice", "l_tax"], ["l_returnflag"],
        k_candidates=5,
    )
    # one action: broadcast-mark observed values, aggregate all three contract
    # numbers in a single pass (three separate .count()s would re-run the
    # whole hot-deck join three times)
    marked = out.join(
        F.broadcast(observed),
        (out.l_quantity == F.col("__obs")) & (out.l_returnflag == F.col("__grp")),
        "left",
    )
    return marked.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("n_nulls_after"),
        F.sum((F.col("l_quantity").isNotNull() & F.col("__obs").isNull()).cast("long")).alias(
            "n_foreign_fills"
        ),
    )

def i9_impute_by_model(spark: SparkSession, sf: str) -> DataFrame:
    """Model-based imputation with LinearRegression — OLS is closed-form, so
    the filled values themselves hash-match DuckDB regr_slope/intercept
    predictions (the strongest imputation oracle in the suite)."""
    from ml_data_pipeline_spark.operators import imputation_ml as IM

    src = _li_nulls(spark, sf).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    out = IM.impute_by_model(src, "l_quantity", "linear_regression", ["l_extendedprice"])
    return (
        out.where(F.col("l_orderkey") % 10 == 3)
        .select("l_orderkey", "l_linenumber", F.round("l_quantity", 3).alias("l_quantity_filled"))
    )

def i6_impute_mice(spark: SparkSession, sf: str) -> DataFrame:
    """rows-only: MICE chained-equation fill (2 sweeps, 2 columns)."""
    from ml_data_pipeline_spark.operators import imputation_ml as IM

    src = _li(spark, sf).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_tax")
    src = src.withColumn(
        "l_quantity",
        F.when(F.col("l_orderkey") % 10 == 3, F.lit(None)).otherwise(F.col("l_quantity")),
    ).withColumn(
        "l_tax",
        F.when(F.col("l_orderkey") % 13 == 5, F.lit(None)).otherwise(F.col("l_tax")),
    )
    out = IM.impute_mice(src, ["l_quantity", "l_tax"], max_iter=2)
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("nulls_q"),
        F.sum(F.col("l_tax").isNull().cast("long")).alias("nulls_tax"),
    )

def i8_impute_em(spark: SparkSession, sf: str) -> DataFrame:
    """GRADUATED r12 from rows-only to full hash parity: the gate runs
    the REAL EM loop (init stats from the observed data, per-iteration
    refill + re-estimate, final fill) with rng='hash' — Box-Muller draws
    over md5 uniforms of the row key and the iteration index
    (imputation._hash_normal; ln/cos agree between the JVM and libm
    within the gate's output grid, smoke-pinned over 8000 draws) — so
    the entire 3-iteration EM trajectory is replayed by the DuckDB
    oracle (_em_oracle_sql): four successive (mu, sigma) scalar pairs
    and every per-row fill. tol=0.0 pins EXACTLY max_iter iterations (a
    data-dependent early stop could flip on last-ulp aggregate noise
    between engines).

    Grid discipline (r12 review): the fills sit at the end of an
    ITERATIVE float trajectory whose mu/sigma scalars are float
    aggregates — order-sensitive at ~1e-16 per iteration, so the two
    engines' fills agree to ~1e-12, NOT bitwise. The output is therefore
    floor(fill * 100) — an integer centi-grid (flip probability ~1e-10
    per row, and floor is the same function in both engines), never
    round(x, 6) (half-up vs multiply-then-round at a 1e-6 grid is the
    documented flaky-boundary class). The draw key is the plain
    (l_orderkey, l_linenumber) pair — NOT unique in this corpus, which
    is fine: duplicate keys draw identical z in both engines, and the
    hash compare is a multiset. The seeded-randn production default
    keeps its unit coverage (tests/test_operators.py). Replaces the r3
    rows-only 5-sigma mean floor — per-row parity is strictly stronger."""
    base = _li_nulls(spark, sf).select("l_orderkey", "l_linenumber", "l_quantity")
    out = I.impute_em_normal(
        base,
        "l_quantity",
        tol=0.0,
        max_iter=3,
        rng="hash",
        key_cols=["l_orderkey", "l_linenumber"],
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_quantity") * 100).cast("long").alias("filled_q_c"),
    ).orderBy("l_orderkey", "l_linenumber", "filled_q_c")

# ---------------------------------------------------------------- sampling (T*)

def t2_trim_equal_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Row identity is RNG-dependent; the CONTRACT (per-class count =
    min(n, cap)) is exact and oracle-checked."""
    trimmed = SA.trim_equal(load_table(spark, sf, "customer"), "c_mktsegment", 100)
    return trimmed.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n")).orderBy("c_mktsegment")

def t3_trim_proportional_counts(spark: SparkSession, sf: str) -> DataFrame:
    trimmed = SA.trim_proportional(load_table(spark, sf, "customer"), "c_mktsegment", 1000)
    return trimmed.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n")).orderBy("c_mktsegment")

def t4_trim_majority_counts(spark: SparkSession, sf: str) -> DataFrame:
    trimmed = SA.trim_majority(load_table(spark, sf, "customer"), "c_mktsegment", 50)
    return trimmed.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n")).orderBy("c_mktsegment")

def t1_split_invariants(spark: SparkSession, sf: str) -> DataFrame:
    """randomSplit contract: disjoint cover. Output (n_total, n_train+n_test)
    must satisfy equality — checked by the oracle against plain count."""
    df = load_table(spark, sf, "customer")
    train, test = SA.train_test_split(df, 0.2, seed=42)
    n_train, n_test, n = train.count(), test.count(), df.count()
    return spark.createDataFrame(
        [(n, n_train + n_test)], "n_total long, n_train_plus_test long"
    )

# ---------------------------------------------------------------- sources (S*)

def s1_csv_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """CSV sink→scan round-trip with the reference's conventions (# META
    header comment, null spellings): values must hash-match the original
    table — proves the ingest path end-to-end inside the gate."""
    import hashlib

    from ml_data_pipeline_spark.sources import csv_io

    cust = load_table(spark, sf, "customer").select(
        "c_custkey", "c_name", "c_nationkey", F.round("c_acctbal", 2).alias("c_acctbal"),
        "c_mktsegment",
    )
    stage = f"/tmp/mdp_csv_stage/{_stage_tag(sf)}/customer"
    cust.write.mode("overwrite").option("header", True).csv(stage)
    schema = "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string"
    back = csv_io.read_csv(spark, stage, schema=schema)  # type: ignore[arg-type]
    return back.select(
        "c_custkey", "c_name", "c_nationkey", F.round("c_acctbal", 2).alias("c_acctbal"),
        "c_mktsegment",
    )

def ss_quantize_int8(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column, value-checked:
    md5 over the quantized component string + the per-vector scale must
    match DuckDB recomputing the identical formula."""
    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    q = SS.quantize_int8(emb)
    return q.select(
        "vec_id",
        F.md5(F.concat_ws(",", F.transform("q8", lambda x: x.cast("string")))).alias("q_md5"),
        "q_scale",
    ).orderBy("vec_id")

def t8_hash_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic hash-based split membership (seed-free, engine-
    reproducible): the DuckDB oracle recomputes the identical md5-bucket
    assignment, proving examples can never migrate between splits."""
    orders = load_table(spark, sf, "orders").select("o_orderkey")
    return SA.split_by_hash(orders, "o_orderkey", test_frac=0.1).orderBy("o_orderkey")

def p15_numeric_summary(spark: SparkSession, sf: str) -> DataFrame:
    """One-pass five-number summary + mean/std for three lineitem measures,
    exact percentiles (gate scale only — the operator defaults to the
    mergeable approx_percentile sketch, which is the 100 TB path) vs
    DuckDB quantile_cont."""
    li = load_table(spark, sf, "lineitem")
    return P.numeric_summary(
        li, ["l_quantity", "l_extendedprice", "l_discount"], exact=True
    )

def s_jsonl_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """JSON-lines sink→scan round-trip: supplier written as .jsonl and read
    back with an explicit schema (schema-on-read, no inference job at
    scale) must hash-match the parquet original. JSONL is the lingua franca
    of LLM training corpora — this is the ingest path a corpus actually
    uses."""
    import hashlib

    sup = load_table(spark, sf, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", F.round("s_acctbal", 2).alias("s_acctbal")
    )
    stage = f"/tmp/mdp_jsonl_stage/{_stage_tag(sf)}/supplier"
    sup.write.mode("overwrite").json(stage)
    schema = "s_suppkey bigint, s_name string, s_nationkey bigint, s_acctbal double"
    back = spark.read.schema(schema).json(stage)
    return back.select(
        "s_suppkey", "s_name", "s_nationkey", F.round("s_acctbal", 2).alias("s_acctbal")
    )

def s_orc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """ORC sink→scan round-trip (the other columnar interchange format):
    values must hash-match the parquet original — type fidelity through
    ORC's writer/reader including decimals-as-double and strings."""
    import hashlib

    part = load_table(spark, sf, "part").select(
        "p_partkey", "p_name", "p_brand", F.round("p_retailprice", 2).alias("p_retailprice")
    )
    stage = f"/tmp/mdp_orc_stage/{_stage_tag(sf)}/part"
    part.write.mode("overwrite").orc(stage)
    back = spark.read.orc(stage)
    return back.select(
        "p_partkey", "p_name", "p_brand", F.round("p_retailprice", 2).alias("p_retailprice")
    )

def s5_excel_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """S5 — Excel sink→scan round-trip through the stdlib OOXML layer
    (sources/excel_io): values must hash-match the source table read as
    parquet, proving type fidelity (ints, floats, strings) both ways."""
    import hashlib
    import os

    from ml_data_pipeline_spark.sources import excel_io

    nation = load_table(spark, sf, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    stage_dir = f"/tmp/mdp_xlsx_stage/{_stage_tag(sf)}"
    os.makedirs(stage_dir, exist_ok=True)
    path = f"{stage_dir}/nation.xlsx"
    excel_io.write_excel(nation, path)
    back = excel_io.read_excel(spark, path)
    return back.select(
        F.col("n_nationkey").cast("int"),
        "n_name",
        F.col("n_regionkey").cast("int"),
    ).orderBy("n_nationkey")

def s6_version_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Versioned-dataset layer exercised in the gate: commit v0 (full) and
    v1 (filtered) to a scratch root, read v1 back — values hash-match the
    equivalent filter on the source table."""
    import hashlib

    from ml_data_pipeline_spark.plans import Dataset

    root = f"/tmp/mdp_ver_stage/{_stage_tag(sf)}"
    import shutil

    shutil.rmtree(root, ignore_errors=True)  # fresh commit chain per run
    nation = load_table(spark, sf, "nation")
    ds = Dataset.from_df(nation)
    ds.save(root, "nation")
    ds.transform(
        lambda d: d.where(F.col("n_regionkey") <= 2), "kept regions 0-2"
    ).save(root, "nation")
    back = Dataset.load(spark, root, "nation")  # latest = v1
    assert back.base_version == 1
    return back.df.select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")

# ---------------------------------------------------------------- balancing (B*)

def _cust_bal(spark, sf) -> DataFrame:
    """customer projected to (target, 2 numeric features) for balancing ops."""
    return load_table(spark, sf, "customer").select(
        "c_mktsegment", F.col("c_acctbal").cast("double"), F.col("c_nationkey").cast("double")
    )

def _class_n(df) -> DataFrame:
    return (
        df.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n")).orderBy("c_mktsegment")
    )

def b1_smote_counts(spark: SparkSession, sf: str) -> DataFrame:
    """SMOTE raises every class EXACTLY to the majority count (synthetic rows
    are RNG-dependent; the count contract is the oracle-checkable part)."""
    out = B.smote(_cust_bal(spark, sf), "c_mktsegment", ["c_acctbal", "c_nationkey"], k=5)
    return _class_n(out)

def b2_undersample_counts(spark: SparkSession, sf: str) -> DataFrame:
    return _class_n(B.random_undersample(_cust_bal(spark, sf), "c_mktsegment"))

def b3_centroids_counts(spark: SparkSession, sf: str) -> DataFrame:
    return _class_n(
        B.cluster_centroids(_cust_bal(spark, sf), "c_mktsegment", ["c_acctbal", "c_nationkey"])
    )

def b4_nearmiss_counts(spark: SparkSession, sf: str) -> DataFrame:
    return _class_n(
        B.nearmiss(_cust_bal(spark, sf), "c_mktsegment", ["c_acctbal", "c_nationkey"], k=3)
    )

def b5_oversample_counts(spark: SparkSession, sf: str) -> DataFrame:
    return _class_n(B.random_oversample(_cust_bal(spark, sf), "c_mktsegment"))

def b6_adasyn_counts(spark: SparkSession, sf: str) -> DataFrame:
    return _class_n(
        B.adasyn(_cust_bal(spark, sf), "c_mktsegment", ["c_acctbal", "c_nationkey"], k=5)
    )

def b7_borderline_counts(spark: SparkSession, sf: str) -> DataFrame:
    """B7 contract (oracle-checked): the danger seed set is NON-EMPTY (so
    borderline selection actually engaged — with an empty danger set plain
    SMOTE's unseeded fallback would produce identical counts) and every class
    is raised exactly to the majority count (borderline-SMOTE changes WHICH
    rows seed synthesis, never the final class sizes)."""
    src = _cust_bal(spark, sf)
    feats = ["c_acctbal", "c_nationkey"]
    danger = B.borderline_danger(src, "c_mktsegment", feats, k=5)
    out = B.smote(src, "c_mktsegment", feats, k=5, seeds_df=danger)
    flag = danger.agg((F.count(F.lit(1)) > 0).alias("danger_nonempty"))
    return _class_n(out).crossJoin(F.broadcast(flag))

def _cleaning_contract(base: DataFrame, counts: DataFrame, frac: float) -> DataFrame:
    """Deterministic contract for the SMOTE+cleaning gates (VERDICT r11
    item 1, pattern = b1_smote_counts): the REMOVAL count is data/LSH-
    recall dependent, so exact class sizes can't be oracled — but two
    invariants ARE deterministic and hash-checkable per class:

    - above_floor: the class survives cleaning with at least ``frac`` of
      the pre-balance majority count (frac calibrated per method from
      measured behavior on this corpus, see the gate docstrings);
    - within_majority: the class never exceeds the majority count
      (post-SMOTE every class sits exactly at the majority; Tomek/ENN
      only REMOVE rows);
    - no_new_classes: the post-cleaning label set introduces nothing
      outside the pre-balance set (SMOTE synthesizes within classes and
      cleaning only removes — a label-corruption bug invents one). The
      old rows-only floor's `__k == 5` cardinality check caught this
      direction too; the LEFT join alone would not (r12 review).

    Emitted as per-class booleans LEFT-joined from the deterministic
    pre-balance class list, so a wiped-out class reads (FALSE, TRUE, ...)
    — a hash mismatch against the all-TRUE oracle — instead of silently
    dropping a row. Replaces the r3 rows-only filter-to-empty floor
    (same invariants, but the driver can now hash-check them)."""
    # localCheckpoint the CLASS-SIZED aggregate (5 rows): the class list,
    # the majority count and the no-new-classes probe all derive from it,
    # and without the checkpoint each branch re-derived the groupBy from
    # the raw source — a third uncached source scan that the r12 plan
    # audit flagged NEW on b9 after the no_new_classes addition
    orig = (
        base.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .localCheckpoint()
    )
    mx = orig.agg(F.max("__cnt").alias("__mx"))
    extra = counts.join(orig.select("c_mktsegment"), "c_mktsegment", "left_anti").agg(
        F.count(F.lit(1)).alias("__extra")
    )
    n = F.coalesce(F.col("n"), F.lit(0))
    return (
        orig.select("c_mktsegment")
        .join(counts, "c_mktsegment", "left")
        .crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(extra))
        .select(
            "c_mktsegment",
            (n >= frac * F.col("__mx")).alias("above_floor"),
            (n <= F.col("__mx")).alias("within_majority"),
            (F.col("__extra") == 0).alias("no_new_classes"),
        )
        .orderBy("c_mktsegment")
    )

def b8_smote_tomek(spark: SparkSession, sf: str) -> DataFrame:
    """B8 contract (oracle-checked): Tomek-link removal count is data/LSH-
    recall dependent, but every class survives above 0.3 of the pre-
    balance majority (Tomek removes only mutual-NN cross-class pairs,
    measured well above 50% survival here) and never exceeds it."""
    base = _cust_bal(spark, sf)
    out = B.smote_tomek(base, "c_mktsegment", ["c_acctbal", "c_nationkey"], k=5)
    return _cleaning_contract(base, _class_n(out), 0.3)

def b9_smote_enn(spark: SparkSession, sf: str) -> DataFrame:
    """B9 contract (oracle-checked): ENN removal count is data-dependent,
    but every class survives above 0.05 of the pre-balance majority and
    never exceeds it. ENN's kNN-vote cleaning is aggressive on these
    deliberately overlapping features (measured min class survival 12.5%
    at sf0.001, 13.3% at sf0.01; a wipeout bug reads above_floor=false)."""
    base = _cust_bal(spark, sf)
    out = B.smote_enn(base, "c_mktsegment", ["c_acctbal", "c_nationkey"], k=3)
    return _cleaning_contract(base, _class_n(out), 0.05)

# ---------------------------------------------------------------- text (TX*)

def tx_token_count(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return TX.token_count(docs).select("doc_id", "n_tokens")

def tx_bpe_count(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return TX.bpe_ish_token_count(docs).select("doc_id", "n_bpe_tokens")

def tx_quality(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return TX.quality_score(docs).select(
        "doc_id", "q_n_chars", "q_n_words", "q_mean_word_len", "q_punct_ratio",
        "q_digit_ratio", "q_stopword_ratio", "q_score",
    )

def tx_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return TX.detect_language(docs).select("doc_id", "lang_pred")

def tx_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """ORACLE-UPGRADED (VERDICT r9 item 6; was rows-only with a global
    distinct-count floor): the xxhash64 fingerprint's VALUES are
    engine-specific, but its EQUALITY STRUCTURE is not — two docs share
    an xxhash64 fingerprint iff they share normalized text iff they share
    the md5 fingerprint. So the gate returns, per doc, the md5
    fingerprint (value-checkable: DuckDB md5 == Spark md5) plus the SIZE
    of the doc's xxhash64-equality class; the oracle computes the same
    class size from the md5 partition. Hash parity then pins the xxhash64
    path per-doc (normalization drift or hash misuse changes some doc's
    class size), strictly stronger than the old one-global-count floor."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    both = TX.fingerprint_md5(TX.fingerprint(docs, out_col="__xx"))
    w = Window.partitionBy("__xx")
    return both.select(
        "doc_id",
        "fingerprint",
        F.count(F.lit(1)).over(w).alias("xx_class"),
    )

def tx_fingerprint_md5(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return TX.fingerprint_md5(docs).select("doc_id", "fingerprint")

def tx_redact_pii(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction, value-checked: the synthetic corpus contains no PII,
    so the query INJECTS deterministic email/url/ip/phone material derived
    from doc_id (identically in the oracle SQL), redacts it, and returns
    the md5 of the cleaned text plus per-kind match counts. Hash equality
    proves both the patterns and the fixed application order."""
    from ml_data_pipeline_spark.operators import cleaning as CL

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    injected = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or https://site"), F.col("doc_id").cast("string"),
            F.lit(".test/x ip 10.0."), (F.col("doc_id") % 200).cast("string"),
            F.lit(".7 tel +1 (555) 01"), (F.col("doc_id") % 90 + 10).cast("string"),
            F.lit("-2301"),
        ),
    )
    counted = CL.pii_counts(injected)
    cleaned = CL.redact_pii(counted)
    return cleaned.select(
        "doc_id", F.md5("text").alias("clean_md5"), "n_url", "n_email", "n_ip", "n_phone"
    )

def tx_strip_html(spark: SparkSession, sf: str) -> DataFrame:
    """HTML strip, value-checked via injected markup (same injection in the
    oracle): tags removed, core entities decoded, whitespace collapsed."""
    from ml_data_pipeline_spark.operators import cleaning as CL

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    injected = docs.withColumn(
        "text",
        F.concat(
            F.lit("<html><body><p class=\"x\">"), F.col("text"),
            F.lit("</p><br/>&amp; more &lt;tags&gt; &quot;quoted&quot;</body></html>"),
        ),
    )
    return CL.strip_html(injected).select("doc_id", F.md5("text").alias("clean_md5"))

def tx_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition metrics (dup-word fraction, top word-bigram
    and the character fraction it covers), hash-checked against a DuckDB
    window-function oracle with the same deterministic tie-break."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return TX.repetition_metrics(docs).select(
        "doc_id",
        "rep_dup_word_frac",
        "rep_top_bigram",
        "rep_top_bigram_count",
        "rep_top_bigram_frac",
    )

# ---------------------------------------------------------------- multimodal (MM*)

def mm_feature_digest(spark: SparkSession, sf: str) -> DataFrame:
    """mapInPandas media feature extraction (fake decoder): the synthetic
    payloads are deterministic, so the per-blob Python stage is verified
    HASH-EXACTLY by a DuckDB range() reconstruction of the byte math."""
    from ml_data_pipeline_spark.operators import multimodal as MM

    media = MM.synth_media_table(spark, n=100)
    out = MM.extract_media_features(media, decoder="fake")
    return out.select(
        "media_id",
        F.element_at("features", 1).alias("n_bytes"),
        F.element_at("features", 2).alias("s997"),
    ).orderBy("media_id")

def mm_frame_plan(spark: SparkSession, sf: str) -> DataFrame:
    """JVM-side video frame-sampling plan: per-video frame counts."""
    from ml_data_pipeline_spark.operators import multimodal as MM

    media = MM.synth_media_table(spark, n=100)
    plan = MM.frame_sample_plan(media, every_ms=1000)
    return plan.groupBy("media_id").agg(F.count(F.lit(1)).alias("n_frames")).orderBy("media_id")

def mm_media_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Exact blob dedup via content hash — survivor count contract."""
    from ml_data_pipeline_spark.operators import multimodal as MM

    media = MM.synth_media_table(spark, n=100)
    dup = media.limit(20).withColumn("media_id", F.col("media_id") + 1000)
    out = MM.exact_media_dedup(media.unionByName(dup))
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max("media_id").alias("max_id"),
    )

# ---------------------------------------------------------------- ML (M*)

def m2_ols_coefficients(spark: SparkSession, sf: str) -> DataFrame:
    """OLS fit with MLlib LinearRegression(solver='normal', regParam=0) —
    coefficients are CLOSED-FORM, so DuckDB regr_slope/regr_intercept is an
    exact oracle. The one ML query with hash-level parity."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    li = _li(spark, sf).select("l_quantity", "l_extendedprice")
    assembled = VectorAssembler(inputCols=["l_quantity"], outputCol="features").transform(li)
    model = LinearRegression(
        featuresCol="features", labelCol="l_extendedprice", regParam=0.0, solver="normal"
    ).fit(assembled)
    return spark.createDataFrame(
        [(round(float(model.coefficients[0]), 4), round(float(model.intercept), 4))],
        "slope double, intercept double",
    )

def m3_eval_classification(spark: SparkSession, sf: str) -> DataFrame:
    """M3 — the full classification metric suite, GRADUATED r11 from
    rows-only to full hash parity: the suite (confusion-matrix
    accuracy/precision/recall/f1 + the 3-job binned Mann-Whitney
    one-vs-rest AUC, evaluate_classification/_ovr_weighted_auc) runs over
    a DETERMINISTIC nearest-anchor scorer instead of a fitted model, so
    every metric — including the 10k-bin AUC histogram, mid-rank cumsum
    and support weighting — replays line for line in DuckDB. The metric
    MATH is what M3 is; model fitting is covered by m2/m5/m12 and the
    pytest suite (test_train_and_evaluate_*).

    Scorer: 3-class label from o_orderstatus (F=0, O=1, P=2), class
    score s_c = -|o_totalprice − anchor_c| (anchors 50k/150k/300k),
    prediction = argmax with an explicit >= tie rule mirrored in SQL."""
    from pyspark.ml.functions import array_to_vector

    from ml_data_pipeline_spark.ml.pipeline import evaluate_classification

    orders = load_table(spark, sf, "orders")
    tp = F.col("o_totalprice").cast("double")
    y = (
        F.when(F.col("o_orderstatus") == "F", 0.0)
        .when(F.col("o_orderstatus") == "O", 1.0)
        .otherwise(2.0)
    )
    s0 = -F.abs(tp - F.lit(50_000.0))
    s1 = -F.abs(tp - F.lit(150_000.0))
    s2 = -F.abs(tp - F.lit(300_000.0))
    pred = (
        F.when((s0 >= s1) & (s0 >= s2), 0.0).when(s1 >= s2, 1.0).otherwise(2.0)
    )
    scored = orders.select(
        y.alias("__y"),
        pred.alias("prediction"),
        array_to_vector(F.array(s0, s1, s2)).alias("rawPrediction"),
    )
    metrics = evaluate_classification(scored, "__y")
    rows = [(k, round(float(v), 6)) for k, v in sorted(metrics.items())]
    # quality floor unchanged: exactly the 5 metrics, all on [0, 1]
    expected = {"accuracy", "precision", "recall", "f1", "roc_auc"}
    ok = {k for k, _ in rows} == expected and all(
        v == v and 0.0 <= v <= 1.0 for _, v in rows
    )
    return spark.createDataFrame(rows if ok else [], "metric string, value double")

def m4_feature_importances(spark: SparkSession, sf: str) -> DataFrame:
    """M4 — feature importances through the REAL feature_importances()
    path, GRADUATED r11 from rows-only to full hash parity: the model is
    LinearRegression(solver='normal', regParam=0) behind the standard
    pipeline (assembler → StandardScaler), so the reported
    |standardized coefficient| importances are closed-form —
    b_std_j = b_raw_j * sd_samp_j, where b_raw comes from the covar_pop
    2-feature symbolic inverse (pop-vs-sample scaling cancels in the
    solve) and sd_samp is the scaler's sample std. DuckDB replays both
    exactly. The tree-impurity branch of feature_importances keeps its
    pytest coverage (test_random_forest_importances)."""
    from ml_data_pipeline_spark.ml.pipeline import build_pipeline
    from ml_data_pipeline_spark.ml.tuning import feature_importances

    li = _li(spark, sf).select(
        F.col("l_quantity").cast("double").alias("l_quantity"),
        F.col("l_discount").cast("double").alias("l_discount"),
        F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
    )
    pipe, _, _ = build_pipeline(
        li,
        "l_extendedprice",
        "linear_regression",
        params={"solver": "normal", "regParam": 0.0},
        feature_cols=["l_quantity", "l_discount"],
        task="regression",
    )
    model = pipe.fit(li)
    imp = feature_importances(model, ["l_quantity", "l_discount"])
    return spark.createDataFrame(
        [(f, float(round(v, 6))) for f, v in imp], "feature string, importance double"
    )

def m5_cross_val(spark: SparkSession, sf: str) -> DataFrame:
    """M5 — 3-fold CV, GRADUATED r11 from rows-only to full hash parity:
    folds are an md5 hash of the business key (split_by_hash's proven
    engine-portable bucket recipe — reproducible, unlike the seeded
    shuffle), the estimator is LinearRegression(solver='normal',
    regParam=0) so each fold's fit is closed-form OLS that DuckDB replays
    from per-fold covar_pop algebra (scaler-invariant predictions, the
    m12 recipe), and the metric is the standard R² = 1 − SSres/SStot on
    the held-out fold. The gate exercises the REAL cross_val_scores loop
    (fold filtering, per-fold train_and_evaluate, mean aggregation) —
    only the randomness moved into the caller-supplied fold column.
    The stratified-classification CV path keeps its pytest coverage
    (tests/test_ml.py::test_cross_val_scores, test_stratified_folds)."""
    from ml_data_pipeline_spark.ml.tuning import cross_val_scores
    from ml_data_pipeline_spark.operators.sampling import hash_bucket

    li = _li(spark, sf).select(
        F.col("l_quantity").cast("double").alias("l_quantity"),
        F.col("l_discount").cast("double").alias("l_discount"),
        F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
        # the ONE shared bucket recipe (sampling.hash_bucket) — the oracle
        # replays it; an inline copy here is how recipes drift (r11 review)
        hash_bucket(["l_orderkey", "l_linenumber"], 3, sep=",").alias("__cvfold"),
    )
    cv = cross_val_scores(
        li,
        "l_extendedprice",
        "linear_regression",
        params={"solver": "normal", "regParam": 0.0},
        n_folds=3,
        fold_col="__cvfold",
    )
    rows = [(f"fold_{i}", round(float(s), 6)) for i, s in enumerate(cv["scores"])]
    rows.append(("mean", round(float(cv["mean"]), 6)))
    # the r3 quality floor stays folded into the row contract: 3 folds,
    # FINITE scores (isfinite, not just non-NaN — a zero-variance held-out
    # fold yields R2 = -inf, which `s == s` would wave through; r11
    # review), mean == fold average
    import math

    scores = cv["scores"]
    ok = (
        len(scores) == 3
        and all(math.isfinite(s) for s in scores)
        and abs(cv["mean"] - sum(scores) / len(scores)) < 1e-9
    )
    return spark.createDataFrame(rows if ok else [], "k string, r2 double")

def m6_random_search_trials(spark: SparkSession, sf: str) -> DataFrame:
    """M6/M8 contract (oracle-checked): the trial history has exactly
    n_trials rows numbered 0..n-1 and the reported best is the argmax —
    every trial's mean score is <= best's (scores themselves are
    model/RNG-dependent and intentionally unchecked)."""
    from ml_data_pipeline_spark.ml.tuning import random_search

    orders = (
        load_table(spark, sf, "orders")
        .where(F.col("o_orderstatus").isin("F", "O"))
        .select("o_orderstatus", F.col("o_totalprice").cast("double"),
                F.year("o_orderdate").cast("double").alias("o_year"))
    )
    res = random_search(
        orders, "o_orderstatus", "logistic_regression",
        space={"regParam": (1e-4, 10.0)}, n_trials=3, n_folds=2, metric="accuracy",
    )
    best = res["best"]["mean"]
    rows = [(t["trial"], bool(t["mean"] <= best + 1e-12)) for t in res["trials"]]
    return spark.createDataFrame(rows, "trial int, mean_le_best boolean")

def m9_learning_curve(spark: SparkSession, sf: str) -> DataFrame:
    """M9 contract (oracle-checked): one row per requested fraction, in
    order, with finite train and test scores (score VALUES are
    model/sample-dependent and unchecked)."""
    from ml_data_pipeline_spark.ml.tuning import learning_curve

    orders = (
        load_table(spark, sf, "orders")
        .where(F.col("o_orderstatus").isin("F", "O"))
        .select("o_orderstatus", F.col("o_totalprice").cast("double"),
                F.year("o_orderdate").cast("double").alias("o_year"))
    )
    pts = learning_curve(
        orders, "o_orderstatus", "logistic_regression",
        fractions=[0.25, 0.5, 1.0], metric="accuracy",
    )
    import math

    rows = [
        (round(p["fraction"], 2),
         bool(math.isfinite(p["train_score"])), bool(math.isfinite(p["test_score"])))
        for p in pts
    ]
    return spark.createDataFrame(
        rows, "fraction double, train_finite boolean, test_finite boolean"
    )

def m12_single_row_inference(spark: SparkSession, sf: str) -> DataFrame:
    """M12 — single-row inference through the fitted pipeline, UPGRADED r11
    from rows-only to full hash parity (VERDICT r10 item 4): the pipeline
    is assembler → StandardScaler → LinearRegression(solver='normal',
    regParam=0) — the closed-form normal-equation OLS, whose PREDICTION
    function is invariant to feature standardization, so DuckDB replays
    the scored row exactly from covar_pop algebra (the m10_linear_shap
    recipe) with no knowledge of the scaler. The gate still exercises BOTH
    M12 paths: predict_single_row (1-row DataFrame through
    model.transform, ref inference_trained_models.py:347-457) and
    predict_single_row_local (the zero-job driver scorer replaying
    assembler+scaler+dot product); if the two disagree beyond float noise
    the gate returns empty and the driver flags a row-count mismatch.
    The classification single-row path keeps its pytest coverage
    (tests/test_ml.py)."""
    from ml_data_pipeline_spark.ml.pipeline import (
        build_pipeline,
        predict_single_row,
        predict_single_row_local,
    )

    li = _li(spark, sf).select(
        F.col("l_quantity").cast("double").alias("l_quantity"),
        F.col("l_discount").cast("double").alias("l_discount"),
        F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
    )
    pipe, _, _ = build_pipeline(
        li,
        "l_extendedprice",
        "linear_regression",
        params={"solver": "normal", "regParam": 0.0},
        feature_cols=["l_quantity", "l_discount"],
        task="regression",
    )
    model = pipe.fit(li)
    row = {"l_quantity": 25.0, "l_discount": 0.05, "l_extendedprice": 0.0}
    pred = float(predict_single_row(model, spark, row, li.schema))
    local = float(predict_single_row_local(model, row))
    # parity floor folded into the row-count contract: transform and the
    # driver-local scorer must agree to float noise or the gate collapses
    ok = abs(local - pred) <= 1e-9 * max(1.0, abs(pred))
    rows = [(round(pred, 2),)] if ok else []
    return spark.createDataFrame(rows, "prediction double")

def pipe_prepare_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """Composite training-data pipeline: exact dedup → length/quality gate →
    language gate → per-source corpus stats. One Catalyst plan end-to-end
    (the Dataset API chains these; the oracle mirrors every step in SQL)."""
    docs = load_table(spark, sf, "documents")
    deduped = DD.exact_dedup(docs, subset=["text"])
    gated = deduped.where((F.col("n_chars") > 100) & (F.col("lang") == "en"))
    with_tokens = TX.token_count(gated)
    return (
        with_tokens.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
        .orderBy("source")
    )

def tx_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget sequence packing per source (budget 2048): bin
    assignment + per-bin stats, hash-checked against DuckDB recomputing
    the identical windowed offset packing."""
    from ml_data_pipeline_spark.operators import packing as PK

    docs = load_table(spark, sf, "documents").select("doc_id", "text", "source")
    toks = TX.token_count(docs)
    packed = PK.pack_sequences(
        toks, budget=2048, token_col="n_tokens", order_col="doc_id", partition_col="source"
    )
    return PK.pack_stats(packed, token_col="n_tokens", partition_col="source")

def tx_lang_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus composition by PREDICTED language (detect_language rollup):
    doc counts, token totals, average quality-relevant length — the
    monitoring view over the lang-id operator."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    pred = TX.detect_language(docs)
    toks = TX.token_count(pred)
    return (
        toks.groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg(F.length("text")), 6).alias("avg_chars"),
        )
        .orderBy("lang_pred")
    )

def q_null_safe_join(spark: SparkSession, sf: str) -> DataFrame:
    """Null-safe equality join (<=>): rows join even when BOTH keys are
    NULL — the semantics a plain equi-join silently drops. Key is a
    derived nullable column so the null bucket is non-empty."""
    li = load_table(spark, sf, "lineitem").select(
        F.when(F.col("l_orderkey") % 10 == 3, None)
        .otherwise(F.col("l_linenumber"))
        .alias("k"),
        "l_extendedprice",
    )
    dim = spark.createDataFrame(
        [(None, "null-bucket"), (1, "one"), (2, "two")], "k int, label string"
    )
    return (
        li.join(dim, li["k"].eqNullSafe(dim["k"]))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("total"),
        )
        .orderBy("label")
    )

def tx_top_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams by document frequency (boilerplate /
    vocabulary mining); deterministic tie-break (freq desc, gram asc)."""
    docs = load_table(spark, sf, "documents").select("text")
    return TX.top_ngrams(docs, n=2, k=20)

def p17_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group z-score outliers: orders more than 1.5 sample standard
    deviations from their priority group's mean price (the synthetic
    near-uniform price distribution caps |z| at ~1.73, so a 2.0 threshold
    would make the gate vacuously empty)."""
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
    out = P.outliers_zscore(orders, "o_totalprice", group_col="o_orderpriority", threshold=1.5)
    return out.select(
        "o_orderkey", "o_orderpriority", F.round("o_totalprice", 2).alias("o_totalprice"), "zscore"
    ).orderBy("o_orderkey")

def s_diff_versions(spark: SparkSession, sf: str) -> DataFrame:
    """Version diff: synthesize v2 from customer with deterministic
    removals (custkey%97=0), changes (+100 acctbal when %53=0) and
    additions (cloned keys+1e6 when %101=0), then diff. The oracle states
    the expected change set directly from the same rules — value equality
    proves added/removed/changed classification, including that the diff
    shuffles only (key, row-hash), never payloads."""
    from ml_data_pipeline_spark.sources.versioned import diff_versions

    old = load_table(spark, sf, "customer").select(
        "c_custkey", "c_name", "c_nationkey", F.round("c_acctbal", 2).alias("c_acctbal")
    )
    kept = old.where(F.col("c_custkey") % 97 != 0).withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 53 == 0, F.col("c_acctbal") + 100).otherwise(
            F.col("c_acctbal")
        ),
    )
    added = old.where(F.col("c_custkey") % 101 == 0).withColumn(
        "c_custkey", F.col("c_custkey") + 1000000
    )
    new = kept.unionByName(added)
    return diff_versions(old, new, ["c_custkey"]).orderBy("c_custkey")

def p16_grouped_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group exact quartiles of order value (gate scale; the grouped
    operator would use approx_percentile at 100 TB for bounded memory per
    group — same rationale as p15)."""
    orders = load_table(spark, sf, "orders")
    x = F.col("o_totalprice").cast("double")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.round(F.percentile(x, F.lit(0.25)), 6).alias("q25"),
            F.round(F.percentile(x, F.lit(0.5)), 6).alias("median"),
            F.round(F.percentile(x, F.lit(0.75)), 6).alias("q75"),
        )
        .orderBy("o_orderpriority")
    )

def q_exists_semi(spark: SparkSession, sf: str) -> DataFrame:
    """EXISTS semi-join: customers having at least one high-value order —
    planned as a semi-join (each customer row emitted once, no fan-out)."""
    return spark.sql(
        f"""
        SELECT c_custkey, c_mktsegment
        FROM parquet.`{sf}/customer.parquet` c
        WHERE EXISTS (
            SELECT 1 FROM parquet.`{sf}/orders.parquet` o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
        )
        ORDER BY c_custkey
        """
    )

def tx_chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping character chunking (200-char windows, 50 overlap),
    value-checked: every (doc, chunk_id, md5(chunk)) must match DuckDB
    recomputing the identical stride arithmetic and substring slices."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    out = TX.chunk_documents(docs, chunk_chars=200, overlap=50)
    return out.select(
        "doc_id", "chunk_id", F.md5("chunk").alias("chunk_md5")
    ).orderBy("doc_id", "chunk_id")

def q_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Click→purchase attribution pairs: every (purchase, click) by the
    same user where the purchase lands within 1 hour after the click —
    an equi-join on user with a time-range join filter (the batch twin of
    the stream-stream join in streaming/events_stream.attribution_join)."""
    ev = load_table(spark, sf, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    return (
        clicks.join(
            purchases,
            (F.col("cu") == F.col("user_id"))
            & (F.col("cts") <= F.col("pts"))
            & (F.col("pts") < F.col("cts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select("purchase_id", "click_id", "user_id")
        .orderBy("purchase_id", "click_id")
    )

def m15_grouped_ols(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group OLS (one regression per order priority) as pure JVM
    aggregates — slope = covar_pop/var_pop, intercept = avg(y)-slope*avg(x)
    — checked against DuckDB regr_slope/regr_intercept. The grouped-model
    pattern WITHOUT Python: thousands of groups fit in one map-side-
    combinable aggregation, no applyInPandas needed for linear models."""
    orders = load_table(spark, sf, "orders").select(
        "o_orderpriority",
        F.year("o_orderdate").cast("double").alias("x"),
        F.col("o_totalprice").cast("double").alias("y"),
    )
    slope = F.covar_pop("x", "y") / F.var_pop("x")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.round(slope, 6).alias("slope"),
            F.round(F.avg("y") - slope * F.avg("x"), 4).alias("intercept"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderpriority")
    )

def tx_mixture_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus mixture plan for a 3-source recipe (src0 50%, src1 30%,
    src2 20%) against a 1M-token budget — deterministic arithmetic over
    the per-source token inventory, recomputed exactly by the oracle."""
    from ml_data_pipeline_spark.operators import mixing as MX

    docs = load_table(spark, sf, "documents").select("doc_id", "text", "source")
    toks = TX.token_count(docs)
    return MX.mixture_plan(
        toks, {"src0": 0.5, "src1": 0.3, "src2": 0.2}, total_tokens=1_000_000
    )

def q_not_exists(spark: SparkSession, sf: str) -> DataFrame:
    """NOT EXISTS anti-semijoin: customers with no completed ('F') order.
    Catalyst plans a shuffle/broadcast anti-join — never a per-row subquery
    execution. (The status predicate keeps the result non-empty: every
    synthetic customer has SOME order.)"""
    return spark.sql(
        f"""
        SELECT c_custkey, c_name
        FROM parquet.`{sf}/customer.parquet` c
        WHERE NOT EXISTS (
            SELECT 1 FROM parquet.`{sf}/orders.parquet` o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
        )
        ORDER BY c_custkey
        """
    )

def q_correlated_scalar(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated scalar subquery (orders 3x above their customer's own
    average) — Catalyst de-correlates into an aggregate + equi-join; the
    naive per-row re-execution shape never exists in the plan."""
    return spark.sql(
        f"""
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
        FROM parquet.`{sf}/orders.parquet` o
        WHERE o_totalprice > 3 * (
            SELECT avg(o2.o_totalprice) FROM parquet.`{sf}/orders.parquet` o2
            WHERE o2.o_custkey = o.o_custkey
        )
        ORDER BY o_orderkey
        """
    )

def q_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-managed join, value-checked: salting the big side across 8
    sub-keys and replicating the small side must produce EXACTLY the rows
    of the plain join — the oracle is the unsalted SQL join, so hash
    equality proves salting is semantics-preserving, not just faster."""
    from ml_data_pipeline_spark.operators import skew as SK

    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_orderstatus")
    joined = SK.salted_join(li, orders.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey")
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )

def pipe_clean_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """Round-2 composite: near-dup GROUP dedup (exact ngram pairs →
    connected components → canonical survivor) → Gopher repetition filter
    → per-source token stats. Exercises components.py + text repetition +
    aggregation as ONE lazy plan, value-checked end-to-end by a single
    recursive DuckDB oracle."""
    from ml_data_pipeline_spark.operators import components as CC

    docs = load_table(spark, sf, "documents")
    pairs = DD.ngram_jaccard_pairs(docs, n=3, threshold=0.2)
    surv = CC.keep_canonical(docs, pairs, "doc_id")
    filtered = TX.gopher_repetition_filter(surv).where("rep_keep")
    toks = TX.token_count(filtered)
    return (
        toks.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("source")
    )

# ---------------------------------------------------------------- dedup / similarity

# Shared normalized-documents scan for the two near-dup bench queries
# (VERDICT r2 item 4). Both queries lowercase the same corpus; the first
# caller pays the parquet scan + lower() + repartition once, the second
# reads the in-memory columnar cache. Measured honestly: at sf0.1 the scan
# is 0.14s of a ~4-5s query — the dominant shared cost was PLAN COMPILE
# (cold 6.9s vs warm 1.4s for minhash), which this round attacked directly
# by switching the signature stage to one-permutation hashing (dedup.py),
# not by scan sharing. The cache is keyed by (application, sf) so the
# correctness gate and bench each build it once per session.
_NORM_DOCS_CACHE: dict[tuple[str, str], DataFrame] = {}

def _normalized_documents(spark: SparkSession, sf: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf)
    if key not in _NORM_DOCS_CACHE:
        docs = load_table(spark, sf, "documents").select(
            "doc_id", F.lower(F.col("text")).alias("text")
        )
        n = spark.sparkContext.defaultParallelism
        _NORM_DOCS_CACHE[key] = docs.repartition(n).cache()
    return _NORM_DOCS_CACHE[key]

def dd_minhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """threshold=0.7 ≈ real near-dup use; the synthetic docs share a tiny
    vocabulary, so looser thresholds degenerate to all-pairs output.
    Input is the shared lowercased corpus (lower() is idempotent, so the
    operator's own normalization is unchanged)."""
    return DD.minhash_near_duplicates(_normalized_documents(spark, sf), threshold=0.7)

def dd_minhash_md5(spark: SparkSession, sf: str) -> DataFrame:
    """FULL-PARITY oracle twin of the MinHash-LSH pipeline (late r11): the
    same one-permutation-hashing signature stage, densification, banding,
    candidate join and slot-agreement verify as dd_minhash_pairs, but
    every hash is the DuckDB-replayable md5 recipe (E8/hash_bucket) and
    the band bucket is the plain slot-concat string (the bucket is only
    an equality key). The oracle replays the ENTIRE pipeline to exact
    hash equality — shingling, bucket minima, empty-bucket densification,
    banding, pair generation, estimated Jaccard — so the only part of the
    headline minhash outside oracle coverage is the choice of hash
    function itself (xxhash64, which DuckDB lacks). K=8/bands=4 keeps the
    unrolled SQL twin readable; threshold 0.5 matches the (1/b)^(1/r)
    LSH operating point for r=2."""
    return DD.minhash_near_duplicates(
        _normalized_documents(spark, sf),
        num_hashes=8,
        bands=4,
        threshold=0.5,
        hash_fn="md5",
    )

def dd_simhash_md5_sigs(spark: SparkSession, sf: str) -> DataFrame:
    """FULL-PARITY oracle twin of the SimHash SIGNATURE stage (late r11,
    the dd_minhash_md5 companion): tokenization, per-(doc, token-hash)
    counts, 64 per-bit votes and the sign→bit assembly replayed
    bit-exactly in DuckDB. Two twin-only choices keep the arithmetic
    engine-exact without changing the verified logic: the token hash is
    the shared md5 recipe (DuckDB lacks xxhash64), and votes are
    UNWEIGHTED integer counts (the headline's IDF weights are float sums
    whose accumulation order differs between engines, and a near-zero
    float vote could flip a bit; integer votes tie-break identically).
    The grouped 8x8 vote shape is proven equal to the per-bit definition
    by the pigeonhole/per-bit property tests; this gate proves the
    per-bit definition itself against an independent engine. The blocked
    candidate scheme stays covered by dd_simhash_pairs + the pigeonhole
    property test."""
    sigs = DD.simhash_signatures(
        _normalized_documents(spark, sf), idf_weighted=False, hash_fn="md5"
    )
    return sigs.select(F.col("id").alias("doc_id"), "simhash").orderBy("doc_id")

def dd_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """max_hamming=3 → 6 blocks, keys = C(6,3)=20 combinations of 3 blocks
    (~32-bit keys): the combinatorial scheme keeps candidate volume
    near-linear in corpus size where the old 4x16-bit single-block keys
    went visibly quadratic at the sf1 probe (VERDICT r9 item 3)."""
    return DD.simhash_near_duplicates(_normalized_documents(spark, sf), max_hamming=3)

def dd_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return DD.ngram_jaccard_pairs(docs, n=3, threshold=0.2)

def dd_components(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup CLUSTERS (id -> min-id component label) over the exact
    n-gram-Jaccard pair graph — alternating large-star/small-star, checked
    against a DuckDB WITH RECURSIVE reachability oracle. Deterministic end
    to end: the pair generator is exact (no LSH), the labeling is the
    component minimum."""
    from ml_data_pipeline_spark.operators import components as CC

    docs = load_table(spark, sf, "documents")
    pairs = DD.ngram_jaccard_pairs(docs, n=3, threshold=0.2)
    return CC.connected_components(pairs).orderBy("id")

def dd_keep_canonical(spark: SparkSession, sf: str) -> DataFrame:
    """Group-level dedup applied to the corpus: one survivor (min doc_id)
    per near-dup cluster, all unpaired docs kept. Oracle recomputes the
    same survivor set recursively in DuckDB."""
    from ml_data_pipeline_spark.operators import components as CC

    docs = load_table(spark, sf, "documents")
    pairs = DD.ngram_jaccard_pairs(docs, n=3, threshold=0.2)
    return (
        CC.keep_canonical(docs, pairs, "doc_id")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )

def _query_vector(spark: SparkSession, sf: str) -> list[float]:
    row = (
        load_table(spark, sf, "embeddings").where(F.col("vec_id") == 0).select("embedding").first()
    )
    return [float(v) for v in row[0]]

def ss_brute_topk(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    return SS.brute_force_topk(emb, _query_vector(spark, sf), k=10)

def ss_ann_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-probe sign-LSH ANN top-10 with an IN-QUERY recall collapse
    floor (VERDICT r2 item 8). GRADUATED r11 from rows-only to full hash
    parity: the planes are the LCG stream the oracle replays as DOUBLE
    literals, the probe set is bit_count(xor(bucket, qb)) <= 2, and the
    recall floor is re-derived verbatim in SQL — everything here is
    deterministic. Each result row carries recall@10 vs the
    exact brute-force top-10 and rows are FILTERED on recall >= 0.3 — a
    regression in the bucketing/hyperplane math drops recall to ~0.0-0.1
    and the query returns 0 rows, tripping the driver's row-count check.

    Why 0.3 and not 0.9: the synthetic embeddings are ISOTROPIC (the
    2nd-best cosine to the gate query is only 0.37 — no cluster structure),
    the worst case for data-oblivious sign-LSH. Measured recall@10 for
    n_planes=6, probe hamming<=2 (34% of buckets scanned): 0.5 at sf0.001,
    0.6 at sf0.01, 0.4 at sf0.1 — deterministic per corpus (seed-fixed
    hyperplanes, tie-broken rankings) but scale-dependent, so a single
    high floor would encode data luck, not operator quality. 0.3 sits
    below every measured natural value and far above any collapse. On
    clustered real-world embeddings the same operator measures ≥0.9 via
    the IVF gate below (data-adaptive cells; see ss_ivf_topk)."""
    emb = load_table(spark, sf, "embeddings")
    q = _query_vector(spark, sf)
    # checkpoint the k-row ANN result: it feeds both the recall join and
    # the output, and untruncated each branch re-scans embeddings
    # (plan_audit: embeddings x3)
    ann = SS.ann_topk(emb, q, k=10, n_planes=6, max_probe_hamming=2).localCheckpoint()
    exact = SS.brute_force_topk(emb, q, k=10)
    recall = (
        ann.select("vec_id")
        .join(exact.select("vec_id"), "vec_id")
        .agg((F.count(F.lit(1)) / 10.0).alias("recall_at_10"))
    )
    return (
        ann.crossJoin(F.broadcast(recall))
        .where(F.col("recall_at_10") >= 0.3)
        .select("vec_id", "cosine", F.round("recall_at_10", 2).alias("recall_at_10"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
    )

def ss_brute_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact all-pairs cosine >= 0.5 — the O(n^2) baseline the LSH variant
    is validated against; value-checked via DuckDB list_cosine_similarity."""
    emb = load_table(spark, sf, "embeddings")
    out = SS.brute_force_cosine_pairs(emb, threshold=0.5)
    return out.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))

def ss_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """GRADUATED r12 from rows-only to full hash parity (VERDICT r11 item
    5): the gate's coarse quantizer is now the ENGINE-EXACT integer-grid
    Lloyd's twin (similarity.build_ivf_index_exact — floor(x*1000)
    components, md5-ordered init, integer-sum/exact-quotient centroid
    updates, index-order distance folds), which the DuckDB oracle unrolls
    iteration by iteration to the same assignments, probes and cosines.
    MLlib KMeans (build_ivf_index, the production quantizer) stays
    unit-covered by test_similarity.test_ivf_topk_recall; its float-sum
    centroids are accumulation-order dependent — the one part no
    cross-engine oracle can replay, exactly like the xxhash64 choice the
    dd_* md5 twins carve out.

    Output carries recall@10 vs the exact brute-force top-10 UNFILTERED
    (the old rows-only floor filtered on it; with hash parity the exact
    recall value itself is pinned, so a probe/assignment regression now
    shows as a value mismatch, strictly stronger than the 0.3 floor).
    Config: n_clusters=16, iters=3, nprobe=4 (25% scan) — the measured
    r2 operating point."""
    import math

    emb = load_table(spark, sf, "embeddings")
    q = _query_vector(spark, sf)
    assigned, cents = SS.build_ivf_index_exact(emb, n_clusters=16, iters=3, grid=1000)
    # probe in GRID units (python floats == exact IEEE doubles; ivf_topk's
    # probe arithmetic is oracle-replayable by construction), score on the
    # original floats. Checkpoint the k-row IVF result: recall join +
    # output both branch from it (plan_audit: embeddings x3 untruncated)
    qq = [float(math.floor(v * 1000)) for v in q]
    ivf = SS.ivf_topk(
        assigned, cents, q, k=10, nprobe=4, probe_vector=qq
    ).localCheckpoint()
    exact = SS.brute_force_topk(emb, q, k=10)
    recall = (
        ivf.select("vec_id")
        .join(exact.select("vec_id"), "vec_id")
        .agg((F.count(F.lit(1)) / F.lit(10.0)).alias("recall_at_10"))
    )
    return (
        ivf.crossJoin(F.broadcast(recall))
        .select("vec_id", "cosine", F.round("recall_at_10", 2).alias("recall_at_10"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
    )

def ss_cosine_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """UPGRADED r11 from rows-only to full hash parity: the sign-LSH
    planes are a deterministic LCG stream (similarity.lsh_planes) that
    the DuckDB oracle embeds as exact DOUBLE literals, so bucketing AND
    the exact-cosine verify both replay engine-for-engine. threshold=0.3
    keeps ~136 hash-checked pairs at sf0.01 (0.5 left a 1-row gate)."""
    emb = load_table(spark, sf, "embeddings")
    return SS.cosine_pairs_lsh(emb, dim=64, threshold=0.3, n_planes=4)

# ---------------------------------------------------------------- round-2 late additions

def q6_forecast_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 shape: tight scan-filter-agg — every predicate pushes to the
    parquet scan (shipdate/discount/quantity are all scan columns), the agg
    is a 1-row map-side-combinable sum. The canonical 'is pushdown working'
    probe."""
    li = _li(spark, sf)
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )

def q14_promo_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate share after a fact->dim join.
    part is SF-proportional, so it is deliberately unhinted — AQE broadcasts
    it at small SF and falls back to shuffle join at 100 TB."""
    li = _li(spark, sf)
    part = load_table(spark, sf, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                6,
            ).alias("promo_share_pct")
        )
    )

def q18_large_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape: group-having on the fact, then join back to dims.
    The having-filtered orderkey set is tiny -> AQE broadcast-joins it to
    orders/customer at runtime (no manual hints — customer is SF-proportional);
    the only big shuffle is the orderkey agg (map-side combinable)."""
    li = _li(spark, sf)
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 180)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.col("total_qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )

def q_resample_gapfill(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series resample with gap fill (hypertable-rollup shape): events
    -> 6h buckets per event_type, missing buckets materialized with zero
    counts. The bucket spine is sequence()-generated per type from the
    type's own [min, max] — a groupBy agg + explode over a types-cardinality
    table, so the spine costs nothing at any scale; the left join back is
    broadcast-sized. The data-sized work is one map-side-combinable agg."""
    ev = load_table(spark, sf, "events")
    bucket = (F.unix_micros(F.col("ts")) / F.lit(21_600_000_000)).cast("long")
    counts = (
        ev.select(F.col("event_type"), bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    spine = (
        counts.groupBy("event_type")
        .agg(F.min("bucket").alias("b0"), F.max("bucket").alias("b1"))
        .select(
            "event_type", F.explode(F.sequence(F.col("b0"), F.col("b1"))).alias("bucket")
        )
    )
    return (
        spine.join(counts, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            F.timestamp_micros(F.col("bucket") * F.lit(21_600_000_000))
            .cast("string")
            .alias("bucket_start"),
            F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        )
        .orderBy("event_type", "bucket_start")
    )

def _bench_docs(spark: SparkSession, sf: str) -> tuple[DataFrame, DataFrame]:
    """Deterministic eval/train split of documents for the contamination
    gate: doc_id % 17 == 0 is the 'benchmark', the rest are candidates."""
    docs = load_table(spark, sf, "documents")
    return (
        docs.where(F.col("doc_id") % 17 != 0),
        docs.where(F.col("doc_id") % 17 == 0),
    )

def tx_contamination(spark: SparkSession, sf: str) -> DataFrame:
    train, bench = _bench_docs(spark, sf)
    return TX.contamination_check(train, bench, n=5, threshold=0.2)

def tx_boilerplate(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return TX.boilerplate_ngram_fraction(docs, n=4, min_docs=3)

def tx_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return TX.tfidf_top_terms(docs, k=3)

def t9_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic per-stratum hash sampling, summarized as per-class kept
    counts (the sample itself is row-identical to the oracle; counts keep
    the gate output small)."""
    orders = load_table(spark, sf, "orders")
    kept = SA.stratified_sample_by_hash(
        orders,
        strata_col="o_orderpriority",
        fractions={"1-URGENT": 0.5, "2-HIGH": 0.25, "3-MEDIUM": 0.1},
        key_col="o_orderkey",
        default_frac=0.05,
    )
    return (
        kept.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .orderBy("o_orderpriority")
    )

def e18_bucketize(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    binned = FL.bucketize(li, "l_extendedprice", splits=[1000.0, 5000.0, 20000.0, 50000.0])
    return (
        binned.groupBy(F.col("l_extendedprice_bin").alias("price_bin"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .orderBy("price_bin")
    )

def p18_key_skew(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    return P.key_skew_stats(li, "l_orderkey", top_k=10, rows_per_task=3)

def tx_c4_filters(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return TX.c4_quality_flags(docs, min_words=40, min_stopword_frac=0.02)

def tx_domain_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-domain corpus composition (web-pipeline staple). The synthetic
    corpus has no URLs, so the gate injects one per document from doc_id
    (identically in the oracle), extracts the domain with the same RE2-safe
    regex on both engines, and aggregates — one map-side-combinable count."""
    docs = load_table(spark, sf, "documents")
    injected = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" see https://site"),
            (F.col("doc_id") % 23).cast("string"),
            F.lit(".example.test/page"),
            F.col("doc_id").cast("string"),
        ),
    )
    return (
        injected.select(
            F.regexp_extract(F.col("text"), r"https?://([a-z0-9.-]+)", 1).alias("domain"),
            "n_chars",
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
        .orderBy("domain")
    )

def q_range_frame(spark: SparkSession, sf: str) -> DataFrame:
    """Time-RANGE window frame: per-user rolling 1h event count and value sum
    (RANGE, not ROWS — ties and gaps handled by time, the semantics ROWS
    frames get wrong). Partitioned by user_id: no global sort; per-user sort
    only, the shuffle carries (user, micros, value)."""
    ev = load_table(spark, sf, "events")
    micros = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(micros)
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            F.count(F.lit(1)).over(w).alias("n_1h"),
            F.round(F.sum("value").over(w), 6).alias("sum_1h"),
        )
        .orderBy("event_id")
    )

def m16_lift_table(spark: SparkSession, sf: str) -> DataFrame:
    """Decile lift/gains on a deterministic score (l_extendedprice) against
    a binary target (l_returnflag = 'R') — no fitted model in the loop, so
    the oracle can hash-match exactly."""
    from ml_data_pipeline_spark.ml.pipeline import lift_table

    li = _li(spark, sf)
    scored = li.select(
        (F.col("l_returnflag") == "R").alias("y"), F.col("l_extendedprice").alias("score")
    )
    return lift_table(scored, "y", "score", n_bins=10)

def q_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """view -> click -> purchase ordered funnel; the Spark side walks each
    user's sorted events in one array fold (one shuffle), the oracle proves
    the same counts via the min-after-min join chain — two independent
    algorithms, one answer."""
    from ml_data_pipeline_spark.operators import funnel as FN

    ev = load_table(spark, sf, "events")
    return FN.funnel_counts(ev, ["view", "click", "purchase"])

def q_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    from ml_data_pipeline_spark.operators import funnel as FN

    ev = load_table(spark, sf, "events")
    return FN.cohort_retention(ev, max_offset_days=7)

def p19_psi_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Drift monitor between two deterministic 'snapshots' of lineitem
    (orderkey parity split) on the price distribution."""
    li = _li(spark, sf)
    a = li.where(F.col("l_orderkey") % 2 == 0)
    b = li.where(F.col("l_orderkey") % 2 == 1)
    return P.psi_drift(a, b, "l_extendedprice", splits=[1000.0, 5000.0, 20000.0, 50000.0])

def p20_expectations(spark: SparkSession, sf: str) -> DataFrame:
    """Data-quality expectation suite over orders in ONE aggregate pass —
    includes a deliberately failing range rule so violation counting is
    value-checked, not just the all-green path."""
    from ml_data_pipeline_spark.operators import expectations as EX

    orders = _orders_nulls(spark, sf)
    return EX.run_expectations(
        orders,
        [
            EX.expect_not_null("o_orderkey"),
            EX.expect_not_null("o_orderpriority"),  # nulled rows -> violations
            EX.expect_unique(["o_orderkey"]),
            EX.expect_in_range("o_totalprice", 0.0, 1000.0),  # deliberately tight
            EX.expect_in_set("o_orderstatus", ["O", "F", "P"]),
            EX.expect_regex("o_orderpriority", r"^[1-5]-[A-Z ]+$"),
        ],
    )

def s15_incremental_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Materialized-rollup maintenance: partial aggregates of a 'historical'
    slice merged with a 'new batch' slice must equal the from-scratch
    aggregate (which is what the oracle computes directly). avg is carried
    as (sum, count) and finalized at read."""
    from ml_data_pipeline_spark.operators import rollup as RU

    li = _li(spark, sf)
    spec = {
        "sum_qty": ("sum", "l_quantity"),
        "n_rows": ("count", "l_quantity"),
        "min_price": ("min", "l_extendedprice"),
        "max_price": ("max", "l_extendedprice"),
        "sum_price": ("sum", "l_extendedprice"),
    }
    keys = ["l_returnflag", "l_linestatus"]
    base = RU.aggregate_partial(li.where(F.col("l_orderkey") % 4 != 0), keys, spec)
    delta = RU.aggregate_partial(li.where(F.col("l_orderkey") % 4 == 0), keys, spec)
    merged = RU.merge_partials(base, delta, keys, spec)
    return (
        RU.finalize_avg(merged, "sum_price", "n_rows", "avg_price")
        .select(
            *keys,
            F.round("sum_qty", 2).alias("sum_qty"),
            "n_rows",
            F.round("min_price", 2).alias("min_price"),
            F.round("max_price", 2).alias("max_price"),
            F.round("avg_price", 6).alias("avg_price"),
        )
        .orderBy(*keys)
    )

def s16_scd2(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 merge gate (VERDICT r2 item 6): snapshot-in/snapshot-out over
    sources/scd.py. 'Current' = customer balances stamped valid from
    1992-01-01; 'updates' = one CDC row per ordering customer (latest order
    date as effective ts, max total price as the new balance). scd2_apply
    must CLOSE each updated customer's open row at the effective ts and
    OPEN a new version; never-ordered customers keep their open row.
    Validity bounds are plain strings so the hash compare is TZ-proof.
    Reference semantics: the versioned-dataset layer's history tracking
    (/root/reference/utils/meta_tracker.py:66-101) generalized to row-level
    CDC history."""
    from ml_data_pipeline_spark.sources import scd as SCD

    cust = load_table(spark, sf, "customer").select(
        "c_custkey", F.round("c_acctbal", 2).alias("acctbal")
    )
    base = SCD.scd2_init(
        cust.withColumn("__eff", F.lit("1992-01-01 00:00:00")), "__eff"
    ).drop("__eff")
    upd = (
        load_table(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.round(F.max("o_totalprice"), 2).alias("acctbal"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias("__eff"),
        )
    )
    hist = SCD.scd2_apply(base, upd, "c_custkey", "__eff")
    return hist.select("c_custkey", "acctbal", "valid_from", "valid_to").orderBy(
        "c_custkey", "valid_from"
    )

def q_fuzzy_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Edit-distance <= 2 name pairs via length-window blocked equi-join;
    the oracle brute-forces the same pairs with DuckDB's levenshtein — the
    blocked plan must lose nothing."""
    from ml_data_pipeline_spark.operators import fuzzy as FZ

    part = load_table(spark, sf, "part")
    return FZ.fuzzy_self_pairs(part, "p_name", max_distance=2)

def q_event_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """Markov transition counts: per user, order events by (ts, event_id)
    and count (prev_type -> type) adjacencies — the next-event profile
    behind session modeling. One partitioned window (per-user sort), one
    count; nothing global."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select("user_id", "event_id", "ts", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("prev_type", "next_type")
    )

def q_seasonal_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonal anomaly scan: events whose value deviates > 3 sample std
    from their (event_type, hour-of-day) profile. The profile table is
    type x 24 rows — broadcast back; the data-sized work is one partial
    agg + one projection."""
    ev = load_table(spark, sf, "events")
    keyed = ev.withColumn("hod", F.hour("ts"))
    stats = keyed.groupBy("event_type", "hod").agg(
        F.avg("value").alias("mu"), F.stddev("value").alias("sd")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        keyed.join(F.broadcast(stats), ["event_type", "hod"])
        .where(F.col("sd") > 0)
        .withColumn("zscore", F.round(z, 6))
        .where(F.abs(F.col("zscore")) > 3.0)
        .select("event_id", "event_type", "hod", F.round("value", 6).alias("value"), "zscore")
        .orderBy("event_id")
    )

def ss_label_centroids(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    return SS.label_centroids(emb)

def pipe_entity_resolution(spark: SparkSession, sf: str) -> DataFrame:
    """Record-linkage composite: fuzzy (edit-distance <= 2) name pairs ->
    connected components -> canonical name per cluster (the name of the
    min-id member; singletons canonicalize to themselves). Every stage is
    the scale path already gated elsewhere (blocked fuzzy join, large-star/
    small-star components); the oracle recomputes the whole chain with
    brute-force pairs + WITH RECURSIVE reachability."""
    from ml_data_pipeline_spark.operators import components as CC
    from ml_data_pipeline_spark.operators import fuzzy as FZ

    part = load_table(spark, sf, "part")
    names = part.groupBy("p_name").agg(F.min("p_partkey").alias("name_id"))
    pairs = (
        FZ.fuzzy_self_pairs(names, "p_name", max_distance=2)
        .join(names.select(F.col("p_name").alias("name_a"), F.col("name_id").alias("id_a")), "name_a")
        .join(names.select(F.col("p_name").alias("name_b"), F.col("name_id").alias("id_b")), "name_b")
        .select("id_a", "id_b")
    )
    cc = CC.connected_components(pairs)
    id_to_name = names.select(F.col("name_id").alias("component"), F.col("p_name").alias("canonical_name"))
    resolved = (
        names.join(cc, names["name_id"] == cc["id"], "left")
        .withColumn("component", F.coalesce(F.col("component"), F.col("name_id")))
        .join(id_to_name, "component")
        .select("p_name", "canonical_name")
    )
    return resolved.orderBy("p_name")

def m17_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Reliability (calibration) table: a deterministic pseudo-probability
    (price scaled into [0,1]) binned 10-wide; per bin the mean predicted
    score vs the observed positive rate (returnflag = 'R'). Completes the
    eval suite next to m16_lift_table; one scan, one 10-row agg."""
    li = _li(spark, sf)
    p = F.least(F.col("l_extendedprice") / F.lit(100_000.0), F.lit(1.0))
    b = F.least((p * 10).cast("int"), F.lit(9))
    return (
        li.select(
            b.alias("bin"),
            p.alias("p"),
            (F.col("l_returnflag") == "R").cast("int").alias("y"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("p"), 6).alias("mean_score"),
            F.round(F.avg("y"), 6).alias("frac_pos"),
        )
        .orderBy("bin")
    )

def p21_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    out = P.outliers_mad(
        li.select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"),
        "l_extendedprice",
        group_col="l_returnflag",
        k=2.5,
        exact=True,
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round("l_extendedprice", 2).alias("l_extendedprice"),
        "mad_score",
    ).orderBy("l_orderkey", "l_linenumber", "l_extendedprice")

def p22_chi2_mi(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    return P.association_stats(orders, "o_orderpriority", "o_orderstatus")

def e19_winsorize(spark: SparkSession, sf: str) -> DataFrame:
    """Winsorized-summary gate: exact-percentile bounds for oracle parity;
    output is the post-clip profile, proving both the bounds and the clip."""
    li = _li(spark, sf)
    w = FL.winsorize(li, "l_extendedprice", lower=0.05, upper=0.95, exact=True)
    return w.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("l_extendedprice"), 6).alias("min_price"),
        F.round(F.max("l_extendedprice"), 6).alias("max_price"),
        F.round(F.avg("l_extendedprice"), 6).alias("mean_price"),
    )

def q10_returned_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue by customer, top 20. The
    lineitem filter pushes to the scan; nation is hint-broadcast (25 rows),
    customer left to AQE (SF-proportional); the one shuffle is the orderkey
    join + custkey agg."""
    li = _li(spark, sf)
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(rev), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )

def q12_priority_by_status(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 shape: fact->orders join, conditional counts per category.
    (The testdata schema has no l_shipmode/commitdate; l_linestatus stands in
    as the category and l_shipdate as the date filter — shape preserved:
    shuffle join on orderkey, map-side-combinable conditional agg.)"""
    li = _li(spark, sf)
    orders = load_table(spark, sf, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(high.cast("long")).alias("high_priority_count"),
            F.sum((~high).cast("long")).alias("low_priority_count"),
        )
        .orderBy("l_linestatus")
    )

def q19_disjunctive_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 shape: fact->part join under a 3-branch disjunctive
    predicate (type x size x quantity-band). The OR of ANDs cannot fully
    push down, but the common l_quantity range can and does; part is
    unhinted (SF-proportional) — AQE broadcasts it at small SF so the big
    side never shuffles there, and degrades to shuffle join at scale."""
    li = _li(spark, sf)
    part = load_table(spark, sf, "part")
    q = F.col("l_quantity")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    branch = (
        ((F.col("p_type") == "PROMO") & (F.col("p_size").between(1, 15)) & q.between(1, 15))
        | ((F.col("p_type") == "STANDARD") & (F.col("p_size").between(1, 25)) & q.between(10, 25))
        | ((F.col("p_type") == "ECONOMY") & (F.col("p_size").between(1, 35)) & q.between(20, 35))
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .where(branch)
        .agg(
            F.round(F.sum(rev), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )

def tx_unigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram-LM quality score over documents (CCNet-style)."""
    return TX.unigram_logprob(load_table(spark, sf, "documents"))

def tx_line_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style corpus-wide line dedup. The synthetic corpus is one long
    word stream, so the gate first materializes line structure
    deterministically (a newline after every 3 words) — then any 3-word
    line occurring in >1 document is removed everywhere. text_clean is
    md5'd to keep the compare compact."""
    docs = load_table(spark, sf, "documents").withColumn(
        "text", F.regexp_replace(F.col("text"), r"((\S+ ){3})", "$1\n")
    )
    out = TX.line_dedup(docs, max_doc_freq=1)
    return out.select(
        "id",
        F.md5(F.col("text_clean")).alias("clean_md5"),
        "n_lines_kept",
        "n_lines_removed",
    )

def ss_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup over the embeddings table, blocked by label (at scale the
    block is the IVF/k-means cluster id — same plan, different key).

    ORACLE-UPGRADED (VERDICT r9 item 6; was rows-only): the operator is
    fully deterministic — exact blockwise cosine, round-6dp threshold,
    lowest-id survivor — so a DuckDB list_dot_product twin replays it
    value-for-value. Threshold 0.35 (was 0.8) so the gate actually drops
    rows: the synthetic embeddings top out at same-label cosine ~0.475,
    and 0.35 dominates 26 vectors at sf0.01 with a 4.7e-4 margin to the
    nearest pair — 9 orders above the engines' float-summation-order
    noise, so the discrete survivor set cannot flip between engines."""
    emb = load_table(spark, sf, "embeddings")
    return SS.semantic_dedup(emb, block_col="label", threshold=0.35)

def _auc_base(spark, sf) -> DataFrame:
    """Deterministic (label, score) pairs for the AUC/ROC gates: the label
    is acctbal-positivity; the score mixes the true signal with custkey
    noise, coarsened to force tie groups (exercising the tie-averaged
    rank math).

    The coarsening is INTEGER division on an exact integer grid (cents +
    shifted noise, offset positive so truncation == floor in both
    engines), then one exact int/20000.0 division — NOT round(x, 4):
    float rounding of values that land exactly on a .00005 boundary is
    half-up in Spark (Java BigDecimal) but half-even in DuckDB, which
    split/merged score groups and broke the per-threshold gates at sf0.1
    (7 boundary values in that data; sf0.01 had none — found by the
    scale-stability run)."""
    cust = load_table(spark, sf, "customer")
    grid = F.expr(
        "(CAST(round(c_acctbal * 100) AS BIGINT) + 100000"
        " + (c_custkey % 1000) * 100) div 120"
    )
    return cust.select(
        (F.col("c_acctbal") > 0).cast("int").alias("y"),
        (grid / F.lit(20000.0)).alias("s"),
    )

def m18_roc_auc(spark: SparkSession, sf: str) -> DataFrame:
    from ml_data_pipeline_spark.ml.pipeline import exact_auc

    return exact_auc(_auc_base(spark, sf), "y", "s")

def m19_roc_points(spark: SparkSession, sf: str) -> DataFrame:
    from ml_data_pipeline_spark.ml.pipeline import roc_points

    return roc_points(_auc_base(spark, sf), "y", "s")

def p23_ks_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sample KS between returned (R) and accepted (A) quantity
    distributions — the bin-free companion to p19_psi_drift."""
    return P.ks_statistic(_li(spark, sf), "l_quantity", "l_returnflag", "A", "R")

# ---------------------------------------------------------------- round-3 additions

def q_bm25(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 top-20 documents for a 3-term query over the synthetic corpus
    vocabulary. The corpus-sized work is one tokenize pass (doc lengths);
    everything downstream is query-sized (tf rows filtered to the 3 terms
    before aggregation)."""
    docs = load_table(spark, sf, "documents")
    return TX.bm25_topk(docs, ["query", "join", "stream"], k=20)

def p24_spearman(spark: SparkSession, sf: str) -> DataFrame:
    """Spearman rank correlation of quantity vs extendedprice with nulls
    injected into quantity — exercises tie-averaged ranks (quantity has
    ~50 distinct values = heavy ties) and pairwise-complete null drop."""
    return P.spearman_corr(_li_nulls(spark, sf), "l_quantity", "l_extendedprice")

def e20_robust_scale(spark: SparkSession, sf: str) -> DataFrame:
    """Median/IQR robust scaling (exact percentiles for the oracle; the
    operator's approx mode is the 100 TB path). Null quantities stay
    null."""
    out = FL.robust_scale(_li_nulls(spark, sf), "l_quantity")
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_quantity_scaled", 6).alias("l_quantity_scaled"),
    ).orderBy("l_orderkey", "l_linenumber", "l_quantity_scaled")

def m20_group_ttest(spark: SparkSession, sf: str) -> DataFrame:
    """Welch's t between returned (R) and accepted (A) extended prices —
    the mean-shift companion to p23_ks_drift, one aggregate pass."""
    return P.welch_ttest(_li(spark, sf), "l_extendedprice", "l_returnflag", "A", "R")

def q_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-interval join gate (temporal.range_join_interval — was
    tests-only): per-user [day, day+12h) intervals built from the events
    table itself, events joined by key + interval predicate, then per-user
    hit counts. The oracle computes the same truth with an INDEPENDENT
    algorithm (hour(ts) < 12 — every event's own day defines an interval),
    so a join-predicate bug cannot cancel out."""
    from ml_data_pipeline_spark.operators import temporal as TP

    ev = load_table(spark, sf, "events").select("event_id", "user_id", "ts")
    iv = (
        ev.select("user_id", F.date_trunc("day", F.col("ts")).alias("start"))
        .distinct()
        .withColumn("end", F.col("start") + F.expr("INTERVAL 12 HOURS"))
    )
    joined = TP.range_join_interval(ev, iv, "user_id", "ts", "start", "end")
    return (
        joined.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("start").isNotNull().cast("long")).alias("n_first_half"),
        )
        .orderBy("user_id")
    )

def f9_align_columns(spark: SparkSession, sf: str) -> DataFrame:
    """F9+F10+F11 composite gate (align ops were tests-only): whitespace-
    padded headers are stripped (F11), columns reordered to a reference
    order with extras dropped (F9), and dtypes cast to a reference schema
    with try_cast coerce semantics (F10 — the non-numeric c_name cast to
    double must yield NULL, not throw)."""
    from pyspark.sql import types as T

    cust = load_table(spark, sf, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    padded = cust.toDF(" c_custkey ", " c_name ", " c_acctbal ", " c_mktsegment ")
    stripped = FL.strip_column_names(padded)
    aligned = FL.align_columns(
        stripped, ["c_name", "c_custkey", "c_acctbal"], keep_extras=False
    )
    ref_schema = T.StructType(
        [
            T.StructField("c_name", T.DoubleType()),
            T.StructField("c_custkey", T.StringType()),
            T.StructField("c_acctbal", T.DoubleType()),
        ]
    )
    out = FL.align_dtypes(aligned, ref_schema)
    return out.select(
        F.col("c_name").alias("name_as_double"),
        F.col("c_custkey").alias("custkey_str"),
        F.round("c_acctbal", 2).alias("c_acctbal"),
    ).orderBy("custkey_str")

def s3_csv_strings(spark: SparkSession, sf: str) -> DataFrame:
    """S3 as-strings CSV scan gate (was tests-only): orders (with nulls
    injected into o_orderpriority) staged to CSV, read back with
    read_csv_as_strings — every column is a string and nulls come back as
    '' (the reference's dtype=str + fillna('') convention). Integer/string
    columns only: float→text formatting differs between engines and is not
    what S3 is about."""
    import hashlib

    from ml_data_pipeline_spark.sources import csv_io

    src = _orders_nulls(spark, sf).select("o_orderkey", "o_orderstatus", "o_orderpriority")
    stage = f"/tmp/mdp_csv_stage/{_stage_tag(sf)}/orders_str"
    src.write.mode("overwrite").option("header", True).csv(stage)
    back = csv_io.read_csv_as_strings(spark, stage)
    return back.orderBy(F.col("o_orderkey").cast("long"))

def p25_approx_distinct_quality(spark: SparkSession, sf: str) -> DataFrame:
    """HLL sketch quality contract, hash-level: the output carries the
    EXACT distinct counts plus booleans asserting the approx_count_distinct
    estimate is within 5% relative error. The oracle emits the exact counts
    with TRUE — if the sketch path ever degrades past the bound, the
    booleans flip and the value hash mismatches. (approx_count_distinct is
    the only sane distinct-count at 100 TB; this pins its quality.)"""
    li = _li(spark, sf)
    err = lambda approx, exact: F.abs(approx - exact) / exact  # noqa: E731
    agg = li.agg(
        F.count_distinct("l_partkey").cast("long").alias("exact_partkey"),
        F.approx_count_distinct("l_partkey").alias("__ap"),
        F.count_distinct("l_suppkey").cast("long").alias("exact_suppkey"),
        F.approx_count_distinct("l_suppkey").alias("__as"),
    )
    return agg.select(
        "exact_partkey",
        (err(F.col("__ap"), F.col("exact_partkey")) <= 0.05).alias("partkey_ok"),
        "exact_suppkey",
        (err(F.col("__as"), F.col("exact_suppkey")) <= 0.05).alias("suppkey_ok"),
    )

def p37_hll_shard_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Re-aggregatable sketch contract (the 100 TB distinct-count pattern):
    per-shard HLL sketches (hll_sketch_agg over 8 hash shards of lineitem)
    unioned with hll_union_agg must agree with a single-pass sketch of the
    whole table to 1% and land within 5% of the exact distinct count. In
    dense HLL mode the union is register-wise max (bit-lossless); below
    the lgK=12 density threshold DataSketches keeps shard sketches in
    exact set mode and the union's promotion to dense can differ from the
    single pass by a few estimates-worth of counts (observed: 2000 exact,
    merged vs single off by <0.1% at sf0.01) — hence a tolerance, not
    bit-equality. The oracle owns the exact count; a broken merge or a
    degraded sketch flips a boolean and the hash mismatches."""
    from ml_data_pipeline_spark.operators.profiling import (
        hll_merge_estimate,
        hll_shard_sketches,
    )

    li = _li(spark, sf).withColumn(
        "__shard", F.pmod(F.xxhash64("l_orderkey"), F.lit(8))
    )
    merged = hll_merge_estimate(hll_shard_sketches(li, "l_partkey", "__shard"))
    one = li.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(l_partkey, 12))").alias("s"),
        F.count_distinct("l_partkey").cast("long").alias("exact"),
    ).first()
    single, exact = int(one["s"]), int(one["exact"])
    return spark.createDataFrame(
        [
            (
                exact,
                bool(abs(merged - single) <= max(1, round(0.01 * single))),
                bool(abs(merged - exact) <= 0.05 * exact),
            )
        ],
        "exact_distinct long, merge_matches_single boolean, within_5pct boolean",
    )


def e21_group_scale(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group min-max scaling: (x - min_g) / (max_g - min_g) with the
    group stats from one aggregate broadcast back — the grouped companion
    to e20_robust_scale (global). A constant group yields explicit NULLs
    (nullif), mirroring the robust-scale contract."""
    li = _li(spark, sf)
    stats = li.groupBy("l_returnflag").agg(
        F.min("l_quantity").alias("__mn"), F.max("l_quantity").alias("__mx")
    )
    rng = F.nullif(F.col("__mx") - F.col("__mn"), F.lit(0.0))
    return (
        li.join(F.broadcast(stats), "l_returnflag")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            F.round((F.col("l_quantity") - F.col("__mn")) / rng, 6).alias("q_scaled"),
        )
        .orderBy("l_orderkey", "l_linenumber", "l_returnflag", "q_scaled")
    )

def q_recency_features(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user behavioral features at a reference instant: days since
    last event, total events, events in the trailing 7 and 30 days, and
    distinct active days — the classic feature-engineering rollup for
    churn/engagement models. One scan, one groupBy; the trailing windows
    are conditional aggregates, not self-joins. The reference date is the
    corpus max ts (deterministic), computed in the same plan via a
    broadcast 1-row aggregate."""
    ev = load_table(spark, sf, "events").select("user_id", "ts")
    ref = ev.agg(F.max("ts").alias("__ref"))
    base = ev.crossJoin(F.broadcast(ref))
    age_days = F.datediff(F.col("__ref"), F.col("ts"))
    return (
        base.groupBy("user_id")
        .agg(
            F.min(age_days).cast("long").alias("days_since_last"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum((age_days < 7).cast("long")).alias("n_7d"),
            F.sum((age_days < 30).cast("long")).alias("n_30d"),
            F.count_distinct(F.to_date("ts")).alias("n_active_days"),
        )
        .orderBy("user_id")
    )

def t10_group_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic k-per-group sampling (hash-ordered, engine- and
    partitioning-reproducible): 20 customers per market segment, ordered
    by md5 of the key — the oracle replicates the identical hash order in
    DuckDB, so the SAMPLED ROWS themselves hash-match, not just counts."""
    cust = load_table(spark, sf, "customer").select(
        "c_custkey", "c_mktsegment", F.round("c_acctbal", 2).alias("c_acctbal")
    )
    out = SA.group_sample_by_hash(cust, "c_mktsegment", "c_custkey", k=20, salt="r3")
    return out.orderBy("c_mktsegment", "c_custkey")

def q_sql_surface(spark: SparkSession, sf: str) -> DataFrame:
    """The SQL entry point end-to-end (catalog.register_all -> spark.sql):
    a CTE + window + join query written as literal SQL text, proving a
    reference user can drive this engine with SQL alone — same Catalyst
    plan machinery as the DataFrame gates, same oracle discipline."""
    from ml_data_pipeline_spark.catalog import load_table as _lt

    for name in ("orders", "customer"):
        _lt(spark, sf, name).createOrReplaceTempView(name)
    return spark.sql(
        """
        WITH ranked AS (
            SELECT o_custkey, o_totalprice,
                   row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey
                   ) AS rn
            FROM orders
        )
        SELECT c.c_mktsegment,
               count(*) AS n_customers,
               round(sum(r.o_totalprice), 2) AS top_order_revenue
        FROM ranked r
        JOIN customer c ON r.o_custkey = c.c_custkey
        WHERE r.rn = 1
        GROUP BY c.c_mktsegment
        ORDER BY c.c_mktsegment
        """
    )

def m23_isotonic_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Isotonic calibration map via the exact PAV minimax identity
    (ml.pipeline.isotonic_fit_minimax) — upgraded in r5 from rows-only:
    the closed form (sequential prefix sums + one ratio + min/max) is
    reproducible verbatim in SQL, so the full map is VALUE-checked
    against the oracle instead of only property-checked. The MLlib
    iterative variant (isotonic_calibration) remains for production use;
    a test pins the two agree. Input is the deterministic (label, score)
    base shared by the AUC-family gates."""
    from ml_data_pipeline_spark.ml.pipeline import isotonic_fit_minimax

    base = _auc_base(spark, sf)
    return isotonic_fit_minimax(base, "y", "s", n_bins=50)

def st_enriched_segments(spark: SparkSession, sf: str) -> DataFrame:
    """Batch twin of the stream-static enrichment join (streaming/
    events_stream.enrich_stream — same function, batch input): events
    enriched with the customer dimension by user_id, rolled up to market
    segment. Unmatched users land in 'UNKNOWN'. The streaming side is
    parity-tested in tests/test_streaming.py."""
    from ml_data_pipeline_spark.streaming import events_stream as ES

    ev = load_table(spark, sf, "events").select("event_id", "user_id", "value")
    dim = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = ES.enrich_stream(ev, dim, "user_id")
    return (
        enriched.groupBy(
            F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .orderBy("segment")
    )

def m21_pr_points(spark: SparkSession, sf: str) -> DataFrame:
    """Precision-recall curve over the deterministic (label, score) base —
    the imbalanced-data companion to m19_roc_points, same aggregate-then-
    window shape."""
    from ml_data_pipeline_spark.ml.pipeline import pr_points

    return pr_points(_auc_base(spark, sf), "y", "s")

def m22_brier_logloss(spark: SparkSession, sf: str) -> DataFrame:
    """Brier score + log loss on the deterministic score base (clamped to
    [eps, 1-eps] — the base's scores stray slightly outside [0,1], which
    is exactly the saturation case the clamp exists for)."""
    from ml_data_pipeline_spark.ml.pipeline import probability_score_metrics

    return probability_score_metrics(_auc_base(spark, sf), "y", "s")

def q_ewma(spark: SparkSession, sf: str) -> DataFrame:
    """EWMA (alpha=0.3) of the daily quantity series per return flag —
    closed-form weighted sum over a partitioned window (temporal.ewma_last),
    no iteration, no UDF. Daily pre-aggregation makes the order key unique
    so the recurrence is well-defined."""
    from ml_data_pipeline_spark.operators import temporal as TP

    daily = (
        _li(spark, sf)
        .groupBy(
            "l_returnflag", F.date_format("l_shipdate", "yyyy-MM-dd").alias("d")
        )
        .agg(F.sum("l_quantity").alias("x"))
    )
    return TP.ewma_last(daily, "x", "d", "l_returnflag", alpha=0.3)

# ---------------------------------------------------------------- TPC-H breadth
# The remaining TPC-H shapes expressible on the reduced testdata schema
# (no partsupp / commitdate / receiptdate / phone — q2/q4/q11/q20/q21 need
# those; their join/subquery shapes are already covered by q_correlated_scalar,
# q_exists_semi and q_not_exists). Each is a distinct Catalyst workout:
# broadcast-snowflake, conditional-share agg, left-join distribution,
# scalar-max join, distinct-agg, correlated-avg semi filter, anti-join.

def q7_volume_shipping(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by ship
    year. Only the two 25-row nation maps are hint-broadcast; supplier and
    customer are SF-proportional and left to AQE. The only big shuffle is
    lineitem⋈orders on orderkey. The symmetric nation pair predicate runs
    AFTER the nation joins so the fact table scans once."""
    li = _li(spark, sf).where(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    supp = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )

def q8_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of AMERICA-customer STANDARD-part
    revenue per order year. The share is a conditional-sum ratio inside ONE
    aggregation — no second pass over the joined fact. Only nation/region
    hints; part/customer/supplier are SF-proportional and left to AQE;
    single orderkey shuffle."""
    li = _li(spark, sf)
    part = load_table(spark, sf, "part").where(F.col("p_type") == "STANDARD")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    supp = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region").where(F.col("r_name") == "AMERICA")
    cn = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    sn = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == F.col("r_regionkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_5", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )

def q9_profit_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier nation per year. The testdata has
    no partsupp, so cost = 0.5 * p_retailprice * l_quantity stands in for
    ps_supplycost * l_quantity (documented proxy; identical plan shape:
    fact⋈part⋈orders⋈supplier⋈nation; only the 25-row nation is
    hint-broadcast, part/supplier left to AQE; one orderkey shuffle,
    map-side-combinable agg)."""
    li = _li(spark, sf)
    part = load_table(spark, sf, "part").where(F.col("p_type") == "ECONOMY")
    orders = load_table(spark, sf, "orders")
    supp = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    # Each profit term lies exactly on the 1e-4 grid (2dp price x 2dp
    # discount; 2dp retailprice x 0.5 x integer qty) — summing DOUBLES
    # across engines diverges in the last ulp and the 0.5x proxy parks
    # sums exactly on half-cent rounding boundaries (Spark half-up vs
    # DuckDB half-even). Summing as exact BIGINT 1e-4 units makes the
    # aggregate order-independent and engine-exact; same trick as the
    # AUC score grid (fc130b5).
    profit_e4 = F.round(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
        )
        * 10000
    ).cast("long")
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(profit_e4) / 10000.0, 2).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )

def q13_order_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts INCLUDING
    zero-order customers (left join + count of the non-null side). Two
    shuffles by construction (custkey count, then count-of-counts — the
    second is over ≤ max-orders-per-customer rows, trivially small).
    At 100 TB the first agg is the cost and it partial-aggregates map-side."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )

def q15_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with maximum 3-month revenue. The scalar
    max is re-attached as a broadcast single-row join (Spark's equivalent of
    the SQL view + subquery); the revenue agg shuffles on suppkey once and
    both consumers share it. Ties all surface, as in the spec."""
    li = _li(spark, sf).where(
        (F.col("l_shipdate") >= F.lit("1997-01-01")) & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    supp = load_table(spark, sf, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__rev"))
    )
    mx = rev.agg(F.max("__rev").alias("__mx"))
    return (
        rev.join(F.broadcast(mx), F.col("__rev") == F.col("__mx"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.round("__rev", 2).alias("total_revenue"))
        .orderBy("s_suppkey")
    )

def q16_supplier_part_counts(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers ship each surviving
    (brand, type, size) combo — distinct-agg after an AQE-planned part join
    with NOT-IN-style exclusions (no partsupp in the testdata; lineitem is
    the part↔supplier bridge, same plan shape). countDistinct shuffles
    (key, suppkey) pairs only."""
    li = _li(spark, sf)
    part = load_table(spark, sf, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").isin("PROMO"))
        & (F.col("p_size").isin(1, 5, 10, 15, 20, 25))
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )

def q17_small_qty_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape: revenue lost to small-quantity orders of one brand —
    a correlated per-part average re-joined onto the same fact (aggregate
    once, join the per-part result back; never a row-correlated subquery at
    scale). No broadcast hint: the per-part frame is brand-filtered but
    still SF-proportional, so AQE picks the strategy — broadcast at small
    SF, shuffled hash join once the frame outgrows the threshold."""
    li = _li(spark, sf)
    part = load_table(spark, sf, "part").where(F.col("p_brand") == "Brand#3")
    branded = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    avg_q = branded.groupBy(F.col("p_partkey").alias("__pk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("__qbar")
    )
    return (
        branded.join(avg_q, F.col("p_partkey") == F.col("__pk"))
        .where(F.col("l_quantity") < F.col("__qbar"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )

def q22_dormant_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape: rich-but-dormant customers per nation — a scalar
    broadcast threshold (avg positive balance) plus an anti-join against
    RECENT orders (the date bound keeps the gate non-empty on the synthetic
    data, where every customer has some lifetime order; the pushed-down
    filter also shrinks the anti-join build side). The anti-join shuffles
    only (custkey) from the orders side; no phone column in the testdata,
    so nationkey is the grouping key."""
    cust = load_table(spark, sf, "customer")
    recent = load_table(spark, sf, "orders").where(
        F.col("o_orderdate") >= F.lit("1999-01-01")
    )
    thr = cust.where(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("__avg_bal"))
    return (
        cust.join(F.broadcast(thr))
        .where(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(recent.select(F.col("o_custkey")), F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )

def _injected_urls(spark: SparkSession, sf: str) -> DataFrame:
    """documents + a deterministic messy `url` column (the corpus has no
    URLs): four fixed shapes cycling on doc_id — tracking params + fragment,
    uppercase host + default port, unsorted params, and a non-http scheme
    (which must canonicalize to NULL). Identical construction in the
    oracles."""
    d23 = (F.col("doc_id") % 23).cast("string")
    did = F.col("doc_id").cast("string")
    url = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("https://www.site"), d23, F.lit(".example.test/page"), did,
                F.lit("/?utm_source=x&b=2&a=1#frag"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("HTTPS://Site"), d23, F.lit(".Example.TEST:443/page"), did),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("http://site"), d23, F.lit(".example.test/page"), did,
                F.lit("?a=1&utm_campaign=z&ref=abc"),
            ),
        )
        .otherwise(F.concat(F.lit("ftp://site"), d23, F.lit(".example.test/x")))
    )
    return load_table(spark, sf, "documents").select("doc_id", url.alias("url"))

def tx_url_canonicalize(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization (cleaning.canonicalize_url): case/www/default-
    port/tracking-param/fragment/param-order/trailing-slash normalization —
    the step before URL-keyed exact dedup in a crawl pipeline. Pure
    projection; the ftp row proves the NULL contract."""
    from ml_data_pipeline_spark.operators import cleaning as CL

    return (
        CL.canonicalize_url(_injected_urls(spark, sf))
        .select("doc_id", "canonical_url")
        .orderBy("doc_id")
    )

def tx_blocklist_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Domain blocklist removal (cleaning.blocklist_filter): canonical
    domains anti-joined against a broadcast blocklist — C4-style badlist
    filtering where the corpus never shuffles. Output: surviving docs per
    domain."""
    from ml_data_pipeline_spark.operators import cleaning as CL

    canon = CL.canonicalize_url(_injected_urls(spark, sf))
    with_domain = canon.where(F.col("canonical_url").isNotNull()).select(
        "doc_id",
        F.regexp_extract("canonical_url", r"^https?://([^/]+)", 1).alias("domain"),
    )
    blocked = spark.createDataFrame(
        [("site1.example.test",), ("site5.example.test",), ("site9.example.test",)],
        "domain string",
    )
    return (
        CL.blocklist_filter(with_domain, blocked)
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("domain")
    )

def tx_script_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Unicode-script composition (text.script_stats): per-doc fraction of
    latin/cyrillic/cjk/arabic/digit chars + dominant script. The ASCII
    corpus gets a deterministic non-Latin suffix cycling on doc_id so every
    script range is exercised; same literal injection in the oracle."""
    snippets = F.array(
        F.lit(""),
        F.lit("привет мир это тест"),
        F.lit("你好世界这是测试"),
        F.lit("مرحبا بالعالم هذا اختبار"),
    )
    injected = load_table(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" "), F.element_at(snippets, (F.col("doc_id") % 4 + 1).cast("int"))
        ).alias("text"),
    )
    return TX.script_stats(injected, id_col="doc_id").orderBy("doc_id")

def e22_woe_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Weight-of-Evidence encoding (encoding.woe_encode) of market segment
    against acctbal-positivity — closed-form log-odds per category, checked
    exactly. Output is the encoding TABLE (one row per category) plus its
    row support, proving both the WoE math and the join-back count."""
    cust = load_table(spark, sf, "customer").select(
        "c_custkey", "c_mktsegment", (F.col("c_acctbal") > 0).cast("int").alias("y")
    )
    enc = E.woe_encode(cust, "c_mktsegment", "y")
    return (
        enc.groupBy("c_mktsegment")
        .agg(
            F.round(F.first("c_mktsegment_woe"), 6).alias("woe"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("c_mktsegment")
    )

def p26_k_anonymity(spark: SparkSession, sf: str) -> DataFrame:
    """k-anonymity audit (profiling.k_anonymity) over the
    (nationkey, mktsegment) quasi-identifier pair at k=5 — the privacy
    census run before releasing user-derived tabular data."""
    cust = load_table(spark, sf, "customer")
    return P.k_anonymity(cust, ["c_nationkey", "c_mktsegment"], k=5)

def e23_information_value(spark: SparkSession, sf: str) -> DataFrame:
    """Information Value of the WoE-encoded segment feature:
    IV = sum over categories of (pos_share - neg_share) * WoE — the
    standard predictive-power screen that decides whether a feature enters
    a scorecard (rule of thumb: <0.02 useless, >0.5 suspicious). Reuses
    encoding.woe_encode's table and collapses it to one scalar row."""
    cust = load_table(spark, sf, "customer").select(
        "c_mktsegment", (F.col("c_acctbal") > 0).cast("int").alias("y")
    )
    enc = E.woe_encode(cust, "c_mktsegment", "y")
    y = F.col("y").cast("double")
    per = enc.groupBy("c_mktsegment").agg(
        F.sum(y).alias("__pos"),
        F.sum(1 - y).alias("__neg"),
        F.first("c_mktsegment_woe").alias("__woe"),
    )
    tot = per.agg(F.sum("__pos").alias("__pt"), F.sum("__neg").alias("__nt"))
    contrib = (F.col("__pos") / F.col("__pt") - F.col("__neg") / F.col("__nt")) * F.col("__woe")
    return (
        per.join(F.broadcast(tot))
        .agg(
            F.round(F.sum(contrib), 6).alias("information_value"),
            F.count(F.lit(1)).alias("n_categories"),
        )
    )

def q_gini(spark: SparkSession, sf: str) -> DataFrame:
    """Gini coefficient of per-customer revenue concentration
    (profiling.gini_coefficient) — Lorenz-curve summary with a DISTRIBUTED
    rank (range-partition + local row_number + broadcast offsets), never a
    single-task global sort. Revenue sums are coarsened to whole units
    before ranking so rank order is engine-exact (double sums of money
    diverge in the last ulp across engines, which would permute
    near-tied ranks)."""
    orders = load_table(spark, sf, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice")).cast("long").alias("rev")
    )
    out = P.gini_coefficient(per_cust, "rev", "o_custkey")
    return out.select(F.col("gini"), F.col("n").alias("n_customers"))

def p28_moments(spark: SparkSession, sf: str) -> DataFrame:
    """Skewness/kurtosis profile (profiling.moments) over integer-exact
    measures (quantity; discount in cents) — population central moments
    from raw power sums, so both engines compute bit-identical statistics
    (builtin skewness()/kurtosis() differ cross-engine on sample-bias
    corrections; the closed form avoids that)."""
    li = _li(spark, sf).select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_discount") * 100).cast("long").alias("disc_cents"),
    )
    return P.moments(li, ["qty", "disc_cents"])

def tx_vocab_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source vocabulary Jaccard (text.source_vocab_overlap) over
    the documents corpus — slice-level duplication signal; top 25 pairs
    (lift ties broken by pair name for engine determinism)."""
    docs = load_table(spark, sf, "documents")
    return TX.source_vocab_overlap(docs).limit(25)

def t12_group_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source weighted document sampling (sampling.group_weighted_sample):
    3 docs per source, A-ES-weighted by length — "keep k quality-weighted
    docs per domain". Sampled ROWS are hash-compared (not just counts):
    the oracle recomputes every A-ES key bit-for-bit."""
    docs = load_table(spark, sf, "documents").select("doc_id", "source", "n_chars")
    out = SA.group_weighted_sample(
        docs, "source", "n_chars", k=3, seed=11, id_col="doc_id"
    )
    return out.orderBy("source", "doc_id")

def tx_temperature_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Sampling-temperature mixture weights (mixing.temperature_weights,
    alpha=0.5) over the documents corpus token inventory — the multilingual
    up-weighting rule, w_s proportional to n_s^alpha."""
    from ml_data_pipeline_spark.operators import mixing as MX

    toks = TX.token_count(load_table(spark, sf, "documents"))
    return MX.temperature_weights(toks, alpha=0.5)

def s18_schema_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Schema evolution diff (sources/versioned.schema_diff): v_old vs a
    v_new with one column dropped, one retyped, one added — the pre-flight
    report before a cross-version read. Pure metadata (zero cluster work);
    the oracle is the literal expected table."""
    from ml_data_pipeline_spark.sources.versioned import schema_diff

    orders = load_table(spark, sf, "orders")
    v_old = orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
    v_new = orders.select(
        "o_orderkey",
        F.col("o_totalprice").cast("string").alias("o_totalprice"),
        F.lit("web").alias("o_channel"),
    )
    return schema_diff(v_old, v_new).orderBy("column")

def q_abc_brands(spark: SparkSession, sf: str) -> DataFrame:
    """ABC / Pareto classification of brands by revenue: cumulative-share
    class A (first 70% of revenue), B (to 90%), C (tail). The cumulative
    runs over DISTINCT BRANDS (25 rows after the aggregate), never over
    the fact table — and since late r14 on ranged_cumsum (rev DESC
    encoded as an exact long negation ascending, brand tie-break), so
    the same query stays parallel when the group key is SKU-scale
    instead of 25 brands. Revenue coarsened to whole units so the
    running sum is an exact integer in both engines."""
    from ml_data_pipeline_spark.operators.profiling import ranged_cumsum

    li = _li(spark, sf)
    part = load_table(spark, sf, "part")
    rev = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).cast("long").alias("rev"))
        .withColumn("__negrev", -F.col("rev"))
    )
    cum = ranged_cumsum(rev, ["__negrev", "p_brand"], ["rev"])
    tot = cum.agg(F.sum("rev").alias("__tot"))
    cum_share = F.col("__cum_rev") / F.col("__tot")
    return (
        cum.crossJoin(F.broadcast(tot))
        .withColumn("cum_share", F.round(cum_share, 6))
        .withColumn(
            "abc_class",
            F.when(F.col("cum_share") <= 0.7, "A")
            .when(F.col("cum_share") <= 0.9, "B")
            .otherwise("C"),
        )
        .select("p_brand", "rev", "cum_share", "abc_class")
        .orderBy(F.desc("rev"), "p_brand")
    )

def q_rfm_segments(spark: SparkSession, sf: str) -> DataFrame:
    """RFM segmentation census: per-customer Recency (last order date),
    Frequency (order count), Monetary (whole-unit revenue) quintile-scored
    1-5 via the DISTRIBUTED rank kernel (profiling.ranged_rank — no global
    window sort), score = floor((rank-1)*5/n)+1, then the (r,f,m) segment
    census. Integer metrics + custkey tiebreak keep every rank
    engine-exact."""
    from ml_data_pipeline_spark.operators.profiling import ranged_rank

    orders = load_table(spark, sf, "orders")
    # localCheckpoint (not cache): the customer-sized aggregate feeds the
    # count AND the melted rank pass below, and the rank kernel caches its
    # own range-partitioned frame — with cache() the optimizer re-printed
    # and re-analyzed the full orders lineage under every nested
    # InMemoryRelation (16 plan references pre-r12; compile time is the
    # dominant cold-gate cost). Checkpointing the small derived frame
    # truncates that lineage once.
    per = orders.groupBy("o_custkey").agg(
        F.unix_date(F.max("o_orderdate").cast("date")).alias("last_day"),
        F.count(F.lit(1)).alias("freq"),
        F.round(F.sum("o_totalprice")).cast("long").alias("mon"),
    ).localCheckpoint()
    # one driver scalar, shared by all three scores — NOT an unpartitioned
    # count window (that would be a single-task exchange)
    n_total = per.count()
    # ONE melted rank pass for all three metrics (VERDICT r11 item 3: the
    # three chained ranged_rank calls each multi-referenced the cached
    # `per`, inflating the plan to 16 InMemoryTableScan references and
    # paying three range shuffles + three window passes). Melt to
    # (custkey, metric_idx, value) and rank globally by (metric_idx,
    # value, custkey): the blocks are exactly n_total rows each, so the
    # within-metric rank is the global rank minus metric_idx * n_total —
    # identical ranks, one ranged_rank call. `per` is now referenced
    # twice (count + melt) instead of 16 times.
    melted = per.select(
        "o_custkey",
        F.expr(
            "stack(3, 0, CAST(last_day AS BIGINT), 1, CAST(freq AS BIGINT), 2, mon)"
            " AS (m_idx, val)"
        ),
    )
    ranked = ranged_rank(melted, ["m_idx", "val", "o_custkey"], out_col="__r")
    sc = (
        F.floor(
            (F.col("__r") - 1 - F.col("m_idx") * F.lit(n_total)) * 5 / F.lit(n_total)
        )
        + 1
    ).cast("int")
    scored = ranked.groupBy("o_custkey").agg(
        F.max(F.when(F.col("m_idx") == 0, sc)).alias("r_score"),
        F.max(F.when(F.col("m_idx") == 1, sc)).alias("f_score"),
        F.max(F.when(F.col("m_idx") == 2, sc)).alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("r_score", "f_score", "m_score")
    )

def q_basket_lift(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket co-occurrence: brand pairs ordered together, with
    support, confidence and lift — association mining as a self-equi-join
    on the order key (pair fanout bounded by distinct-brands-per-order,
    never a crossJoin). Lift is a ratio of exact integer counts → engine-
    exact ordering; top 20 by lift."""
    li = _li(spark, sf)
    part = load_table(spark, sf, "part")
    # (order, brand) distinct frame feeds the pair self-join (twice), the
    # per-brand marginals AND the order count — materialize once
    # (plan_audit r5: 4 lineitem+part scans without it)
    ib = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
    ).localCheckpoint()
    a = ib.select("o", F.col("b").alias("ba"))
    b = ib.select("o", F.col("b").alias("bb"))
    pair_n = (
        a.join(b, "o")
        .where(F.col("ba") < F.col("bb"))
        .groupBy("ba", "bb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    brand_n = ib.groupBy(F.col("b")).agg(F.count(F.lit(1)).alias("n_b"))
    n_orders = ib.select("o").distinct().count()
    na = brand_n.select(F.col("b").alias("ba"), F.col("n_b").alias("n_a"))
    nb = brand_n.select(F.col("b").alias("bb"), F.col("n_b").alias("n_bb"))
    lift = (F.col("n_ab") * F.lit(float(n_orders))) / (F.col("n_a") * F.col("n_bb"))
    return (
        pair_n.join(F.broadcast(na), "ba")
        .join(F.broadcast(nb), "bb")
        .select(
            "ba",
            "bb",
            "n_ab",
            F.round(F.col("n_ab") / F.lit(float(n_orders)), 6).alias("support"),
            F.round(F.col("n_ab") / F.col("n_a"), 6).alias("confidence"),
            F.round(lift, 6).alias("lift"),
        )
        .orderBy(F.desc("lift"), "ba", "bb")
        .limit(20)
    )

def q_twap(spark: SparkSession, sf: str) -> DataFrame:
    """Time-weighted average value per user (temporal.time_weighted_avg)
    over the events stream. Duplicate (user, ts) rows are pre-averaged so
    the lead() interval order is engine-deterministic (same convention as
    the ASOF gate)."""
    from ml_data_pipeline_spark.operators import temporal as TP

    ev = (
        load_table(spark, sf, "events")
        .groupBy("user_id", "ts")
        .agg(F.avg("value").alias("value"))
    )
    return TP.time_weighted_avg(ev, "value", "ts", "user_id")

def p27_benford(spark: SparkSession, sf: str) -> DataFrame:
    """Benford first-digit audit (profiling.benford_first_digit) over
    o_totalprice — leading digit from exact integer strings, never log10
    float math."""
    return P.benford_first_digit(load_table(spark, sf, "orders"), "o_totalprice")

def pipe_web_hygiene(spark: SparkSession, sf: str) -> DataFrame:
    """Composite: the crawl-hygiene front of a web-corpus pipeline as ONE
    lazy plan — canonicalize URLs → drop blocklisted domains → exact dedup
    on the canonical URL (first survivor by doc_id) → per-domain census of
    survivors. Chains cleaning.canonicalize_url + blocklist_filter +
    groupBy-min dedup; every stage is individually oracle-verified, this
    gate pins their composition end-to-end (doc_id % 7 aliases several
    doc_ids onto one URL so the dedup stage does real work)."""
    from ml_data_pipeline_spark.operators import cleaning as CL

    d23 = (F.col("doc_id") % 23).cast("string")
    url = F.concat(
        F.lit("HTTPS://www.Site"), d23, F.lit(".Example.TEST/doc/"),
        (F.col("doc_id") % 7).cast("string"), F.lit("?utm_source=crawl&v=1"),
    )
    docs = load_table(spark, sf, "documents").select("doc_id", url.alias("url"))
    canon = CL.canonicalize_url(docs).where(F.col("canonical_url").isNotNull())
    with_domain = canon.withColumn(
        "domain", F.regexp_extract("canonical_url", r"^https?://([^/]+)", 1)
    )
    blocked = spark.createDataFrame(
        [("site3.example.test",), ("site17.example.test",)], "domain string"
    )
    surviving = CL.blocklist_filter(with_domain, blocked)
    deduped = surviving.groupBy("canonical_url", "domain").agg(
        F.min("doc_id").alias("survivor_id"), F.count(F.lit(1)).alias("n_dups")
    )
    return (
        deduped.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.sum("n_dups").alias("n_docs"),
            F.min("survivor_id").alias("first_survivor"),
        )
        .orderBy("domain")
    )

def t11_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic weighted sampling (sampling.weighted_sample_topk,
    A-ES): 50 documents drawn proportional to length — the quality-weighted
    subset draw of a mixture pipeline. Hash-derived uniforms make the draw
    reproducible across engines; DuckDB recomputes keys bit-for-bit."""
    docs = load_table(spark, sf, "documents").select("doc_id", "n_chars")
    out = SA.weighted_sample_topk(docs, "n_chars", k=50, seed=7, id_col="doc_id")
    return out.select(
        "doc_id", "n_chars", F.round("wkey", 6).alias("wkey")
    ).orderBy(F.desc("wkey"), "doc_id")

def dd_incremental_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental near-dup (dedup.incremental_ngram_jaccard_pairs): docs
    with doc_id >= 400 play the appended batch; the operator probes the
    full inverted index with only the batch's grams (new x old + new x new,
    never old x old). The oracle is the FULL-corpus exact recompute
    filtered to pairs touching the batch — pinning that the incremental
    path loses nothing and invents nothing."""
    docs = load_table(spark, sf, "documents")
    return DD.incremental_ngram_jaccard_pairs(
        docs, F.col("doc_id") >= 400, n=3, threshold=0.2
    )

def s17_zorder_layout(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order layout key (skew.zorder_key): Morton-interleave
    (l_orderkey, l_partkey) low 8 bits, then the per-256-key-block profile —
    row count plus the min/max rectangle of both dims. The min/max spans
    per block ARE the parquet footer stats a z-ordered write would carry:
    bounded in BOTH columns (≤ a 16x256-aligned rectangle), which is the
    data-skipping property. Bit-exact vs the DuckDB oracle."""
    from ml_data_pipeline_spark.operators import skew as SK

    li = _li(spark, sf).select(
        (F.col("l_orderkey") % 256).alias("x"), (F.col("l_partkey") % 256).alias("y")
    )
    keyed = SK.zorder_key(li, "x", "y", bits=8)
    return (
        keyed.groupBy((F.col("zkey") / 256).cast("long").alias("zblock"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
        .orderBy("zblock")
    )

def m24_confusion_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Value-level gate for the M3 classification metric suite: a
    DETERMINISTIC 3-class (label, prediction) table (pure key arithmetic,
    no model, no RNG) pushed through ml.pipeline.evaluate_classification —
    the SAME MulticlassClassificationEvaluator path every trained model
    uses. DuckDB recomputes accuracy + support-weighted precision/recall/F1
    from first principles, so the evaluator wiring (weighting, zero-division
    convention) is hash-pinned, upgrading M3 from rows-only evidence.
    3 classes on purpose: no rawPrediction column → the AUC branch is
    skipped (AUC is pinned separately by m18/m19 at row level)."""
    from ml_data_pipeline_spark.ml.pipeline import evaluate_classification

    preds = load_table(spark, sf, "customer").select(
        (F.col("c_custkey") % 3).cast("double").alias("label"),
        # deterministic confusions: rich customers drift one class up
        ((F.col("c_custkey") + (F.col("c_acctbal") > 5000).cast("long")) % 3)
        .cast("double")
        .alias("prediction"),
    )
    m = evaluate_classification(preds, label_col="label")
    return spark.createDataFrame(
        [tuple(round(m[k], 6) for k in ("accuracy", "precision", "recall", "f1"))],
        "accuracy double, precision double, recall double, f1 double",
    )

def m25_regression_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """Value-level gate for the M3 regression metric suite (R2/MSE/MAE):
    deterministic predictions (0.9*y + 50 over kilo-dollar totals — small
    magnitudes keep double sums order-exact across engines) through
    ml.pipeline.evaluate_regression, i.e. the real RegressionEvaluator;
    DuckDB recomputes the closed forms. Upgrades the regression half of M3
    to hash-level evidence."""
    from ml_data_pipeline_spark.ml.pipeline import evaluate_regression

    y = F.col("o_totalprice") / 1000.0
    preds = load_table(spark, sf, "orders").select(
        y.alias("label"), (y * 0.9 + 50.0).alias("prediction")
    )
    m = evaluate_regression(preds, label_col="label")
    return spark.createDataFrame(
        [tuple(round(m[k], 6) for k in ("r2", "mse", "mae"))],
        "r2 double, mse double, mae double",
    )

def tx_span_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """ExactSubstr-style repeated-span removal (Lee et al. ACL 2022):
    every 15-token window shared by >= 2 documents is merged into maximal
    spans and excised from all of them. Completes the dedup ladder between
    document-level (dd_*) and line-level (tx_line_dedup). text_clean is
    md5'd to keep the compare compact; the oracle keys windows on their
    TEXT where Spark keys on xxhash64(text) — identical output absent a
    64-bit collision."""
    from ml_data_pipeline_spark.operators.spans import remove_repeated_ngrams

    out = remove_repeated_ngrams(load_table(spark, sf, "documents"), width=15, min_docs=2)
    return out.select(
        "id",
        "n_tokens",
        "n_tokens_removed",
        "n_spans",
        F.md5(F.col("text_clean")).alias("clean_md5"),
    )

def tx_dsir_select(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR-style importance resampling (unigram LM log-ratio, target =
    English documents), top-100 selection. Ranks on the 6dp-ROUNDED
    weight with id tie-break so the selection is engine-reproducible;
    the oracle recomputes the two Laplace-smoothed LMs from first
    principles in SQL."""
    from ml_data_pipeline_spark.operators.importance import dsir_select

    docs = load_table(spark, sf, "documents")
    return dsir_select(docs, is_target=F.col("lang") == "en", k=100)

def q_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """PageRank (5 power iterations, d=0.85) over the symmetrized
    customer<->supplier trade graph — the domain-authority scoring a
    crawl-curation mix uses, gated on a graph the oracle can rebuild.
    The symmetrized graph has no dangling nodes, so the operator's
    dangling-mass term is exactly +0 and DuckDB's unrolled iterations
    match bit-for-bit before the final 6dp round."""
    from ml_data_pipeline_spark.operators.graph import pagerank

    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    cs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("s"),
        )
        .distinct()
    )
    edges = cs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        cs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    pr = pagerank(edges, iterations=5, damping=0.85)
    return pr.select("node", F.round("rank", 6).alias("rank")).orderBy("node")

def ss_random_project(spark: SparkSession, sf: str) -> DataFrame:
    """Johnson-Lindenstrauss ±1 random projection 64->8 of the
    embeddings table, exploded to (vec_id, j, v) scalars so the float
    compare goes through the gate's 6dp canonicalizer. The oracle
    regenerates the SAME matrix by importing similarity._rp_sign."""
    emb = load_table(spark, sf, "embeddings")
    out = SS.random_project(emb, in_dim=64, out_dim=8)
    return (
        out.select("vec_id", F.posexplode("projected").alias("j", "v"))
        .orderBy("vec_id", "j")
    )

def ml_pca_contract(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed PCA (k=2) over the embeddings table, gated as a
    contract: DuckDB independently recomputes n/dim/total_variance (the
    SQL-expressible parts), while the eigen-math is pinned by invariants
    CHECKED IN THE QUERY — components orthonormal, per-component score
    variance == eigenvalue (the defining property of PCA), eigenvalues
    within (0, total]. A wrong decomposition flips a boolean and the
    hash compare fails."""
    import numpy as np

    from ml_data_pipeline_spark.ml.decomposition import pca_fit, pca_project

    emb = load_table(spark, sf, "embeddings")
    m = pca_fit(emb, "embedding", k=2)
    C = np.array(m["components"])
    orthonormal = bool(np.abs(C @ C.T - np.eye(2)).max() < 1e-9)
    proj = pca_project(emb, m, "embedding")
    score_vars = (
        proj.select(F.posexplode("pc").alias("j", "v"))
        .groupBy("j")
        .agg(F.var_pop("v").alias("sv"))
        .orderBy("j")
        .collect()
    )
    var_identity = bool(
        all(
            abs(r["sv"] - ev) < 1e-9
            for r, ev in zip(score_vars, m["explained_variance"])
        )
    )
    ev_ok = bool(
        0.0 < m["explained_variance"][1] <= m["explained_variance"][0] <= m["total_variance"]
    )
    return spark.createDataFrame(
        [
            (
                m["n"],
                m["dim"],
                2,
                round(m["total_variance"], 6),
                orthonormal,
                var_identity,
                ev_ok,
            )
        ],
        "n long, dim int, k int, total_variance double, orthonormal boolean, "
        "variance_identity boolean, eigenvalues_ok boolean",
    )

def tx_bpe_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed BPE tokenizer-training statistics: top-50 adjacent
    character pairs weighted by word frequency (one merge-selection step).
    The corpus pass shuffles only (word, count); the pair stage runs on
    the vocabulary. Deterministic rank tie-break on pair string."""
    from ml_data_pipeline_spark.operators.tokenizer import top_bpe_pairs

    docs = load_table(spark, sf, "documents")
    return top_bpe_pairs(docs, "text", k=50)


def t13_negative_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic contrastive negative sampling: 3 non-English
    negatives per English anchor doc, drawn via bucket+rank hashing (no
    all-pairs join). Every draw is a pure function of (anchor, j), so the
    oracle replays the identical universal-hash arithmetic in SQL."""
    from ml_data_pipeline_spark.operators.sampling import negative_sample

    docs = load_table(spark, sf, "documents")
    anchors = docs.where(F.col("lang") == "en")
    pool = docs.where(F.col("lang") != "en")
    return negative_sample(anchors, pool, k=3, id_col="doc_id", n_buckets=16)


def s19_compaction_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Small-file compaction planning: the documents corpus viewed as a
    per-(lang, source) file inventory, bin-packed into ~64 KB output
    files by an exclusive-prefix-sum window partitioned per lang (no
    global sort). bin is the rewrite job's repartition key."""
    from ml_data_pipeline_spark.operators.skew import plan_compaction

    inv = (
        load_table(spark, sf, "documents")
        .groupBy("lang", "source")
        .agg(F.sum("n_chars").alias("bytes"))
    )
    return plan_compaction(
        inv, "bytes", 65536, file_col="source", partition_cols=["lang"]
    ).select("lang", "source", "bytes", "bin")


def st_sliding_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Trending top-3 event types per 2h-window/1h-slide sliding window —
    the SAME sliding_counts code path a stream executes (watermark no-ops
    on batch), ranked deterministically. Streaming parity is tested in
    tests/test_streaming.py; this gate hash-verifies the aggregation."""
    from ml_data_pipeline_spark.streaming import events_stream as ES

    ev = load_table(spark, sf, "events").select("ts", "event_type")
    return ES.sliding_topk(ev, window="2 hours", slide="1 hour", k=3)


def q_bloom_prejoin(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom semi-join pre-filter audit: lineitem pre-filtered by the
    bloom of high-value order keys, then flagged against the exact key
    set. n_false_pos > 0 by construction (the oracle replays the exact
    bit positions, false positives included) — proof the operator prunes
    the fact scan deterministically before the real join."""
    from ml_data_pipeline_spark.operators.skew import bloom_prejoin

    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_returnflag")
    # the filtered key set feeds the bloom build AND the exact-flag join —
    # materialize once (selective-key-sized; plan_audit r5: 4 orders scans)
    keys = (
        load_table(spark, sf, "orders")
        .where(F.col("o_totalprice") > 400000)
        .select("o_orderkey")
    ).localCheckpoint()
    passed = bloom_prejoin(li, keys, "l_orderkey", "o_orderkey")
    # no broadcast hint: the exact key set is SF-proportional (and forcing
    # it resident would defeat the bloom demo's own premise) — AQE decides
    flagged = passed.join(
        keys.withColumn("__true", F.lit(1)),
        passed["l_orderkey"] == F.col("o_orderkey"),
        "left",
    )
    return flagged.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_pass_bloom"),
        F.sum(F.coalesce(F.col("__true"), F.lit(0))).alias("n_true_match"),
        F.sum(F.when(F.col("__true").isNull(), 1).otherwise(0)).alias("n_false_pos"),
    )


def q_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact triangle census of the part co-purchase graph via the
    degree-oriented wedge join — the O(sqrt(m))-bounded shape that
    survives skewed graphs. The oracle recounts with the u<v<w 3-way SQL
    self-join (orientation-independent identity)."""
    from ml_data_pipeline_spark.operators.graph import triangle_stats

    lp = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = lp.alias("a")
    b = lp.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
    return triangle_stats(pairs)


def e22_loo_target_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Leave-one-out target encoding of c_mktsegment against account
    balance, gated exactly: the target is converted to integer CENTS
    first so both engines sum exactly, leaving one deterministic IEEE
    double division per row (no float-accumulation drift)."""
    from ml_data_pipeline_spark.operators.encoding import loo_target_encode

    cust = load_table(spark, sf, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("bal_cents"),
    )
    out = loo_target_encode(cust, "c_mktsegment", "bal_cents", "loo_bal")
    return out.select(
        "c_custkey", "c_mktsegment", F.round("loo_bal", 6).alias("loo_bal")
    )


def t14_cluster_safe_split(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup-safe 30% test split of the corpus: every n-gram-Jaccard
    cluster (connected component) lands wholly on one side — the split
    that keeps eval near-duplicates out of train. Oracle replays the
    recursive components + the md5 bucket arithmetic."""
    from ml_data_pipeline_spark.operators import components as CC
    from ml_data_pipeline_spark.operators.sampling import cluster_safe_split

    docs = load_table(spark, sf, "documents")
    pairs = DD.ngram_jaccard_pairs(docs, n=3, threshold=0.2)
    comp = CC.connected_components(pairs)
    out = cluster_safe_split(docs.select("doc_id"), comp, "doc_id", test_frac=0.3)
    return out.select("doc_id", "split_group", "is_test")


def m23_ridge_path(spark: SparkSession, sf: str) -> DataFrame:
    """Ridge path (lam = 0, 1e6, 1e8) for extendedprice ~ quantity +
    discount, no intercept: one moment aggregate, Cramer's-rule algebra
    replayed exactly by the oracle. lam=0 is the OLS corner; the heavier
    penalties visibly shrink b1/b2 — a wrong normal-equation term moves
    every row."""
    from ml_data_pipeline_spark.ml.pipeline import ridge_path

    li = _li(spark, sf).select("l_quantity", "l_discount", "l_extendedprice")
    return ridge_path(
        li, "l_quantity", "l_discount", "l_extendedprice", [0.0, 1e6, 1e8]
    )


def q_churn_labels(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time-correct churn labels on the events table: features
    strictly before the 2024-01-20 cutoff, label = no activity in the
    7-day horizon after it. The temporal wall is the contract — a
    leaked future row changes feature values and the hash."""
    from ml_data_pipeline_spark.operators.temporal import churn_labels

    ev = load_table(spark, sf, "events").select("user_id", "ts")
    return churn_labels(ev, "user_id", "ts", "2024-01-20 00:00:00", horizon_days=7)


def pipe_golden_record(spark: SparkSession, sf: str) -> DataFrame:
    """Attribute-wise survivorship merge of each customer's order
    history: latest status, latest HIGH-VALUE priority (an attribute
    that is null on most records — the case survivorship exists for),
    latest price. Recency key = epoch-day*1e9 + orderkey, unique per
    record, so the merge is deterministic and the oracle replays it
    with ordered filtered aggregates."""
    from ml_data_pipeline_spark.operators.temporal import golden_record

    o = load_table(spark, sf, "orders").select(
        "o_custkey",
        (
            F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date")).cast(
                "long"
            )
            * F.lit(10_000_000_000_000)
            + F.col("o_orderkey")
        ).alias("rec_key"),
        F.col("o_orderstatus").alias("last_status"),
        F.when(F.col("o_totalprice") > 250000, F.col("o_orderpriority")).alias(
            "last_hi_priority"
        ),
        F.col("o_totalprice").alias("last_price"),
    )
    return golden_record(
        o, "o_custkey", "rec_key", ["last_status", "last_hi_priority", "last_price"]
    )


def m24_conformal(spark: SparkSession, sf: str) -> DataFrame:
    """Split-conformal 90% prediction interval around the closed-form
    OLS of extendedprice ~ quantity: hash-split 50/30/20, coefficients
    rounded 4dp before residuals, qhat = ceil(0.9(n+1))-th smallest
    calibration |residual| (order statistic, engine-exact), empirical
    test coverage. A conformal guarantee check the oracle replays
    end-to-end."""
    from ml_data_pipeline_spark.ml.pipeline import split_conformal_ols

    li = _li(spark, sf).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    return split_conformal_ols(
        li,
        "l_quantity",
        "l_extendedprice",
        ["l_orderkey", "l_linenumber", "l_extendedprice"],
        alpha=0.1,
    )


def m25_ndcg(spark: SparkSession, sf: str) -> DataFrame:
    """Search-quality eval: NDCG@10 of the BM25 ranking for the q_bm25
    query terms against capped term-count relevance — the full
    rank/gain/discount pipeline replayed by the oracle on the same
    corpus pass."""
    from ml_data_pipeline_spark.operators.text import ndcg_at_k

    docs = load_table(spark, sf, "documents")
    return ndcg_at_k(docs, ["query", "join", "stream"], k=10)


def tx_bpe_apply(spark: SparkSession, sf: str) -> DataFrame:
    """BPE inference: apply a fixed 6-merge list over the corpus
    vocabulary and count per-doc tokens. Literal-pattern replaces only,
    so Java regex and RE2 replay the identical segmentation; empty docs
    survive with 0 tokens."""
    from ml_data_pipeline_spark.operators.tokenizer import apply_bpe_merges

    docs = load_table(spark, sf, "documents")
    merges = [("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"), ("an", "d")]
    return apply_bpe_merges(docs, merges)


def m26_classification_report(spark: SparkSession, sf: str) -> DataFrame:
    """Hash-level twin of the m3 metric suite: the metric ALGEBRA
    (precision/recall/f1/accuracy/balanced-accuracy/MCC/kappa from one
    confusion aggregate) pinned on a deterministic rule classifier —
    truth = doc is English, pred = text contains ' the '. m3 stays
    rows-only for MLlib model pipelines; this makes the math itself
    oracle-checked."""
    from ml_data_pipeline_spark.ml.pipeline import binary_classification_report

    docs = load_table(spark, sf, "documents").select(
        (F.col("lang") == "en").cast("int").alias("y"),
        F.col("text").contains(" the ").cast("int").alias("p"),
    )
    return binary_classification_report(docs, "y", "p")


def q_rolling_corr(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing-30-day quantity/price correlation per returnflag — RANGE
    frames over the day index (tie-deterministic), cent-exact sums, one
    IEEE division. The rolling-statistics family beyond EWMA/TWAP."""
    from ml_data_pipeline_spark.operators.temporal import rolling_corr

    li = _li(spark, sf).select(
        "l_returnflag",
        "l_shipdate",
        "l_quantity",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
    )
    return rolling_corr(
        li, "l_returnflag", "l_shipdate", "l_quantity", "cents", 30, 10
    )


def m27_sliced_report(spark: SparkSession, sf: str) -> DataFrame:
    """Sliced evaluation: the m26 rule classifier's confusion metrics per
    source — the per-segment QA/fairness view, one metric row per slice
    from a single map-side-combinable aggregate."""
    from ml_data_pipeline_spark.ml.pipeline import binary_classification_report

    docs = load_table(spark, sf, "documents").select(
        "source",
        (F.col("lang") == "en").cast("int").alias("y"),
        F.col("text").contains(" the ").cast("int").alias("p"),
    )
    return binary_classification_report(docs, "y", "p", group_cols=["source"])


def s20_content_hash(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset-version integrity fingerprints: order/partitioning-
    independent bit_xor of per-row md5 prefixes for orders and customer
    (integer/string columns) — two versions compare by exchanging 16
    bytes. The oracle replays the hash arithmetic row-for-row."""
    from ml_data_pipeline_spark.sources.versioned import content_fingerprint

    o = content_fingerprint(
        load_table(spark, sf, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    ).select(F.lit("orders").alias("table"), "n_rows", "content_hash")
    c = content_fingerprint(
        load_table(spark, sf, "customer"),
        ["c_custkey", "c_nationkey", "c_mktsegment"],
    ).select(F.lit("customer").alias("table"), "n_rows", "content_hash")
    return o.unionByName(c)


def tx_zipf_slope(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf's-law corpus-health probe: OLS slope of ln(freq) ~ ln(rank)
    over the top-1000 words. Natural text slopes toward -1; templated
    corpora drift off."""
    from ml_data_pipeline_spark.operators.text import zipf_slope

    return zipf_slope(load_table(spark, sf, "documents"), top_n=1000)


def tx_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language lexical diversity (tokens, types, TTR, unigram
    entropy) — the mode-collapse / templated-content probe for training
    mixes."""
    from ml_data_pipeline_spark.operators.text import corpus_diversity

    return corpus_diversity(load_table(spark, sf, "documents"), "lang")


def q_attribution_models(spark: SparkSession, sf: str) -> DataFrame:
    """First/last/linear attribution credit per channel for purchase
    conversions over a 3-day click/view touch window — three models in
    one plan, deterministic (ts, id) tie-breaks, oracle-replayed."""
    from ml_data_pipeline_spark.operators.funnel import attribution_credit

    ev = load_table(spark, sf, "events")
    return attribution_credit(ev, "purchase", ["click", "view"], window_days=3)


def p29_l_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """l-diversity audit (companion to p26 k-anonymity): customer
    (nationkey, mktsegment) quasi-identifier classes vs the acctbal-band
    sensitive attribute — minimum distinct sensitive values per class and
    the homogeneity-exposed class/row counts."""
    from ml_data_pipeline_spark.operators.profiling import l_diversity

    cust = load_table(spark, sf, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
    )
    return l_diversity(cust, ["c_nationkey", "c_mktsegment"], "bal_band", l=3)


def p30_dp_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Laplace-mechanism count release per market segment with
    reproducible (seeded) noise — the release-artifact form of a DP
    publish, replayed exactly by the oracle's inverse-CDF arithmetic."""
    from ml_data_pipeline_spark.operators.profiling import dp_noisy_counts

    cust = load_table(spark, sf, "customer")
    return dp_noisy_counts(cust, "c_mktsegment", epsilon=1.0, seed="release-1")


def q_join_cardinality(spark: SparkSession, sf: str) -> DataFrame:
    """Join-size prediction from per-key histograms, checked against the
    join it predicts: predicted == actual is the in-query invariant (a
    wrong histogram product flips the boolean and the hash)."""
    from ml_data_pipeline_spark.operators.skew import join_size_estimate

    o = load_table(spark, sf, "orders")
    li = _li(spark, sf)
    est = join_size_estimate(o, "o_orderkey", li, "l_orderkey")
    actual = o.join(li, o["o_orderkey"] == li["l_orderkey"]).agg(
        F.count(F.lit(1)).alias("actual_rows")
    )
    return est.crossJoin(F.broadcast(actual)).select(
        "predicted_rows",
        "actual_rows",
        (F.col("predicted_rows") == F.col("actual_rows")).alias("estimate_exact"),
        "max_key_rows",
        "n_matching_keys",
    )


def ml_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    """Hash-verified distributed KMeans: 4 Lloyd iterations over orders
    in (price-cents, order-day) space, k=3, md5-hash init, exact integer
    sums + 6dp centroid rounding per round — the oracle unrolls the
    identical 4 iterations in SQL (PageRank-gate recipe)."""
    from ml_data_pipeline_spark.ml.clustering import kmeans_fit_2d

    o = load_table(spark, sf, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
        ).alias("day"),
    )
    return kmeans_fit_2d(o, "o_orderkey", "cents", "day", k=3, iters=4)


def q_event_patterns(spark: SparkSession, sf: str) -> DataFrame:
    """CEP-lite: per-user journey strings with two gated patterns —
    adjacent view->click->purchase and the gated funnel subsequence
    (view then click then purchase with no intervening purchase).
    Ordering is (ts, event_id)-deterministic; the oracle rebuilds the
    journeys with ordered string_agg."""
    from ml_data_pipeline_spark.operators.funnel import event_patterns

    ev = load_table(spark, sf, "events")
    return event_patterns(
        ev,
        {"n_vcp_adjacent": "vcp", "n_funnel_gated": "v[^p]*c[^p]*p"},
    )


def m29_time_series_cv(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling-origin CV: three expanding-window folds of the
    extendedprice ~ quantity fit with 90-day validation horizons — the
    temporally-correct CV (train strictly before each origin). One scan,
    all folds; oracle replays fit + MAE per fold."""
    from ml_data_pipeline_spark.ml.tuning import time_series_cv_ols

    li = _li(spark, sf).select("l_shipdate", "l_quantity", "l_extendedprice")
    return time_series_cv_ols(
        li,
        "l_shipdate",
        "l_quantity",
        "l_extendedprice",
        ["1997-01-01", "1998-01-01", "1999-01-01"],
        horizon_days=90,
    )


def s21_bin_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """Manifest of the s19 compaction plan: per planned output bin, the
    file count, byte total, and min/max file-key bounds — the footer
    stats a rewrite job would publish for data skipping. Proves the
    plan's bins are contiguous key ranges (the property that makes the
    manifest useful)."""
    from ml_data_pipeline_spark.operators.skew import plan_compaction

    inv = (
        load_table(spark, sf, "documents")
        .groupBy("lang", "source")
        .agg(F.sum("n_chars").alias("bytes"))
    )
    plan = plan_compaction(
        inv, "bytes", 65536, file_col="source", partition_cols=["lang"]
    )
    return plan.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("bytes").alias("total_bytes"),
        F.min("source").alias("min_key"),
        F.max("source").alias("max_key"),
    )


def tx_pmi_collocations(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 adjacent-bigram collocations with PMI over the corpus —
    one tokenize pass feeding unigram and bigram counts."""
    from ml_data_pipeline_spark.operators.text import pmi_collocations

    return pmi_collocations(load_table(spark, sf, "documents"), top_k=20, min_count=5)


def tx_vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary coverage curve at N = 5 / 10 / 25 (the synthetic
    corpus draws from a ~31-word template vocabulary, so these sizes
    actually slice the curve) — the tokenizer-sizing stat (share of
    corpus tokens the top-N words cover)."""
    from ml_data_pipeline_spark.operators.text import vocab_coverage

    return vocab_coverage(load_table(spark, sf, "documents"), sizes=[5, 10, 25])


def q_hierarchy_flatten(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchy flattening by pointer doubling over a binary-heap tree
    on supplier keys (parent = (k-1)//2, root 0): every node's root and
    exact depth in ceil(log2(depth)) joins, not depth joins. Oracle =
    top-down WITH RECURSIVE."""
    from ml_data_pipeline_spark.operators.graph import flatten_hierarchy

    nodes = load_table(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("id"),
        F.when(
            F.col("s_suppkey") == 0, F.lit(None).cast("long")
        ).otherwise(F.floor((F.col("s_suppkey") - 1) / 2)).alias("parent"),
    )
    return flatten_hierarchy(nodes, "id", "parent", max_depth=64)


def t16_quota_allocation(spark: SparkSession, sf: str) -> DataFrame:
    """Largest-remainder apportionment of a 10000-document budget across
    (lang, source) cells weighted by character mass — integer quotas
    summing EXACTLY to the budget (the mixture-plan-to-shard-count
    step). Oracle replays floor + ranked-remainder top-up."""
    from ml_data_pipeline_spark.operators.sampling import quota_allocation

    cells = (
        load_table(spark, sf, "documents")
        .groupBy(F.concat_ws("/", "lang", "source").alias("cell"))
        .agg(F.sum("n_chars").alias("mass"))
    )
    return quota_allocation(cells, "cell", "mass", total=10000)


def q_time_to_convert(spark: SparkSession, sf: str) -> DataFrame:
    """Conversion-latency distribution: minutes from each user's first
    view to their first later purchase, summarized as exact p25/p50/p90
    percentiles plus converter counts."""
    ev = load_table(spark, sf, "events")
    first_view = ev.where(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("vts")
    )
    first_purchase = (
        ev.where(F.col("event_type") == "purchase")
        .join(first_view, "user_id")
        .where(F.col("ts") > F.col("vts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("pts"), F.min("vts").alias("vts"))
    )
    lat = first_purchase.select(
        ((F.unix_micros("pts") - F.unix_micros("vts")) / 60000000.0).alias("mins")
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converters"),
        F.round(F.expr("percentile(mins, 0.25)"), 6).alias("p25_mins"),
        F.round(F.expr("percentile(mins, 0.5)"), 6).alias("p50_mins"),
        F.round(F.expr("percentile(mins, 0.9)"), 6).alias("p90_mins"),
    )


def dd_prefix_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Prefix-filtered set-similarity join over order baskets (Jaccard
    >= 0.5 on part sets): index only each basket's rarest-token prefix,
    verify exactly — output equals the oracle's brute-force inverted-
    index join, candidate cost doesn't."""
    from ml_data_pipeline_spark.operators.dedup import prefix_jaccard_pairs

    li = _li(spark, sf).select("l_orderkey", "l_partkey")
    return prefix_jaccard_pairs(li, "l_orderkey", "l_partkey", threshold=0.5)


def s22_range_boundaries(spark: SparkSession, sf: str) -> DataFrame:
    """Range-partition boundary planning: exact k-quantile split points
    of o_totalprice for an 8-way repartitionByRange write — the planning
    step of a sorted/range layout. Exact percentile at gate scale
    (approx_percentile is the documented at-scale swap, same contract as
    p16)."""
    o = load_table(spark, sf, "orders")
    qs = [i / 8 for i in range(1, 8)]
    return o.agg(
        *[
            F.round(F.expr(f"percentile(o_totalprice, {q})"), 6).alias(
                f"b{int(q * 8)}"
            )
            for q in qs
        ]
    )


def p33_weighted_median(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted median (and p25/p75) of extendedprice weighted by
    quantity, per returnflag: cumulative-weight scan over the sorted
    distinct values — the lower weighted-percentile definition (first
    value whose cumulative weight reaches q*W), exact and
    engine-replayable."""
    from ml_data_pipeline_spark.operators.profiling import weighted_percentiles

    li = _li(spark, sf)
    return weighted_percentiles(
        li,
        "l_returnflag",
        "l_extendedprice",
        "l_quantity",
        {"wp25": 0.25, "wp50": 0.5, "wp75": 0.75},
    )


def q_active_users(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling DAU/7-day/28-day active users per day — sliding distinct
    counts via the distinct-(user, day) reduce + bounded day-explode
    shape (no native distinct-over-frame exists). Report days clipped to
    complete data."""
    from ml_data_pipeline_spark.operators.temporal import rolling_active_users

    ev = load_table(spark, sf, "events")
    return rolling_active_users(ev, "user_id", "ts", windows=(1, 7, 28))


def p34_ref_integrity(spark: SparkSession, sf: str) -> DataFrame:
    """Referential-integrity audit across the star schema: orphan counts
    for every FK edge (lineitem->orders/part/supplier, orders->customer,
    customer->nation, nation->region) via anti-join counts — the
    completeness gate run before trusting any join-based metric."""
    li = _li(spark, sf)
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    p = load_table(spark, sf, "part")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")

    from ml_data_pipeline_spark.operators.profiling import orphan_counts

    return orphan_counts(
        [
            (li, "l_orderkey", o, "o_orderkey", "lineitem->orders"),
            (li, "l_partkey", p, "p_partkey", "lineitem->part"),
            (li, "l_suppkey", s, "s_suppkey", "lineitem->supplier"),
            (o, "o_custkey", c, "c_custkey", "orders->customer"),
            (c, "c_nationkey", n, "n_nationkey", "customer->nation"),
            (n, "n_regionkey", r, "r_regionkey", "nation->region"),
        ]
    )


def q_revenue_bridge(spark: SparkSession, sf: str) -> DataFrame:
    """Price/volume bridge between 1997 and 1998 per returnflag: revenue
    delta decomposed into volume effect (qty change x old avg price) and
    price effect (price change x new qty), residual-free by the
    new-volume convention. The 'why did revenue move' BI decomposition."""
    li = _li(spark, sf)
    yr = F.year("l_shipdate")
    base = (
        li.where(yr.isin(1997, 1998))
        .groupBy("l_returnflag", yr.alias("y"))
        .agg(
            F.sum("l_quantity").alias("q"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        )
        .withColumn("avg_p", F.col("rev") / F.col("q"))
    )
    a = base.where(F.col("y") == 1997).select(
        "l_returnflag", F.col("q").alias("q0"), F.col("rev").alias("rev0"), F.col("avg_p").alias("p0")
    )
    b = base.where(F.col("y") == 1998).select(
        "l_returnflag", F.col("q").alias("q1"), F.col("rev").alias("rev1"), F.col("avg_p").alias("p1")
    )
    j = a.join(b, "l_returnflag")
    return j.select(
        "l_returnflag",
        F.round(F.col("rev1") - F.col("rev0"), 2).alias("rev_delta"),
        F.round((F.col("q1") - F.col("q0")) * F.col("p0"), 2).alias("volume_effect"),
        F.round((F.col("p1") - F.col("p0")) * F.col("q1"), 2).alias("price_effect"),
    )


def m30_kaplan_meier(spark: SparkSession, sf: str) -> DataFrame:
    """Kaplan-Meier time-to-first-error curve: duration = whole hours
    from a user's first event to their first 'error' (the EVENT); users
    who never error are right-censored at their last activity. Running
    product in log space — window-ordered cumsum, engine-exact."""
    from ml_data_pipeline_spark.operators.temporal import kaplan_meier

    ev = load_table(spark, sf, "events")
    spans = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    first_err = (
        ev.where(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.min("ts").alias("err_ts"))
    )
    subjects = spans.join(first_err, "user_id", "left").select(
        F.floor(
            (
                F.unix_micros(F.coalesce("err_ts", "last_ts"))
                - F.unix_micros("first_ts")
            )
            / 3600000000.0
        )
        .cast("long")
        .alias("duration"),
        F.col("err_ts").isNotNull().cast("int").alias("event"),
    )
    return kaplan_meier(subjects, "duration", "event")


def q_max_concurrency(spark: SparkSession, sf: str) -> DataFrame:
    """Peak concurrent user-day activity intervals (first event to last
    event + 1 minute, half-open) via the sweep line — ends sort before
    starts at ties, so back-to-back intervals never double-count.

    Headline runs the SCALE-SAFE ranged plan (r14, per the r13 verdict —
    the i4 pattern): the running sum over the boundary stream is a ranged
    prefix sum, never one global sort task over user-day cardinality.
    q_max_concurrency_single keeps the global-window baseline on the same
    oracle so the hash-equality proof stays machine-checked."""
    from ml_data_pipeline_spark.operators.temporal import max_concurrency_ranged

    ev = load_table(spark, sf, "events")
    iv = ev.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.min("ts").alias("s"),
        (F.max("ts") + F.expr("INTERVAL 1 MINUTE")).alias("e"),
    )
    return max_concurrency_ranged(iv, "s", "e")


def q_max_concurrency_single(spark: SparkSession, sf: str) -> DataFrame:
    """The documented single-sort-task baseline (one global ordered
    window over the boundary stream) — fine at gate scale, kept as a gate
    so ranged-vs-global hash equality is driver-checked on the shared
    oracle; not the headline because one sort task cannot hold the 100 TB
    boundary stream."""
    from ml_data_pipeline_spark.operators.temporal import max_concurrency

    ev = load_table(spark, sf, "events")
    iv = ev.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.min("ts").alias("s"),
        (F.max("ts") + F.expr("INTERVAL 1 MINUTE")).alias("e"),
    )
    return max_concurrency(iv, "s", "e")


def ml_silhouette(spark: SparkSession, sf: str) -> DataFrame:
    """Centroid-based silhouette per embedding label — clustering-quality
    eval at kmeans-assignment cost (k centroid distances per point,
    never point-pairs)."""
    from ml_data_pipeline_spark.operators.similarity import centroid_silhouette

    return centroid_silhouette(load_table(spark, sf, "embeddings"))


def m31_nmi(spark: SparkSession, sf: str) -> DataFrame:
    """Normalized mutual information between the corpus's lang and
    source labelings — permutation-invariant agreement from one
    contingency aggregate."""
    from ml_data_pipeline_spark.operators.profiling import normalized_mutual_info

    return normalized_mutual_info(load_table(spark, sf, "documents"), "lang", "source")


def m32_ari(spark: SparkSession, sf: str) -> DataFrame:
    """Adjusted Rand Index between lang and source labelings — the
    chance-corrected pair-counting twin of m31's NMI, exact integer
    combinatorics from the same contingency table."""
    from ml_data_pipeline_spark.operators.profiling import adjusted_rand_index

    return adjusted_rand_index(load_table(spark, sf, "documents"), "lang", "source")


def ml_davies_bouldin(spark: SparkSession, sf: str) -> DataFrame:
    """Davies-Bouldin separation index over the labeled embeddings —
    silhouette's classical companion, k^2 arithmetic after two
    assignment-cost aggregates."""
    from ml_data_pipeline_spark.operators.similarity import davies_bouldin

    return davies_bouldin(load_table(spark, sf, "embeddings"))


def pipe_training_frame(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time training-frame assembly — the feature-store
    workflow: churn labels (temporal wall at 2024-01-20, 7-day horizon)
    joined with strictly-pre-cutoff behavioral features (purchase
    counts/value) and the latest-before-cutoff order amount per user
    (golden-record max-by on a recency key). Every source column
    respects the same cutoff; the oracle replays the whole frame."""
    from ml_data_pipeline_spark.operators.temporal import churn_labels, golden_record

    ev = load_table(spark, sf, "events")
    cut = F.lit("2024-01-20 00:00:00").cast("timestamp")
    labels = churn_labels(
        ev.select("user_id", "ts"), "user_id", "ts", "2024-01-20 00:00:00", 7
    )
    behav = (
        ev.where(F.col("ts") < cut)
        .groupBy("user_id")
        .agg(
            F.sum((F.col("event_type") == "purchase").cast("long")).alias(
                "n_purchases"
            ),
            F.round(
                F.sum(
                    F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                        0.0
                    )
                ),
                6,
            ).alias("purchase_value"),
        )
    )
    o = (
        load_table(spark, sf, "orders")
        .where(F.col("o_orderdate") < F.lit("2024-01-20").cast("date"))
        .select(
            F.col("o_custkey").alias("user_id"),
            (
                F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date")).cast(
                    "long"
                )
                * F.lit(10_000_000_000_000)
                + F.col("o_orderkey")
            ).alias("rec_key"),
            F.col("o_totalprice").alias("last_order_price"),
        )
    )
    last_order = golden_record(o, "user_id", "rec_key", ["last_order_price"])
    return (
        labels.join(behav, "user_id", "left")
        .join(last_order, "user_id", "left")
        .select(
            "user_id",
            "n_events",
            "days_since_last",
            "active_span_days",
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
            F.coalesce("purchase_value", F.lit(0.0)).alias("purchase_value"),
            "last_order_price",
            "churned",
        )
    )


def m33_best_split(spark: SparkSession, sf: str) -> DataFrame:
    """Exact decision-stump split of l_quantity predicting returned
    lines (l_returnflag = 'R') — every candidate threshold scored by
    weighted Gini in one pass, argmin with deterministic tie-break."""
    from ml_data_pipeline_spark.ml.tuning import best_gini_split

    li = _li(spark, sf).select(
        "l_quantity", (F.col("l_returnflag") == "R").cast("int").alias("y")
    )
    return best_gini_split(li, "l_quantity", "y")


def m34_best_f1(spark: SparkSession, sf: str) -> DataFrame:
    """Max-F1 operating point over the m18 score base — cumulative
    TP/FP over the score-sorted aggregate, exact counts, conservative
    (higher-threshold) tie-break."""
    from ml_data_pipeline_spark.ml.pipeline import best_f1_threshold

    return best_f1_threshold(_auc_base(spark, sf), "y", "s")


def tx_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc 3-gram novelty in doc-id order — the incremental-crawl
    budgeting curve (near-dups of earlier material score ~0)."""
    from ml_data_pipeline_spark.operators.text import ngram_novelty

    return ngram_novelty(load_table(spark, sf, "documents"), n=3)


def m35_pair_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Pair-level confusion + Fowlkes-Mallows + Rand index between lang
    and source — completing the clustering-agreement family (NMI m31,
    ARI m32) from the same contingency aggregate."""
    from ml_data_pipeline_spark.operators.profiling import pair_confusion

    return pair_confusion(load_table(spark, sf, "documents"), "lang", "source")


def p35_null_patterns(spark: SparkSession, sf: str) -> DataFrame:
    """Co-missingness diagnostics: rows grouped by their null-mask
    pattern over (quantity, price, discount) with nulls injected on
    overlapping key ranges — which columns go missing TOGETHER, the
    missing-data structure mean/MICE imputation assumptions depend on."""
    li = _li(spark, sf).select(
        F.when(F.col("l_orderkey") % 10 == 3, None)
        .otherwise(F.col("l_quantity"))
        .alias("q"),
        F.when(F.col("l_orderkey") % 15 == 3, None)
        .otherwise(F.col("l_extendedprice"))
        .alias("p"),
        F.when(F.col("l_orderkey") % 6 == 3, None)
        .otherwise(F.col("l_discount"))
        .alias("d"),
    )
    mask = F.concat(
        F.when(F.col("q").isNull(), "1").otherwise("0"),
        F.when(F.col("p").isNull(), "1").otherwise("0"),
        F.when(F.col("d").isNull(), "1").otherwise("0"),
    )
    return (
        li.groupBy(mask.alias("pattern"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("pattern")
    )


def q_skyline(spark: SparkSession, sf: str) -> DataFrame:
    """2-D skyline (Pareto frontier) of orders: earliest-date /
    highest-price non-dominated set via the sort-and-running-max scan —
    per-date max first (same-date lower prices are dominated), then keep
    dates whose max strictly beats every earlier date's. O(n log n), no
    self-join."""
    from pyspark.sql import Window

    o = load_table(spark, sf, "orders")
    per_d = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.max("o_totalprice").alias("pmax")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    return (
        per_d.withColumn("prev_best", F.max("pmax").over(w))
        .where(F.col("prev_best").isNull() | (F.col("pmax") > F.col("prev_best")))
        .select(
            F.col("d").cast("string").alias("order_date"),
            F.col("pmax").alias("best_price"),
        )
    )

# ---------------------------------------------------------------- round-4 additions

def q_cusum_changepoint(spark: SparkSession, sf: str) -> DataFrame:
    """CUSUM changepoint over the DAILY EVENT-COUNT series (temporal.
    cusum_changepoint): the corpus pass is one groupBy(day); the window
    runs over the bounded day frame. Integer counts → bit-exact parity."""
    from ml_data_pipeline_spark.operators import temporal as T

    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    out = T.cusum_changepoint(daily, "d", "x")
    return out.select(
        F.col("change_point").cast("string").alias("change_day"),
        "cusum_abs",
        "n_points",
    )

def m36_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Mann-Kendall + Theil-Sen on MONTHLY ORDER COUNTS (temporal.
    mann_kendall_trend): t = year*12+month (exact int), x = count — the
    pairwise stage is bounded by the month cardinality (~84), and integer
    (x, t) makes every slope one IEEE division, identical cross-engine."""
    from ml_data_pipeline_spark.operators import temporal as T

    o = load_table(spark, sf, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("t")
    ).agg(F.count(F.lit(1)).alias("x"))
    return T.mann_kendall_trend(monthly, "t", "x")

def e24_quantile_transform(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile (CDF) transform of l_quantity (encoding.quantile_transform)
    — gate returns the DISTINCT (value → quantile) mapping plus its row
    count, which pins the transform for every fact row while keeping the
    compared frame value-cardinality-sized (~50 rows)."""
    li = _li(spark, sf)
    enc = E.quantile_transform(li, "l_quantity", "q_uniform")
    return (
        enc.groupBy("l_quantity", "q_uniform")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select("l_quantity", F.round("q_uniform", 6).alias("q_uniform"), "n_rows")
        .orderBy("l_quantity")
    )

def dd_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric near-dup: ordered n-gram containment pairs
    (dedup.ngram_containment_pairs) at threshold 0.4 — catches
    short-quoted-inside-long relations that symmetric Jaccard misses."""
    docs = load_table(spark, sf, "documents")
    return DD.ngram_containment_pairs(docs, n=3, threshold=0.4)

def m37_krippendorff(spark: SparkSession, sf: str) -> DataFrame:
    """Krippendorff's alpha (profiling.krippendorff_alpha) on a
    DETERMINISTIC multi-rater labeling: unit = custkey div 3, rater =
    custkey % 3, rating = the customer's market segment — consecutive
    custkey triples form 3-rater units (boundary units may have fewer;
    m=1 units are excluded by the estimator, exercising the
    missing-ratings path). Weights 1/(m-1) ∈ {1, 0.5} are exact binary
    floats, so the whole statistic is engine-exact."""
    cust = load_table(spark, sf, "customer")
    ratings = cust.select(
        F.expr("c_custkey div 3").alias("unit"),
        (F.col("c_custkey") % 3).alias("rater"),
        F.col("c_mktsegment").alias("rating"),
    )
    return P.krippendorff_alpha(ratings, "unit", "rater", "rating")

def m38_bootstrap_ci(spark: SparkSession, sf: str) -> DataFrame:
    """Poisson-bootstrap percentile CI for mean(events.value)
    (sampling.poisson_bootstrap_ci): B=100 deterministic md5-seeded
    Poisson(1) weights per row, one corpus pass for all replicates."""
    ev = load_table(spark, sf, "events")
    return SA.poisson_bootstrap_ci(
        ev, "value", "event_id", n_replicates=100, seed=7, alpha=0.05
    )

def m39_nelson_aalen(spark: SparkSession, sf: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard of time-to-first-error — the same
    subjects frame as m30_kaplan_meier (whole hours from first event to
    first 'error', censored at last activity), additive estimator."""
    from ml_data_pipeline_spark.operators.temporal import nelson_aalen

    ev = load_table(spark, sf, "events")
    spans = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    first_err = (
        ev.where(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.min("ts").alias("err_ts"))
    )
    subjects = spans.join(first_err, "user_id", "left").select(
        F.floor(
            (
                F.unix_micros(F.coalesce("err_ts", "last_ts"))
                - F.unix_micros("first_ts")
            )
            / 3600000000.0
        )
        .cast("long")
        .alias("duration"),
        F.col("err_ts").isNotNull().cast("int").alias("event"),
    )
    return nelson_aalen(subjects, "duration", "event")

def q_rank_fusion(spark: SparkSession, sf: str) -> DataFrame:
    """RRF fusion (ranking.rrf_fusion) of two top-100 customer rankings —
    by total spend and by order recency (custkey tie-breaks). Each list
    is TakeOrderedAndProject (heap top-k, no global sort); ranks are
    windows over the 100-row lists; the fusion shuffles 200 rows."""
    from ml_data_pipeline_spark.operators.ranking import rrf_fusion

    o = load_table(spark, sf, "orders")
    spend = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("s"))
    recency = o.groupBy("o_custkey").agg(F.max("o_orderdate").alias("r"))
    top_spend = spend.orderBy(F.desc("s"), F.asc("o_custkey")).limit(100)
    top_recent = recency.orderBy(F.desc("r"), F.asc("o_custkey")).limit(100)
    wa = Window.orderBy(F.desc("s"), F.asc("o_custkey"))
    wb = Window.orderBy(F.desc("r"), F.asc("o_custkey"))
    la = top_spend.withColumn("rank", F.row_number().over(wa)).select(
        F.col("o_custkey").alias("c_custkey"), "rank"
    )
    lb = top_recent.withColumn("rank", F.row_number().over(wb)).select(
        F.col("o_custkey").alias("c_custkey"), "rank"
    )
    return (
        rrf_fusion([la, lb], id_col="c_custkey", rank_col="rank")
        .orderBy(F.desc("rrf_score"), F.asc("c_custkey"))
        .limit(25)
    )

def _causal_customers(spark, sf) -> DataFrame:
    """Deterministic observational frame for the causal gates: treatment,
    a pseudo-uniform propensity score from exact integer arithmetic
    (engine-identical doubles), and acctbal as the outcome."""
    cust = load_table(spark, sf, "customer")
    return cust.select(
        F.col("c_custkey").alias("uid"),
        (F.col("c_custkey") % 3 == 0).cast("int").alias("treat"),
        (((F.col("c_custkey") * 131) % 1009) / F.lit(1009.0)).alias("score"),
        F.col("c_acctbal").alias("outcome"),
    )

def m40_psm_att(spark: SparkSession, sf: str) -> DataFrame:
    """ATT from 1:1 nearest-control propensity matching (causal.psm_att,
    union-sort-carry — no treated x control blowup). The oracle recomputes
    each treated unit's nearest control BY BRUTE FORCE (argmin over the
    distinct-control-score frame), pinning the carry logic against an
    independent algorithm."""
    from ml_data_pipeline_spark.operators import causal as C

    return C.psm_att(
        _causal_customers(spark, sf), "treat", "score", "uid", "outcome"
    )

def m41_did(spark: SparkSession, sf: str) -> DataFrame:
    """2x2 difference-in-differences on events: treat = even user_id,
    post = afternoon (hour >= 12), outcome = value (causal.did_estimate)."""
    from ml_data_pipeline_spark.operators import causal as C

    ev = load_table(spark, sf, "events")
    frame = ev.select(
        (F.col("user_id") % 2 == 0).alias("treat"),
        (F.hour("ts") >= 12).alias("post"),
        F.col("value").alias("outcome"),
    )
    return C.did_estimate(frame, "treat", "post", "outcome")

def m42_qini(spark: SparkSession, sf: str) -> DataFrame:
    """Qini uplift curve in 10 rank bins (causal.qini_curve): deterministic
    rank binning (row_number + ceil, no ntile), binary outcome = positive
    account balance, pseudo-uniform uplift score."""
    from ml_data_pipeline_spark.operators import causal as C

    cust = load_table(spark, sf, "customer")
    frame = cust.select(
        F.col("c_custkey").alias("uid"),
        (F.col("c_custkey") % 2 == 0).cast("int").alias("treat"),
        (((F.col("c_custkey") * 53) % 997) / F.lit(997.0)).alias("score"),
        (F.col("c_acctbal") > 0).cast("int").alias("converted"),
    )
    return C.qini_curve(frame, "treat", "score", "converted", "uid", n_bins=10)


# Registration order only: the correctness-gate order is computed in
# __spark_entry__.queries().
ALL_QUERIES = {
    # -- oracle-checked
    "e12_count_min": e12_count_min,
    "e16_to_numeric": e16_to_numeric,
    "e11_universal_hash": e11_universal_hash,
    "e14_clip_round": e14_clip_round,
    "i1_impute_mean": i1_impute_mean,
    "i2_impute_median": i2_impute_median,
    "i3_impute_mode": i3_impute_mode,
    "i4_interpolate": i4_interpolate,
    "i4_interpolate_ranged": i4_interpolate_ranged,
    "i5_impute_knn": i5_impute_knn,
    "i6_impute_mice": i6_impute_mice,
    "i7_hot_deck": i7_hot_deck,
    "i9_impute_by_model": i9_impute_by_model,
    "t1_split_invariants": t1_split_invariants,
    "s1_csv_roundtrip": s1_csv_roundtrip,
    "s5_excel_roundtrip": s5_excel_roundtrip,
    "s6_version_roundtrip": s6_version_roundtrip,
    "b1_smote_counts": b1_smote_counts,
    "b2_undersample_counts": b2_undersample_counts,
    "b3_centroids_counts": b3_centroids_counts,
    "b4_nearmiss_counts": b4_nearmiss_counts,
    "b5_oversample_counts": b5_oversample_counts,
    "b6_adasyn_counts": b6_adasyn_counts,
    "b7_borderline_counts": b7_borderline_counts,
    "t2_trim_equal_counts": t2_trim_equal_counts,
    "t3_trim_proportional_counts": t3_trim_proportional_counts,
    "t4_trim_majority_counts": t4_trim_majority_counts,
    "tx_token_count": tx_token_count,
    "tx_bpe_count": tx_bpe_count,
    "tx_quality": tx_quality,
    "tx_lang_id": tx_lang_id,
    "tx_fingerprint_md5": tx_fingerprint_md5,
    "mm_feature_digest": mm_feature_digest,
    "mm_frame_plan": mm_frame_plan,
    "mm_media_dedup": mm_media_dedup,
    "m2_ols_coefficients": m2_ols_coefficients,
    "m6_random_search_trials": m6_random_search_trials,
    "m9_learning_curve": m9_learning_curve,
    "pipe_prepare_corpus": pipe_prepare_corpus,
    "dd_ngram_jaccard": dd_ngram_jaccard,
    "dd_components": dd_components,
    "dd_keep_canonical": dd_keep_canonical,
    "tx_redact_pii": tx_redact_pii,
    "tx_strip_html": tx_strip_html,
    "tx_repetition": tx_repetition,
    "s_jsonl_roundtrip": s_jsonl_roundtrip,
    "s_orc_roundtrip": s_orc_roundtrip,
    "t8_hash_split": t8_hash_split,
    "p15_numeric_summary": p15_numeric_summary,
    "ss_quantize_int8": ss_quantize_int8,
    "q_window_suite": q_window_suite,
    "q_grouping_sets": q_grouping_sets,
    "pipe_clean_corpus": pipe_clean_corpus,
    "q_salted_join": q_salted_join,
    "q_not_exists": q_not_exists,
    "q_correlated_scalar": q_correlated_scalar,
    "tx_pack_sequences": tx_pack_sequences,
    "tx_mixture_plan": tx_mixture_plan,
    "m15_grouped_ols": m15_grouped_ols,
    "q_attribution": q_attribution,
    "tx_chunk_documents": tx_chunk_documents,
    "p16_grouped_percentiles": p16_grouped_percentiles,
    "q_exists_semi": q_exists_semi,
    "tx_top_ngrams": tx_top_ngrams,
    "p17_outliers": p17_outliers,
    "s_diff_versions": s_diff_versions,
    "tx_lang_stats": tx_lang_stats,
    "q_null_safe_join": q_null_safe_join,
    "ss_brute_topk": ss_brute_topk,
    "ss_brute_pairs": ss_brute_pairs,
    # -- oracle-backed full-parity twins of the rows-only dedup headliners
    # (late r11; classified by ALL_ORACLES membership, listed here next to
    # the other oracle-backed dd_* gates — ADVICE r11 comment fix)
    "dd_minhash_md5": dd_minhash_md5,
    "dd_simhash_md5_sigs": dd_simhash_md5_sigs,
    # -- oracle-backed survival contracts since r12 (VERDICT r11 item 1)
    "b8_smote_tomek": b8_smote_tomek,
    "b9_smote_enn": b9_smote_enn,
    # -- oracle-backed since r12 (hash-RNG Box-Muller EM twin)
    "i8_impute_em": i8_impute_em,
    # -- oracle-backed since r10/r11 (earlier graduations; kept in the
    # original r1 block position)
    "tx_fingerprint": tx_fingerprint,
    "m3_eval_classification": m3_eval_classification,
    "m4_feature_importances": m4_feature_importances,
    "m5_cross_val": m5_cross_val,
    "m12_single_row_inference": m12_single_row_inference,
    # -- rows-only (xxhash64 headliners whose full logic the md5 twins
    # replay)
    "dd_minhash_pairs": dd_minhash_pairs,
    "dd_simhash_pairs": dd_simhash_pairs,
    # -- oracle-backed (ss_ivf_topk graduated r12: engine-exact
    # integer-grid Lloyd's twin; ann/cosine graduated r11)
    "ss_ann_topk": ss_ann_topk,
    "ss_ivf_topk": ss_ivf_topk,
    "ss_cosine_pairs": ss_cosine_pairs,
    # -- round-1 gates
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_region_revenue": q5_region_revenue,
    "q_topk_per_group": q_topk_per_group,
    "q_sessionize": q_sessionize,
    "q_events_hourly": q_events_hourly,
    "q_json_extract": q_json_extract,
    "q_asof_join": q_asof_join,
    "q_pivot": q_pivot,
    "q_unpivot": q_unpivot,
    "q_rollup": q_rollup,
    "q_cube": q_cube,
    "q_having": q_having,
    "q_set_ops": q_set_ops,
    "q_sliding_window": q_sliding_window,
    "q_moving_avg": q_moving_avg,
    "st_hourly_counts": st_hourly_counts,
    "p1_shape_census": p1_shape_census,
    "p2_missing_counts": p2_missing_counts,
    "p3_total_missing": p3_total_missing,
    "p4_distinct_counts": p4_distinct_counts,
    "p5_type_classification": p5_type_classification,
    "p6_value_counts": p6_value_counts,
    "p7_rare_values": p7_rare_values,
    "p7_rare_summary": p7_rare_summary,
    "p8_class_distribution": p8_class_distribution,
    "p9_head_tail": p9_head_tail,
    "p10_example_values": p10_example_values,
    "p11_column_range": p11_column_range,
    "p12_correlation": p12_correlation,
    "p13_histogram": p13_histogram,
    "t7_target_candidates": t7_target_candidates,
    "s13_question_template": s13_question_template,
    "f1_f2_drop_select_numeric": f1_f2_drop_select_numeric,
    "f3_range_filter": f3_range_filter,
    "f6_null_partition": f6_null_partition,
    "f5_in_list_filter": f5_in_list_filter,
    "f7_drop_null_rows": f7_drop_null_rows,
    "f8_merge_interval": f8_merge_interval,
    "f13_exact_dedup": f13_exact_dedup,
    "e1_one_hot": e1_one_hot,
    "e2_label_encode": e2_label_encode,
    "e3_target_encode": e3_target_encode,
    "e4_frequency_encode": e4_frequency_encode,
    "e5_binary_encode": e5_binary_encode,
    "e6_date_features": e6_date_features,
    "e7_simple_hash": e7_simple_hash,
    "e8_feature_hash": e8_feature_hash,
    "e9_onehot_hash": e9_onehot_hash,
    "e10_embedding_hash": e10_embedding_hash,
    # -- round-2 late additions
    "q6_forecast_revenue": q6_forecast_revenue,
    "q14_promo_share": q14_promo_share,
    "q18_large_orders": q18_large_orders,
    "q_resample_gapfill": q_resample_gapfill,
    "tx_contamination": tx_contamination,
    "tx_boilerplate": tx_boilerplate,
    "tx_tfidf": tx_tfidf,
    "t9_stratified_sample": t9_stratified_sample,
    "e18_bucketize": e18_bucketize,
    "p18_key_skew": p18_key_skew,
    "tx_c4_filters": tx_c4_filters,
    "tx_domain_stats": tx_domain_stats,
    "q_range_frame": q_range_frame,
    "m16_lift_table": m16_lift_table,
    "q_funnel": q_funnel,
    "q_cohort_retention": q_cohort_retention,
    "p19_psi_drift": p19_psi_drift,
    "p20_expectations": p20_expectations,
    "s15_incremental_rollup": s15_incremental_rollup,
    "q_fuzzy_pairs": q_fuzzy_pairs,
    "q_event_transitions": q_event_transitions,
    "q_seasonal_anomaly": q_seasonal_anomaly,
    "ss_label_centroids": ss_label_centroids,
    "pipe_entity_resolution": pipe_entity_resolution,
    "m17_calibration": m17_calibration,
    "p21_mad_outliers": p21_mad_outliers,
    "p22_chi2_mi": p22_chi2_mi,
    "e19_winsorize": e19_winsorize,
    "q10_returned_revenue": q10_returned_revenue,
    "q12_priority_by_status": q12_priority_by_status,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "tx_unigram_logprob": tx_unigram_logprob,
    "tx_line_dedup": tx_line_dedup,
    "ss_semantic_dedup": ss_semantic_dedup,
    "m18_roc_auc": m18_roc_auc,
    "m19_roc_points": m19_roc_points,
    "p23_ks_drift": p23_ks_drift,
    # -- round-3 additions
    "s16_scd2": s16_scd2,
    "q_bm25": q_bm25,
    "p24_spearman": p24_spearman,
    "e20_robust_scale": e20_robust_scale,
    "m20_group_ttest": m20_group_ttest,
    "q_interval_join": q_interval_join,
    "f9_align_columns": f9_align_columns,
    "s3_csv_strings": s3_csv_strings,
    "p25_approx_distinct_quality": p25_approx_distinct_quality,
    "p37_hll_shard_merge": p37_hll_shard_merge,
    "st_stream_dedup": st_stream_dedup,
    "st_stateful_running": st_stateful_running,
    "q_ewma": q_ewma,
    "m21_pr_points": m21_pr_points,
    "m22_brier_logloss": m22_brier_logloss,
    "st_enriched_segments": st_enriched_segments,
    "m23_isotonic_calibration": m23_isotonic_calibration,
    "q_sql_surface": q_sql_surface,
    "t10_group_sample": t10_group_sample,
    "e21_group_scale": e21_group_scale,
    "q_recency_features": q_recency_features,
    "q7_volume_shipping": q7_volume_shipping,
    "q8_market_share": q8_market_share,
    "q9_profit_by_nation": q9_profit_by_nation,
    "q13_order_distribution": q13_order_distribution,
    "q15_top_supplier": q15_top_supplier,
    "q16_supplier_part_counts": q16_supplier_part_counts,
    "q17_small_qty_revenue": q17_small_qty_revenue,
    "q22_dormant_customers": q22_dormant_customers,
    "m24_confusion_matrix": m24_confusion_matrix,
    "m25_regression_metrics": m25_regression_metrics,
    "tx_url_canonicalize": tx_url_canonicalize,
    "tx_blocklist_filter": tx_blocklist_filter,
    "tx_script_stats": tx_script_stats,
    "s17_zorder_layout": s17_zorder_layout,
    "dd_incremental_pairs": dd_incremental_pairs,
    "t11_weighted_sample": t11_weighted_sample,
    "pipe_web_hygiene": pipe_web_hygiene,
    "e22_woe_encode": e22_woe_encode,
    "p26_k_anonymity": p26_k_anonymity,
    "p27_benford": p27_benford,
    "q_twap": q_twap,
    "e23_information_value": e23_information_value,
    "q_gini": q_gini,
    "q_rfm_segments": q_rfm_segments,
    "q_basket_lift": q_basket_lift,
    "q_abc_brands": q_abc_brands,
    "s18_schema_diff": s18_schema_diff,
    "tx_temperature_mix": tx_temperature_mix,
    "t12_group_weighted_sample": t12_group_weighted_sample,
    "tx_vocab_overlap": tx_vocab_overlap,
    "p28_moments": p28_moments,
    "tx_span_dedup": tx_span_dedup,
    "tx_dsir_select": tx_dsir_select,
    "q_pagerank": q_pagerank,
    "ss_random_project": ss_random_project,
    "ml_pca_contract": ml_pca_contract,
    "tx_bpe_pairs": tx_bpe_pairs,
    "t13_negative_sample": t13_negative_sample,
    "s19_compaction_plan": s19_compaction_plan,
    "st_sliding_topk": st_sliding_topk,
    "q_bloom_prejoin": q_bloom_prejoin,
    "q_triangles": q_triangles,
    "e22_loo_target_encode": e22_loo_target_encode,
    "t14_cluster_safe_split": t14_cluster_safe_split,
    "m23_ridge_path": m23_ridge_path,
    "q_churn_labels": q_churn_labels,
    "pipe_golden_record": pipe_golden_record,
    "m24_conformal": m24_conformal,
    "m25_ndcg": m25_ndcg,
    "tx_bpe_apply": tx_bpe_apply,
    "m26_classification_report": m26_classification_report,
    "q_rolling_corr": q_rolling_corr,
    "m27_sliced_report": m27_sliced_report,
    "s20_content_hash": s20_content_hash,
    "tx_zipf_slope": tx_zipf_slope,
    "tx_diversity": tx_diversity,
    "q_attribution_models": q_attribution_models,
    "p29_l_diversity": p29_l_diversity,
    "p30_dp_counts": p30_dp_counts,
    "q_join_cardinality": q_join_cardinality,
    "ml_kmeans": ml_kmeans,
    "q_event_patterns": q_event_patterns,
    "m29_time_series_cv": m29_time_series_cv,
    "s21_bin_manifest": s21_bin_manifest,
    "tx_pmi_collocations": tx_pmi_collocations,
    "tx_vocab_coverage": tx_vocab_coverage,
    "q_hierarchy_flatten": q_hierarchy_flatten,
    "t16_quota_allocation": t16_quota_allocation,
    "q_time_to_convert": q_time_to_convert,
    "dd_prefix_jaccard": dd_prefix_jaccard,
    "s22_range_boundaries": s22_range_boundaries,
    "p33_weighted_median": p33_weighted_median,
    "q_active_users": q_active_users,
    "p34_ref_integrity": p34_ref_integrity,
    "q_revenue_bridge": q_revenue_bridge,
    "m30_kaplan_meier": m30_kaplan_meier,
    "q_max_concurrency": q_max_concurrency,
    "q_max_concurrency_single": q_max_concurrency_single,
    "ml_silhouette": ml_silhouette,
    "m31_nmi": m31_nmi,
    "m32_ari": m32_ari,
    "ml_davies_bouldin": ml_davies_bouldin,
    "pipe_training_frame": pipe_training_frame,
    "m33_best_split": m33_best_split,
    "m34_best_f1": m34_best_f1,
    "tx_novelty": tx_novelty,
    "m35_pair_confusion": m35_pair_confusion,
    "p35_null_patterns": p35_null_patterns,
    "q_skyline": q_skyline,
    "q_cusum_changepoint": q_cusum_changepoint,
    "m36_trend": m36_trend,
    "e24_quantile_transform": e24_quantile_transform,
    "dd_containment": dd_containment,
    "m37_krippendorff": m37_krippendorff,
    "m38_bootstrap_ci": m38_bootstrap_ci,
    "m39_nelson_aalen": m39_nelson_aalen,
    "q_rank_fusion": q_rank_fusion,
    "m40_psm_att": m40_psm_att,
    "m41_did": m41_did,
    "m42_qini": m42_qini,
}


# ---------------------------------------------------------------- round-5 gates

def p36_cramers_v(spark: SparkSession, sf: str) -> DataFrame:
    """Cramér's V effect size between order priority and status
    (profiling.cramers_v) — the normalized companion to p22's chi2, with
    the empty-cell-complete chi2 identity sum((o-e)²/e - e) + n."""
    return P.cramers_v(load_table(spark, sf, "orders"), "o_orderpriority", "o_orderstatus")


def m43_cohens_kappa(spark: SparkSession, sf: str) -> DataFrame:
    """Cohen's kappa between the corpus ground-truth ``lang`` column and
    the engine's own n-gram language-ID prediction
    (profiling.cohens_kappa ∘ text.detect_language): the
    classifier-vs-truth agreement audit, chance-corrected — exactly the
    check a labeling pipeline runs before trusting a heuristic rater."""
    docs = load_table(spark, sf, "documents")
    return P.cohens_kappa(TX.detect_language(docs), "lang", "lang_pred")


def q_acf(spark: SparkSession, sf: str) -> DataFrame:
    """Autocorrelation (lags 1..5) of the daily total-quantity series
    (temporal.acf). Aggregate-then-window: lineitem collapses to one row
    per ship date (~2.5k for the 7-year synthetic range) before the only
    ordered pass, so the unpartitioned lag window is date-cardinality
    bounded, never row-count bounded. Daily sums of integer-valued
    quantities are EXACT, so both engines difference identical doubles."""
    from ml_data_pipeline_spark.operators import temporal as TP

    daily = (
        _li(spark, sf)
        .groupBy(F.date_format("l_shipdate", "yyyy-MM-dd").alias("d"))
        .agg(F.sum("l_quantity").alias("x"))
    )
    return TP.acf(daily, "x", "d", max_lag=5)


ALL_QUERIES.update(
    {
        "p36_cramers_v": p36_cramers_v,
        "m43_cohens_kappa": m43_cohens_kappa,
        "q_acf": q_acf,
    }
)


def q_adamic_adar(spark: SparkSession, sf: str) -> DataFrame:
    """Adamic-Adar customer affinity over the customer-part purchase
    graph (graph.adamic_adar): pairs of customers sharing rare parts rank
    highest. Candidate pairs come only from the self equi-join on the
    shared part — inverted-index shape, no crossJoin."""
    from ml_data_pipeline_spark.operators.graph import adamic_adar

    li = _li(spark, sf)
    orders = load_table(spark, sf, "orders")
    edges = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("v"))
    )
    return adamic_adar(edges, "u", "v", top_k=20)


def tx_bigram_lm(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram-LM fluency scores for every document under the corpus's own
    add-1-smoothed bigram model (text.bigram_logprob) — the word-order-
    aware step past tx_unigram_logprob toward the CCNet quality filter."""
    return TX.bigram_logprob(load_table(spark, sf, "documents"), "text", "doc_id")


ALL_QUERIES.update(
    {
        "q_adamic_adar": q_adamic_adar,
        "tx_bigram_lm": tx_bigram_lm,
    }
)


def ss_scalar_quantize(spark: SparkSession, sf: str) -> DataFrame:
    """int8 scalar-quantization audit of the embeddings table
    (similarity.dim_min_max + scalar_quantize): codes checksum + the
    reconstruction-error profile. The per-dim ranges are a 2·64-scalar
    collect (metadata); the codec itself is one codegen pass. Both
    engines floor identical doubles, so even the integer code sum is
    exact parity."""
    emb = load_table(spark, sf, "embeddings")
    mn, mx = SS.dim_min_max(emb, "embedding", 64)
    q = SS.scalar_quantize(emb, mn, mx)
    # coalesce per element is defense in depth: a constant dimension
    # (mn == mx) actually yields code 0 (greatest() skips the guarded-NULL
    # fraction) and reconstructs exactly — pinned by
    # test_scalar_quantize_constant_dim_exact — but if a future codec
    # variant ever emits NULL codes they must skip, not poison, the fold
    code_sum = F.aggregate(
        "codes", F.lit(0).cast("long"), lambda a, c: a + F.coalesce(c.cast("long"), F.lit(0))
    )
    return q.select(code_sum.alias("__cs"), "max_abs_err").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("__cs").alias("codes_sum"),
        F.round(F.avg("max_abs_err"), 6).alias("avg_max_err"),
        F.round(F.max("max_abs_err"), 6).alias("worst_err"),
    )


def q_semi_additive(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-additive measure (classic OLAP): a balance-like measure sums
    ACROSS customers but not across time — take each customer's LAST
    order value per month (struct-max on (date, orderkey): deterministic,
    no window), then sum per month. Two map-side-combinable groupBys,
    both keyed finer→coarser on the same month derivation."""
    orders = load_table(spark, sf, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("month")
    last = (
        orders.groupBy(F.col("o_custkey"), month)
        .agg(
            F.max(
                F.struct(
                    F.col("o_orderdate"), F.col("o_orderkey"), F.col("o_totalprice")
                )
            ).alias("__l")
        )
    )
    return (
        last.groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("__l.o_totalprice"), 2).alias("closing_balance"),
        )
        .orderBy("month")
    )


ALL_QUERIES.update(
    {
        "ss_scalar_quantize": ss_scalar_quantize,
        "q_semi_additive": q_semi_additive,
    }
)


def m44_logrank(spark: SparkSession, sf: str) -> DataFrame:
    """Two-arm log-rank test on time-to-first-error (temporal.logrank_test
    over the m30 Kaplan-Meier subject frame): arm = user_id parity, the
    stand-in for an experiment's hash-bucket assignment. The significance
    companion to the m30 curve."""
    from ml_data_pipeline_spark.operators.temporal import logrank_test

    ev = load_table(spark, sf, "events")
    spans = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    first_err = (
        ev.where(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.min("ts").alias("err_ts"))
    )
    subjects = spans.join(first_err, "user_id", "left").select(
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.floor(
            (
                F.unix_micros(F.coalesce("err_ts", "last_ts"))
                - F.unix_micros("first_ts")
            )
            / 3600000000.0
        )
        .cast("long")
        .alias("duration"),
        F.col("err_ts").isNotNull().cast("int").alias("event"),
    )
    return logrank_test(subjects, "duration", "event", "arm", 0, 1)


def m45_mannwhitney(spark: SparkSession, sf: str) -> DataFrame:
    """Mann-Whitney U between accepted (A) and returned (R) quantities
    (profiling.mann_whitney_u) — the rank-based member of the two-sample
    family (m20 Welch means, p23 KS shapes). l_quantity has ~50 distinct
    values, so the rank window runs over a 50-row aggregated frame."""
    return P.mann_whitney_u(_li(spark, sf), "l_quantity", "l_returnflag", "A", "R")


def m46_cuped(spark: SparkSession, sf: str) -> DataFrame:
    """CUPED variance reduction (profiling.cuped_adjustment): per-user
    pre-period activity value (before 2024-01-16) as the covariate for the
    post-period metric — the experiment-platform power calculation. One
    groupBy builds the per-user frame; one moment aggregate finishes."""
    ev = load_table(spark, sf, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(F.col("ts") < cut, F.col("value"))), F.lit(0.0)).alias(
            "x_pre"
        ),
        F.coalesce(F.sum(F.when(F.col("ts") >= cut, F.col("value"))), F.lit(0.0)).alias(
            "y_post"
        ),
    )
    return P.cuped_adjustment(per_user, "y_post", "x_pre")


ALL_QUERIES.update(
    {
        "m44_logrank": m44_logrank,
        "m45_mannwhitney": m45_mannwhitney,
        "m46_cuped": m46_cuped,
    }
)


def s24_partitioned_write(spark: SparkSession, sf: str) -> DataFrame:
    """Hive-partitioned parquet write + partition-pruned scan: events
    written partitionBy(event_type), read back with an event_type filter.
    The filter resolves at the DIRECTORY level (PartitionFilters in the
    plan, asserted in tests) — the layout that turns a 100 TB scan into a
    one-partition read. Values prove the round-trip loses nothing."""
    import hashlib

    ev = load_table(spark, sf, "events").select(
        "event_id", "user_id", "event_type", F.round("value", 6).alias("value")
    )
    stage = f"/tmp/mdp_part_stage/{_stage_tag(sf)}/events"
    ev.write.mode("overwrite").partitionBy("event_type").parquet(stage)
    back = spark.read.parquet(stage).where(F.col("event_type") == "purchase")
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


def s25_bucketed_join(spark: SparkSession, sf: str) -> DataFrame:
    """Bucketed-table co-located join: orders and lineitem saved
    bucketBy(8, orderkey) into the warehouse, then joined WITHOUT a
    shuffle (both sides pre-hashed into aligned buckets — the tests
    assert no Exchange feeds the join). THE Spark answer to 'this join
    runs nightly at 100 TB: stop paying its shuffle' — bucket once at
    write time, every later join on that key is exchange-free."""
    import hashlib
    import shutil
    from urllib.parse import urlparse

    tag = _stage_tag(sf)
    ot, lt = f"mdp_b_orders_{tag}", f"mdp_b_lineitem_{tag}"
    # per-process names (r11 review: two concurrent runs sharing one
    # warehouse dir interleaved saveAsTable writes); stale dirs from dead
    # pids are swept here, and a fresh session with an empty in-memory
    # catalog still clears its own leftover locations or saveAsTable
    # raises LOCATION_ALREADY_EXISTS
    import os as _os
    import re as _re

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for entry in _os.listdir(wh) if _os.path.isdir(wh) else []:
        m = _re.match(r"mdp_b_(?:orders|lineitem)_[0-9a-f]{8}_(\d+)$", entry)
        if m and int(m.group(1)) != _os.getpid():
            try:
                _os.kill(int(m.group(1)), 0)
            except ProcessLookupError:
                shutil.rmtree(f"{wh}/{entry}", ignore_errors=True)
            except OSError:
                pass
    for t in (ot, lt):
        if not spark.catalog.tableExists(t):
            shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    if not spark.catalog.tableExists(ot):
        load_table(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ).write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
            "overwrite"
        ).saveAsTable(ot)
    if not spark.catalog.tableExists(lt):
        # floor-on-cents, not round(x,2): floor of an identical double is
        # engine-exact; decimal rounding half-up/half-even diverges on
        # boundary values (the verify-skill gotcha)
        _li(spark, sf).select(
            "l_orderkey",
            (F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100) / 100.0).alias("rev"),
        ).write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
            "overwrite"
        ).saveAsTable(lt)
    o = spark.table(ot)
    li = spark.table(lt)
    joined = o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
    return joined.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("rev"), 2).alias("total_rev"),
        F.countDistinct("o_custkey").alias("n_custs"),
    )


ALL_QUERIES.update(
    {
        "s24_partitioned_write": s24_partitioned_write,
        "s25_bucketed_join": s25_bucketed_join,
    }
)


def ml_dbscan(spark: SparkSession, sf: str) -> DataFrame:
    """DBSCAN over the embeddings table (ml.clustering.dbscan_labels):
    eps-neighbors = exact cosine >= 0.3 pairs (the guarded brute baseline
    — at corpus scale the SAME labeling runs off cosine_pairs_lsh /
    IVF candidates), min_pts = 4. Full per-point labeling checked:
    (vec_id, label, is_core) for all 500*sf points — cluster membership,
    border assignment and noise all pinned by the oracle's independent
    recursive-closure replay."""
    from ml_data_pipeline_spark.ml.clustering import dbscan_labels

    emb = load_table(spark, sf, "embeddings")
    pairs = SS.brute_force_cosine_pairs(emb, threshold=0.3)
    return dbscan_labels(emb, pairs, id_col="vec_id", min_pts=4)


ALL_QUERIES.update({"ml_dbscan": ml_dbscan})


def ml_dbscan_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """DBSCAN on the SCALE candidate path (contract-attestation gate, the
    b8/b9 pattern; r14 — the sf1 probe measured the brute baseline's n²
    at 51x wall for 10x data, exactly as quadratic predicts, so the
    100 TB path needed its own first-class gate): eps-neighbors from
    similarity.ivf_candidate_pairs (KMeans cells, nprobe=2 multiprobe,
    exact cosine >= 0.3 verify — bucketed, no crossJoin) feeding the
    same dbscan_labels graph algebra.

    Labels are candidate-recall dependent (two eps-neighbors sharing no
    probed cell are missed), so no cross-engine replay exists; the gate
    instead ATTESTS the labeling's internal consistency against the
    exact candidate graph the engine built — each invariant falsifiable
    by a real labeling bug: every core point labeled; every border
    (labeled non-core) point's label == MIN of its core neighbors'
    labels; noise has no core neighbor; every core-core candidate edge
    joins equal labels (components correctness); and the run found at
    least one cluster (an all-noise collapse cannot read vacuously
    TRUE). The oracle pins n_points from the data + the all-TRUE
    contract; like b8/b9 it independently checks shape and count, not
    the engine-only label values."""
    from ml_data_pipeline_spark.cache import lazy_local_checkpoint
    from ml_data_pipeline_spark.ml.clustering import dbscan_labels

    emb = load_table(spark, sf, "embeddings")
    # pairs feed dbscan (degree + edges) AND the attestation joins; lab
    # feeds four branches — both are small derived frames, checkpointed
    # per the r13 lineage convention (raw embeddings stays recomputable)
    pairs = lazy_local_checkpoint(
        SS.ivf_candidate_pairs(
            emb, dim=64, threshold=0.3, nprobe=2  # ~sqrt(n) cells
        )
    )
    lab = lazy_local_checkpoint(
        dbscan_labels(emb, pairs, id_col="vec_id", min_pts=4)
    )
    e = pairs.select(F.col("id_a").alias("s"), F.col("id_b").alias("d")).unionByName(
        pairs.select(F.col("id_b").alias("s"), F.col("id_a").alias("d"))
    )
    ls = lab.select(F.col("vec_id").alias("s"))
    ld = lab.select(
        F.col("vec_id").alias("d"),
        F.col("label").alias("__ld"),
        F.col("is_core").alias("__cd"),
    )
    nb = (
        e.join(ld, "d")
        .groupBy("s")
        .agg(
            F.max(F.col("__cd").cast("int")).alias("__has_core_nb"),
            F.min(F.when(F.col("__cd"), F.col("__ld"))).alias("__min_core_lab"),
        )
    )
    full = lab.join(nb, lab["vec_id"] == nb["s"], "left")
    lbl, core = F.col("label"), F.col("is_core")
    has_core = F.coalesce(F.col("__has_core_nb"), F.lit(0)) == 1
    # core-core edge label equality, checked edge-wise
    la = lab.select(F.col("vec_id").alias("s"), F.col("label").alias("__lsx"), F.col("is_core").alias("__csx"))
    cc = (
        e.join(la, "s")
        .join(ld, "d")
        .agg(
            F.coalesce(
                F.bool_and(
                    F.when(F.col("__csx") & F.col("__cd"), F.col("__lsx") == F.col("__ld"))
                ),
                F.lit(True),
            ).alias("core_edges_label_consistent")
        )
    )
    checks = full.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.coalesce(F.bool_and(F.when(core, lbl.isNotNull())), F.lit(True)).alias(
            "core_all_labeled"
        ),
        F.coalesce(
            F.bool_and(
                F.when(
                    (~core) & lbl.isNotNull(),
                    has_core & (lbl == F.col("__min_core_lab")),
                )
            ),
            F.lit(True),
        ).alias("border_label_is_min_core_neighbor"),
        F.coalesce(
            F.bool_and(F.when(lbl.isNull(), ~has_core)), F.lit(True)
        ).alias("noise_has_no_core_neighbor"),
        (F.count(F.when(lbl.isNotNull(), 1)) > 0).alias("found_clusters"),
    )
    return checks.crossJoin(F.broadcast(cc)).select(
        "n_points",
        "core_all_labeled",
        "border_label_is_min_core_neighbor",
        "noise_has_no_core_neighbor",
        "core_edges_label_consistent",
        "found_clusters",
    )


ALL_QUERIES.update({"ml_dbscan_ivf": ml_dbscan_ivf})


# Round-6 addition: the single-sort baseline gate.
ALL_QUERIES.update({"i4_interpolate_single": i4_interpolate_single})


# ------------------------------------------------------------ round-8 additions
def dd_incremental_indexed(spark: SparkSession, sf: str) -> DataFrame:
    """Stored-index incremental near-dup (dedup.build_ngram_index +
    incremental_ngram_jaccard_pairs_indexed): the corpus index for docs
    doc_id < 400 is built once per (sf, warehouse) as a gram-bucketed
    table; the gate probes it with the appended batch (doc_id >= 400) —
    only the BATCH is shingled in this plan; the index side is a bucketed
    in-place scan with no corpus-sized exchange. Oracle: the SAME
    full-corpus exact recompute filtered to pairs touching the batch that
    dd_incremental_pairs answers to — the stored-index path loses nothing
    and invents nothing."""
    import hashlib
    import shutil
    from urllib.parse import urlparse

    from ml_data_pipeline_spark.operators import dedup as DD8

    docs = load_table(spark, sf, "documents")
    # tag = CONTENT fingerprint, not just the sf string: regenerated
    # testdata with a surviving warehouse must never probe a stale index
    # (review r8). One tiny xor-aggregate over the corpus half (~0.2s).
    fp = docs.where(F.col("doc_id") % 10 != 0).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.expr("bit_xor(xxhash64(doc_id, text))"), F.lit(0)
        ).alias("h"),
    ).first()
    tag = hashlib.md5(f"{sf}|{fp['n']}|{fp['h']}".encode()).hexdigest()[:8]
    tbl = f"mdp_ngram_idx10_{tag}"
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    if not spark.catalog.tableExists(tbl):
        # fresh session, surviving warehouse dir (the s25 gotcha)
        shutil.rmtree(f"{wh}/{tbl}", ignore_errors=True)
        DD8.build_ngram_index(docs.where(F.col("doc_id") % 10 != 0), tbl, n=3)
    # batch = every 10th doc: SF-PROPORTIONAL 10% of the corpus at every
    # scale (dd_incremental_pairs' doc_id >= 400 predicate is 20% of the
    # corpus at sf0.01 but 92% at sf0.1 — the opposite of the incremental
    # shape the stored index exists for)
    return DD8.incremental_ngram_jaccard_pairs_indexed(
        docs.where(F.col("doc_id") % 10 == 0), tbl, n=3, threshold=0.2
    )


ALL_QUERIES.update({"dd_incremental_indexed": dd_incremental_indexed})


def i6_mice_rf(spark: SparkSession, sf: str) -> DataFrame:
    """I6 with the reference's OTHER estimator option
    (mice_method.py:66-106: RandomForestRegressor(n_estimators=10,
    max_depth=10)): same chained-equation sweep, per-column MLlib
    RandomForestRegressor. Contract: every hole filled (zero nulls), row
    count preserved, and clipping keeps every fill inside the observed
    [min, max] of its column — all exactly checkable without pinning the
    forest's values."""
    from ml_data_pipeline_spark.operators import imputation_ml as IM

    src = _li(spark, sf).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_tax"
    )
    src = src.withColumn(
        "l_quantity",
        F.when(F.col("l_orderkey") % 10 == 3, F.lit(None)).otherwise(F.col("l_quantity")),
    )
    obs = src.agg(F.min("l_quantity").alias("lo"), F.max("l_quantity").alias("hi")).first()
    out = IM.impute_mice(src, ["l_quantity"], max_iter=1, estimator="random_forest")
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("nulls_q"),
        F.sum(
            (
                (F.col("l_quantity") < F.lit(obs["lo"]))
                | (F.col("l_quantity") > F.lit(obs["hi"]))
            ).cast("long")
        ).alias("n_out_of_range"),
    )


ALL_QUERIES.update({"i6_mice_rf": i6_mice_rf})


# -------------------------------------------------- round-8 sink/ML gates
# Driver gates for the SURVEY §2 components that previously had pytest-only
# coverage (VERDICT r7: "20 remain pytest-only"): the sink family (S7, S9,
# S10-S12, S14 + the T6 version gate), the column-surgery stragglers (F10,
# F11, F12, E17), and the ML-pipeline stragglers (M1, M7, M10, M11, M13,
# B10). Convention: filesystem sinks stage under a FRESH /tmp dir per
# (query, sf) so re-runs are deterministic; ML gates check exact contracts
# (counts, roundtrip equality, argmax, bounds) and leave model-dependent
# float VALUES unchecked, same as m6/m9.

_HASH_TEST_FRAC = 0.25  # shared by the gates below and their oracles


def _hash_split_cust(spark: SparkSession, sf: str):
    """customer + deterministic md5-bucket split (SA.split_by_hash — the
    engine-reproducible membership t8 proves against DuckDB)."""
    cust = load_table(spark, sf, "customer")
    return SA.split_by_hash(cust, "c_custkey", test_frac=_HASH_TEST_FRAC)


def _stage_dir(sf: str, leaf: str) -> str:
    """Fresh local staging dir, keyed by sf so scales never collide."""
    import hashlib
    import shutil

    root = f"/tmp/mdp_r8_stage/{_stage_tag(sf)}/{leaf}"
    shutil.rmtree(root, ignore_errors=True)
    return root


def f10_dtype_align(spark: SparkSession, sf: str) -> DataFrame:
    """F10 — align_dtypes to a reference schema: numeric-in-string columns
    cast back (exact double round-trip), an unparseable VARCHAR coerces to
    NULL (pandas errors='coerce' = try_cast). Oracle recomputes with
    DuckDB TRY_CAST."""
    from pyspark.sql import types as T

    cust = load_table(spark, sf, "customer").select(
        F.col("c_custkey").cast("string").alias("c_custkey"),
        F.col("c_acctbal").cast("string").alias("c_acctbal"),
        "c_mktsegment",
    )
    ref = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.DoubleType()),  # text → all NULL
        ]
    )
    return FL.align_dtypes(cust, ref).orderBy("c_custkey")


def f11_header_strip(spark: SparkSession, sf: str) -> DataFrame:
    """F11 — strip_column_names: whitespace-padded header names (the CSV
    ingest artifact the reference strips with df.columns.str.strip()) come
    back clean with values untouched."""
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_name", "c_mktsegment")
    messy = cust.toDF(" c_custkey ", "c_name\t", "  c_mktsegment")
    return FL.strip_column_names(messy).orderBy("c_custkey")


def e17_label_round(spark: SparkSession, sf: str) -> DataFrame:
    """E17 — post-balance label rounding (round → int cast) on a synthetic
    fractional label; offsets 0.25/0.75 keep every value away from the
    .5 half-up/half-even engine boundary."""
    df = load_table(spark, sf, "customer").select(
        "c_custkey",
        (
            F.col("c_nationkey")
            + F.when(F.col("c_custkey") % 2 == 0, F.lit(0.25)).otherwise(F.lit(0.75))
        ).alias("label"),
    )
    return E.round_labels(df, "label").orderBy("c_custkey")


def f12_feature_projection(spark: SparkSession, sf: str) -> DataFrame:
    """F12 — numeric feature projection excluding the target; the oracle
    derives the same list from information_schema (schema metadata, not a
    hard-coded VALUES list)."""
    from ml_data_pipeline_spark.ml.pipeline import numeric_feature_cols

    cust = load_table(spark, sf, "customer")
    feats = numeric_feature_cols(cust, target="c_acctbal")
    return spark.createDataFrame([(c,) for c in sorted(feats)], "feature string")


def m1_scaler_stats(spark: SparkSession, sf: str) -> DataFrame:
    """M1 — fit-on-train scaling contract: the StandardScaler stage fitted
    inside build_pipeline must carry exactly the TRAIN subset's mean and
    sample-std (never the full table's — the leakage the reference guards
    against). mu/sigma equality is checked in-query against a Spark
    aggregate over the same hash-train rows (exact, engine-local); the
    oracle owns the hash-split train count."""
    from pyspark.ml.feature import StandardScalerModel

    from ml_data_pipeline_spark.ml.pipeline import build_pipeline

    train = _hash_split_cust(spark, sf).where(~F.col("is_test")).drop("is_test")
    feats = ["c_acctbal", "c_nationkey"]
    pipe, _, _ = build_pipeline(
        train, "c_mktsegment", "logistic_regression", params={"maxIter": 5},
        feature_cols=feats,
    )
    model = pipe.fit(train)
    sc = next(s for s in model.stages if isinstance(s, StandardScalerModel))
    agg = train.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.avg(c).alias(f"mu_{c}") for c in feats],
        *[F.stddev_samp(c).alias(f"sd_{c}") for c in feats],
    ).first()
    rows = [
        (
            c,
            int(agg["n"]),
            bool(abs(float(sc.mean[i]) - agg[f"mu_{c}"]) <= 1e-6 * max(1.0, abs(agg[f"mu_{c}"]))),
            bool(abs(float(sc.std[i]) - agg[f"sd_{c}"]) <= 1e-6 * max(1.0, abs(agg[f"sd_{c}"]))),
        )
        for i, c in enumerate(feats)
    ]
    return spark.createDataFrame(
        rows, "feature string, n_train long, mu_is_train_mean boolean, sigma_is_train_std boolean"
    )


def s7_paired_sink(spark: SparkSession, sf: str) -> DataFrame:
    """S7 + T6 — paired train/test sink under one lock-step version commit,
    then the version gate over the reference's file naming; both splits are
    read BACK from the committed parquet and value-compared against the
    source, so the gate proves sink → scan parity, not just the write."""
    from ml_data_pipeline_spark.plans.dataset import Dataset
    from ml_data_pipeline_spark.sources.versioned import (
        VersionedDataset,
        check_paired_versions,
    )

    split = _hash_split_cust(spark, sf).select(
        "c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment", "is_test"
    )
    train = split.where(~F.col("is_test")).drop("is_test")
    test = split.where(F.col("is_test")).drop("is_test")
    root = _stage_dir(sf, "s7")
    info_tr, info_te = Dataset.from_df(train).save_pair(root, "cust", test)
    ok, _ = check_paired_versions(
        f"cust_train_v{info_tr.version}.csv", f"cust_test_v{info_te.version}.csv"
    )
    tr_back = VersionedDataset(spark, root, "cust_train").read(info_tr.version)
    te_back = VersionedDataset(spark, root, "cust_test").read(info_te.version)
    return (
        tr_back.withColumn("split", F.lit("train"))
        .unionByName(te_back.withColumn("split", F.lit("test")))
        .withColumn("gate_ok", F.lit(bool(ok)))
        .orderBy("c_custkey")
    )


def s9_version_lineage(spark: SparkSession, sf: str) -> DataFrame:
    """S6/S9 — two version commits with lineage metadata, listed back from
    the store: per version the committed row count (data-dependent, oracle
    recomputes), change-log length, parent pointer, and the reference
    ``{base}_vN.csv`` naming round-trip (parse_file_version /
    strip_file_version)."""
    from ml_data_pipeline_spark.sources import versioned as V

    cust = load_table(spark, sf, "customer")
    root = _stage_dir(sf, "s9")
    vd = V.VersionedDataset(spark, root, "cust")
    vd.write_version(cust, ["imported customer"])
    vd.write_version(cust.where(F.col("c_acctbal") > 0), ["dropped non-positive balances"])
    rows = []
    for v in vd.versions():
        meta = V.VersionInfo.from_json(vd._read_text(f"{vd._dir(v)}/_meta.json"))
        fname = f"{meta.base}_v{meta.version}.csv"
        rows.append(
            (
                v,
                vd.read(v).count(),
                len(meta.changes),
                meta.parent if meta.parent is not None else -1,
                V.parse_file_version(fname),
                V.strip_file_version(fname),
            )
        )
    return spark.createDataFrame(
        rows,
        "version int, n_rows long, n_changes int, parent int, parsed_version int, base string",
    )


def s12_description_sidecar(spark: SparkSession, sf: str) -> DataFrame:
    """S12 — column-description sidecar round-trip: descriptions derived
    from the DATA (distinct counts), written as ``name: desc`` lines, parsed
    back with load_description_sidecar, attached as schema comments via
    apply_descriptions, then read OUT of the schema metadata. The oracle
    recomputes the distinct counts."""
    import hashlib

    from ml_data_pipeline_spark.sources import meta_csv as MC

    cust = load_table(spark, sf, "customer")
    cols = ["c_custkey", "c_mktsegment", "c_nationkey"]
    d = cust.agg(*[F.countDistinct(c).alias(c) for c in cols]).first()
    path = f"/tmp/mdp_r8_desc_{_stage_tag(sf)}.txt"
    with open(path, "w", encoding="utf-8") as f:
        f.write("# customer column descriptions\n")  # colon-free line: skipped
        for c in cols:
            f.write(f"{c}: {d[c]} distinct values\n")
    annotated = MC.apply_descriptions(cust, MC.load_description_sidecar(path))
    rows = [
        (fld.name, fld.metadata["comment"])
        for fld in annotated.schema.fields
        if fld.name in cols
    ]
    return spark.createDataFrame(rows, "col_name string, description string").orderBy("col_name")


def _labeled_balance_task(df: DataFrame) -> DataFrame:
    """Shared learnable binary task for the M* gates: sign of the account
    balance from (c_acctbal, c_nationkey) — separable on the first feature,
    so model quality contracts are deterministic."""
    return df.withColumn("is_positive", (F.col("c_acctbal") > 0).cast("int"))


def m11_model_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """M11 + S10 + S11 — final train → PipelineModel sink → scan →
    re-predict: the reloaded model must reproduce every prediction
    (n_pred_mismatch = 0), and the hyperparameter JSON artifact must
    round-trip. The oracle owns the hash-split test count."""
    from ml_data_pipeline_spark.ml import pipeline as MLP

    split = _hash_split_cust(spark, sf)
    train = _labeled_balance_task(split.where(~F.col("is_test")).drop("is_test"))
    test = _labeled_balance_task(split.where(F.col("is_test")).drop("is_test"))
    model, metrics = MLP.train_and_evaluate(
        train, test, "is_positive", "logistic_regression",
        params={"maxIter": 10}, feature_cols=["c_acctbal", "c_nationkey"],
    )
    root = _stage_dir(sf, "m11")
    MLP.save_model(model, f"{root}/model")
    back = MLP.load_model(spark, f"{root}/model")
    p1 = model.transform(test).select("c_custkey", "prediction")
    p2 = back.transform(test).select("c_custkey", F.col("prediction").alias("p2"))
    n_mismatch = p1.join(p2, "c_custkey").where(F.col("prediction") != F.col("p2")).count()
    jpath = f"{root}/params.json"
    MLP.save_params_json(
        jpath, "logistic_regression", "is_positive", "classification",
        {"maxIter": 10}, ("accuracy", metrics["accuracy"]),
    )
    loaded = MLP.load_params_json(jpath)
    params_ok = (
        loaded["best_params"] == {"maxIter": 10}
        and loaded["model_type"] == "logistic_regression"
        and loaded["task_type"] == "classification"
    )
    return spark.createDataFrame(
        [(p1.count(), n_mismatch, bool(params_ok))],
        "n_test long, n_pred_mismatch long, params_ok boolean",
    )


def m13_scorer_suite(spark: SparkSession, sf: str) -> DataFrame:
    """M13 — scorer adaptation: task auto-detection picks the right metric
    family (few-distinct int target → classification, continuous →
    regression), the classification suite carries its 5 metrics (accuracy,
    precision, recall, f1, roc_auc), and the evaluator's accuracy equals
    the exact SQL confusion-count ratio bit-for-bit."""
    from ml_data_pipeline_spark.ml import pipeline as MLP

    split = _hash_split_cust(spark, sf)
    train = _labeled_balance_task(split.where(~F.col("is_test")).drop("is_test"))
    test = _labeled_balance_task(split.where(F.col("is_test")).drop("is_test"))
    task_cls = MLP.detect_task_type(train, "is_positive")
    task_reg = MLP.detect_task_type(train, "c_acctbal")
    model, metrics = MLP.train_and_evaluate(
        train, test, "is_positive", "logistic_regression",
        params={"maxIter": 10}, feature_cols=["c_acctbal", "c_nationkey"],
    )
    manual_acc = (
        model.transform(test)
        .agg(F.avg((F.col("prediction") == F.col("is_positive")).cast("double")))
        .first()[0]
    )
    return spark.createDataFrame(
        [
            (
                task_cls,
                task_reg,
                len(metrics),
                bool(abs(metrics["accuracy"] - manual_acc) <= 1e-12),
            )
        ],
        "task_cls string, task_reg string, n_cls_metrics int, acc_exact boolean",
    )


def b10_bagging_floor(spark: SparkSession, sf: str) -> DataFrame:
    """B10 — bagging via MLlib RandomForest (the SURVEY §2.7 mapping:
    bootstrap-aggregated trees ARE the bagging estimator): the committed
    ensemble carries the requested tree count and clears a 0.9 accuracy
    floor on the separable task (exact values model-dependent, unchecked)."""
    from ml_data_pipeline_spark.ml import pipeline as MLP

    split = _hash_split_cust(spark, sf)
    train = _labeled_balance_task(split.where(~F.col("is_test")).drop("is_test"))
    test = _labeled_balance_task(split.where(F.col("is_test")).drop("is_test"))
    model, metrics = MLP.train_and_evaluate(
        train, test, "is_positive", "random_forest",
        params={"numTrees": 20, "maxDepth": 5}, feature_cols=["c_acctbal", "c_nationkey"],
    )
    n_trees = int(model.stages[-1].getNumTrees)
    return spark.createDataFrame(
        [(test.count(), n_trees, bool(metrics["accuracy"] >= 0.9))],
        "n_test long, n_trees int, acc_ge_floor boolean",
    )


def m10_importance_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """M10 + S14 — permutation importance (the tested SHAP stand-in) over
    three features of which exactly one determines the label, persisted
    through the S14 versioned importance sink and read back: the
    label-defining feature must rank first."""
    from ml_data_pipeline_spark.ml import pipeline as MLP
    from ml_data_pipeline_spark.ml.explain import permutation_importance, save_importances
    from ml_data_pipeline_spark.sources.versioned import VersionedDataset

    split = _hash_split_cust(spark, sf).withColumn(
        "noise", (F.col("c_custkey") % 97).cast("double")
    )
    feats = ["c_acctbal", "c_nationkey", "noise"]
    train = _labeled_balance_task(split.where(~F.col("is_test")).drop("is_test"))
    test = _labeled_balance_task(split.where(F.col("is_test")).drop("is_test"))
    model, _ = MLP.train_and_evaluate(
        train, test, "is_positive", "logistic_regression",
        params={"maxIter": 10}, feature_cols=feats,
    )
    imps = permutation_importance(
        model, test, "is_positive", feats, task="classification", metric="accuracy"
    )
    root = _stage_dir(sf, "m10")
    save_importances(spark, imps, root, "imp", "logistic_regression")
    back = VersionedDataset(spark, root, "imp").read(0)
    top = back.orderBy("rank").first()
    return spark.createDataFrame(
        [(top["feature"], int(top["rank"]), back.count(), top["model"])],
        "top_feature string, top_rank int, n_features long, model string",
    )


def m7_tpe_trials(spark: SparkSession, sf: str) -> DataFrame:
    """M7 contract (m6-shape): tpe_search runs n_trials > n_startup so the
    TPE proposal path (not just random startup) executes against real CV
    jobs; the trial history is densely numbered, every mean <= best, and
    every proposed param stays inside its bounds."""
    from ml_data_pipeline_spark.ml.tuning import tpe_search

    orders = (
        load_table(spark, sf, "orders")
        # deterministic 1/4 subsample: 12 CV fits (6 trials x 2 folds) are
        # the gate's cost and the CONTRACT (argmax, bounds, numbering) is
        # data-size-independent — the full-data path is m6's
        .where(F.col("o_orderstatus").isin("F", "O") & (F.col("o_orderkey") % 4 == 0))
        .select(
            "o_orderstatus",
            F.col("o_totalprice").cast("double"),
            F.year("o_orderdate").cast("double").alias("o_year"),
        )
        # 12 LR fits on a few-thousand-row frame: task-launch overhead, not
        # data, is the cost — 4 partitions instead of 32 per treeAggregate
        # round, and maxIter capped via a single-choice space dimension
        .coalesce(4)
    )
    res = tpe_search(
        orders, "o_orderstatus", "logistic_regression",
        space={"regParam": (1e-4, 10.0), "maxIter": [10]},
        n_trials=6, n_folds=2, metric="accuracy",
    )
    best = res["best"]["mean"]
    rows = [
        (
            t["trial"],
            bool(t["mean"] <= best + 1e-12),
            bool(1e-4 <= t["params"]["regParam"] <= 10.0),
        )
        for t in res["trials"]
    ]
    return spark.createDataFrame(rows, "trial int, mean_le_best boolean, param_in_bounds boolean")


ALL_QUERIES.update(
    {
        "f10_dtype_align": f10_dtype_align,
        "f11_header_strip": f11_header_strip,
        "e17_label_round": e17_label_round,
        "f12_feature_projection": f12_feature_projection,
        "m1_scaler_stats": m1_scaler_stats,
        "s7_paired_sink": s7_paired_sink,
        "s9_version_lineage": s9_version_lineage,
        "s12_description_sidecar": s12_description_sidecar,
        "m11_model_roundtrip": m11_model_roundtrip,
        "m13_scorer_suite": m13_scorer_suite,
        "b10_bagging_floor": b10_bagging_floor,
        "m10_importance_roundtrip": m10_importance_roundtrip,
        "m7_tpe_trials": m7_tpe_trials,
    }
)


# ------------------------------------------------------------ round-9 additions

def m10_linear_shap(spark: SparkSession, sf: str) -> DataFrame:
    """M10 made first-class (VERDICT r8 item 3 — the last 'partial'):
    EXACT linear SHAP with no shap package, mirroring the reference's
    shap.LinearExplainer branch (ref feature_importance_shap_logic.py:
    136-287). Spark fits OLS with solver='normal', regParam=0 — the
    closed-form normal-equation solution, which DuckDB reproduces from
    var_pop/covar_pop algebra (2-feature system inverted symbolically) —
    then ml.explain.linear_shap projects per-row Shapley values
    phi_i = c_i*(x_i − E[x_i]) as pure codegen expressions.

    Gate row: per-feature mean |phi| (the SHAP importance the reference
    ranks by), the base value (== f(E[x]) == mean(y), an OLS identity),
    and the additivity residual max |base + Σphi − prediction| — zero in
    exact algebra, rounded at 2dp to absorb float associativity."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    from ml_data_pipeline_spark.ml import explain as EX

    li = _li(spark, sf).select("l_quantity", "l_discount", "l_extendedprice")
    assembled = VectorAssembler(
        inputCols=["l_quantity", "l_discount"], outputCol="features"
    ).transform(li)
    model = LinearRegression(
        featuresCol="features",
        labelCol="l_extendedprice",
        regParam=0.0,
        solver="normal",
    ).fit(assembled)
    coefs = [float(c) for c in model.coefficients]
    preds = model.transform(assembled)
    shap = EX.linear_shap(
        preds, ["l_quantity", "l_discount"], coefs, float(model.intercept)
    )
    return shap.agg(
        F.round(F.avg(F.abs(F.col("phi_l_quantity"))), 2).alias("mas_quantity"),
        F.round(F.avg(F.abs(F.col("phi_l_discount"))), 2).alias("mas_discount"),
        F.round(F.first("shap_base"), 2).alias("base_value"),
        F.round(
            F.max(
                F.abs(
                    F.col("shap_base")
                    + F.col("phi_l_quantity")
                    + F.col("phi_l_discount")
                    - F.col("prediction")
                )
            ),
            2,
        ).alias("additivity_err"),
        F.count(F.lit(1)).alias("n_rows"),
    )


ALL_QUERIES.update({"m10_linear_shap": m10_linear_shap})


def m14_soft_cancel(spark: SparkSession, sf: str) -> DataFrame:
    """M14 driver gate (VERDICT r8 item 6 — the last pytest-only
    component): soft-cancel of a running operator via session.job_group,
    the Spark-native form of the reference's worker _should_stop +
    psutil child-kill (ref selection_of_parameters/
    selection_parameters_parameter_tuning_worker.py:37-42,95-117).

    A deliberately slow job (mapInPandas sleep, ~30s uncancelled) starts
    under a job group in a worker thread; the main thread waits via
    statusTracker until the group's job is actually RUNNING, cancels the
    group, and asserts (a) the cancellation SURFACED as an exception in
    the launching thread, (b) the job died well under its uncancelled
    duration, (c) no job of the group remains active (no orphans). All
    three are hard booleans — the oracle is the constant row.

    Two defenses against the multi-job race (r11: a full-sweep run hit
    it — 'Failed to cancel job group: cannot find active jobs'): the
    victim is a NATIVELY 8-partition range with no exchange, so count()
    executes as ONE job (the old repartition(8) + AQE shape ran a fast
    shuffle job first, and under load the cancel could land in the gap
    between that job finishing and the slow job registering — cancelling
    nothing, after which the slow job ran to completion uncancelled);
    and the cancel is RE-ISSUED while the worker thread stays alive
    (cancelJobGroup only cancels currently-active jobs — idempotent, and
    it sweeps any job that still slips into the gap)."""
    import threading
    import time

    from ml_data_pipeline_spark.session import job_group

    sc = spark.sparkContext
    gid = f"m14_cancel_{int(time.monotonic() * 1000)}"

    def slow(batches):
        import time as _t

        for pdf in batches:
            _t.sleep(30)
            yield pdf

    victim = spark.range(0, 64, 1, 8).mapInPandas(slow, "id long")
    outcome: dict = {}

    def run():
        with job_group(spark, gid, "m14 soft-cancel gate"):
            try:
                victim.count()
                outcome["err"] = None
            except Exception as e:  # the cancellation lands here
                outcome["err"] = e

    worker = threading.Thread(target=run, daemon=True)
    worker.start()
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 120
    started = False
    while time.monotonic() < deadline and not started:
        for jid in tracker.getJobIdsForGroup(gid):
            info = tracker.getJobInfo(jid)
            if info is not None and str(info.status) == "RUNNING":
                started = True
                break
        if not started:
            time.sleep(0.1)
    # the quantity under test is death time AFTER the cancel — measured
    # from the cancel call, not from thread start (job startup on a cold
    # or loaded machine must not fail the gate; r9 review)
    t_cancel = time.monotonic()
    job_group(spark, gid).cancel()
    # re-issue while the thread lives: cancelJobGroup is idempotent and
    # only touches currently-active jobs, so this sweeps any group job
    # that registered after the first cancel (the multi-job race above)
    while worker.is_alive() and time.monotonic() - t_cancel < 60:
        worker.join(0.5)
        if worker.is_alive():
            job_group(spark, gid).cancel()
    elapsed = time.monotonic() - t_cancel
    err = outcome.get("err")
    surfaced = started and err is not None and "cancel" in str(err).lower()
    # fast-death bound = just under the UNCANCELLED duration (the 30s
    # mapInPandas sleep): a completed batch cannot die before 30s, so
    # elapsed < 28 still proves the cancel (not completion) ended the job,
    # while a loaded machine's slow worker-kill no longer fails the gate
    # on wall-clock alone (ADVICE r9 — was a fixed 20s)
    cancelled_fast = (not worker.is_alive()) and elapsed < 28.0
    no_orphans = True
    for jid in tracker.getJobIdsForGroup(gid):
        info = tracker.getJobInfo(jid)
        if info is not None and str(info.status) == "RUNNING":
            no_orphans = False
    return spark.createDataFrame(
        [(bool(surfaced), bool(cancelled_fast), bool(no_orphans))],
        "cancel_surfaced boolean, cancelled_fast boolean, no_orphans boolean",
    )


ALL_QUERIES.update({"m14_soft_cancel": m14_soft_cancel})


def st_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream interval join gate: click→purchase attribution
    (streaming/events_stream.attribution_join — both sides watermarked,
    purchase time bounded to [click_ts, click_ts + 1h) so the state store
    evicts buffered clicks once the watermark passes their horizon) over
    the staged events stream must equal the BATCH q_attribution answer —
    hash-level proof of batch/stream parity for the bounded-state join,
    completing the streaming gate family (agg / dedup / custom-stateful /
    stream-stream join).

    Drained in one availableNow micro-batch (the shared stage is few
    files and maxFilesPerTrigger is unset): inner-join matches emit as
    both sides land in state within the batch, so the pair set is exact.
    Across MULTIPLE batches a randomly-partitioned stage could evict a
    click before a later file delivers its in-horizon purchase (the
    watermark line is a correctness contract for unbounded streams, not a
    replay artifact to engineer around) — the replay-tail behavior is
    exercised in unit tests, same policy as st_stream_dedup."""
    from ml_data_pipeline_spark.streaming import events_stream as ES

    stage = _stage_events(spark, sf)
    stream = ES.read_events_stream(spark, stage)
    out = ES.run_to_memory(ES.attribution_join(stream), "st_stream_join", "append")
    return out.select("purchase_id", "click_id", "user_id").orderBy(
        "purchase_id", "click_id"
    )


ALL_QUERIES.update({"st_stream_join": st_stream_join})

def dd_incremental_append(spark: SparkSession, sf: str) -> DataFrame:
    """Driver gate for the APPEND half of the stored-index incremental
    flow (dd_incremental_indexed covers build+probe; this one runs
    build → append_ngram_index(batch1) → probe(batch2), the nightly
    sequence examples/incremental_dedup.py demonstrates): corpus =
    doc_id % 10 ∉ {0,5}, appended batch1 = % 10 == 0, probed batch2 =
    % 10 == 5. After the append the stored index holds corpus ∪ batch1,
    so batch2's probe must equal the FULL exact recompute filtered to
    pairs touching batch2 — proving the manifest-committed append loses
    nothing and invents nothing. Re-running the gate re-issues the append,
    which the committed-manifest short-circuit turns into a no-op
    (idempotence exercised by every sweep, not just unit tests)."""
    import hashlib
    import shutil
    from urllib.parse import urlparse

    from ml_data_pipeline_spark.operators import dedup as DD9

    docs = load_table(spark, sf, "documents")
    stored_half = docs.where(F.col("doc_id") % 10 != 5)  # corpus ∪ batch1
    fp = stored_half.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(doc_id, text))"), F.lit(0)).alias("h"),
    ).first()
    tag = hashlib.md5(f"{sf}|{fp['n']}|{fp['h']}".encode()).hexdigest()[:8]
    tbl = f"mdp_ngram_appendix_{tag}"
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    if not spark.catalog.tableExists(tbl):
        shutil.rmtree(f"{wh}/{tbl}", ignore_errors=True)
        DD9.build_ngram_index(
            docs.where((F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 10 != 5)),
            tbl,
            n=3,
        )
    DD9.append_ngram_index(docs.where(F.col("doc_id") % 10 == 0), tbl, n=3)
    return DD9.incremental_ngram_jaccard_pairs_indexed(
        docs.where(F.col("doc_id") % 10 == 5), tbl, n=3, threshold=0.2
    )


ALL_QUERIES.update({"dd_incremental_append": dd_incremental_append})

"""Report aggregations (SURVEY §2.4 A4-A9, §2.5 W5) + event-sequence
windows.

Rebuilds the reference's five Excel summary sheets (main.py:466-707) as
plain aggregate DataFrames, plus the ranked/sessionized event analytics
the same shapes cover on the driver's ``events`` table. Everything is
built-in aggregates/windows; monetary/double sums go through DECIMAL so
results are partitioning-order-exact (the north-rule determinism
requirement), then cast back to double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = r"[^a-z0-9]+"
QUALITY_BANDS = [(0.9, "优"), (0.8, "良"), (0.6, "中")]
QUALITY_DEFAULT = "差"
SESSION_GAP_SEC = 1800


def ntz_epoch(col: str) -> "F.Column":
    """tz-independent epoch seconds: timestampdiff on TIMESTAMP_NTZ is
    pure calendar arithmetic (unix_timestamp would shift with the
    session timezone). The parquet ``ts`` columns read as NTZ under
    Spark 4's inferTimestampNTZ default, making this fully
    tz-independent. CAVEAT for driver-owned sessions that disable the
    inference: casting the then-LTZ column to NTZ goes through the
    SESSION timezone, so this expression assumes a UTC session in that
    configuration (get_spark sets UTC; a non-UTC session with inference
    off would shift epochs relative to the DuckDB oracle — convert via
    to_utc_timestamp first if that configuration ever matters)."""
    return F.expr(
        f"timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        f" CAST({col} AS TIMESTAMP_NTZ))"
    )


def page_conf(doc_id, page_num) -> "F.Column":
    """Deterministic synthetic per-page confidence (the driver tables
    carry no OCR confidence; reference semantics need one for A7)."""
    return (((doc_id * 131 + page_num * 17 + 5) % 101) / F.lit(100.0)).cast("double")


def quality_band(conf) -> "F.Column":
    """A7 banding ladder (reference main.py:594-630)."""
    expr = F.lit(QUALITY_DEFAULT)
    for threshold, label in reversed(QUALITY_BANDS):
        expr = F.when(conf >= threshold, F.lit(label)).otherwise(expr)
    return expr


def page_quality(pages: DataFrame) -> DataFrame:
    conf = page_conf(F.col("doc_id"), F.col("page_num"))
    return pages.select(
        "doc_id",
        "role",
        "page_num",
        conf.alias("conf"),
        F.length("text").cast("long").alias("text_len"),
        quality_band(conf).alias("quality"),
    )


def keyword_top(docs: DataFrame) -> DataFrame:
    """A8: global token frequency top-50 with distinct-doc counts
    (reference main.py:632-667; F7 short/digit token filter,
    ocr_engine.py:407)."""
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), TOKEN_SPLIT_RE)).alias("token")
    ).filter((F.length("token") >= 2) & ~F.col("token").rlike(r"^[0-9]+$"))
    counts = toks.groupBy("token").agg(
        F.count("*").alias("n"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    # top-N via orderBy+limit → TakeOrderedAndProject: each partition
    # computes a partial top-N in parallel and the driver merges N·P
    # rows. A row_number() window over an UNPARTITIONED orderBy would
    # instead funnel the entire web-scale vocabulary through one
    # reducer. rank is derived after the (tiny) limit.
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(50)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"), "token", "n", "n_docs"
    )


def page_top_keywords(pages: DataFrame) -> DataFrame:
    """A3: top-3 tokens per page (reference ocr_engine.py:392-412
    most_common(10); 3 here to keep fixtures small), deterministic
    tiebreak (count desc, token asc)."""
    toks = pages.select(
        "doc_id", "role", "page_num",
        F.explode(F.split(F.lower("text"), TOKEN_SPLIT_RE)).alias("token"),
    ).filter((F.length("token") >= 2) & ~F.col("token").rlike(r"^[0-9]+$"))
    counts = toks.groupBy("doc_id", "role", "page_num", "token").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("doc_id", "role", "page_num").orderBy(
        F.desc("n"), F.asc("token")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id", "role", "page_num",
            F.col("rank").cast("long").alias("rank"), "token", "n",
        )
    )


def timeline(feat_pages: DataFrame) -> DataFrame:
    """A9: per extracted date — pages, distinct docs, role split, plus
    the first-3 sample documents (reference main.py:696 slices 3 sample
    files per date; sorted here for determinism)."""
    ex = feat_pages.select("doc_id", "role", F.explode("dates").alias("date_s"))
    return ex.groupBy("date_s").agg(
        F.count("*").alias("n_pages"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.when(F.col("role") == "voucher", 1)).alias("n_voucher"),
        F.count(F.when(F.col("role") == "reference", 1)).alias("n_reference"),
        F.array_join(
            F.transform(
                F.slice(F.array_sort(F.collect_set("doc_id")), 1, 3),
                lambda x: x.cast("string"),
            ),
            "|",
        ).alias("sample_docs"),
    )


def doc_processing_stats(exploded: DataFrame) -> DataFrame:
    """A6: per-document processing stats + grand-total row (reference
    main.py:550-592 writes one row per file — pages, seconds, speed —
    then appends a manual 合计 row; Spark's ROLLUP is the idiomatic
    form, grouping-set NULL ↦ 合计).

    The sandbox has no OCR wall times; ``ms`` is the deterministic
    char-count proxy (1 char ≡ 1 ms) standing in for the per-file
    timing column, so speed = spans / (chars/1000) is oracle-checkable.
    """
    per_doc = exploded.rollup("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.coalesce(F.sum(F.length("text")), F.lit(0)).cast("long").alias("ms"),
    )
    return per_doc.select(
        F.when(F.col("doc_id").isNull(), F.lit("合计"))
        .otherwise(F.col("doc_id").cast("string"))
        .alias("doc"),
        F.col("n_spans").cast("long").alias("n_spans"),
        "ms",
        F.when(F.col("ms") > 0,
               F.col("n_spans").cast("double")
               / (F.col("ms").cast("double") / F.lit(1000.0)))
        .otherwise(F.lit(0.0))
        .alias("spans_per_sec"),
    )


def lineitem_rollup(lineitem: DataFrame) -> DataFrame:
    """A6-shaped rollup with grand-total rows (reference main.py:550-592
    appends a manual 合计 row; Spark rollup() is the idiomatic form)."""
    dec = lambda c: F.col(c).cast("decimal(28,6)")  # noqa: E731
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_price"),
        )
    )


def events_sessions(events: DataFrame) -> DataFrame:
    """Sessionization: gaps-and-islands on per-user event times (the W3
    lag+cumsum shape applied to the events table)."""
    epoch = ntz_epoch("ts")
    e = events.select(
        "user_id", "event_id", epoch.alias("epoch"),
        F.col("value").cast("decimal(28,6)").alias("value_dec"),
    )
    w = Window.partitionBy("user_id").orderBy("epoch", "event_id")
    brk = F.when(
        (F.col("epoch") - F.lag("epoch").over(w)) <= SESSION_GAP_SEC, F.lit(0)
    ).otherwise(F.lit(1))
    sess = e.withColumn("brk", brk).withColumn(
        "session", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", "session").agg(
        F.count("*").alias("n_events"),
        F.min("epoch").alias("t_start"),
        F.max("epoch").alias("t_end"),
        F.sum("value_dec").cast("double").alias("sum_value"),
    ).withColumn("session", F.col("session").cast("long"))


def events_topk(events: DataFrame) -> DataFrame:
    """W5: top-3 events per user by value, deterministic tiebreak."""
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", F.col("rn").cast("long").alias("rn"), "event_id", "value")
    )


# strict-order funnel stage spec — shared with oracles.events_funnel_sql
# (change both sides together)
FUNNEL_STAGES: tuple[str, ...] = ("view", "click", "purchase")


def events_funnel(events: DataFrame) -> DataFrame:
    """Strict-order conversion funnel: per user, the first time each
    stage completes strictly AFTER the previous stage's first
    completion (the standard product-analytics funnel over an event
    log). Emits one row per user with the per-stage first-completion
    epochs (NULL once a stage is missed), the count of stages reached
    and the end-to-end conversion verdict.

    Scale shape: one map-side-combinable groupBy(user_id) per stage +
    equi-join-backs — never a per-user ordered window scan, so a hot
    user's million events are combiner-reduced, not single-reducer
    sorted."""
    epoch = ntz_epoch("ts")
    e = events.select(
        "user_id", F.col("event_type").alias("et"), epoch.alias("epoch")
    )
    out = e.select("user_id").distinct()
    prev = None
    prev_t = None  # previous stage's (user_id, t_prev) aggregate
    tcols = []
    for s in FUNNEL_STAGES:
        se = e.filter(F.col("et") == s)
        if prev_t is not None:
            # join the previous stage's AGGREGATE (exactly the users
            # that completed it), not the accumulated left-join tree:
            # keeps the plan linear in the number of stages instead of
            # re-evaluating the whole uncached join prefix per stage
            se = se.join(prev_t, "user_id").filter(
                F.col("epoch") > F.col(prev)
            )
        t = se.groupBy("user_id").agg(
            F.min("epoch").cast("long").alias(f"t_{s}")
        )
        out = out.join(t, "user_id", "left")
        prev = f"t_{s}"
        prev_t = t
        tcols.append(prev)
    reached = sum(
        (F.col(c).isNotNull().cast("int") for c in tcols), F.lit(0)
    ).cast("long")
    return out.select(
        "user_id",
        *tcols,
        reached.alias("stages_reached"),
        F.col(tcols[-1]).isNotNull().alias("converted"),
    )


RETENTION_WEEK_SEC = 604_800  # cohort granularity (7 days)


def events_retention(events: DataFrame) -> DataFrame:
    """Cohort retention — the classic product/engagement rollup: users
    cohorted by the absolute week of their FIRST event; for each
    (cohort_week, week_offset), how many cohort members were active
    and the retained fraction. Week index = epoch DIV 604800 (pure
    integer arithmetic); retention = one int/int division.

    Scale shape: distinct (user, week) activity rows → per-user min
    (map-side combinable) → two small groupBys + an equi-join back on
    the cohort key — no window, no per-user event-stream scan."""
    epoch = ntz_epoch("ts")
    weeks = (
        events.select("user_id", epoch.alias("epoch"))
        .select(
            "user_id",
            F.expr(f"epoch DIV {RETENTION_WEEK_SEC}")
            .cast("long")
            .alias("week"),
        )
        .distinct()
    )
    w0 = weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    act = weeks.join(w0, "user_id").select(
        "cohort_week",
        (F.col("week") - F.col("cohort_week")).cast("long").alias("week_offset"),
        "user_id",
    )
    sizes = w0.groupBy("cohort_week").agg(
        F.count("*").cast("long").alias("n_cohort")
    )
    ret = act.groupBy("cohort_week", "week_offset").agg(
        F.count("*").cast("long").alias("n_active")
    )
    return ret.join(sizes, "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "n_cohort",
        (F.col("n_active").cast("double") / F.col("n_cohort").cast("double"))
        .alias("retention_frac"),
    )


Q3_SEGMENT = "BUILDING"
Q3_CUTOFF_EPOCH = 883_612_800  # 1998-01-01 UTC (tz-independent epoch)
Q3_TOPK = 10


def _revenue_dec() -> "F.Column":
    """price · (1 − discount) in EXACT decimal arithmetic: inputs are
    2-decimal values, so the DECIMAL(18,2) casts are exact and the
    product (DECIMAL ⩽(38,4)) never rounds — sums cross the oracle
    boundary bit-equal (the lineitem_rollup recipe extended to a
    product)."""
    one = F.lit(1).cast("decimal(18,2)")
    return F.col("l_extendedprice").cast("decimal(18,2)") * (
        one - F.col("l_discount").cast("decimal(18,2)")
    )


def shipping_priority(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """TPC-H Q3-shaped shipping-priority query: revenue of not-yet-
    shipped lineitems of pre-cutoff orders from one market segment,
    top-k orders. The selective dims filter BEFORE the joins (the
    predicates push into the scans), the segment-filtered customer
    list broadcasts, and the top-k is TakeOrdered — never a global
    sort. Date predicates compare tz-independent epochs.

    Emits (rank, order_key, revenue, order_epoch, priority)."""
    c = customer.filter(F.col("c_mktsegment") == Q3_SEGMENT).select("c_custkey")
    o = (
        orders.withColumn("o_epoch", ntz_epoch("o_orderdate"))
        .filter(F.col("o_epoch") < Q3_CUTOFF_EPOCH)
        .select("o_orderkey", "o_custkey", "o_epoch", "o_orderpriority")
    )
    li = lineitem.filter(ntz_epoch("l_shipdate") > Q3_CUTOFF_EPOCH).select(
        "l_orderkey", _revenue_dec().alias("rev")
    )
    oc = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_epoch", "o_orderpriority"
    )
    agg = (
        li.join(oc, li.l_orderkey == oc.o_orderkey)
        .groupBy("l_orderkey", "o_epoch", "o_orderpriority")
        .agg(
            F.sum("rev").cast("double").alias("revenue"),
            F.count("*").cast("long").alias("n_items"),
        )
    )
    top = agg.orderBy(
        F.desc("revenue"), F.asc("o_epoch"), F.asc("l_orderkey")
    ).limit(Q3_TOPK)
    w = Window.orderBy(F.desc("revenue"), F.asc("o_epoch"), F.asc("l_orderkey"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        F.col("rank").cast("long").alias("rank"),
        F.col("l_orderkey").alias("order_key"),
        "revenue",
        F.col("o_epoch").cast("long").alias("order_epoch"),
        F.col("o_orderpriority").alias("priority"),
        "n_items",
    )


Q14_PROMO_TYPE = "PROMO"
Q14_FROM_EPOCH = 820_454_400  # 1996-01-01 UTC
Q14_TO_EPOCH = 852_076_800    # 1997-01-01 UTC


def promo_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q14-shaped promotion-effect query: the share of one ship-
    year's revenue carried by promo-type parts. The part dim
    broadcasts; revenue is the exact-decimal price·(1−discount)
    product; the share is one double division of two decimal sums.

    Emits one row (promo_rev, total_rev, promo_share, n_items)."""
    li = lineitem.filter(
        (ntz_epoch("l_shipdate") >= Q14_FROM_EPOCH)
        & (ntz_epoch("l_shipdate") < Q14_TO_EPOCH)
    ).select("l_partkey", _revenue_dec().alias("rev"))
    p = part.select(
        "p_partkey", (F.col("p_type") == Q14_PROMO_TYPE).alias("is_promo")
    )
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    promo = F.sum(F.when(F.col("is_promo"), F.col("rev"))).cast("double")
    total = F.sum("rev").cast("double")
    return j.agg(
        promo.alias("promo_rev"),
        total.alias("total_rev"),
        (promo / total).alias("promo_share"),
        F.count("*").cast("long").alias("n_items"),
    )


Q5_REGION = "ASIA"
Q5_FROM_EPOCH = 820_454_400  # 1996-01-01 UTC
Q5_TO_EPOCH = 852_076_800    # 1997-01-01 UTC


def region_revenue(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """TPC-H Q5-shaped local-supplier revenue per nation: one region,
    one order-year, and the classic locality condition — the lineitem
    counts only when its SUPPLIER sits in the same nation as the
    ordering CUSTOMER. Touches every relational table the engine
    ships (region→nation→{customer, supplier}→orders→lineitem); the
    region/nation/supplier dims broadcast, the fact-side joins are
    equi-joins on integer keys.

    Emits (nation, revenue, n_items)."""
    n = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == Q5_REGION)),
            nation.n_regionkey == region.r_regionkey,
        )
        .select("n_nationkey", "n_name")
    )
    s = supplier.join(
        F.broadcast(n), supplier.s_nationkey == n.n_nationkey
    ).select("s_suppkey", "s_nationkey", "n_name")
    c = customer.select("c_custkey", "c_nationkey")
    o = (
        orders.withColumn("o_epoch", ntz_epoch("o_orderdate"))
        .filter(
            (F.col("o_epoch") >= Q5_FROM_EPOCH)
            & (F.col("o_epoch") < Q5_TO_EPOCH)
        )
        .select("o_orderkey", "o_custkey")
    )
    oc = o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "c_nationkey"
    )
    li = lineitem.select("l_orderkey", "l_suppkey", _revenue_dec().alias("rev"))
    j = (
        li.join(oc, li.l_orderkey == oc.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
    )
    return j.groupBy("n_name").agg(
        F.sum("rev").cast("double").alias("revenue"),
        F.count("*").cast("long").alias("n_items"),
    ).select(F.col("n_name").alias("nation"), "revenue", "n_items")


WAU_DAYS = 7  # rolling-window width for weekly active users


def active_users(events: DataFrame) -> DataFrame:
    """DAU / WAU / stickiness — the rolling-window engagement rollup:
    per calendar day (epoch DIV 86400), the distinct daily actives,
    the distinct actives over the trailing 7 days, and stickiness =
    dau/wau (one int/int division). The rolling distinct is expressed
    RELATIONALLY: each (user, active-day) row covers the 7 window-ends
    it contributes to (a bounded explode, fan-out = 7), then one
    distinct + groupBy — no windowed COUNT DISTINCT, which Spark would
    otherwise buffer per partition row-set. Window ends are reported
    only for days with activity (inner join back to DAU).

    Scale shape: distinct (user, day) rows → constant-7 explode →
    map-side-combinable distinct/groupBys + one equi-join on day."""
    epoch = ntz_epoch("ts")
    days = (
        events.select("user_id", epoch.alias("_e"))
        .select("user_id", F.expr("_e DIV 86400").cast("long").alias("day"))
        .distinct()
    )
    dau = days.groupBy("day").agg(F.count("*").cast("long").alias("dau"))
    ends = (
        days.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.col("day") + (WAU_DAYS - 1))
            ).alias("wday"),
        )
        .distinct()
        .groupBy(F.col("wday").alias("day"))
        .agg(F.count("*").cast("long").alias("wau"))
    )
    return dau.join(ends, "day").select(
        "day",
        "dau",
        "wau",
        (F.col("dau").cast("double") / F.col("wau").cast("double"))
        .alias("stickiness"),
    )


RATE_SIGMA = 3.0  # outlier threshold: mean + 3σ


def rate_outliers(events: DataFrame) -> DataFrame:
    """Deterministic event-rate anomaly screen (the bot/abuse rollup):
    per-user event counts vs the population mean and population
    standard deviation; flag users above mean + 3σ. Variance is
    E[x²] − E[x]² over EXACT integer sums (the count sums go through
    DECIMAL(38,0), so accumulation is order-exact; the remaining
    divide/multiply/sqrt chain is the identical sequence of IEEE ops
    on both engines) — no stddev builtin crosses the oracle boundary,
    engines disagree in its last ulp.

    Scale shape: one map-side-combinable groupBy(user) + a 1-row
    totals broadcast; flagging is a narrow projection."""
    per = events.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n")
    )
    tot = per.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(F.col("n").cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum((F.col("n") * F.col("n")).cast("decimal(38,0)"))
        .cast("double")
        .alias("s2"),
    )
    nu = F.col("n_users").cast("double")
    mean = F.col("s1") / nu
    std = F.sqrt(F.col("s2") / nu - mean * mean)
    return per.crossJoin(F.broadcast(tot)).select(
        "user_id",
        "n",
        mean.alias("mean_n"),
        std.alias("std_n"),
        (F.col("n").cast("double") > mean + F.lit(RATE_SIGMA) * std)
        .alias("outlier"),
    )


TRANSITION_END = "<end>"  # terminal pseudo-state (complete accounting)


def event_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition table over per-user event
    streams: count (event_type → next event_type) for consecutive
    events of the same user (ordered by epoch, event_id); each user's
    last event transitions to the ``<end>`` terminal so every
    from-type's probabilities sum to exactly 1. The probability is
    one int/int double division (cross-engine exact).

    Scale shape: one self-keyed window per user (fan-in = that user's
    events) → map-side-combinable groupBy on the tiny (from, to) key →
    equi-join of two aggregate tables. No global sort, no hot-key
    window."""
    epoch = ntz_epoch("ts")
    w = Window.partitionBy("user_id").orderBy("epoch", "event_id")
    e = events.select(
        "user_id", "event_id", "event_type", epoch.alias("epoch")
    ).select(
        F.col("event_type").alias("from_type"),
        F.coalesce(F.lead("event_type").over(w), F.lit(TRANSITION_END))
        .alias("to_type"),
    )
    n = e.groupBy("from_type", "to_type").agg(
        F.count("*").cast("long").alias("n")
    )
    tot = n.groupBy("from_type").agg(F.sum("n").cast("long").alias("n_from"))
    return n.join(tot, "from_type").select(
        "from_type",
        "to_type",
        "n",
        "n_from",
        (F.col("n").cast("double") / F.col("n_from").cast("double")).alias("p"),
    )


PROPS_BAND_WIDTH = 10  # fixed-width banding of the $.k payload field


def props_rollup(events: DataFrame) -> DataFrame:
    """Semi-structured rollup: parse the raw JSON ``props`` payload,
    extract ``$.k``, band it fixed-width, aggregate per
    (event_type, k_band). The JSON path runs JVM-side
    (``get_json_object``, Jackson, codegen'd) — no Python touches the
    payload; a missing/malformed key lands in the NULL band instead of
    failing the job. Banding is integer floor-division; the double sum
    goes through DECIMAL so it is partitioning-order-exact.

    Scale shape: one narrow projection over the event log (parse +
    band, no shuffle) → a single map-side-combinable groupBy on the
    low-cardinality (event_type, k_band) key; distinct-user counts are
    Spark's built-in partial-aggregate path."""
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    e = events.select(
        "event_type",
        "user_id",
        F.floor(k / PROPS_BAND_WIDTH).cast("long").alias("k_band"),
        F.col("value").cast("decimal(28,6)").alias("value_dec"),
    )
    return e.groupBy("event_type", "k_band").agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum("value_dec").cast("double").alias("sum_value"),
        (F.sum("value_dec").cast("double") / F.count("*").cast("double"))
        .alias("avg_value"),
    )

"""Registry family: olap (split from the single-file registry; query names and behavior unchanged)."""

from __future__ import annotations

from gipspark.queries._base import (  # noqa: F401
    C,
    DEC,
    F,
    T,
    Window,
    _LAT,
    _LON,
    asof_join,
    cosine_sim,
    load,
    range_join,
    register,
    salted_hybrid_join,
)
from gipspark.queries._shared import (  # noqa: F401
    _LR_SCALE,
    _MMR_K,
    _RBO_CASE,
    _RBO_W,
    _TOPN_KEEP,
    _mmr_oracle_sql,
)



@register(
    "broadcast_dim_join",
    """
SELECT r.r_name, count(*) AS n_customers,
       cast(sum(cast(c.c_acctbal as decimal(18,2))) as double) AS bal_sum
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
)
def broadcast_dim_join(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    dim = F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return (
        c.join(dim, c.c_nationkey == dim.n_nationkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast(DEC)).cast("double").alias("bal_sum"),
        )
    )



@register(
    "semi_anti_join",
    """
SELECT 'with_orders' AS side, count(*) AS n FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT 'without_orders' AS side, count(*) AS n FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def semi_anti_join(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi").agg(
        F.count("*").alias("n")
    ).select(F.lit("with_orders").alias("side"), "n")
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").agg(
        F.count("*").alias("n")
    ).select(F.lit("without_orders").alias("side"), "n")
    return semi.unionByName(anti)



@register(
    "window_rank_orders",
    """
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         cast(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) as int) AS rnk
  FROM orders)
WHERE rnk <= 2 AND o_custkey < 100
""",
)
def window_rank_orders(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter((F.col("rnk") <= 2) & (F.col("o_custkey") < 100))
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )



@register(
    "window_framed_moving",
    # framed aggregates: moving 3-row sum + running first/last per user
    """
SELECT event_id, user_id,
       cast(sum(cast(value as decimal(18,2))) OVER
            (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) as double) AS moving_sum,
       first_value(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS first_event,
       cast(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) as bigint) AS running_n
FROM events WHERE user_id < 30
""",
)
def window_framed_moving(spark, sf_dir):
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast(DEC)).over(w.rowsBetween(-2, 0)).cast("double").alias("moving_sum"),
        F.first("event_id").over(w).alias("first_event"),
        F.count("*").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint").alias("running_n"),
    )



@register(
    "set_ops_nations",
    """
SELECT n_nationkey FROM (
  SELECT c_nationkey AS n_nationkey FROM customer
  INTERSECT
  SELECT s_nationkey AS n_nationkey FROM supplier)
UNION ALL
SELECT n_nationkey FROM (
  SELECT c_nationkey AS n_nationkey FROM customer
  EXCEPT
  SELECT s_nationkey AS n_nationkey FROM supplier)
""",
)
def set_ops_nations(spark, sf_dir):
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("n_nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("n_nationkey"))
    return c.intersect(s).unionByName(c.distinct().exceptAll(s.distinct()))



@register(
    "scalar_function_sweep",
    """
SELECT p_partkey,
       lower(p_name) AS lname,
       upper(p_brand) AS ubrand,
       length(p_type) AS type_len,
       substr(p_name, 1, 5) AS name5,
       concat_ws('-', p_brand, cast(p_size as varchar)) AS brand_size,
       regexp_extract(p_type, '([A-Z]+)', 1) AS first_word,
       cast(round(p_retailprice, 1) as double) AS price_r,
       cast(floor(p_retailprice) as double) AS price_f,
       cast(p_size % 7 as int) AS size_mod
FROM part WHERE p_partkey <= 200
""",
)
def scalar_function_sweep(spark, sf_dir):
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("lname"),
        F.upper("p_brand").alias("ubrand"),
        F.length("p_type").alias("type_len"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.concat_ws("-", F.col("p_brand"), F.col("p_size").cast("string")).alias("brand_size"),
        F.regexp_extract("p_type", "([A-Z]+)", 1).alias("first_word"),
        F.round("p_retailprice", 1).cast("double").alias("price_r"),
        F.floor("p_retailprice").cast("double").alias("price_f"),
        (F.col("p_size") % 7).cast("int").alias("size_mod"),
    )



@register(
    "json_props_extract",
    """
SELECT event_type, count(*) AS n,
       cast(sum(cast(json_extract_string(props, '$.k') as int)) as bigint) AS k_sum,
       max(cast(json_extract_string(props, '$.k') as int)) AS k_max
FROM events GROUP BY event_type
""",
)
def json_props_extract(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).cast("bigint").alias("k_sum"),
        F.max(k).alias("k_max"),
    )



@register(
    "inventory_rollup",
    f"""
WITH pts AS (SELECT o_custkey, cast(o_orderdate as date) AS d,
                    {_LAT.format(k='o_custkey')} AS lat, {_LON.format(k='o_custkey')} AS lon
             FROM orders),
inv AS (SELECT {C.TILE_SQL.format(lat='lat', lon='lon')} AS tile0,
               strftime(d, '%Y-%m') AS month0, count(*) AS n
        FROM pts GROUP BY tile0, month0)
SELECT coalesce(tile0, '(all)') AS tile_id, coalesce(month0, '(all)') AS month,
       cast(sum(n) as bigint) AS n_orders, count(*) AS n_groups
FROM inv GROUP BY ROLLUP (tile0, month0)
""",
)
def inventory_rollup_q(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    inv = (
        o.select(
            C.derived_lat(F.col("o_custkey")).alias("lat"),
            C.derived_lon(F.col("o_custkey")).alias("lon"),
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias("month0"),
        )
        .withColumn("tile0", C.tile_of(F.col("lat"), F.col("lon")))
        .groupBy("tile0", "month0")
        .agg(F.count("*").alias("n"))
    )
    return (
        inv.rollup("tile0", "month0")
        .agg(F.sum("n").cast("bigint").alias("n_orders"), F.count("*").alias("n_groups"))
        .select(
            F.coalesce(F.col("tile0"), F.lit("(all)")).alias("tile_id"),
            F.coalesce(F.col("month0"), F.lit("(all)")).alias("month"),
            "n_orders",
            "n_groups",
        )
    )



@register(
    "cube_order_matrix",
    """
SELECT coalesce(st0, '(all)') AS status, coalesce(pr0, '(all)') AS prio,
       count(*) AS n
FROM (SELECT o_orderstatus AS st0, o_orderpriority AS pr0 FROM orders)
GROUP BY CUBE (st0, pr0)
""",
)
def cube_order_matrix(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return (
        o.select(F.col("o_orderstatus").alias("st0"), F.col("o_orderpriority").alias("pr0"))
        .cube("st0", "pr0")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce(F.col("st0"), F.lit("(all)")).alias("status"),
            F.coalesce(F.col("pr0"), F.lit("(all)")).alias("prio"),
            "n",
        )
    )



@register(
    "grouping_sets_inventory",
    """
SELECT coalesce(lang, '(all)') AS lang, coalesce(source, '(all)') AS src,
       count(*) AS n_docs, cast(sum(n_chars) AS BIGINT) AS chars
FROM documents
GROUP BY GROUPING SETS ((lang), (source), ())
""",
)
def grouping_sets_inventory(spark, sf_dir):
    """GROUPING SETS — the inventory-rollup shape GIPS's availability
    matrix needs (per-lang totals, per-source totals, grand total) in
    ONE pass: Catalyst plans a single Expand + partial/final aggregate
    instead of three scans + union."""
    load(spark, sf_dir, "documents").createOrReplaceTempView("gs_documents")
    return spark.sql(
        """
        SELECT coalesce(lang, '(all)') AS lang, coalesce(source, '(all)') AS src,
               count(*) AS n_docs, sum(n_chars) AS chars
        FROM gs_documents
        GROUP BY GROUPING SETS ((lang), (source), ())
        """
    )



@register(
    "skew_salted_join",
    f"""
WITH li AS (SELECT l_orderkey, l_extendedprice FROM lineitem),
o AS (SELECT o_orderkey, o_orderstatus FROM orders)
SELECT o.o_orderstatus, count(*) AS n,
       cast(sum(cast(li.l_extendedprice as decimal(18,2))) as double) AS price_sum
FROM li JOIN o ON li.l_orderkey = o.o_orderkey
GROUP BY o.o_orderstatus
""",
)
def skew_salted_join(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), F.col("o_orderstatus")
    )
    # histogram on a 5% seeded sample: which keys land in the "hot"
    # slice changes only the physical split (broadcast vs salted
    # shuffle), never the join result — equality is property-tested
    joined = salted_hybrid_join(
        li, o, key="l_orderkey", n_salt=8, hot_threshold=0.001, sample=0.05
    )
    return joined.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("price_sum"),
    )



@register(
    "inventory_matrix",
    f"""
WITH pts AS (SELECT o_orderkey, o_custkey, cast(o_orderdate as date) AS d,
                    {_LAT.format(k='o_custkey')} AS lat, {_LON.format(k='o_custkey')} AS lon
             FROM orders)
SELECT {C.TILE_SQL.format(lat='lat', lon='lon')} AS tile_id,
       strftime(d, '%Y-%m') AS month,
       count(*) AS n_orders, count(DISTINCT o_custkey) AS n_custs
FROM pts GROUP BY tile_id, month
""",
)
def inventory_matrix(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    pts = o.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        C.derived_lat(F.col("o_custkey")).alias("lat"),
        C.derived_lon(F.col("o_custkey")).alias("lon"),
    )
    return pts.groupBy(
        C.tile_of(F.col("lat"), F.col("lon")).alias("tile_id"),
        F.date_format("d", "yyyy-MM").alias("month"),
    ).agg(F.count("*").alias("n_orders"), F.count_distinct("o_custkey").alias("n_custs"))



# --- temporal joins --------------------------------------------------------


@register(
    "asof_purchase_click",
    """
SELECT l.event_id, l.user_id,
       (SELECT max_by(r.event_id, r.ts) FROM events r
        WHERE r.event_type = 'click' AND r.user_id = l.user_id AND r.ts <= l.ts) AS click_id
FROM events l WHERE l.event_type = 'purchase'
""",
)
def asof_purchase_click(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    lft = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    rgt = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    return asof_join(lft, rgt, on="ts", by="user_id", right_cols=["click_id"]).select(
        "event_id", "user_id", "click_id"
    )



@register(
    "range_join_windows",
    """
WITH w AS (SELECT event_id AS w_id, ts AS w_start, ts + INTERVAL 2 HOUR AS w_end
           FROM events WHERE event_type = 'error' AND event_id % 17 = 0),
p AS (SELECT event_id, ts FROM events WHERE event_type = 'purchase')
SELECT p.event_id, w.w_id
FROM p JOIN w ON w.w_start <= p.ts AND p.ts < w.w_end
""",
)
def range_join_windows(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    win = (
        ev.filter((F.col("event_type") == "error") & (F.col("event_id") % 17 == 0))
        .select(
            F.col("event_id").alias("w_id"),
            F.col("ts").alias("w_start"),
            (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("w_end"),
        )
    )
    p = ev.filter(F.col("event_type") == "purchase").select("event_id", "ts")
    return range_join(p, win, "ts", "w_start", "w_end", bucket="1 hour").select(
        "event_id", "w_id"
    )



@register(
    "window_distribution_orders",
    """
WITH w AS (
  SELECT o_orderkey, o_orderpriority,
         cast(ntile(4) OVER win as int) AS quartile,
         percent_rank() OVER win AS pr,
         cume_dist() OVER win AS cd
  FROM orders
  WINDOW win AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
)
SELECT * FROM w WHERE o_orderkey % 20 = 0
""",
)
def window_distribution_orders(spark, sf_dir):
    """Distribution window functions (ntile / percent_rank /
    cume_dist) over a total order — the ORDER BY includes the unique
    key so ranks are deterministic, and percent_rank/cume_dist are
    exact integer ratios evaluated identically by both engines. The
    mod-key filter AFTER the window keeps the result compact without
    changing the frame."""
    o = load(spark, sf_dir, "orders")
    win = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    w = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(win).alias("quartile"),
        F.percent_rank().over(win).alias("pr"),
        F.cume_dist().over(win).alias("cd"),
    )
    return w.filter(F.col("o_orderkey") % 20 == 0)



@register(
    "unpivot_part_metrics",
    """
WITH src AS (SELECT * FROM part WHERE p_partkey % 50 = 0)
SELECT p_partkey, 'size' AS metric, cast(p_size as double) AS value FROM src
UNION ALL
SELECT p_partkey, 'retail' AS metric, p_retailprice AS value FROM src
""",
)
def unpivot_part_metrics(spark, sf_dir):
    """Unpivot (wide → long) via the stack generator — the inverse of
    the pivot queries; the filter sits before the generator so column
    pruning and predicate pushdown reach the scan (stack is a
    generator, filters don't push through it)."""
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") % 50 == 0)
    return p.selectExpr(
        "p_partkey",
        "stack(2, 'size', cast(p_size as double), 'retail', p_retailprice)"
        " as (metric, value)",
    )



# ---------------------------------------------------------------------------
# round-2 batch 16: exact weighted median + trajectory circuity
# ---------------------------------------------------------------------------


@register(
    "weighted_median_lineitem",
    f"""
WITH it AS (
  SELECT l_returnflag AS flag,
         cast(round(cast(l_extendedprice as {DEC}) * 100) as bigint) AS cents,
         cast(l_quantity as bigint) AS w
  FROM lineitem
), cum AS (
  SELECT flag, cents, w,
         sum(w) OVER (PARTITION BY flag ORDER BY cents, w
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(w) OVER (PARTITION BY flag) AS tw
  FROM it
)
SELECT flag, cast(min(cents) as bigint) AS median_cents,
       cast(min(tw) as bigint) AS total_w
FROM cum WHERE 2 * cw >= tw GROUP BY flag
""",
)
def weighted_median_lineitem(spark, sf_dir):
    """Exact weighted median (lower weighted median: smallest value
    whose cumulative weight reaches half the total) of extended price
    weighted by quantity, per return flag. Integer cents and integer
    weights make the cumulative comparison exact; one shuffle on the
    group key shared by both windows and the final aggregate. This is
    the exact counterpart of approx_percentile for weighted data —
    engines expose it as percentile(col, 0.5, weight)."""
    li = load(spark, sf_dir, "lineitem")
    it = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice").cast(DEC) * 100).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    w_cum = (
        Window.partitionBy("flag")
        .orderBy("cents", "w")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("flag")
    cum = it.select(
        "flag",
        "cents",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(w_all).alias("tw"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.min("cents").cast("long").alias("median_cents"),
            F.min("tw").cast("long").alias("total_w"),
        )
    )



@register(
    "skyline_customers",
    """
WITH spend AS (
  SELECT c.c_nationkey AS nation, c.c_custkey,
         cast(coalesce(sum(cast(round(o.o_totalprice * 100) as bigint)), 0) as bigint) AS spend_cents,
         cast(count(o.o_orderkey) as bigint) AS n_orders
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY nation, c.c_custkey
)
SELECT s.nation, s.c_custkey, s.spend_cents, s.n_orders
FROM spend s
WHERE NOT EXISTS (
  SELECT 1 FROM spend t
  WHERE t.nation = s.nation
    AND ((t.spend_cents > s.spend_cents AND t.n_orders >= s.n_orders)
      OR (t.spend_cents = s.spend_cents AND t.n_orders > s.n_orders))
)
""",
)
def skyline_customers(spark, sf_dir):
    """Per-nation Pareto frontier (skyline) of customers on
    (total spend, order count). The scalable 2-D skyline needs NO
    dominance θ-join: within each nation, a customer is dominated iff
    a strictly-bigger spender has ≥ orders, or an equal spender has
    more — two window maxima over the same (nation, spend desc) sort:
    a RANGE frame ending at -1 on integer cents is exactly the
    strictly-greater-spend set. The oracle deliberately uses the
    NOT EXISTS dominance definition instead — an independent
    formulation of the same math."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    spend = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy(F.col("c_nationkey").alias("nation"), "c_custkey")
        .agg(
            F.coalesce(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")), F.lit(0)
            ).cast("long").alias("spend_cents"),
            F.count("o_orderkey").cast("long").alias("n_orders"),
        )
    )
    w_gt = (
        Window.partitionBy("nation")
        .orderBy(F.col("spend_cents").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_eq = Window.partitionBy("nation", "spend_cents")
    flagged = spend.select(
        "nation",
        "c_custkey",
        "spend_cents",
        "n_orders",
        F.max("n_orders").over(w_gt).alias("m_gt"),
        F.max("n_orders").over(w_eq).alias("m_eq"),
    )
    return flagged.filter(
        (F.col("m_gt").isNull() | (F.col("m_gt") < F.col("n_orders")))
        & (F.col("m_eq") == F.col("n_orders"))
    ).select("nation", "c_custkey", "spend_cents", "n_orders")



@register("mmr_diversified_topk", _mmr_oracle_sql())
def mmr_diversified_topk(spark, sf_dir):
    """Maximal marginal relevance — diversified top-k retrieval, the
    data-curation selector that trades query relevance against
    redundancy with already-picked items (λ=0.5):
    score(c) = λ·sim(q,c) − (1−λ)·max(0, max_{s∈S} sim(c,s)). Each of
    the k rounds is one NARROW pass (the newly selected vector rides as
    a 64-double literal folded in codegen — no join, no shuffle) plus a
    TakeOrdered argmin with a deterministic (score, id) tie-break; only
    the k winning rows ever reach the driver (bounded, like the IVF
    reservoir). Exactness: both engines compute the identical ordered
    fold cosine and the identical 0.5·x − 0.5·y arithmetic, so the
    greedy trajectory — argmax inclusive — is bit-reproducible; the
    oracle unrolls the same k rounds as CTE chains."""
    from gipspark.functions.vectors import cosine_sim

    emb = load(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    qlit = F.array(*[F.lit(float(v)) for v in qvec])
    cands = emb.filter(F.col("vec_id") != 0).select(
        "vec_id",
        "embedding",
        cosine_sim(F.col("embedding"), qlit).alias("simq"),
        F.lit(0.0).alias("maxsim"),
    )
    picked = []
    for t in range(1, _MMR_K + 1):
        top = (
            cands.withColumn("score", 0.5 * F.col("simq") - 0.5 * F.col("maxsim"))
            .orderBy(F.col("score").desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()[0]
        )
        picked.append((t, top.vec_id, float(top.score)))
        slit = F.array(*[F.lit(float(v)) for v in top.embedding])
        cands = cands.filter(F.col("vec_id") != top.vec_id).withColumn(
            "maxsim", F.greatest(F.col("maxsim"), cosine_sim(F.col("embedding"), slit))
        )
    return spark.createDataFrame(picked, "rank long, vec_id long, score double")



@register(
    "skew_diagnostics_lineitem",
    """
WITH counts AS (
  SELECT l_suppkey AS key, count(*) AS c FROM lineitem GROUP BY key
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c ASC, key ASC) AS i,
         count(*) OVER () AS nk, sum(c) OVER () AS tot
  FROM counts
)
SELECT cast(min(nk) as bigint) AS n_keys,
       cast(min(tot) as bigint) AS total_rows,
       cast(max(c) as bigint) AS max_n,
       cast(min(CASE WHEN 2 * i >= nk + 1 THEN c END) as bigint) AS p50_n,
       cast(min(CASE WHEN 100 * i >= 99 * nk THEN c END) as bigint) AS p99_n,
       cast((1000000 * max(c)) // min(tot) as bigint) AS top1_ppm,
       cast(2 * sum(i * c) - (min(nk) + 1) * min(tot) as bigint) AS gini_num,
       cast(min(nk) * min(tot) as bigint) AS gini_den
FROM ranked
""",
)
def skew_diagnostics_lineitem(spark, sf_dir):
    """Join-key skew diagnostics — the profiling aggregate behind every
    broadcast/salt/AQE decision (operators/skew.py picks its split from
    exactly these statistics): per-key count distribution reduced to
    exact integers — key count, max, lower-median and p99 counts
    (rank-selected with deterministic tie-breaks), top-1 share in ppm,
    and the Gini coefficient as an exact rational
    (2·Σi·cᵢ − (n+1)·Σc) / (n·Σc) over ascending-sorted counts. One
    count aggregate + one global-window rank; the whole profile is one
    row regardless of table size. The global rank runs on the per-KEY
    count table (suppliers here — dim-bounded); for billion-key domains
    swap the exact rank for approx_percentile over the counts and keep
    the integer shares."""
    li = load(spark, sf_dir, "lineitem")
    counts = li.groupBy(F.col("l_suppkey").alias("key")).agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy(F.col("c").asc(), F.col("key").asc())
    wall = Window.partitionBy()
    ranked = counts.select(
        "c",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(wall).alias("nk"),
        F.sum("c").over(wall).alias("tot"),
    )
    return ranked.agg(
        F.min("nk").cast("long").alias("n_keys"),
        F.min("tot").cast("long").alias("total_rows"),
        F.max("c").cast("long").alias("max_n"),
        F.min(F.when(2 * F.col("i") >= F.col("nk") + 1, F.col("c"))).cast("long").alias("p50_n"),
        F.min(F.when(100 * F.col("i") >= 99 * F.col("nk"), F.col("c"))).cast("long").alias("p99_n"),
        F.floor((1000000 * F.max("c")) / F.min("tot")).cast("long").alias("top1_ppm"),
        (2 * F.sum(F.col("i") * F.col("c")) - (F.min("nk") + 1) * F.min("tot"))
        .cast("long")
        .alias("gini_num"),
        (F.min("nk") * F.min("tot")).cast("long").alias("gini_den"),
    )



@register(
    "unpivot_order_measures",
    f"""
WITH wide AS (
  SELECT o_orderpriority AS pri,
         cast(count(*) as bigint) AS n_orders,
         cast(count(DISTINCT o_custkey) as bigint) AS n_customers,
         cast(sum(cast(round(cast(o_totalprice as {DEC}) * 100) as bigint)) as bigint) AS cents
  FROM orders GROUP BY pri
)
SELECT pri, measure, value FROM wide
UNPIVOT (value FOR measure IN (n_orders, n_customers, cents))
""",
)
def unpivot_order_measures(spark, sf_dir):
    """UNPIVOT / melt (the inverse of the inventory pivot): a wide
    per-priority measure row becomes (pri, measure, value) long form —
    Spark's unpivot API against DuckDB's UNPIVOT clause. Narrow
    reshape after one aggregate; long form is what metric stores and
    chart layers ingest."""
    o = load(spark, sf_dir, "orders")
    wide = o.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.sum(F.round(F.col("o_totalprice").cast(DEC) * 100).cast("long")).alias("cents"),
    )
    return wide.unpivot(
        ids=["pri"],
        values=["n_orders", "n_customers", "cents"],
        variableColumnName="measure",
        valueColumnName="value",
    )



@register(
    "trailing_window_features",
    """
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS tsec,
         cast(round(value * 1000) as bigint) AS v_ticks
  FROM events WHERE user_id < 30
)
SELECT user_id, event_id,
       cast(count(*) OVER w7 as bigint) AS n_prev_7d,
       cast(coalesce(sum(v_ticks) OVER w7, 0) as bigint) AS v_prev_7d,
       cast(count(*) OVER w30 as bigint) AS n_prev_30d
FROM ev
WINDOW w7 AS (PARTITION BY user_id ORDER BY tsec
              RANGE BETWEEN 604800 PRECEDING AND 1 PRECEDING),
       w30 AS (PARTITION BY user_id ORDER BY tsec
               RANGE BETWEEN 2592000 PRECEDING AND 1 PRECEDING)
""",
)
def trailing_window_features(spark, sf_dir):
    """Point-in-time-correct trailing-window features (the ML feature
    store's leakage-safe contract): per event, the user's event count
    and value sum over the PREVIOUS 7 and 30 days — RANGE frames on
    event time ending at 1 second PRECEDING, so the current row never
    sees itself or same-second peers (no label leakage). Value in
    integer milli-ticks. Both windows and the scan share one shuffle on
    user_id; RANGE frames are the window feature rows-frames can't
    express when events are irregularly spaced."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .select(
            "user_id",
            "event_id",
            F.unix_timestamp("ts").alias("tsec"),
            F.round(F.col("value") * 1000).cast("long").alias("v_ticks"),
        )
    )
    w7 = (
        Window.partitionBy("user_id").orderBy("tsec").rangeBetween(-604800, -1)
    )
    w30 = (
        Window.partitionBy("user_id").orderBy("tsec").rangeBetween(-2592000, -1)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w7).alias("n_prev_7d"),
        F.coalesce(F.sum("v_ticks").over(w7), F.lit(0)).cast("long").alias("v_prev_7d"),
        F.count(F.lit(1)).over(w30).alias("n_prev_30d"),
    )



@register(
    "bom_rollup_parts",
    """
WITH RECURSIVE nodes AS (
  SELECT p_partkey AS id,
         CASE WHEN p_partkey >= 10 THEN p_partkey // 10 END AS parent,
         cast(round(p_retailprice * 100) as bigint) AS cents
  FROM part
), walk AS (
  SELECT id, parent AS anc, 1 AS hops FROM nodes WHERE parent IS NOT NULL
  UNION ALL
  SELECT w.id, n.parent, w.hops + 1
  FROM walk w JOIN nodes n ON n.id = w.anc AND n.parent IS NOT NULL
), rootd AS (
  SELECT n.id,
         coalesce(t.anc, n.id) AS root_id,
         cast(coalesce(t.hops, 0) as bigint) AS depth
  FROM nodes n LEFT JOIN (
    SELECT id, anc, hops,
           row_number() OVER (PARTITION BY id ORDER BY hops DESC) AS rn
    FROM walk
  ) t ON t.id = n.id AND t.rn = 1
), sub AS (
  SELECT w.anc AS id, cast(count(*) as bigint) AS n_desc,
         cast(sum(n.cents) as decimal(38,0)) AS desc_cents
  FROM walk w JOIN nodes n ON n.id = w.id
  GROUP BY w.anc
)
SELECT n.id AS p_partkey, r.root_id, r.depth, n.cents,
       coalesce(s.n_desc, cast(0 as bigint)) AS n_desc,
       cast(n.cents + coalesce(s.desc_cents, 0) as bigint) AS subtree_cents
FROM nodes n
JOIN rootd r ON r.id = n.id
LEFT JOIN sub s ON s.id = n.id
""",
)
def bom_rollup_parts(spark, sf_dir):
    """Recursive hierarchy rollup (bill-of-materials shape) over the
    deterministic decimal-digit part forest (parent = partkey div 10):
    every part's root assembly, depth, descendant count, and exact
    subtree retail-price rollup — the classic warehouse recursive-CTE
    workload Spark SQL lacks natively, expressed with the engine's two
    scalable closure primitives. Root+depth ride the pointer-doubling
    chain resolver (operators/chains.py, ⌈log₂ depth⌉ rounds); the
    subtree aggregate materializes the (node, ancestor) closure by the
    same doubling — O(n·depth) pairs, depth ≤ log₁₀(maxkey) ≈ 7, never
    one-hop-per-pass. Cents-integer money, decimal(38,0) rollups."""
    from gipspark.operators.chains import resolve_chains

    dec = "decimal(38,0)"
    nodes = load(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("id"),
        F.when(
            F.col("p_partkey") >= 10, F.expr("cast(p_partkey div 10 as long)")
        ).alias("parent"),
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
    )
    rootd = resolve_chains(nodes.select("id", F.col("parent").alias("next"))).select(
        F.col("id"),
        F.col("final_id").alias("root_id"),
        F.col("hops").cast("long").alias("depth"),
    )
    pairs = nodes.filter(F.col("parent").isNotNull()).select(
        "id", F.col("parent").alias("anc")
    ).localCheckpoint()
    prev = pairs.count()
    for _ in range(5):  # depth ≤ 2^5 covers any 10^9-key catalog
        comp = (
            pairs.alias("x")
            .join(pairs.alias("y"), F.col("x.anc") == F.col("y.id"))
            .select(F.col("x.id").alias("id"), F.col("y.anc").alias("anc"))
        )
        pairs = pairs.unionByName(comp).distinct().localCheckpoint()
        cur = pairs.count()
        if cur == prev:
            break
        prev = cur
    sub = (
        pairs.join(nodes.select("id", F.col("cents").alias("dc")), "id")
        .groupBy(F.col("anc").alias("id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_desc"),
            F.sum("dc").cast(dec).alias("desc_cents"),
        )
    )
    return (
        nodes.join(rootd, "id")
        .join(sub, "id", "left")
        .select(
            F.col("id").alias("p_partkey"),
            "root_id",
            "depth",
            "cents",
            F.coalesce("n_desc", F.lit(0).cast("long")).alias("n_desc"),
            (F.col("cents").cast(dec) + F.coalesce(F.col("desc_cents"), F.lit(0).cast(dec)))
            .cast("long")
            .alias("subtree_cents"),
        )
    )



@register(
    "logrank_eventtypes",
    f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) // 1000000 AS s FROM events
  WHERE event_type IN ('click', 'view')
), mx AS (SELECT max(s) AS gmax FROM ev),
gaps AS (
  SELECT user_id, event_type, s,
         lead(s) OVER (PARTITION BY user_id, event_type ORDER BY s) AS nxt
  FROM ev
),
dur AS (
  SELECT event_type,
         CASE WHEN nxt IS NULL THEN ((SELECT gmax FROM mx) - s) // 3600
              ELSE (nxt - s) // 3600 END AS t,
         CASE WHEN nxt IS NULL THEN 1 ELSE 0 END AS censored
  FROM gaps
),
byt AS (
  SELECT t,
         cast(count(*) as bigint) AS n_all,
         cast(sum(1 - censored) as bigint) AS d,
         cast(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) as bigint) AS n1_all,
         cast(sum(CASE WHEN event_type = 'click' AND censored = 0 THEN 1 ELSE 0 END) as bigint)
           AS d1
  FROM dur GROUP BY t
),
risk AS (
  SELECT t, d, d1,
         sum(n_all) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS n_risk,
         sum(n1_all) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS n1_risk
  FROM byt
)
SELECT cast(count(*) as bigint) AS n_times,
       cast(sum(d1) as bigint) AS o1,
       cast(sum((n1_risk * d * {_LR_SCALE}) // n_risk) as bigint) AS e1_q,
       cast(sum(d1) * {_LR_SCALE} - sum((n1_risk * d * {_LR_SCALE}) // n_risk) as bigint)
         AS lr_num_q
FROM risk WHERE d > 0
""",
)
def logrank_eventtypes(spark, sf_dir):
    """Log-rank test numerator comparing the return-time (inter-event
    gap) survival of clicks vs views — the standard two-sample
    survival comparison built on the nelson_aalen_users machinery:
    at each death time, observed click deaths d1 against expectation
    E1 = n1·d/n from the pooled risk set, with E1 kept in 1e6
    fixed-point floor-division ticks so Σ(O−E) is exact integer both
    engines. Two descending cumsums over the hour histogram give both
    risk sets; the only event-scale work is the per-(user, type)
    lead() window."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select("user_id", "event_type", F.expr("unix_timestamp(ts)").alias("s"))
    )
    gmax = ev.agg(F.max("s").alias("gmax"))
    w_u = Window.partitionBy("user_id", "event_type").orderBy("s")
    gaps = ev.withColumn("nxt", F.lead("s").over(w_u))
    dur = gaps.crossJoin(F.broadcast(gmax)).select(
        "event_type",
        F.when(F.col("nxt").isNull(), F.expr("(gmax - s) div 3600"))
        .otherwise(F.expr("(nxt - s) div 3600"))
        .alias("t"),
        F.when(F.col("nxt").isNull(), 1).otherwise(0).alias("censored"),
    )
    byt = dur.groupBy("t").agg(
        F.count("*").cast("long").alias("n_all"),
        F.sum(1 - F.col("censored")).cast("long").alias("d"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("n1_all"),
        F.sum(
            F.when((F.col("event_type") == "click") & (F.col("censored") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("d1"),
    )
    w_desc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = byt.select(
        "t",
        "d",
        "d1",
        F.sum("n_all").over(w_desc).alias("n_risk"),
        F.sum("n1_all").over(w_desc).alias("n1_risk"),
    ).filter(F.col("d") > 0)
    e1 = F.sum(F.expr(f"(n1_risk * d * cast({_LR_SCALE} as bigint)) div n_risk"))
    return risk.agg(
        F.count("*").cast("long").alias("n_times"),
        F.sum("d1").cast("long").alias("o1"),
        e1.cast("long").alias("e1_q"),
        (F.sum("d1") * F.lit(_LR_SCALE) - e1).cast("long").alias("lr_num_q"),
    )



@register(
    "topn_other_rollup",
    f"""
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         cast(sum(cast(round(o.o_totalprice * 100) as bigint)) as bigint) AS rev_cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY region, nation
), ranked AS (
  SELECT region, nation, rev_cents,
         row_number() OVER (PARTITION BY region ORDER BY rev_cents DESC, nation) AS rn,
         cast(sum(rev_cents) OVER (PARTITION BY region) as bigint) AS region_total
  FROM rev
)
SELECT region,
       CASE WHEN rn <= {_TOPN_KEEP} THEN nation ELSE 'OTHER' END AS nation_or_other,
       cast(sum(rev_cents) as bigint) AS rev_cents,
       cast(sum(rev_cents) * 1000000 // any_value(region_total) as bigint) AS share_q
FROM ranked
GROUP BY region, nation_or_other
""",
)
def topn_other_rollup(spark, sf_dir):
    """Top-N-plus-OTHER rollup — the reporting idiom every dashboard
    and legend needs (unbounded group-by cardinality is unrenderable;
    the long tail folds into one OTHER bucket whose share is still
    exact): revenue per (region, nation) in exact cents, a per-region
    rank keeps the top 3 names, everything else relabels OTHER and
    re-aggregates, shares against the window-carried region total in
    1e6 ticks. One star join, one partitioned window, one re-agg —
    and the tail fold means output cardinality is REGIONS×4 no matter
    how many nations exist (the bounded-legend contract)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    na = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    rev = (
        o.join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(na, F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_cents")
        )
    )
    wr = Window.partitionBy("region")
    ranked = rev.select(
        "region",
        "nation",
        "rev_cents",
        F.row_number()
        .over(wr.orderBy(F.col("rev_cents").desc(), F.col("nation").asc()))
        .alias("rn"),
        F.sum("rev_cents").over(wr).cast("long").alias("region_total"),
    )
    return (
        ranked.withColumn(
            "nation_or_other",
            F.when(F.col("rn") <= _TOPN_KEEP, F.col("nation")).otherwise(F.lit("OTHER")),
        )
        .groupBy("region", "nation_or_other")
        .agg(
            F.sum("rev_cents").cast("long").alias("rev_cents"),
            F.expr("(sum(rev_cents) * 1000000) div any_value(region_total)")
            .cast("long")
            .alias("share_q"),
        )
    )



@register(
    "rbo_rankings_sources",
    f"""
WITH graded AS (
  SELECT source, doc_id, n_chars,
         {T.quality_score_sql('text')} AS pred
  FROM documents
), ranked AS (
  SELECT source,
         cast(row_number() OVER (PARTITION BY source ORDER BY pred DESC, doc_id ASC) as int) AS pr,
         cast(row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) as int) AS ir
  FROM graded
), hist AS (
  SELECT source, greatest(pr, ir) AS m, cast(count(*) as bigint) AS cnt
  FROM ranked WHERE pr <= 10 AND ir <= 10
  GROUP BY source, greatest(pr, ir)
), spine AS (
  SELECT s.source, g.d
  FROM (SELECT DISTINCT source FROM documents) s, generate_series(1, 10) AS g(d)
), overlap AS (
  SELECT sp.source, sp.d,
         cast(sum(coalesce(h.cnt, 0)) OVER (PARTITION BY sp.source ORDER BY sp.d) as bigint) AS ov
  FROM spine sp LEFT JOIN hist h ON sp.source = h.source AND sp.d = h.m
)
SELECT source,
       cast(max(CASE WHEN d = 10 THEN ov END) as bigint) AS overlap_at_10,
       cast(sum((CASE d {_RBO_CASE} ELSE 0 END) * ov // d) as bigint) AS rbo_fixed
FROM overlap GROUP BY source ORDER BY source
""",
)
def rbo_rankings_sources(spark, sf_dir):
    """Rank-biased overlap (Webber et al.) between two rankings of
    each source's documents — the quality-score order vs the raw
    length order — truncated at depth 10: RBO = (1-p)Σp^(d-1)·(|A_d ∩
    B_d|/d), the top-weighted "do my two rankers agree where it
    matters" metric that Kendall tau (untruncated, unweighted) is not.
    The geometric weights are constant-argument powers inlined as nano
    integer literals (_RBO_W, same discipline as _NDCG_W); overlap
    sizes come from the max(pr, ir) ≤ d identity via one histogram +
    prefix-sum window, so per-depth agreement needs NO set
    intersection — floor per-depth division keeps everything bigint.
    Scale shape: two source-partitioned windows sharing one shuffle,
    a 10-row literal depth spine, one window cumsum, one hash agg."""
    d = load(spark, sf_dir, "documents")
    graded = d.select(
        "source",
        "doc_id",
        "n_chars",
        T.quality_score(F.col("text")).alias("pred"),
    )
    wp = Window.partitionBy("source").orderBy(F.desc("pred"), F.asc("doc_id"))
    wi = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    ranked = graded.select(
        "source",
        F.row_number().over(wp).alias("pr"),
        F.row_number().over(wi).alias("ir"),
    )
    hist = (
        ranked.filter((F.col("pr") <= 10) & (F.col("ir") <= 10))
        .groupBy("source", F.greatest("pr", "ir").alias("m"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    spine = (
        d.select("source")
        .distinct()
        .select("source", F.explode(F.sequence(F.lit(1), F.lit(10))).alias("d"))
    )
    ov_w = Window.partitionBy("source").orderBy("d")
    overlap = (
        spine.join(hist, (spine["source"] == hist["source"]) & (spine["d"] == hist["m"]), "left")
        .select(spine["source"], spine["d"], F.coalesce("cnt", F.lit(0)).alias("cnt"))
        .select("source", "d", F.sum("cnt").over(ov_w).cast("long").alias("ov"))
    )
    warr = F.array(*[F.lit(w) for w in _RBO_W])
    return (
        overlap.groupBy("source")
        .agg(
            F.max(F.when(F.col("d") == 10, F.col("ov"))).cast("long").alias("overlap_at_10"),
            F.sum(
                F.expr(f"cast(element_at(array({','.join(str(w) for w in _RBO_W)}), d) * ov div d as bigint)")
            )
            .cast("long")
            .alias("rbo_fixed"),
        )
        .orderBy("source")
    )



@register(
    "kendall_distance_rankings",
    f"""
WITH graded AS (
  SELECT source, doc_id, n_chars, {T.quality_score_sql('text')} AS pred
  FROM documents
), ranked AS (
  SELECT source, doc_id,
         cast(row_number() OVER (PARTITION BY source ORDER BY pred DESC, doc_id ASC) as int) AS pr,
         cast(row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) as int) AS ir
  FROM graded
), pairs AS (
  SELECT a.source,
         cast(count(*) as bigint) AS n_pairs,
         cast(count(*) FILTER (WHERE (a.pr - b.pr) * (a.ir - b.ir) < 0) as bigint) AS n_discordant
  FROM ranked a JOIN ranked b ON a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY a.source
), sizes AS (
  SELECT source, cast(count(*) as bigint) AS n_docs FROM ranked GROUP BY source
)
SELECT s.source, s.n_docs, p.n_pairs, p.n_discordant,
       cast(p.n_discordant * 1000000 // p.n_pairs as bigint) AS kendall_dist_micro
FROM sizes s JOIN pairs p ON s.source = p.source
ORDER BY s.source
""",
)
def kendall_distance_rankings(spark, sf_dir):
    """Kendall (bubble-sort) distance between the quality-score and
    raw-length rankings of each source's documents: the fraction of
    doc pairs the two rankers order OPPOSITELY — the untruncated,
    uniform-weight counterpart to rbo_rankings_sources (RBO asks "do
    the heads agree", this asks "how many swaps apart are the full
    permutations"). row_number ranks are tie-free so discordance is a
    pure integer sign test, and the micro distance an exact floor
    ratio. Scale shape: one shared source-partitioned window pair,
    then a source-EQUI self-join bounded by per-source group size
    (pairs ∝ Σ|group|², the documented contract of the ripleys/
    hausdorff family) — never a global cross."""
    d = load(spark, sf_dir, "documents")
    graded = d.select(
        "source", "doc_id", "n_chars", T.quality_score(F.col("text")).alias("pred")
    )
    wp = Window.partitionBy("source").orderBy(F.desc("pred"), F.asc("doc_id"))
    wi = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    ranked = graded.select(
        "source",
        "doc_id",
        F.row_number().over(wp).alias("pr"),
        F.row_number().over(wi).alias("ir"),
    )
    a = ranked.select(
        "source",
        F.col("doc_id").alias("ida"),
        F.col("pr").alias("pra"),
        F.col("ir").alias("ira"),
    )
    b = ranked.select(
        "source",
        F.col("doc_id").alias("idb"),
        F.col("pr").alias("prb"),
        F.col("ir").alias("irb"),
    )
    pairs = (
        a.join(b, "source")
        .filter(F.col("ida") < F.col("idb"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.count(
                F.when(
                    (F.col("pra") - F.col("prb")) * (F.col("ira") - F.col("irb")) < 0, 1
                )
            )
            .cast("long")
            .alias("n_discordant"),
        )
    )
    sizes = ranked.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))
    return (
        sizes.join(pairs, "source")
        .select(
            "source",
            "n_docs",
            "n_pairs",
            "n_discordant",
            F.expr("cast(n_discordant * 1000000 div n_pairs as bigint)").alias(
                "kendall_dist_micro"
            ),
        )
        .orderBy("source")
    )



@register(
    "rank_flux_users",
    """
WITH weekly AS (
  SELECT user_id, cast((cast(ts as date) - DATE '2024-01-01') // 7 as int) AS wk,
         cast(sum(cast(value as decimal(18,2))) as decimal(18,2)) AS v
  FROM events GROUP BY user_id, wk
), ranked AS (
  SELECT wk, user_id,
         cast(row_number() OVER (PARTITION BY wk ORDER BY v DESC, user_id ASC) as int) AS rnk
  FROM weekly
), top AS (
  SELECT wk, user_id, rnk FROM ranked WHERE rnk <= 50
), flux AS (
  SELECT b.wk,
         cast(count(a.user_id) as bigint) AS n_common,
         cast(coalesce(sum(abs(b.rnk - a.rnk)), 0) as bigint) AS abs_rank_delta
  FROM top b LEFT JOIN top a ON a.user_id = b.user_id AND a.wk = b.wk - 1
  GROUP BY b.wk
)
SELECT cast(wk as bigint) AS wk, n_common,
       cast(50 - n_common as bigint) AS n_entered,
       abs_rank_delta,
       cast(abs_rank_delta * 1000 // greatest(n_common, 1) as bigint) AS mean_delta_milli
FROM flux WHERE wk > 0 ORDER BY wk
""",
)
def rank_flux_users(spark, sf_dir):
    """Leaderboard stability: week-over-week flux of the top-50 users
    by weekly value — how many survived (n_common), how many are new
    entrants, and the mean absolute rank displacement among survivors
    — the churn-at-the-top metric behind 'is our power-user set
    stable or rotating'. Weekly sums are decimal(18,2), ranks
    tie-free row_numbers, displacement pure integers. Scale shape:
    one (user, week) hash agg, one week-partitioned window with a
    two-phase-safe top-50 cut, then a self-equi-join of two adjacent
    50-row dims per week."""
    e = load(spark, sf_dir, "events")
    weekly = e.groupBy(
        "user_id",
        F.expr("cast(datediff(cast(ts as date), DATE '2024-01-01') div 7 as int)").alias(
            "wk"
        ),
    ).agg(F.sum(F.col("value").cast(DEC)).cast(DEC).alias("v"))
    wr = Window.partitionBy("wk").orderBy(F.desc("v"), F.asc("user_id"))
    top = (
        weekly.select("wk", "user_id", F.row_number().over(wr).alias("rnk"))
        .filter(F.col("rnk") <= 50)
    )
    b = top.select(
        F.col("wk"), F.col("user_id"), F.col("rnk").alias("rnk_b")
    )
    a = top.select(
        (F.col("wk") + 1).alias("wk"), F.col("user_id"), F.col("rnk").alias("rnk_a")
    )
    flux = (
        b.join(a, ["wk", "user_id"], "left")
        .groupBy("wk")
        .agg(
            F.count("rnk_a").cast("long").alias("n_common"),
            F.coalesce(F.sum(F.abs(F.col("rnk_b") - F.col("rnk_a"))), F.lit(0))
            .cast("long")
            .alias("abs_rank_delta"),
        )
    )
    return (
        flux.filter(F.col("wk") > 0)
        .select(
            F.col("wk").cast("long").alias("wk"),
            "n_common",
            (F.lit(50) - F.col("n_common")).cast("long").alias("n_entered"),
            "abs_rank_delta",
            F.expr(
                "cast(abs_rank_delta * 1000 div greatest(n_common, 1) as bigint)"
            ).alias("mean_delta_milli"),
        )
        .orderBy("wk")
    )



@register(
    "conversion_window_sweep",
    """
WITH fv AS (
  SELECT user_id, min(ts) AS vts FROM events WHERE event_type = 'view' GROUP BY user_id
), fp AS (
  SELECT e.user_id, min(epoch_us(e.ts) - epoch_us(v.vts)) AS lat_us
  FROM events e JOIN fv v ON e.user_id = v.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= v.vts
  GROUP BY e.user_id
), base AS (SELECT cast(count(*) as bigint) AS n_viewers FROM fv),
wins(hours) AS (VALUES (1), (6), (24), (72))
SELECT cast(w.hours as bigint) AS window_hours,
       any_value(b.n_viewers) AS n_viewers,
       cast(count(CASE WHEN f.lat_us <= w.hours * 3600000000 THEN 1 END) as bigint)
         AS n_converted,
       cast((count(CASE WHEN f.lat_us <= w.hours * 3600000000 THEN 1 END) * 1000000)
            // any_value(b.n_viewers) as bigint) AS cvr_q
FROM wins w CROSS JOIN base b LEFT JOIN fp f ON true
GROUP BY w.hours ORDER BY window_hours
""",
)
def conversion_window_sweep(spark, sf_dir):
    """Attribution-window sensitivity sweep: view→purchase conversion
    rate under 1h/6h/24h/72h windows, in one pass — the
    garden-of-forking-paths audit for the most gamed number in
    marketing (pick the window AFTER seeing the curve and you can
    report almost any CVR; a steep curve between 6h and 72h means
    the headline metric is an analyst choice, not a fact).
    timed_conversion_users commits to one window; this exposes what
    the commitment hides. First-touch latency is an exact integer
    microsecond min per user; each window is a conditional count
    against the literal 4-row dim and the 1-row viewer anchor.
    Scale shape: two per-user aggs + a dim-scale sweep."""
    e = load(spark, sf_dir, "events")
    fv = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("vts"))
    )
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .filter(F.col("ts") >= F.col("vts"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.expr("unix_micros(cast(ts as timestamp))")
                - F.expr("unix_micros(cast(vts as timestamp))")
            ).alias("lat_us")
        )
    )
    base = fv.agg(F.count("*").cast("long").alias("n_viewers"))
    wins = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(6), F.lit(24), F.lit(72))).alias("hours")
    )
    return (
        wins.crossJoin(F.broadcast(base))
        .crossJoin(fp)
        .groupBy("hours")
        .agg(
            F.expr("any_value(n_viewers)").alias("n_viewers"),
            F.count(
                F.when(F.col("lat_us") <= F.col("hours") * 3600000000, 1)
            )
            .cast("long")
            .alias("n_converted"),
            F.expr(
                "cast((count(CASE WHEN lat_us <= hours * 3600000000 THEN 1 END)"
                " * 1000000) div any_value(n_viewers) as bigint)"
            ).alias("cvr_q"),
        )
        .select(
            F.col("hours").cast("long").alias("window_hours"),
            "n_viewers",
            "n_converted",
            "cvr_q",
        )
        .orderBy("window_hours")
    )



@register(
    "set_ops_all_variants",
    """
WITH c AS (SELECT c_nationkey AS k FROM customer WHERE c_custkey < 300),
s AS (SELECT s_nationkey AS k FROM supplier)
SELECT 'intersect_all' AS op, k, cast(count(*) as bigint) AS n FROM (
  SELECT k FROM c INTERSECT ALL SELECT k FROM s) GROUP BY k
UNION ALL
SELECT 'except_all', k, cast(count(*) as bigint) FROM (
  SELECT k FROM c EXCEPT ALL SELECT k FROM s) GROUP BY k
ORDER BY op, k
""",
)
def set_ops_all_variants(spark, sf_dir):
    """INTERSECT ALL / EXCEPT ALL — the multiplicity-preserving bag
    semantics (min(m_a, m_b) copies survive an INTERSECT ALL,
    max(m_a − m_b, 0) an EXCEPT ALL) that set_ops_nations' DISTINCT
    variants erase, and the ones reconciliation workloads actually
    need ('how many rows of A are matched by B, COUNTING
    duplicates'): grouped counts of both results over a nation-key
    bag, exact. Spark's intersectAll/exceptAll lower to the same
    aggregate-and-generate plan the SQL standard specifies — this
    registers the surface so the contract is oracle-pinned. One pass
    per operand, aggregate joins only."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 300).select(
        F.col("c_nationkey").alias("k")
    )
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    ia = (
        c.intersectAll(s)
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("n"))
        .select(F.lit("intersect_all").alias("op"), "k", "n")
    )
    ea = (
        c.exceptAll(s)
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("n"))
        .select(F.lit("except_all").alias("op"), "k", "n")
    )
    return ia.unionByName(ea).orderBy("op", "k")



@register(
    "ranking_semantics_sweep",
    """
WITH v AS (
  SELECT o_orderpriority AS prio, cast(round(o_totalprice) as bigint) AS val
  FROM orders WHERE o_custkey < 100
), rk AS (
  SELECT prio, val,
         row_number() OVER (PARTITION BY prio ORDER BY val DESC) AS rn,
         rank() OVER (PARTITION BY prio ORDER BY val DESC) AS rk,
         dense_rank() OVER (PARTITION BY prio ORDER BY val DESC) AS dr
  FROM v
)
SELECT prio,
       cast(count(CASE WHEN rn <= 3 THEN 1 END) as bigint) AS top3_row_number,
       cast(count(CASE WHEN rk <= 3 THEN 1 END) as bigint) AS top3_rank,
       cast(count(CASE WHEN dr <= 3 THEN 1 END) as bigint) AS top3_dense_rank,
       cast(max(rk) as bigint) AS max_rank, cast(max(dr) as bigint) AS max_dense
FROM rk GROUP BY prio ORDER BY prio
""",
)
def ranking_semantics_sweep(spark, sf_dir):
    """Ranking-semantics contract: per priority class, the SIZE of
    'top 3' under row_number (exactly 3, ties broken arbitrarily —
    here by nothing, which is why production top-k must never use it
    without a tie-break key), rank (>= 3 whenever ties straddle the
    boundary — the leaderboard-correct choice), and dense_rank (can
    return far more — the 'top 3 VALUES' choice) — plus max_rank vs
    max_dense whose gap counts the ties. The three functions are the
    most-confused trio in analytic SQL and every engine migration
    breaks on them once; this pins all three against the oracle on a
    tie-rich integer-rounded value column. One window pass + one hash
    agg."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    v = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice")).cast("long").alias("val"),
    )
    w = Window.partitionBy("prio").orderBy(F.col("val").desc())
    rk = v.select(
        "prio",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rk"),
        F.dense_rank().over(w).alias("dr"),
    )
    return (
        rk.groupBy("prio")
        .agg(
            F.count(F.when(F.col("rn") <= 3, 1)).cast("long").alias("top3_row_number"),
            F.count(F.when(F.col("rk") <= 3, 1)).cast("long").alias("top3_rank"),
            F.count(F.when(F.col("dr") <= 3, 1)).cast("long").alias("top3_dense_rank"),
            F.max("rk").cast("long").alias("max_rank"),
            F.max("dr").cast("long").alias("max_dense"),
        )
        .orderBy("prio")
    )



@register(
    "winsorized_mean_orders",
    f"""
WITH it AS (
  SELECT o_orderpriority AS pri,
         cast(round(cast(o_totalprice as {DEC}) * 100) as bigint) AS cents,
         o_orderkey
  FROM orders
), ranked AS (
  SELECT pri, cents,
         row_number() OVER (PARTITION BY pri ORDER BY cents, o_orderkey) AS rn,
         count(*) OVER (PARTITION BY pri) AS n
  FROM it
), bounds AS (
  SELECT pri,
         max(CASE WHEN rn = (n - 1) // 10 + 1 THEN cents END) AS lo,
         max(CASE WHEN rn = n - (n - 1) // 10 THEN cents END) AS hi,
         max(n) AS n
  FROM ranked GROUP BY pri
), clamped AS (
  SELECT r.pri, b.n, b.lo, b.hi,
         greatest(b.lo, least(b.hi, r.cents)) AS w
  FROM ranked r JOIN bounds b ON b.pri = r.pri
)
SELECT pri, cast(n as bigint) AS n, cast(lo as bigint) AS lo_cents,
       cast(hi as bigint) AS hi_cents,
       cast(sum(w) * 100 // n as bigint) AS winsorized_mean_centicents
FROM clamped GROUP BY pri, n, lo, hi ORDER BY pri
""",
)
def winsorized_mean_orders(spark, sf_dir):
    """10% winsorized mean of order value per priority (r5): values
    below the p10 order statistic are CLAMPED to it and above p90 to
    p90 before averaging — the robust-mean variant that, unlike
    trimmed_mean_orders (which DROPS the tails), keeps n constant and
    so composes with per-group weights; the pair brackets how much
    tail influence the plain mean carries. Order statistics are exact
    ranks with the (cents, orderkey) total tie-break — p10 = value at
    rank (n−1)//10 + 1, p90 its mirror — so both engines clamp at
    bit-identical bounds; the mean is a floor-div in centi-cents.
    Scale shape: one rank window + one count window sharing the group
    shuffle, a 5-row bounds broadcast join back, one hash agg."""
    o = load(spark, sf_dir, "orders")
    it = o.select(
        F.col("o_orderpriority").alias("pri"),
        F.round(F.col("o_totalprice").cast(DEC) * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    w = Window.partitionBy("pri").orderBy("cents", "o_orderkey")
    wp = Window.partitionBy("pri")
    ranked = it.select(
        "pri",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wp).alias("n"),
    )
    bounds = ranked.groupBy("pri").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n - 1) div 10 + 1"), F.col("cents"))
        ).alias("lo"),
        F.max(
            F.when(F.col("rn") == F.expr("n - (n - 1) div 10"), F.col("cents"))
        ).alias("hi"),
        F.max("n").alias("n"),
    )
    clamped = ranked.join(F.broadcast(bounds), "pri").select(
        "pri",
        bounds["n"].alias("n"),
        "lo",
        "hi",
        F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("cents"))).alias("w"),
    )
    return (
        clamped.groupBy("pri", "n", "lo", "hi")
        .agg(F.expr("cast((sum(w) * 100) div n as bigint)").alias(
            "winsorized_mean_centicents"
        ))
        .select(
            "pri",
            F.col("n").cast("long").alias("n"),
            F.col("lo").cast("long").alias("lo_cents"),
            F.col("hi").cast("long").alias("hi_cents"),
            "winsorized_mean_centicents",
        )
        .orderBy("pri")
    )
